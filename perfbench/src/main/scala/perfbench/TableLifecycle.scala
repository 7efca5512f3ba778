package perfbench

import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
import graft.streaming.{Bm25Index, Streaming, TableIngest, TombstoneLog}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.types._

import scala.collection.immutable.{SortedMap, TreeMap}
import scala.collection.mutable

/** A seeded sequence of operations on one long-lived graft-parquet orders
  * table plus a documents corpus with its TombstoneLog and Bm25Index, each
  * through the modules' public functions, composed the way
  * `table_merge_upsert` and `gdpr_composed_flush` compose them.
  *
  * Every mutation is mirrored on a plain in-memory model of the table
  * (key -> (custkey, price)) and of the corpus (doc id -> text); the checks
  * compare the table, the AS-OF snapshots, the scans and the post-flush
  * BM25 ranking against that model. `injectWrong` writes one row the model
  * does not know about with the first timed append (the self-test's
  * injected wrong result).
  */
final class TableLifecycle(spark: SparkSession, dataDir: String, workDir: String,
    seed: Long, tracer: Tracer, injectWrong: Boolean) extends Workload {

  type Model = SortedMap[Long, (Long, Double)]

  private val table = s"$workDir/orders"
  private val corpus = s"$workDir/corpus"
  private val index = s"$workDir/index"
  /** Log records kept by maintenance: more than one pass commits, so every
    * AS-OF handle taken inside a pass still resolves at its end.
    */
  private val retain = 16

  private var model: Model = TreeMap.empty
  private var docs: SortedMap[Long, String] = TreeMap.empty
  private var nextKey = 0L
  private var nextDoc = 0L
  private var nextBatch = 1L
  private var targetBytes = 0L
  private var appendRows = 0
  private var docBatch = 0
  private val handles = mutable.ArrayBuffer.empty[(Long, Model)]
  private val mutationsThisPass = mutable.ArrayBuffer.empty[String]
  private var filesScanned = 0L
  private var filesRewritten = 0L
  private var rowsPurged = 0L

  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType)))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType), StructField("text", StringType)))
  private val vocab = ("join hash row batch scan column customer filter small slow merge order " +
    "vector line table data agg value key stream window a spark part group big sort query fast the")
    .split(" ")
  private val queryTexts = Seq("spark join performance", "window agg order", "hash table scan")

  private def frame(rows: Seq[(Long, Long, Double)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (k, c, p) => Row(k, c, p) }: _*), orderSchema)

  private def live(): DataFrame = spark.read.format("graft-parquet").load(table)

  override def prepare(): Unit = {
    Fs.delete(workDir)
    val staged = spark.read.parquet(s"$dataDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val commits = 2
    (0 until commits).foreach { r =>
      staged.filter(pmod(col("o_orderkey"), lit(commits)) === r)
        .coalesce(1).write.format("graft-parquet").mode("append").save(table)
    }
    val path = new org.apache.hadoop.fs.Path(table)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = GraftParquetWrite.listDataFiles(fs, path).map(_.getLen).sum
    targetBytes = math.max(1L, bytes / 6)
    GraftTableOptimize.optimize(spark, table, targetBytes = targetBytes,
      smallBytes = bytes + 1, clusterBy = Seq("o_orderkey"), retainLog = retain): Unit
    model = TreeMap.from(staged.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))))
    nextKey = model.lastKey + 1
    appendRows = math.max(10, model.size / 100)

    val staticDocs = spark.read.parquet(s"$dataDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    staticDocs.write.parquet(corpus)
    val admitted = spark.read.parquet(corpus).select(col("doc_id"), col("text"))
    Bm25Index.ingestBatch(admitted, index, "doc_id", "text", batchId = 0L,
      nShards = Bm25Index.AutoShards)
    docs = TreeMap.from(admitted.collect().map(r => r.getLong(0) -> r.getString(1)))
    nextDoc = docs.lastKey + 1
    docBatch = math.max(4, docs.size / 20)
  }

  // ---- the operations -------------------------------------------------

  private def rng(pass: Int) = new scala.util.Random(seed * 7919L + pass)

  private def newRows(r: scala.util.Random, n: Int): Seq[(Long, Long, Double)] =
    (0 until n).map { i =>
      (nextKey + i, r.nextInt(1500).toLong, math.round(r.nextDouble() * 49900000.0 + 100000.0) / 100.0)
    }

  /** A key range [a, b) over the live keys holding about `n` of them. */
  private def liveRange(r: scala.util.Random, n: Int): (Long, Long) = {
    val keys = model.keysIterator.toIndexedSeq
    val i = r.nextInt(math.max(1, keys.size - n))
    (keys(i), keys(math.min(keys.size - 1, i + n)))
  }

  private def rangeStats(m: Model, a: Long, b: Long): (Long, Long) = {
    val ks = m.range(a, b).keys
    (ks.size.toLong, ks.sum)
  }

  private def mutation(name: String, run: () => Unit, after: () => Boolean,
      before: () => Unit = () => ()): Op =
    Op(s"sources.v2.$name", () => tracer.span(s"sources.v2.$name", "sources.v2")(run()),
      () => { mutationsThisPass += s"sources.v2.$name"; after() }, before)

  private def streamingOp(name: String, run: () => Unit, after: () => Boolean = () => true,
      before: () => Unit = () => ()): Op =
    Op(s"streaming.$name", () => tracer.span(s"streaming.$name", "streaming")(run()),
      after, before)

  private var injected = false

  private def append(r: scala.util.Random, pass: Int): Op = {
    var rows: Seq[(Long, Long, Double)] = Nil
    mutation("append", () => {
      val stray = if (injectWrong && pass > 0 && !injected) {
        injected = true
        Seq((-1L, 0L, 0.0))
      } else Nil
      frame(rows ++ stray).coalesce(1).write.format("graft-parquet").mode("append").save(table)
    },
      () => {
        model = model ++ rows.map { case (k, c, p) => k -> ((c, p)) }
        nextKey += rows.size
        true
      }, () => rows = newRows(r, appendRows))
  }

  private def scan(r: scala.util.Random): Op = {
    var got = (0L, 0L)
    var range = (0L, 0L)
    Op("sources.v2.scan", () => tracer.span("sources.v2.scan", "sources.v2") {
      got = Bridge.materializeSum(live().filter(col("o_orderkey") >= range._1 &&
        col("o_orderkey") < range._2), 0)
    }, () => got == rangeStats(model, range._1, range._2),
      () => range = liveRange(r, model.size / 20))
  }

  /** An AS-OF read of a handle taken earlier in the pass; `newHandle` also
    * takes the next handle (untimed) right before the read.
    */
  private def asOf(handle: Int, newHandle: Boolean = false): Op = {
    var got = (0L, 0L)
    var want = (0L, 0L)
    var seq = 0L
    Op("sources.v2.asof", () => tracer.span("sources.v2.asof", "sources.v2") {
      got = Bridge.materializeSum(spark.read.format("graft-parquet")
        .option("graft.asOfSeq", seq.toString).load(table), 0)
    }, () => got == want, () => {
      if (newHandle) takeHandle()
      val (s, snap) = handles(handle)
      seq = s
      want = (snap.size.toLong, snap.keysIterator.sum)
    })
  }

  private def takeHandle(): Unit =
    handles += ((TableIngest.currentSeq(spark, table).get, model))

  private def merge(r: scala.util.Random): Op = {
    var updates: Seq[(Long, Long, Double)] = Nil
    var inserts: Seq[(Long, Long, Double)] = Nil
    var rep: GraftTableOptimize.MergeReport = null
    mutation("merge", () => {
      rep = GraftTableOptimize.merge(spark, table, frame(updates ++ inserts), Seq("o_orderkey"),
        targetBytes = targetBytes, retainLog = retain, clusterBy = Seq("o_orderkey"))
    }, () => {
      model = model ++ (updates ++ inserts).map { case (k, c, p) => k -> ((c, p)) }
      nextKey += inserts.size
      filesScanned += rep.filesScanned
      filesRewritten += rep.filesRewritten
      rep.rowsUpdated == updates.size && rep.rowsInserted == inserts.size
    }, () => {
      val (a, b) = liveRange(r, appendRows)
      updates = model.range(a, b).toSeq.map { case (k, (c, p)) => (k, c, p + 1000.0) }
      inserts = newRows(r, appendRows)
    })
  }

  private def update(r: scala.util.Random): Op = {
    var rep: GraftTableOptimize.UpdateReport = null
    var range = (0L, 0L)
    mutation("update", () => {
      rep = GraftTableOptimize.updateWhere(spark, table,
        col("o_orderkey") >= range._1 && col("o_orderkey") < range._2,
        Seq("o_totalprice" -> (col("o_totalprice") + 1.0d)), targetBytes = targetBytes,
        retainLog = retain, clusterBy = Seq("o_orderkey"))
    }, () => {
      val hit = model.range(range._1, range._2)
      model = model ++ hit.map { case (k, (c, p)) => k -> ((c, p + 1.0d)) }
      filesScanned += rep.filesScanned
      filesRewritten += rep.filesRewritten
      rep.rowsUpdated == hit.size
    }, () => range = liveRange(r, 2 * appendRows))
  }

  /** Deletes the oldest keys, as many as the pass added, so the live row
    * count stays at the staged size.
    */
  private def delete(target: Int): Op = {
    var rep: GraftTableOptimize.DeleteReport = null
    var cutoff = 0L
    mutation("delete", () => {
      rep = GraftTableOptimize.deleteWhere(spark, table, col("o_orderkey") < cutoff,
        targetBytes = targetBytes, purge = false, retainLog = retain,
        clusterBy = Seq("o_orderkey"))
    }, () => {
      val gone = model.rangeUntil(cutoff).size
      model = model.rangeFrom(cutoff)
      filesScanned += rep.filesScanned
      filesRewritten += rep.filesRewritten
      rep.rowsDeleted == gone
    }, () => cutoff = model.keysIterator.drop(math.max(1, model.size - target)).next())
  }

  private def optimize(): Op = mutation("optimize", () =>
    GraftTableOptimize.optimize(spark, table, targetBytes = targetBytes,
      smallBytes = math.max(1L, targetBytes / 2), clusterBy = Seq("o_orderkey"),
      retainLog = retain): Unit, () => true)

  private def vacuum(): Op = mutation("vacuum", () =>
    GraftTableOptimize.vacuum(spark, table, graceMs = 0L): Unit, () => true)

  private var lastFsck: GraftTableOptimize.FsckReport = null
  private def fsck(): Op = mutation("fsck",
    () => lastFsck = GraftTableOptimize.fsck(spark, table),
    () => lastFsck.healthy && lastFsck.unloggedDataFiles == 0 && lastFsck.missingDataFiles == 0)

  private def newDocs(r: scala.util.Random): Seq[(Long, String, String)] =
    (0 until docBatch).map { i =>
      val words = Seq.fill(10 + r.nextInt(80))(vocab(r.nextInt(vocab.length)))
      (nextDoc + i, Seq("en", "de", "fr", "es", "zh")(r.nextInt(5)), words.mkString(" "))
    }

  /** New documents land in the corpus (a plain parquet append) and in the
    * index (one BM25 batch).
    */
  private def ingest(r: scala.util.Random): Seq[Op] = {
    var batch: Seq[(Long, String, String)] = Nil
    var batchId = 0L
    def df = spark.createDataFrame(java.util.Arrays.asList(
      batch.map { case (i, l, t) => Row(i, l, t) }: _*), docSchema)
    Seq(
      Op("sinks.corpus_append", () => tracer.span("sinks.corpus_append", "sinks")(
        df.coalesce(1).write.mode("append").parquet(corpus)), () => true, () => {
        batch = newDocs(r)
        batchId = nextBatch
      }),
      streamingOp("bm25_ingest", () =>
        Bm25Index.ingestBatch(df.select(col("doc_id"), col("text")), index, "doc_id", "text",
          batchId = batchId, nShards = Bm25Index.AutoShards), () => {
        docs = docs ++ batch.map { case (i, _, t) => i -> t }
        nextDoc += batch.size
        nextBatch += 1
        true
      }))
  }

  private val requested = mutable.LinkedHashSet.empty[Long]

  private def request(r: scala.util.Random): Op = {
    var ids: Seq[Long] = Nil
    streamingOp("tombstone_request", () => {
      import spark.implicits._
      TombstoneLog.requestPurge(corpus, ids.toDF("doc_id"), "doc_id"): Unit
    }, () => { requested ++= ids; true },
      () => ids = r.shuffle(docs.keys.toIndexedSeq.filterNot(requested.contains)).take(docBatch))
  }

  private def flush(): Op = {
    var indexPurged = -1L
    var flushed: Option[(Streaming.CorpusPurgeStats, Int)] = None
    streamingOp("tombstone_flush", () => {
      flushed = TombstoneLog.flushPurge(spark, corpus, "doc_id", Seq("text"),
        alsoPurge = ids => indexPurged = tracer.span("streaming.bm25_purge", "streaming")(
          Bm25Index.purge(spark, index, ids, "doc_id")))
    }, () => {
      val purged = requested.toSet
      docs = docs -- purged
      requested.clear()
      rowsPurged += flushed.map(_._1.rowsRemoved).getOrElse(0L) + math.max(0L, indexPurged)
      // no purged id may be readable from the corpus
      val readable = spark.read.parquet(corpus).select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
      flushed.exists(_._1.rowsRemoved == purged.size) && indexPurged == purged.size &&
        readable.intersect(purged).isEmpty && readable == docs.keySet
    })
  }

  private def topK(): Op = {
    var got: Seq[(Long, Long, Long, Double)] = Nil
    streamingOp("bm25_topk", () => {
      import spark.implicits._
      got = Bm25Index.topK(spark, index, queryTexts.zipWithIndex
        .map { case (q, i) => (i.toLong, q) }.toDF("query_id", "qtext"), k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"), col("score"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    }, () => got.sortBy(t => (t._1, t._3)) == TableLifecycle.bm25(docs, queryTexts, 10))
  }

  def ops(pass: Int): Seq[Op] = {
    val r = rng(pass)
    handles.clear()
    mutationsThisPass.clear()
    val target = model.size
    takeHandle()
    val opsA = Seq(append(r, pass), scan(r), merge(r)) ++ ingest(r) ++
      Seq(update(r), request(r), append(r, pass))
    val opsB = Seq(asOf(0, newHandle = true), delete(target), scan(r), flush(), topK(),
      asOf(1), optimize(), vacuum(), fsck())
    opsA ++ opsB
  }

  override def afterPass(pass: Int): Set[String] = {
    val rows = live().collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
    val replayOk = rows.length == model.size && TreeMap.from(rows) == model
    if (replayOk) Set.empty else mutationsThisPass.toSet
  }

  override def spaceAmp(): Double = {
    val onDisk = Fs.bytes(table) + Fs.bytes(corpus) + Fs.bytes(index)
    val fresh = s"$workDir/fresh"
    live().coalesce(1).write.mode("overwrite").parquet(s"$fresh/orders")
    spark.read.parquet(corpus).coalesce(1).write.mode("overwrite").parquet(s"$fresh/corpus")
    Bm25Index.ingestBatch(spark.read.parquet(corpus).select(col("doc_id"), col("text")),
      s"$fresh/index", "doc_id", "text", batchId = 0L, nShards = Bm25Index.AutoShards)
    val freshBytes = Fs.bytes(fresh)
    Fs.delete(fresh)
    onDisk.toDouble / freshBytes
  }

  override def counters(): Map[String, Double] = {
    val f = GraftTableOptimize.fsck(spark, table)
    Map(
      "sources.v2.rewrite_ratio" -> (if (filesScanned == 0) 0.0 else filesRewritten.toDouble / filesScanned),
      "sources.v2.data_files" -> f.dataFiles.toDouble,
      "sources.v2.log_records" -> f.logRecords.toDouble,
      "streaming.rows_purged" -> rowsPurged.toDouble)
  }
}

object TableLifecycle {
  private val token = "[a-z0-9]+".r

  private def tokens(s: String): Seq[String] = token.findAllIn(s.toLowerCase).toSeq

  /** BM25 top-k over `docs`, scored the way the engine's oracle states it
    * (k1 = 1.2, b = 0.75, the log-free rational idf, per-term scores summed
    * in term order; ties broken by doc id). Returns (query, doc, rank, score).
    */
  def bm25(docs: SortedMap[Long, String], queries: Seq[String], k: Int): Seq[(Long, Long, Long, Double)] = {
    val toks = docs.map { case (id, t) => id -> tokens(t) }
    val n = toks.size
    val avgdl = toks.valuesIterator.map(_.size.toLong).sum.toDouble / n
    queries.zipWithIndex.flatMap { case (q, qi) =>
      val terms = tokens(q).distinct.sorted
      val df = terms.map(t => t -> toks.count(_._2.contains(t))).toMap
      val scored = toks.toSeq.flatMap { case (id, ts) =>
        val parts = terms.flatMap { t =>
          val tf = ts.count(_ == t)
          if (tf == 0) None
          else Some(((n - df(t)).toDouble + 0.5) / (df(t).toDouble + 0.5) *
            ((tf.toDouble * (1.2 + 1.0)) /
              (tf.toDouble + 1.2 * (1.0 - 0.75 + 0.75 * (ts.size.toDouble / avgdl)))))
        }
        if (parts.isEmpty) None else Some(id -> parts.foldLeft(0.0)(_ + _))
      }
      scored.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex.map { case ((id, s), i) =>
        (qi.toLong, id, (i + 1).toLong, s)
      }
    }
  }
}
