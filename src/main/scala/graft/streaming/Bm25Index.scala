package graft.streaming

import graft.Sizing
import graft.operators.{Retrieval, TextAnalysis}
import graft.sources.ParquetRead
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Persisted, incrementally-maintained BM25 inverted index — the
  * [[IvfIngest]] analog for text. [[graft.operators.Retrieval.bm25TopK]]
  * re-tokenizes the corpus and re-derives its constants on EVERY call —
  * the right shape for one ad-hoc batch, the wrong one for repeated
  * retrieval (decontamination sweeps against many eval sets, query-aware
  * corpus selection): at 100 TB every sweep would pay a corpus scan. This
  * index pays the tokenize ONCE per ingested batch; queries then probe a
  * `(term, doc_id, tf, dl)` postings table pruned to the query's terms,
  * never the corpus.
  *
  * Layout under `indexDir`:
  *   - `postings/__tshard=<s>/part-*.parquet` — postings rows
  *     `(term, doc_id, tf, dl, __b)`, shard = `pmod(xxhash64(term),
  *     nShards)`, appended per batch ([[KeyTableSidecar]]'s layout trick:
  *     the shard is a PARTITION VALUE, so a query's term set prunes whole
  *     shard directories at planning time, and the `term IN (...)` filter
  *     pushes to parquet row groups within them).
  *   - `_stats/b<batchId>/` — one row `(n_docs, total_dl, __b)` per
  *     batch; query-time corpus constants SUM the __b-distinct rows
  *     (batches-sized, never corpus-sized). [[compact]] folds the
  *     accreting per-batch dirs into one — rows keep their per-batch
  *     identity, so the fold's crash window only leaves bitwise
  *     duplicates the same distinct absorbs.
  *   - `_batches/b<batchId>` — per-batch commit marker (skip record).
  *   - `_doclens/b<batchId>/` — `(doc_id, dl, __b)` per ingested doc:
  *     docs-count-sized, so [[purge]] recovers its targets' lengths
  *     without touching the corpus-scale postings; folds like `_stats`.
  *   - `_deleted/d<stamp>-<nonce>/` — permanent `(doc_id, dl)` purge
  *     tombstones ([[purge]]): the query-time mask AND the corpus-constant
  *     correction in one atomic dir; [[vacuum]] physically removes the
  *     masked postings, [[compact]] folds the dirs.
  *   - `_meta` — the shard modulus, fixed at the first batch (postings
  *     sharded under different moduli would not be co-prunable).
  *
  * Exactly-once under at-least-once delivery WITHOUT a rewrite: postings
  * rows carry their `__b` batch id, so a redelivered or crash-torn append
  * duplicates whole rows bitwise, and the query path's slice-sized
  * `distinct` absorbs them (the marker is only a skip optimization). The
  * crash window between the postings append and the stats write leaves
  * stats one batch behind postings until the redelivery lands — same
  * single-writer at-least-once discipline as every sidecar here.
  *
  * Scoring is [[Retrieval.scoreAndRank]] — the SAME Column shapes as the
  * ad-hoc form, so [[topK]] is bitwise-equal to [[Retrieval.bm25TopK]]
  * over the corpus the batches ingested (the spec pins it).
  */
object Bm25Index {

  val DefaultShards = 64

  /** Derive the shard modulus from the ingested frame's size instead of a
    * caller constant: one shard per [[graft.Sizing.Bm25ShardBytes]] of the
    * optimizer's input estimate, clamped to [1, [[graft.Sizing.MaxShards]]].
    * Only the FIRST batch derives (the modulus is an index constant; later
    * batches ingest under the meta), so auto sharding fits one-shot
    * corpus-sized ingests — a stream whose first micro-batch is not
    * representative of the final index should size explicitly.
    */
  val AutoShards: Sizing.Count = Sizing.Auto

  private[graft] def deriveShards(estimateBytes: BigInt): Int =
    Sizing.count(estimateBytes, Sizing.Bm25ShardBytes, Sizing.MaxShards)

  /** Writers per shard under [[graft.Sizing.Auto]] `subSplits`: shard count
    * is the index's pruning granularity (a layout constant), but the
    * postings sort+write's parallelism is `mod * subSplits` — at a small
    * derived mod (a test corpus lands at 1 shard) a fixed subSplits = 1
    * collapses the whole tokenize+sort+write onto ONE task (the
    * `repartition(__tshard)` hash of a constant). The postings pass IS a
    * tokenize kernel, so the fan-out is the text-kernel width split over
    * the shards. At 100 TB mod alone exceeds the slot count and this
    * derives 1 — the one-file-per-shard layout.
    */
  private[graft] def deriveSplits(textWidth: Int, mod: Int): Int =
    Sizing.count(textWidth, mod, textWidth)

  private val Magic = 0x42493235 // "BI25"

  private def postingsDir(dir: Path) = new Path(dir, "postings")
  private def statsDir(dir: Path) = new Path(dir, "_stats")
  private def batchesDir(dir: Path) = new Path(dir, "_batches")
  private def metaPath(dir: Path) = new Path(dir, "_meta")
  private def deletedDir(dir: Path) = new Path(dir, "_deleted")
  private def doclensDir(dir: Path) = new Path(dir, "_doclens")

  /** `_SUCCESS`-complete child dirs of a sidecar parent (a torn write or
    * mid-flight fold is invisible, like every sidecar read here).
    */
  private def completeDirs(fs: FileSystem, parent: Path): Seq[Path] =
    if (!fs.exists(parent)) Nil
    else fs.listStatus(parent)
      .filter(st => st.isDirectory && fs.exists(new Path(st.getPath, "_SUCCESS")))
      .map(_.getPath).toSeq

  /** Fold a sidecar's per-batch dirs into one `c<stamp>-<nonce>` dir when
    * more than `maxDirs` accreted. Rows keep their identity (every
    * sidecar here stamps rows so cross-dir duplicates are bitwise), so
    * the crash window between the fold write and the source sweep only
    * leaves duplicates the read-side distinct absorbs.
    */
  private def foldSidecar(spark: SparkSession, fs: FileSystem, parent: Path,
      schema: Option[String], maxDirs: Int)(validate: DataFrame => Unit): Unit = {
    val dirs = completeDirs(fs, parent)
    if (dirs.length <= maxDirs) return
    val paths = dirs.map(_.toString).toIndexedSeq
    val raw = schema.fold(ParquetRead(spark, paths: _*))(s =>
      spark.read.schema(s).parquet(paths: _*))
    validate(raw)
    val name = s"c${System.currentTimeMillis()}-${
      java.util.UUID.randomUUID().toString.take(8)}"
    raw.distinct().coalesce(1).write.mode("error")
      .parquet(new Path(parent, name).toString)
    dirs.foreach(p => fs.delete(p, true))
  }

  /** The data files of every postings shard dir. */
  private def shardDataFiles(fs: FileSystem,
      pDir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(pDir)) Nil
    else fs.listStatus(pDir).toSeq.flatMap { sh =>
      if (sh.isDirectory && sh.getPath.getName.startsWith("__tshard="))
        fs.listStatus(sh.getPath).filter { st =>
          val nm = st.getPath.getName
          st.isFile && !nm.startsWith("_") && !nm.startsWith(".")
        }.toSeq
      else Nil
    }

  /** Append-then-sweep rewrite of a postings file set: the transformed
    * rows land as new ~tierBytes files (per-shard output budget, so cold
    * shards converge to one file under skew) BEFORE the sources delete —
    * a crash in between leaves bitwise-duplicate rows the read-side
    * distinct absorbs. Shared by [[compact]]'s small-tier merge and
    * [[vacuum]]'s anti-join rewrite so the crash discipline lives once.
    */
  private def rewritePostingsFiles(spark: SparkSession, fs: FileSystem,
      pDir: Path, files: Seq[org.apache.hadoop.fs.FileStatus], tierBytes: Long)(
      transform: DataFrame => DataFrame): Unit = {
    if (files.isEmpty) return
    val splitsLookup = map(files
      .groupBy(_.getPath.getParent.getName.split("=", 2)(1).toInt)
      .toSeq.flatMap { case (shard, fl) =>
        val bytes = fl.map(_.getLen).sum
        Seq(lit(shard), lit(Sizing.count(bytes, tierBytes, Int.MaxValue).toLong))
      }: _*)
    transform(spark.read.option("basePath", pDir.toString)
        .schema(PostingsSchema)
        .parquet(files.map(_.getPath.toString): _*))
      .distinct() // __b-duplicate redelivery residue retires with the tier
      .repartition(col("__tshard"),
        pmod(xxhash64(col("doc_id")), element_at(splitsLookup, col("__tshard"))))
      .sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("append").partitionBy("__tshard").parquet(pDir.toString)
    files.foreach(st => fs.delete(st.getPath, false))
  }

  private val PostingsSchema =
    "term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, __b BIGINT, __tshard INT"

  private def readPostings(spark: SparkSession, dir: Path): DataFrame =
    spark.read.schema(PostingsSchema).parquet(postingsDir(dir).toString)

  private val DoclensSchema = "doc_id BIGINT, dl BIGINT, __b BIGINT"

  /** Stats sidecar rows (complete dirs only) with the `__b` stamp REQUIRED
    * — None when no complete dirs exist. THE one guard site for the
    * pre-stamp shape (it was previously copy-pasted across topK / purge /
    * fsck with drifting messages); `action` names the caller's verb.
    */
  private def readStampedStats(spark: SparkSession, fs: FileSystem, dir: Path,
      action: String): Option[DataFrame] = {
    val dirs = completeDirs(fs, statsDir(dir)).map(_.toString)
    if (dirs.isEmpty) None
    else {
      val df = ParquetRead(spark, dirs.toIndexedSeq: _*)
      if (!df.columns.contains("__b"))
        throw new graft.GraftDataError(
          s"stats sidecar at ${statsDir(dir)} predates the __b batch stamp — " +
            s"rebuild the index before $action (a distinct over unstamped " +
            "rows would collapse equal-sized batches)")
      Some(df)
    }
  }

  /** Doclens sidecar rows (complete dirs only) — None when none exist. */
  private def readStampedDoclens(spark: SparkSession, fs: FileSystem, dir: Path)
      : Option[DataFrame] = {
    val dirs = completeDirs(fs, doclensDir(dir)).map(_.toString)
    if (dirs.isEmpty) None
    else Some(spark.read.schema(DoclensSchema).parquet(dirs.toIndexedSeq: _*))
  }

  /** The tombstone sidecar: one `(doc_id, dl)` row per logically-deleted
    * doc (complete dirs only). PERMANENT — it is both the query-time mask
    * and the corpus-constants correction record, which is what makes a
    * purge a single atomic dir write (no paired stats row, no retire step,
    * no crash window). It retains only the opaque id and a length — no
    * content — and stays ids-sized. Fold crash residue may repeat a row:
    * consumers use it as the build side of a semi/anti join, where that
    * cannot change the output, or de-duplicate on the driver after an
    * ids-sized collect.
    */
  private def readDeleted(spark: SparkSession, fs: FileSystem, dir: Path): DataFrame = {
    val dirs = completeDirs(fs, deletedDir(dir)).map(_.toString)
    if (dirs.isEmpty)
      spark.range(0).select(col("id").as("doc_id"), col("id").as("dl"))
    else
      spark.read.schema("doc_id BIGINT, dl BIGINT").parquet(dirs: _*)
  }

  private def fileSystem(spark: SparkSession, indexDir: String): (FileSystem, Path) = {
    val dir = new Path(indexDir)
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  private def readMeta(fs: FileSystem, dir: Path): Option[Int] = {
    val p = metaPath(dir)
    if (!fs.exists(p)) None
    else {
      val in = new java.io.DataInputStream(fs.open(p))
      try {
        if (in.readInt() != Magic)
          throw new graft.GraftDataError(s"$p is not a BM25 index meta")
        Some(in.readInt())
      } finally in.close()
    }
  }

  private def writeMeta(fs: FileSystem, dir: Path, nShards: Int): Unit = {
    val staging = new Path(dir, "_meta.staging")
    val out = new java.io.DataOutputStream(fs.create(staging, true))
    try { out.writeInt(Magic); out.writeInt(nShards) } finally out.close()
    val p = metaPath(dir)
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(staging, p)
  }

  /** Ingest one batch of `(idCol, textCol)` documents. A committed
    * batchId skips (marker); a crash-torn or redelivered append is
    * absorbed read-side (see class doc). `nShards` is the modulus a NEW
    * index is created with ([[AutoShards]] derives it); an existing index
    * keeps its meta's. `subSplits` bounds the files-per-shard of one
    * append: by default derived from the batch size ([[deriveSplits]]); a
    * one-shot [[build]] spreads each shard over several writers.
    *
    * CONTRACT: batches must PARTITION the corpus. Re-ingesting a document
    * under a DIFFERENT batchId is not a redelivery — its rows differ in
    * `__b`, so the read-side distinct keeps both, tf/df and the stats
    * sidecar count it twice, and every score involving it skews. Only a
    * re-ingest under the SAME batchId is absorbed (marker skip when the
    * batch committed, bitwise-duplicate rows when it tore).
    */
  def ingestBatch(docs: DataFrame, indexDir: String, idCol: String, textCol: String,
      batchId: Long, nShards: Sizing.Count = Sizing.Fixed(DefaultShards),
      subSplits: Sizing.Count = Sizing.Auto): Unit = {
    val spark = docs.sparkSession
    val (fs, dir) = fileSystem(spark, indexDir)
    // the modulus is an index constant: the first batch fixes it (deriving
    // it from the batch size under Auto), later batches must ingest under
    // it (an explicit mismatch fails fast rather than silently splitting
    // terms across incompatible shards; Auto always accepts the meta)
    val mod = readMeta(fs, dir) match {
      case Some(m) =>
        nShards match {
          case Sizing.Fixed(n) if n != m => throw new graft.GraftDataError(
            s"BM25 index at $indexDir is sharded mod $m; cannot ingest mod $n")
          case _ => m
        }
      case None =>
        val n = nShards.orElse(deriveShards(Sizing.estimate(docs)))
        fs.mkdirs(dir)
        writeMeta(fs, dir, n)
        n
    }
    val marker = new Path(batchesDir(dir), s"b$batchId")
    if (fs.exists(marker)) return
    // ONE tokenize pass per batch: postings, stats and doclens are three
    // separate actions over the same tokenized frame, and without the
    // persist each re-reads and re-tokenizes the batch from source — at
    // corpus scale that is 3 full scans + 3 regex tokenizations where 1
    // suffices (optimization guide §1.2: remove unnecessary passes). The
    // cache is batch-sized (the foreachBatch persist idiom) and dropped
    // before the commit marker lands.
    // the tokenize is a TEXT KERNEL over whatever partitioning `docs`
    // arrives with — a small corpus scan (or a localCheckpoint of one) is
    // ONE partition, which would run the whole regex+explode pass on one
    // core and every downstream consumer of the persisted frame inherits
    // it (profiled: the single-task tokenize+agg was gdpr_composed_flush's
    // largest job). spreadText fans it to the text-kernel width; at corpus
    // scale the scan already carries more partitions than slots and this
    // is a no-op.
    val toks = graft.operators.Ops.spreadText(
      docs.select(col(idCol).cast("long").as("doc_id"), col(textCol)))
      .select(col("doc_id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val postings = toks
        .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
        .select(col("term"), col("doc_id"), col("tf"), col("dl"),
          lit(batchId).as("__b"),
          pmod(xxhash64(col("term")), lit(mod.toLong)).cast("int").as("__tshard"))
      // one file per touched shard per micro-batch (without the clustering,
      // partitionBy fans out one file per input partition per shard); the
      // salt mixes all bits so subSplits never collapses (see
      // KeyTableSidecar.clusterByShard)
      val effSplits = subSplits.orElse(
        deriveSplits(Sizing.kernelWidth(docs, Sizing.TextKernelBytes), mod))
      val clustered =
        if (effSplits == 1) postings.repartition(col("__tshard"))
        else postings.repartition(col("__tshard"),
          pmod(xxhash64(col("doc_id")), lit(effSplits.toLong)))
      clustered
        .sortWithinPartitions(col("term"), col("doc_id"))
        .write.mode("append").partitionBy("__tshard")
        .parquet(postingsDir(dir).toString)
      val stats = toks.select(size(col("toks")).as("dl"))
        .agg(count(lit(1)).as("n_docs"), coalesce(sum(col("dl")), lit(0L)).as("total_dl"))
        .withColumn("__b", lit(batchId))
      stats.coalesce(1).write.mode("overwrite")
        .parquet(new Path(statsDir(dir), s"b$batchId").toString)
      // the doc-length sidecar: docs-count-sized (16 bytes/doc), so a purge
      // recovers its targets' dl from here instead of scanning the
      // corpus-scale postings table
      toks.select(col("doc_id"), size(col("toks")).as("dl"), lit(batchId).as("__b"))
        .coalesce(effSplits).write.mode("overwrite")
        .parquet(new Path(doclensDir(dir), s"b$batchId").toString)
    } finally toks.unpersist(false)
    fs.mkdirs(batchesDir(dir))
    val m = fs.create(marker, true)
    m.close()
  }

  private def committedMarkers(fs: FileSystem, dir: Path): Seq[String] = {
    val b = batchesDir(dir)
    if (!fs.exists(b)) Nil else fs.listStatus(b).map(_.getPath.getName).toSeq
  }

  /** One-shot build: a single ingest of the whole corpus, spread over
    * several writers per shard. Commits under the RESERVED batchId -1, so
    * a later stream's ids (0, 1, …) can never collide with the build
    * marker; one-shot means exactly that — an index with any committed
    * batch refuses a build rather than double-counting the overlap.
    */
  def build(docs: DataFrame, indexDir: String, idCol: String, textCol: String,
      nShards: Sizing.Count = Sizing.Fixed(DefaultShards)): Unit = {
    val (fs, dir) = fileSystem(docs.sparkSession, indexDir)
    if (committedMarkers(fs, dir).nonEmpty)
      throw new graft.GraftDataError(
        s"build() is one-shot: the index at $indexDir already has committed " +
          "batches — continue with ingestBatch/stream instead")
    ingestBatch(docs, indexDir, idCol, textCol, batchId = -1L, nShards,
      subSplits = Sizing.Fixed(8))
  }

  /** The stream form; `checkpointDir` keeps batchIds stable across
    * restarts so the marker skip sees redeliveries. Starting a stream
    * whose batchIds would RE-NUMBER from 0 against an index that already
    * holds committed stream batches (no checkpoint at all, or a fresh
    * checkpoint after the markers landed) fails fast: the marker skip
    * would otherwise silently discard whole micro-batches of new
    * documents. A [[build]]'s reserved -1 marker never collides.
    */
  def stream(docs: DataFrame, indexDir: String, idCol: String, textCol: String,
      nShards: Sizing.Count = Sizing.Fixed(DefaultShards),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val spark = docs.sparkSession
    val (fs, dir) = fileSystem(spark, indexDir)
    val streamMarkers = committedMarkers(fs, dir).filter(n => n != "b-1")
    checkpointDir match {
      case None =>
        if (streamMarkers.nonEmpty) throw new graft.GraftDataError(
          s"stream() without a checkpoint numbers batches from 0, but the index at " +
            s"$indexDir already has committed batches (${streamMarkers.sorted.take(3).mkString(", ")}…) " +
            "whose markers would silently swallow the new micro-batches — pass checkpointDir")
      case Some(c) =>
        val cp = new Path(c)
        val cpFs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val fresh = !cpFs.exists(cp) || cpFs.listStatus(cp).isEmpty
        if (fresh && streamMarkers.nonEmpty) throw new graft.GraftDataError(
          s"fresh checkpoint at $c against the already-ingested index at $indexDir: " +
            "batchIds would re-number from 0 into existing markers — resume the " +
            "original checkpoint, or point the stream at a new index")
    }
    val w = docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, indexDir, idCol, textCol, batchId, nShards)
      }
    checkpointDir.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Compact the index's on-disk bookkeeping — the maintenance pass that
    * keeps a long-lived index O(1)-shaped instead of one-dir-per-batch
    * forever. Two size-tiered folds, both crash-safe by the same
    * bitwise-duplicate argument the ingest path already relies on:
    *
    *   - STATS: when more than `maxStatsDirs` per-batch dirs accreted,
    *     rewrite all `__b`-stamped rows into ONE `c<stamp>` dir, then
    *     sweep the sources. Rows keep their per-batch identity, so a
    *     crash between the fold and the sweep leaves bitwise duplicates
    *     the query-side distinct absorbs.
    *   - POSTINGS: per shard, when the file count exceeds
    *     `maxFilesPerShard`, merge the sub-`tierBytes` tier into
    *     ~tierBytes files ([[KeyTableSidecar.compact]]'s size-tiered
    *     discipline, per-shard output budget so cold shards converge to
    *     one file under skew), dropping `__b`-duplicate redelivery
    *     residue within the rewritten tier. Values are copied unchanged,
    *     so the append-then-sweep crash window again only duplicates
    *     rows bitwise.
    *
    * Query results are unchanged ACROSS a compaction — any [[topK]]
    * planned before or after sees identical scores (spec-pinned). A topK
    * racing the sweep itself may fail fast (its plan pinned a file the
    * sweep removed — FileNotFoundException, retry) but can never read a
    * wrong answer: until the sweep, old and new rows coexist as bitwise
    * duplicates the read-side distinct absorbs. Unlike [[VersionedState]]
    * (whose state is probed continuously in-plan and therefore keeps a
    * grace version), compaction is rare maintenance — availability-only
    * on the race, run it from the index's single maintainer.
    * SINGLE MAINTAINER per index, like every sidecar here.
    */
  def compact(spark: SparkSession, indexDir: String, maxStatsDirs: Int = 8,
      maxFilesPerShard: Int = 16, tierBytes: Long = 64L << 20): Unit = {
    val (fs, dir) = fileSystem(spark, indexDir)
    foldSidecar(spark, fs, statsDir(dir), None, maxStatsDirs) { raw =>
      if (!raw.columns.contains("__b"))
        throw new graft.GraftDataError(
          s"stats sidecar at ${statsDir(dir)} predates the __b batch stamp — " +
            "rebuild the index before compacting (the fold would collapse " +
            "equal-sized batches)")
    }
    // the permanent purge-tombstone and doc-length sidecars fold the same
    // way: rows keep their keys, so crash residue is bitwise-duplicate
    foldSidecar(spark, fs, deletedDir(dir),
      Some("doc_id BIGINT, dl BIGINT"), maxStatsDirs)(_ => ())
    foldSidecar(spark, fs, doclensDir(dir),
      Some(DoclensSchema), maxStatsDirs)(_ => ())
    val pDir = postingsDir(dir)
    val byShard = shardDataFiles(fs, pDir).groupBy(_.getPath.getParent.getName)
    val small = byShard.values.toSeq.flatMap { data =>
      val sm = data.filter(_.getLen < tierBytes)
      if (data.length > maxFilesPerShard && sm.length > 1) sm else Nil
    }
    rewritePostingsFiles(spark, fs, pDir, small, tierBytes)(identity)
  }

  /** Logical right-to-be-forgotten for the INDEX — the [[TombstoneLog]]
    * philosophy applied to retrieval: forgetting a doc from the corpus
    * alone leaves its postings probeable forever. `purge` writes ONE
    * atomic KB-scale sidecar dir of `(doc_id, dl)` tombstones — costing
    * one scan of the docs-count-sized `_doclens` sidecar (two columns,
    * broadcast semi-join), never the corpus-scale postings table.
    * [[topK]] is compliant
    * IMMEDIATELY: it anti-joins the ids-sized tombstone set and corrects
    * the corpus constants from the same rows, making every score BITWISE
    * equal to an index built without those docs (df re-counts on the
    * filtered slice; n_docs/avgdl corrections are exact long sums —
    * spec-pinned). Physical removal is [[vacuum]]'s deferred batched
    * rewrite; the tombstones themselves are PERMANENT (see
    * [[readDeleted]]) — which is also why a purged doc_id is dead forever
    * for this index: never re-ingest a new document under one.
    *
    * Ids already purged, or absent from the index, are skipped — a
    * re-purge is a no-op, never a double-correction. Returns the number
    * of docs newly purged. Single maintainer per index, like every
    * sidecar here.
    */
  def purge(spark: SparkSession, indexDir: String, ids: DataFrame,
      idCol: String): Long = {
    val (fs, dir) = fileSystem(spark, indexDir)
    readMeta(fs, dir).getOrElse(
      throw new graft.GraftDataError(s"no BM25 index at $indexDir"))
    val lensDirs = completeDirs(fs, doclensDir(dir))
    if (lensDirs.isEmpty) {
      // fail fast, never silently no-op: an index with committed batches
      // but no complete _doclens dirs (a pre-sidecar build, or doclens torn
      // in the crash window) CANNOT honor a right-to-be-forgotten request —
      // returning 0 would leave the postings probeable while the caller
      // believes the purge ran. Mirrors the __b-stamp guard on the stats
      // path; 0 is only for a genuinely empty index.
      if (committedMarkers(fs, dir).nonEmpty)
        throw new graft.GraftDataError(
          s"BM25 index at $indexDir has committed batches but no complete " +
            "_doclens sidecar — purge cannot size the tombstones; rebuild " +
            "the index before purging")
      return 0L
    }
    val lens = spark.read
      .schema(DoclensSchema)
      .parquet(lensDirs.map(_.toString): _*)
    // COVERAGE, not mere non-emptiness: a pre-sidecar index that later
    // ingests one covered batch would otherwise slip past the guard above
    // and silently under-purge the uncovered batches' docs. Every batch
    // that reached the STATS write with docs (n_docs > 0 — an EMPTY
    // micro-batch legitimately leaves no doclens rows) must appear among
    // the doclens __b stamps; dir names can't carry this after a
    // compaction fold, the row stamps do — and the net deliberately
    // includes TORN batches (stats written, marker not), whose postings
    // the read-side distinct already serves. The one window this guard
    // cannot see is a batch torn BEFORE its stats write (postings landed,
    // nothing else): that batch is the ingest crash-discipline's to
    // finish — redelivery under the same batchId rewrites stats+doclens —
    // and an ABANDONED stream in that state leaves the index torn, which
    // no sidecar can prove from here (detecting it would price a
    // corpus-scale postings scan into every purge; [[fsck]] pays that
    // scan once, on the maintainer's schedule). Cost as shipped: one
    // distinct over the docs-count-sized sidecar purge scans anyway, plus
    // the batches-sized stats read — compliance is worth a second
    // sidecar pass.
    // ONE collect carries both coverage sets (tagged union of the two
    // batches-sized sidecar projections — was two sequential driver jobs);
    // the stats leg is batches-sized as read, so it dedups on the driver
    val statsDf = readStampedStats(spark, fs, dir, "purging").getOrElse(
      // doclens exists but stats does not: a differently-torn index —
      // name THAT shape, not the pre-stamp one (the old shared message
      // misdiagnosed this case as "predates the __b stamp")
      throw new graft.GraftDataError(
        s"BM25 index at $indexDir has doclens rows but no complete _stats " +
          "sidecar — purge cannot prove batch coverage; rebuild the index " +
          "before purging"))
    val coverage = lens.select(col("__b"), lit(true).as("__lens")).distinct()
      .unionByName(statsDf.filter(col("n_docs") > 0L)
        .select(col("__b"), lit(false).as("__lens")))
      .collect()
    val coveredB = coverage.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    val needB = coverage.filterNot(_.getBoolean(1)).map(_.getLong(0)).toSet
    val uncovered = needB -- coveredB
    if (uncovered.nonEmpty)
      throw new graft.GraftDataError(
        s"BM25 index at $indexDir: _doclens sidecar does not cover " +
          s"stats-recorded batch(es) ${uncovered.toSeq.sorted.mkString(", ")} — " +
          "purge cannot size those docs' tombstones; rebuild the index " +
          "before purging")
    // no distinct on either side: both only feed the build side of a
    // semi/anti join, where duplicates cannot change the output
    val del = ids.select(col(idCol).cast("long").as("doc_id")).na.drop()
      .join(broadcast(readDeleted(spark, fs, dir).select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
    // one doc-length-sidecar pass — docs-count-sized, two columns, never
    // the corpus-scale postings: each present purged doc's (id, dl), once
    // (the driver-side distinct absorbs redelivery residue; one dl per doc
    // by the batches-partition-the-corpus contract). The tombstone set is
    // ids-sized (bounded by the purge request, which already broadcasts),
    // so ONE collect carries the count AND the rows — the old
    // materialize + count + write chain was three driver jobs for a
    // KB-scale frame; the write below is a LocalRelation spill, job two.
    val tombstoneSel = lens
      .join(broadcast(del), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("dl"))
    val tombRows = tombstoneSel.collect().distinct
    val nPurged = tombRows.length.toLong
    if (nPurged == 0L) return 0L
    val name = s"d${System.currentTimeMillis()}-${
      java.util.UUID.randomUUID().toString.take(8)}"
    spark.createDataFrame(java.util.Arrays.asList(tombRows: _*), tombstoneSel.schema)
      .coalesce(1).write.mode("error")
      .parquet(new Path(deletedDir(dir), name).toString)
    nPurged
  }

  /** Physically remove logically-deleted postings: ONE full postings
    * rewrite for every purge since the last vacuum — the same
    * batch-the-rewrites discipline as [[TombstoneLog.flushPurge]], for
    * the index's own data. Fires when at least `minDeleted` tombstones
    * exist; returns the tombstone count it vacuumed against (0 = held).
    *
    * Crash discipline: new shard files append BEFORE the old files delete
    * — a crash in between leaves bitwise-duplicate rows the read-side
    * distinct absorbs, and the purged docs stay masked by the permanent
    * tombstone sidecar either way, so a vacuum can crash ANYWHERE and the
    * index stays correct; the next vacuum idempotently re-runs. Because
    * the tombstones (not stats rows) carry the constants correction,
    * nothing about scoring moves across a vacuum (spec-pinned).
    */
  def vacuum(spark: SparkSession, indexDir: String, minDeleted: Long = 1L,
      tierBytes: Long = 64L << 20): Long = {
    val (fs, dir) = fileSystem(spark, indexDir)
    // the tombstone sidecar is ids-sized and the rewrite broadcasts it —
    // ONE collect carries the count and the mask rows (was a materialize
    // plus a count: two driver jobs per vacuum); the driver-side distinct
    // keeps the count exact under fold residue
    val deletedSel = readDeleted(spark, fs, dir)
    val deletedRows = deletedSel.collect().distinct
    val deleted = spark.createDataFrame(
      java.util.Arrays.asList(deletedRows: _*), deletedSel.schema).select(col("doc_id"))
    val n = deletedRows.length.toLong
    // the high-water marker makes vacuum INCREMENTAL against the permanent
    // sidecar: only tombstones beyond the last vacuumed count trigger a
    // rewrite (the distinct row count is monotonic and fold-stable). A
    // crash between the rewrite and the marker write just re-runs — the
    // rewrite is idempotent
    val pending = n - readVacuumMark(fs, dir)
    if (pending < minDeleted) return 0L
    val pDir = postingsDir(dir)
    rewritePostingsFiles(spark, fs, pDir, shardDataFiles(fs, pDir), tierBytes)(
      _.join(broadcast(deleted), Seq("doc_id"), "left_anti"))
    writeVacuumMark(fs, dir, n)
    pending
  }

  private def vacuumMarkPath(dir: Path) = new Path(deletedDir(dir), "_vacuumed")

  private def readVacuumMark(fs: FileSystem, dir: Path): Long = {
    val p = vacuumMarkPath(dir)
    if (!fs.exists(p)) return 0L
    val in = fs.open(p)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
      buf.toByteArray
    } finally in.close()
    scala.util.Try(new String(bytes, "UTF-8").trim.toLong).getOrElse(0L)
  }

  private def writeVacuumMark(fs: FileSystem, dir: Path, n: Long): Unit = {
    val staging = new Path(deletedDir(dir), "_vacuumed.staging")
    val out = fs.create(staging, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
    val p = vacuumMarkPath(dir)
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(staging, p))
      throw new graft.GraftDataError(s"vacuum mark swap failed under $dir")
  }

  /** BM25 top-k per query against the persisted index: bitwise-equal to
    * [[Retrieval.bm25TopK]] over the ingested corpus, but the plan reads
    * POSTINGS pruned to the query's terms — shard-directory pruning at
    * planning time plus a pushed `term IN (...)` row-group filter — plus
    * the batches-sized stats sidecar. The corpus is never touched.
    */
  def topK(spark: SparkSession, indexDir: String, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (fs, dir) = fileSystem(spark, indexDir)
    val mod = readMeta(fs, dir).getOrElse(
      throw new graft.GraftDataError(s"no BM25 index at $indexDir"))
    def emptyResult: DataFrame = queries.select(col("query_id")).limit(0)
      .withColumn("doc_id", lit(null).cast("long"))
      .withColumn("rank", lit(null).cast("long"))
      .withColumn("score", lit(null).cast("double"))
    val statsDfOpt = readStampedStats(spark, fs, dir, "querying")
    if (statsDfOpt.isEmpty) return emptyResult
    // ONE driver action for everything planning needs AND scoring reuses:
    // the raw stamped stats rows, the (query_id, term, shard) rows and the
    // (doc_id, dl) purge tombstones ride a single tagged-union collect. The
    // stats sidecar is batches-sized by contract, queries are SMALL by the
    // same contract as bm25TopK and the tombstones are ids-sized (vacuum
    // collects them too), so scoring reads the queries and tombstones back
    // as local relations instead of evaluating the tokenizer and the
    // tombstone read a second time. The term list drives planning-time
    // pruning: the shard set prunes whole directories, the IN list pushes
    // to parquet.
    val cLeg = statsDfOpt.get.select(lit(0).as("__src"), col("n_docs"), col("total_dl"),
      col("__b"))
    val tLeg = queries.select(lit(1).as("__src"), col("query_id"),
        explode(TextAnalysis.tokens(col("qtext"))).as("term"))
      .withColumn("s", pmod(xxhash64(col("term")), lit(mod.toLong)).cast("int"))
    val dLeg = readDeleted(spark, fs, dir)
      .select(lit(2).as("__src"), col("doc_id"), col("dl"))
    val legs = cLeg.unionByName(tLeg, allowMissingColumns = true)
      .unionByName(dLeg, allowMissingColumns = true)
      .collect().groupBy(_.getAs[Int]("__src"))
    // the corpus constants are exact long sums over the DISTINCT stats
    // rows: each is __b-stamped, so compaction-fold crash residue repeats a
    // row bitwise and counts once. By NAME, not ordinal: the union appends
    // each leg's columns, and a future reorder must not silently swap a
    // correction into a constant.
    val stats = legs.getOrElse(0, Array.empty)
      .map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("total_dl"), r.getAs[Long]("__b")))
      .distinct
    // purge tombstones mask the postings AND correct the corpus constants
    // from the same rows — exact long sums over the DISTINCT (doc_id, dl)
    // pairs (fold residue may repeat one; each tombstone counts once), so
    // the scores are bitwise those of an index never holding the purged docs
    val tombstones = legs.getOrElse(2, Array.empty)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dl"))).distinct
    // <= 0, not == 0: a purge can tombstone docs from the documented
    // postings-landed/stats-pending crash window, driving the corrected
    // count below zero until the batch redelivers — degrade empty, never
    // feed a negative nDocs/avgdl into the scoring formula
    val nDocs = stats.map(_._1).sum - tombstones.length
    if (nDocs <= 0L) return emptyResult
    val avgdl = (stats.map(_._2).sum - tombstones.map(_._2).sum).toDouble / nDocs
    val termRows = legs.getOrElse(1, Array.empty)
    val terms = termRows.map(_.getAs[String]("term")).distinct.sorted.toIndexedSeq
    if (terms.isEmpty) return emptyResult
    val shards = termRows.map(_.getAs[Int]("s")).distinct.sorted.toIndexedSeq
    val qterms = spark.createDataFrame(java.util.Arrays.asList(termRows
      .map(r => Row(r.getAs[Any]("query_id"), r.getAs[String]("term"))).distinct: _*),
      StructType(Seq(queries.schema("query_id"), StructField("term", StringType))))

    // explicit schema: a fully-purged index may have zero shard dirs, and
    // inference over an empty partitioned dir throws (KeyTableSidecar
    // lesson); __tshard is recovered as the partition column
    val sliced = readPostings(spark, dir)
      .filter(col("__tshard").isin(shards.map(Int.box): _*))
      .filter(col("term").isin(terms: _*))
    // purged docs mask out via the ids-sized broadcast anti-join — read-
    // side compliance the moment a purge lands, ahead of the vacuum; the
    // no-tombstone plan is untouched
    val masked =
      if (tombstones.isEmpty) sliced
      else sliced.join(broadcast(spark.createDataFrame(
        java.util.Arrays.asList(tombstones.map(t => Row(t._1)): _*),
        StructType(Seq(StructField("doc_id", LongType))))), Seq("doc_id"), "left_anti")
    val postings = masked
      // redelivery/crash-residue rows are bitwise duplicates (same __b):
      // a slice-sized distinct restores unique (doc, term) postings
      .distinct()
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    Retrieval.scoreAndRank(postings, qterms, nDocs, avgdl, k, k1, b,
      dfViaWindow = true)
  }

  /** Integrity report: one row per batch id observed ANYWHERE in the
    * index (postings `__b` stamps, stats rows, doclens rows, commit
    * markers) with where it was seen and whether the batch is healthy —
    * `ok` = committed AND stats-recorded AND (empty, or doclens-covered
    * with its postings either present or PROVABLY absent for a reason:
    * every doc of the batch is tokenless (dl = 0) or tombstoned. A fully
    * purged-and-vacuumed batch, or one whose docs all tokenize empty, is
    * healthy with zero postings rows — flagging it would send the
    * maintainer chasing a non-problem). This is the maintenance-time
    * answer to the one window [[purge]]'s coverage guard cannot see (a
    * batch torn before its stats write whose stream was then abandoned):
    * detecting it needs the postings `__b` stamps, and THIS action pays
    * that scan — column-pruned to the one `__b` column — once, on the
    * maintainer's schedule, instead of pricing it into every purge
    * request. Run it after recovering an interrupted stream, or before
    * trusting an index of unknown provenance with right-to-be-forgotten
    * traffic.
    *
    * Remedy for a non-`ok` row: if the batch is NOT committed (torn
    * mid-ingest), redeliver it under the same batchId — the ingest crash
    * discipline completes it idempotently. If it IS committed but a
    * sidecar was lost after the fact, redelivery is a NO-OP behind the
    * commit marker — delete the batch's `_commits` marker first (the
    * redelivered writes are duplicate-absorbed like any crash residue)
    * or rebuild the index.
    *
    * Cost: one postings scan of one column, the batches-sized sidecar
    * reads, plus one doclens∖tombstones anti-join ONLY when some batch's
    * postings are missing (the absence-explanation pass). Read-only —
    * never repairs, so it is safe to run beside a live maintainer.
    */
  def fsck(spark: SparkSession, indexDir: String): DataFrame = {
    val (fs, dir) = fileSystem(spark, indexDir)
    readMeta(fs, dir).getOrElse(
      throw new graft.GraftDataError(s"no BM25 index at $indexDir"))
    import spark.implicits._
    // ONE collect carries all three batch censuses (postings __b stamps,
    // stats rows, doclens __b stamps) as a tagged union — they were three
    // sequential driver jobs, and the postings column scan dominates; the
    // sidecar legs ride along for free. Each leg keeps its exact old
    // shape (distinct-then-project), only the action count changes.
    val postLeg =
      if (shardDataFiles(fs, postingsDir(dir)).isEmpty) None
      else Some(ParquetRead(spark, postingsDir(dir).toString)
        .select(col("__b")).distinct()
        .select(lit(0).as("__src"), col("__b"), lit(0L).as("__n")))
    val statsLeg = readStampedStats(spark, fs, dir, "running fsck")
      .map(_.distinct()
        .select(lit(1).as("__src"), col("__b"), col("n_docs").as("__n")))
    val lensOpt = readStampedDoclens(spark, fs, dir)
    val lensLeg = lensOpt.map(_.select(col("__b")).distinct()
      .select(lit(2).as("__src"), col("__b"), lit(0L).as("__n")))
    val census = (postLeg.toSeq ++ statsLeg.toSeq ++ lensLeg.toSeq)
      .reduceOption(_.unionByName(_))
      .map(_.collect()).getOrElse(Array.empty[org.apache.spark.sql.Row])
    val postB: Set[Long] =
      census.filter(_.getInt(0) == 0).map(_.getLong(1)).toSet
    val statRows: Map[Long, Long] =
      census.filter(_.getInt(0) == 1).map(r => r.getLong(1) -> r.getLong(2)).toMap
    val lensB: Set[Long] =
      census.filter(_.getInt(0) == 2).map(_.getLong(1)).toSet
    // per batch: docs that SHOULD have postings (dl > 0, not tombstoned) —
    // zero means postings absence is legitimate, not damage. Only computed
    // when some batch actually needs the explanation.
    val needExplaining = statRows.exists { case (b, n) =>
      n > 0L && lensB.contains(b) && !postB.contains(b)
    }
    val unexplained: Map[Long, Long] =
      if (!needExplaining) Map.empty
      else lensOpt.fold(Map.empty[Long, Long]) { lens =>
        lens.distinct().filter(col("dl") > 0L)
          .join(broadcast(readDeleted(spark, fs, dir).select(col("doc_id"))),
            Seq("doc_id"), "left_anti")
          .groupBy(col("__b")).count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    val committed = committedMarkers(fs, dir).map(_.stripPrefix("b").toLong).toSet
    (postB ++ statRows.keySet ++ lensB ++ committed).toSeq.sorted.map { b =>
      val nDocs = statRows.getOrElse(b, -1L) // -1 = no stats row
      val ok = committed.contains(b) && statRows.contains(b) &&
        (nDocs == 0L || (lensB.contains(b) &&
          (postB.contains(b) || unexplained.getOrElse(b, 0L) == 0L)))
      (b, committed.contains(b), postB.contains(b), statRows.contains(b),
        lensB.contains(b), nDocs, ok)
    }.toDF("batch_id", "committed", "in_postings", "in_stats", "in_doclens",
      "n_docs", "ok")
  }
}
