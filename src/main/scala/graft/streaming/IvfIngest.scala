package graft.streaming

import graft.operators.{Ops, Similarity}
import graft.functions.VectorExpressions
import graft.sources.{FsPublish, ParquetRead}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ANN-index maintenance: continuous embedding ingestion into the
  * partitioned IVF layout ([[Similarity.writeIvfIndex]] — one directory per
  * inverted list, so probes prune to nprobe/nlist of the files).
  *
  * The codebook persists as a `_codebook` sidecar next to the index (raw
  * float bits — exact round-trip, no text formatting loss), so every
  * micro-batch assigns against the SAME quantizer the index was built with:
  * assignment is a shuffle-free projection against the broadcast codebook
  * (the codegen'd [[VectorExpressions.NearestCentroid]]), and the append
  * only touches the partitions the batch's vectors land in. Steady-state
  * per-batch cost is the batch size alone — the index is never read.
  *
  * Centroid drift: a codebook trained on early data degrades as the
  * distribution moves — lists go lopsided and probes lose recall.
  * [[refresh]] retrains the codebook over the accumulated index
  * (distributed Lloyd — executors do the work, only the nlist×dim codebook
  * reaches the driver) and rewrites the layout under the new assignment via
  * a staging-swap, the same roll-forward discipline as
  * [[CorpusCompaction]]. Rewrites are an explicit maintenance action (cost:
  * one full index pass), not a per-batch tax; trigger on a list-balance
  * metric from [[listSizes]] rather than a clock.
  *
  * foreachBatch is at-least-once: a retried batch re-appends rows it
  * already wrote — acceptable for an ANN index (duplicate candidates cost a
  * little probe work, never correctness: top-k dedups by id upstream of any
  * consumer that cares). Exactly-once ingestion belongs to the dedup gate
  * ([[Streaming.ingestDedupStream]]) composed BEFORE this sink.
  */
object IvfIngest {

  private val Magic = 0x47435642   // "GCVB" — v1, no training census
  private val MagicV2 = 0x47435643 // v2: + rowsAtTraining (staleness governance)

  def codebookPath(indexDir: Path): Path = new Path(indexDir, "_codebook")

  /** The coarse codebook plus its training census: how many rows the
    * quantizer was fitted over. The census is what the growth-ratio
    * staleness trigger compares the live index against — a codebook
    * trained on the bootstrap batch alone goes stale as the corpus grows
    * past it, and nothing else records how much data it ever saw.
    * `rowsAtTraining == -1` marks a pre-census (v1) sidecar.
    */
  final case class CodebookSidecar(model: Similarity.IvfModel, rowsAtTraining: Long)

  /** Load the persisted codebook; None when absent (first batch trains). */
  def readCodebook(fs: FileSystem, indexDir: Path): Option[Similarity.IvfModel] =
    readCodebookInfo(fs, indexDir).map(_.model)

  /** Codebook + training census (see [[CodebookSidecar]]). */
  def readCodebookInfo(fs: FileSystem, indexDir: Path): Option[CodebookSidecar] = {
    FsPublish.read(fs, codebookPath(indexDir)) { in =>
      val magic = in.readInt()
      require(magic == Magic || magic == MagicV2, "bad codebook magic")
      val rows = if (magic == MagicV2) in.readLong() else -1L
      val nlist = in.readInt(); val dim = in.readInt()
      val cents = Array.fill(nlist) {
        val v = new Array[Float](dim)
        var i = 0
        while (i < dim) { v(i) = java.lang.Float.intBitsToFloat(in.readInt()); i += 1 }
        v
      }
      CodebookSidecar(Similarity.IvfModel(cents), rows)
    }
  }

  /** Published by [[FsPublish.replace]]: readers never see a torn codebook.
    * `rowsAtTraining` is the training census the staleness trigger reads.
    */
  def writeCodebook(fs: FileSystem, indexDir: Path, model: Similarity.IvfModel,
      rowsAtTraining: Long = -1L): Unit = {
    FsPublish.replace(fs, codebookPath(indexDir)) { out =>
      out.writeInt(MagicV2)
      out.writeLong(rowsAtTraining)
      out.writeInt(model.centroids.length)
      out.writeInt(model.centroids.headOption.map(_.length).getOrElse(0))
      model.centroids.foreach(_.foreach(x => out.writeInt(java.lang.Float.floatToIntBits(x))))
    }
  }

  private val PqMagic = 0x47505142 // "GPQB"

  def pqCodebookPath(indexDir: Path): Path = new Path(indexDir, "_pq_codebook")

  /** Load the persisted PQ codebooks; None when absent (first batch trains). */
  def readPqCodebook(fs: FileSystem, indexDir: Path): Option[Similarity.PqModel] = {
    FsPublish.read(fs, pqCodebookPath(indexDir)) { in =>
      require(in.readInt() == PqMagic, "bad PQ codebook magic")
      val m = in.readInt(); val k = in.readInt(); val subDim = in.readInt()
      val books = Array.fill(m, k) {
        val v = new Array[Float](subDim)
        var i = 0
        while (i < subDim) { v(i) = java.lang.Float.intBitsToFloat(in.readInt()); i += 1 }
        v
      }
      Similarity.PqModel(m, k, subDim, books)
    }
  }

  /** Published by [[FsPublish.replace]], raw float bits (exact
    * round-trip) — the PQ analog of [[writeCodebook]].
    */
  def writePqCodebook(fs: FileSystem, indexDir: Path, model: Similarity.PqModel): Unit = {
    FsPublish.replace(fs, pqCodebookPath(indexDir)) { out =>
      out.writeInt(PqMagic)
      out.writeInt(model.m); out.writeInt(model.k); out.writeInt(model.subDim)
      model.codebooks.foreach(_.foreach(_.foreach(x =>
        out.writeInt(java.lang.Float.floatToIntBits(x)))))
    }
  }

  /** Per-batch outcome so callers (and StreamingSpec) can assert the cost
    * model: `trainedCodebook` is true only on the bootstrap batch.
    */
  final case class IvfIngestStats(appended: Long, trainedCodebook: Boolean)

  /** One ingestion micro-batch (the foreachBatch body, callable from batch
    * jobs and tests). Bootstrap: the FIRST batch trains the codebook (seeded
    * by its lowest-id vectors, corrected by distributed Lloyd) and persists
    * the sidecar; every later batch assigns against the persisted codebook
    * unchanged — bitwise-stable assignment across batches, which is what
    * keeps one vector's duplicates in one directory.
    */
  /** True when the index directory already holds assigned list data —
    * the state under which retraining a codebook is never safe (rows were
    * assigned under the quantizer being replaced). Both ingest paths
    * bootstrap codebooks-before-data, so data-without-codebook can only
    * mean a foreign or corrupt index.
    */
  private def assignedDataExists(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      st.isDirectory && st.getPath.getName.startsWith("centroid_id=")
    }

  /** Resolve the min-bootstrap-rows gate: a negative request means the
    * default of 8 vectors per centroid — below that Lloyd fits noise, and
    * an unrepresentative bootstrap codebook is FIXED for the index's whole
    * life (later batches only assign under it). Callers that genuinely
    * want a tiny index (tests, bounded corpora) pass an explicit bound.
    * The floor is nlist either way: k-means cannot seed nlist centroids
    * from fewer vectors — the same minimum-corpus contract as the batch
    * builders ([[Similarity.ivfIndex]]/[[Similarity.ivfPqIndex]]).
    */
  private def resolveMinBootstrap(minBootstrapRows: Long, nlist: Int): Long =
    math.max(nlist.toLong, if (minBootstrapRows < 0) 8L * nlist else minBootstrapRows)

  private def gateBootstrap(n: Long, minRows: Long, nlist: Int, indexDir: String): Unit =
    if (n < minRows)
      throw new graft.GraftDataError(
        s"refusing to bootstrap $indexDir from $n rows (< $minRows minimum " +
          s"for nlist=$nlist): a codebook trained on an unrepresentative " +
          "first micro-batch mis-shapes every later assignment; accumulate " +
          "more rows or pass an explicit minBootstrapRows")

  def ingestBatch(
      batch: DataFrame,
      indexDir: String,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      iters: Int = 2,
      minBootstrapRows: Long = -1L): IvfIngestStats = {
    val spark = batch.sparkSession
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, dir) // finish an interrupted refresh or purge before pairing codebook+lists

    // symmetric with ingestPqBatch's refusal of a plain-IVF index: a
    // `_pq_codebook` sidecar means the lists hold 12-byte pq_code rows —
    // appending (id, vec, centroid_id) float rows among them is exactly
    // the index corruption the PQ path's error warns about, so fail at
    // WRITE time, not when a probe trips over the mixed schema
    if (fs.exists(pqCodebookPath(dir)))
      throw new graft.GraftDataError(
        s"$indexDir is an IVF-PQ index (has a _pq_codebook sidecar) — " +
          "use ingestPqBatch; ingestBatch would mix float-vector rows into pq_code lists")

    // one source pass per micro-batch: the gate count, the (bootstrap-only)
    // Lloyd iterations and the assigned append all reuse the cached batch
    // instead of re-reading the stream source (foreachBatch persist idiom)
    val cached = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cached.count()
      val (model, trained) = readCodebook(fs, dir) match {
        case Some(m) => (m, false)
        case None =>
          // same retrain-over-assigned-rows guard as the PQ path: a
          // populated index with no codebook sidecar is foreign or corrupt
          if (assignedDataExists(fs, dir))
            throw new graft.GraftDataError(
              s"$indexDir has assigned index data but no codebook sidecar — " +
                "refusing to retrain over rows assigned under another quantizer")
          gateBootstrap(n, resolveMinBootstrap(minBootstrapRows, nlist), nlist, indexDir)
          val init = cached.orderBy(col(idCol)).limit(nlist)
            .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
          require(init.nonEmpty, "cannot bootstrap a codebook from an empty batch")
          val m = Similarity.IvfModel(
            Similarity.trainCodebook(cached, idCol, vecCol, init, iters))
          (m, true)
      }

      val assigned = cached.select(
        col(idCol), col(vecCol),
        VectorExpressions.nearestCentroid(col(vecCol), model.centroids).as("centroid_id"))
      // crash-safety ordering on bootstrap: codebook FIRST, then data. A
      // crash in between leaves an empty index with a codebook — the next
      // batch appends under it and nothing orphans. The reverse order would
      // strand partitions assigned under a codebook that was never persisted,
      // and the retrained replacement would assign differently.
      if (trained) writeCodebook(fs, dir, model, rowsAtTraining = n)
      if (n > 0)
        assigned.write.mode("append").partitionBy("centroid_id").parquet(indexDir)
      IvfIngestStats(n, trained)
    } finally cached.unpersist(false)
  }

  /** One IVF-PQ ingestion micro-batch — [[ingestBatch]]'s discipline for
    * the 8-byte-code index ([[Similarity.ivfPqIndex]]'s layout): the
    * bootstrap batch jointly trains the coarse quantizer AND the PQ
    * codebooks (both persist as sidecars, codebooks-before-data crash
    * ordering); every later batch stamps `(id, centroid_id, pq_code)`
    * against the persisted models via [[Similarity.ivfPqEncode]] — a pure
    * map stage, appended only into the partitions the batch lands in. The
    * index a stream accretes is BITWISE the one a batch build under the
    * same models produces (spec-pinned), because the encoder is the same
    * projection. At 100 TB this is the index you keep ingestion-fresh: the
    * stored row is 12 bytes however wide the floats were, and the raw
    * vectors live in the corpus store, not the index (which is why
    * [[refreshPq]] takes the raw vectors — codes are lossy and cannot
    * retrain themselves).
    */
  def ingestPqBatch(
      batch: DataFrame,
      indexDir: String,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int = 16,
      iters: Int = 2,
      m: Int = 8,
      k: Int = 16,
      minBootstrapRows: Long = -1L): IvfIngestStats = {
    val spark = batch.sparkSession
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, dir)

    // one source pass per micro-batch (see [[ingestBatch]]'s persist note)
    val cached = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cached.count()
      val (ivf, pq, trained) =
        (readCodebook(fs, dir), readPqCodebook(fs, dir)) match {
          case (Some(iv), Some(p)) => (iv, p, false)
          case (cb, pcb) =>
            // data already assigned without BOTH codebooks present:
            // retraining would swap the quantizer out from under existing
            // rows (or mix a float IVF index with pq_code rows) — fail
            // fast. The bootstrap writes both codebooks BEFORE any data, so
            // legitimate state never has data with a missing codebook; a
            // codebook-only partial state (crashed bootstrap, no data) still
            // retrains safely.
            if (assignedDataExists(fs, dir))
              throw new graft.GraftDataError(
                s"$indexDir has assigned index data but not the full codebook " +
                  s"pair (coarse=${cb.isDefined}, pq=${pcb.isDefined}) — a " +
                  "foreign index (plain-IVF or batch-built) or a corrupt " +
                  "state; refusing to retrain over assigned rows")
            gateBootstrap(n, resolveMinBootstrap(minBootstrapRows, nlist), nlist, indexDir)
            // bootstrap: one joint training pass over the batch (the
            // batch-build trainer, so codebooks match a batch build bitwise)
            val (_, iv, p) = Similarity.ivfPqIndex(cached, idCol, vecCol, dim,
              nlist, iters, m, k)
            (iv, p, true)
        }
      if (trained) {
        // codebooks FIRST, then data (see [[ingestBatch]]'s ordering note) —
        // both sidecars must land before any row is assigned under them
        writeCodebook(fs, dir, ivf, rowsAtTraining = n)
        writePqCodebook(fs, dir, pq)
      }
      if (n > 0)
        Similarity.ivfPqEncode(cached, idCol, vecCol, ivf, pq)
          .write.mode("append").partitionBy("centroid_id").parquet(indexDir)
      IvfIngestStats(n, trained)
    } finally cached.unpersist(false)
  }

  /** Probe the ingested IVF-PQ index with the persisted models: partition
    * pruning to the nprobe nearest lists, ADC over the 8-byte codes inside
    * them — the probe reads nprobe/nlist of the files and never a float.
    */
  def probePq(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      idCol: String,
      query: Array[Float],
      kTop: Int,
      nprobe: Int): DataFrame = {
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, dir)
    val ivf = readCodebook(fs, dir).getOrElse(
      throw new graft.GraftDataError(s"no codebook sidecar under $indexDir"))
    val pq = readPqCodebook(fs, dir).getOrElse(
      throw new graft.GraftDataError(s"no PQ codebook sidecar under $indexDir"))
    Similarity.ivfPqTopK(ParquetRead(spark, indexDir), ivf, pq, idCol,
      query, kTop, nprobe)
  }

  /** Retrain BOTH quantizers against the raw vectors (the index stores
    * lossy 8-byte codes, so codebook rot is fixed from the corpus store,
    * not the index) and rewrite the code index under the new models,
    * through [[refresh]]'s staged swap ([[completeSwap]]). Both codebook
    * sidecars travel with their lists.
    */
  def refreshPq(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      rawVectors: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int = 16,
      iters: Int = 2,
      m: Int = 8,
      k: Int = 16): Unit = {
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, dir)
    // format guard, symmetric with ingestBatch/ingestPqBatch: an EXISTING
    // index without the _pq_codebook sidecar is a plain-IVF index whose
    // lists hold float-vector rows — "refreshing" it would silently
    // rewrite it as 12-byte pq_codes, crashing every probe that expects
    // the embedding column. Only a fresh dir or a real IVF-PQ index may
    // pass (the staged swap then replaces like with like).
    if (readCodebook(fs, dir).isDefined && !fs.exists(pqCodebookPath(dir)))
      throw new graft.GraftDataError(
        s"$indexDir is a plain-IVF index (no _pq_codebook sidecar) — " +
          "refreshPq would rewrite its float-vector lists as pq_codes; " +
          "rebuild deliberately via ivfPqIndex + a new directory instead")
    val staging = RefreshSwap.staging(dir)
    val (index, ivf, pq) = Similarity.ivfPqIndex(rawVectors, idCol, vecCol, dim,
      nlist, iters, m, k)
    index.write.mode("overwrite").partitionBy("centroid_id")
      .parquet(new Path(staging, "data").toString)
    // the new census travels with the new quantizer: staleness resets to
    // "trained over everything the refresh saw"
    writeCodebook(fs, staging, ivf, rowsAtTraining = rawVectors.count())
    writePqCodebook(fs, staging, pq)
    commitSwap(fs, dir, RefreshSwap, Nil)
  }

  /** Growth-ratio staleness report for an ingested index: how far the live
    * index has grown past the codebook's training census. The trigger a
    * maintenance loop (or [[refreshPqIfStale]]) reads: `stale` is true when
    * `rowsNow > growthRatio × rowsAtTraining` — the quantizer was fitted on
    * less than 1/growthRatio of the data it now serves, the regime where
    * bootstrap-batch codebooks quietly cost recall. Complements
    * [[listSizes]] (distribution-shift skew) with a pure volume trigger
    * that needs no list statistics. Costs one count over the index (footer
    * metadata at parquet, not a data scan) — an explicit maintenance probe,
    * not a per-batch tax. None when the index has no codebook; a v1
    * (pre-census) sidecar reports `rowsAtTraining = -1` and is always
    * considered stale — its training volume is unknown, so the safe reading
    * is "retrain".
    */
  final case class IndexStaleness(rowsAtTraining: Long, rowsNow: Long, stale: Boolean)

  def staleness(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      growthRatio: Double = 4.0): Option[IndexStaleness] = {
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, dir)
    readCodebookInfo(fs, dir).map { info =>
      val now =
        if (assignedDataExists(fs, dir)) ParquetRead(spark, indexDir).count() else 0L
      val stale = info.rowsAtTraining < 0 ||
        now > growthRatio * info.rowsAtTraining
      IndexStaleness(info.rowsAtTraining, now, stale)
    }
  }

  /** Run the staged-swap [[refreshPq]] iff the growth trigger fires —
    * the auto-maintenance form: call it from the ingestion driver's
    * maintenance tick with the corpus store's raw vectors. Returns the
    * staleness report that made the decision (None = no index yet).
    */
  def refreshPqIfStale(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      rawVectors: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int = 16,
      iters: Int = 2,
      m: Int = 8,
      k: Int = 16,
      growthRatio: Double = 4.0): Option[IndexStaleness] = {
    val report = staleness(spark, indexDir, growthRatio)
    if (report.exists(_.stale))
      refreshPq(spark, indexDir, rawVectors, idCol, vecCol, dim, nlist, iters, m, k)
    report
  }

  /** Probe the ingested index with the persisted codebook — partition
    * pruning to the nprobe nearest lists, then exact cosine inside them.
    */
  def probe(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      idCol: String,
      vecCol: String,
      query: Array[Float],
      k: Int,
      nprobe: Int): DataFrame = {
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, dir) // finish an interrupted refresh or purge before pairing codebook+lists
    val model = readCodebook(fs, dir).getOrElse(
      throw new graft.GraftDataError(s"no codebook sidecar under $indexDir"))
    Similarity.ivfTopKFromIndex(spark, indexDir, model, idCol, vecCol, query, k, nprobe)
  }

  /** Inverted-list balance report: (centroid_id, n) per list — the metric a
    * maintenance loop watches to decide a [[refresh]] (e.g. max/mean above
    * a skew bound). Partition-pruned scan of directory metadata plus one
    * count aggregation.
    */
  def listSizes(spark: org.apache.spark.sql.SparkSession, indexDir: String): DataFrame =
    ParquetRead(spark, indexDir)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n"))

  /** Retrain the codebook over the ACCUMULATED index and rewrite the layout
    * under the new assignment — an explicit maintenance action (one full
    * index pass), not a per-batch cost. Single-maintainer discipline: one
    * refresh at a time, like [[CorpusCompaction]]. The reassigned lists and
    * the retrained codebook build under `_refresh` and swap in through
    * [[completeSwap]], so the new codebook can never be lost and a stale
    * codebook never pairs with new lists.
    */
  def refresh(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      iters: Int = 2): Unit = {
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, dir) // an interrupted predecessor finishes (or clears) first
    val staging = RefreshSwap.staging(dir)
    val current = ParquetRead(spark, indexDir).select(col(idCol), col(vecCol))
    val init = current.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    val model = Similarity.IvfModel(
      Similarity.trainCodebook(current, idCol, vecCol, init, iters))
    val reassigned = Ops.spread(current).select(
      col(idCol), col(vecCol),
      VectorExpressions.nearestCentroid(col(vecCol), model.centroids).as("centroid_id"))
    // the old index stays fully intact (and is what `reassigned` reads)
    // until the marker lands; everything below builds inside staging
    reassigned.write.mode("overwrite").partitionBy("centroid_id")
      .parquet(new Path(staging, "data").toString)
    // the NEW quantizer travels WITH its lists; census = the full index it
    // retrained over, so the staleness clock restarts
    writeCodebook(fs, staging, model, rowsAtTraining = current.count())
    commitSwap(fs, dir, RefreshSwap, Nil)
  }

  /** One staged swap of inverted lists, under `<index>/_<name>`. `clear`
    * names what its CLEAR phase deletes, given the COMPLETE marker's lines.
    */
  private final class Swap(name: String, val clear: (FileSystem, Path, Seq[String]) => Seq[Path]) {
    def staging(dir: Path): Path = new Path(dir, s"_$name")
    val complete = s"_${name.toUpperCase}_COMPLETE"
    val cleared = s"_${name.toUpperCase}_CLEARED"
  }

  /** A refresh replaces every list, and any loose data file beside them. */
  private val RefreshSwap = new Swap("refresh", (fs, dir, _) =>
    fs.listStatus(dir).toSeq.filter { st =>
      val name = st.getPath.getName
      if (st.isDirectory) name.startsWith("centroid_id=")
      else !name.startsWith("_") && !name.startsWith(".")
    }.map(_.getPath))

  /** A purge replaces the lists its marker's census names. */
  private val PurgeSwap = new Swap("purge", (_, dir, census) =>
    census.map(k => new Path(dir, s"centroid_id=${k.toLong}")))

  /** Finish or discard an interrupted [[refresh]], [[refreshPq]] or
    * [[purge]]; every entry point runs it first. A staging directory that
    * holds its COMPLETE or CLEARED marker is the copy of record (the old
    * lists may already be partly cleared) and rolls forward; one without
    * is a dead partial build over an intact index and is discarded. One
    * existence probe per swap kind when nothing is staged; single-maintainer
    * discipline means at most one staging exists.
    */
  def recover(fs: FileSystem, dir: Path): Unit =
    Seq(RefreshSwap, PurgeSwap).foreach { swap =>
      val staging = swap.staging(dir)
      if (fs.exists(staging)) {
        if (fs.exists(new Path(staging, swap.complete)) || fs.exists(new Path(staging, swap.cleared)))
          completeSwap(fs, dir, swap)
        else fs.delete(staging, true)
      }
    }

  /** Make a fully staged swap the copy of record, then finish it. The
    * COMPLETE marker, carrying `census`, is published whole through a
    * temp: a crash mid-write leaves only the temp, and [[recover]]
    * discards the staging over the untouched index.
    */
  private def commitSwap(fs: FileSystem, dir: Path, swap: Swap, census: Seq[Long]): Unit = {
    val staging = swap.staging(dir)
    FsPublish.publish(fs, new Path(staging, swap.complete + ".tmp"),
      new Path(staging, swap.complete))(_.write(census.mkString("\n").getBytes("UTF-8")))
    completeSwap(fs, dir, swap)
  }

  /** The staged swap behind [[refresh]], [[refreshPq]] and [[purge]]. The
    * whole new state (lists under `data`, plus any retrained codebook)
    * sits in the staging dir when the COMPLETE marker lands. Then these
    * phases run, each idempotent, so a failure or crash inside any of them
    * re-runs from the next entry point:
    *   1. CLEAR deletes `swap.clear`: every list for a refresh, the
    *      marker's census for a purge. A purged list with no survivors has
    *      no staged copy, so the census is what deletes it. CLEAR runs only
    *      while COMPLETE is in place; it ends by moving COMPLETE to
    *      CLEARED, so a re-entry never deletes promoted lists.
    *   2. PROMOTE moves the staged lists up, then each staged codebook
    *      over its top copy, through [[FsPublish.promote]]. A staged
    *      codebook still present means its top copy is stale, so that copy
    *      goes first.
    *   3. The staging dir, markers included, is dropped only after every
    *      move has landed; a failed move throws and keeps it.
    */
  private def completeSwap(fs: FileSystem, dir: Path, swap: Swap): Unit = {
    val staging = swap.staging(dir)
    val completeM = new Path(staging, swap.complete)
    val clearedM = new Path(staging, swap.cleared)
    if (!fs.exists(clearedM)) {
      val census = FsPublish.read(fs, completeM)(FsPublish.linesOf).getOrElse(
        throw new graft.GraftDataError(s"$completeM vanished before its swap finished"))
      swap.clear(fs, dir, census).foreach(fs.delete(_, true))
      FsPublish.move(fs, completeM, clearedM)
    }
    val data = new Path(staging, "data")
    val lists = if (!fs.exists(data)) Nil else fs.listStatus(data).toSeq
      .map(_.getPath.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
      .map(n => new Path(data, n) -> new Path(dir, n))
    val codebooks = Seq(codebookPath _, pqCodebookPath _)
      .map(pathOf => pathOf(staging) -> pathOf(dir))
      .filter { case (staged, _) => fs.exists(staged) }
    codebooks.foreach { case (_, top) => fs.delete(top, false) }
    FsPublish.promote(fs, lists ++ codebooks)
    fs.delete(staging, true)
  }

  /** What [[purge]] did: which inverted lists were rewritten, which of them
    * came out empty (their partition directory is gone), and how many index
    * rows the tombstones removed.
    */
  case class PurgeReport(
      affectedLists: Seq[Long], emptiedLists: Seq[Long], rowsRemoved: Long)

  /** Tombstone purge — the right-to-be-forgotten maintenance action: remove
    * every index row whose id appears in `tombstones`, REWRITING ONLY THE
    * INVERTED LISTS THAT HOLD ONE. Works unchanged on plain-IVF (float
    * vectors) and IVF-PQ (pq_code) layouts — the purge is id-based and
    * never touches the payload columns or either codebook (deletion does
    * not retrain; staleness accounting is [[refreshPqIfStale]]'s job).
    *
    * Scale shape, in order:
    *  1. DISCOVERY reads two columns of the index — the id column and
    *     `centroid_id`, which is the partition VALUE, not file data — so
    *     finding the affected lists costs a column-pruned scan, not an
    *     index read (`ReadSchema` is the id alone);
    *  2. the REWRITE scans only `centroid_id IN (affected)` — partition
    *     pruning bounds it to the lists actually holding tombstoned rows
    *     (nprobe-style: a purge of k ids touches ≤ k of nlist lists);
    *  3. the swap is metadata: survivors build under `_purge/data` and
    *     replace just the affected partition directories.
    *
    * Crash safety is [[completeSwap]]'s. Re-running a finished purge is a
    * no-op (discovery finds no affected lists).
    */
  def purge(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      tombstones: org.apache.spark.sql.DataFrame,
      idCol: String): PurgeReport = {
    val dir = new Path(indexDir)
    purge(spark, dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir, tombstones, idCol)
  }

  /** [[purge]] with its file-system calls made through `fs`. */
  private[graft] def purge(
      spark: org.apache.spark.sql.SparkSession,
      fs: FileSystem,
      dir: Path,
      tombstones: org.apache.spark.sql.DataFrame,
      idCol: String): PurgeReport = {
    val indexDir = dir.toString
    recover(fs, dir) // finishes a crashed refresh AND a crashed purge
    val ids = tombstones.select(col(idCol)).na.drop().distinct()
    val index = ParquetRead(spark, indexDir)
    // partition discovery may infer centroid_id as INT — keep the native
    // values for the isin filter (a cast around the partition column would
    // defeat the pruning this operator exists for). ONE discovery pass
    // carries both the affected-list census and the removed-row count
    // (previously a distinct-collect plus a second semi-join count — two
    // two-column scans of the index where one aggregation suffices; every
    // removed row's list is affected by definition, so counting on the
    // unscoped join is the same number).
    val discovery = index.select(col(idCol), col("centroid_id"))
      .join(ids, Seq(idCol), "left_semi")
      .agg(count(lit(1)), collect_set(col("centroid_id")),
        count(col("centroid_id"))).head()
    val rowsRemoved = discovery.getLong(0)
    // collect_set silently drops nulls — a tombstoned row with a NULL
    // centroid_id (a null-vector ingest landing in the default partition)
    // would be counted in rowsRemoved but never removed by the
    // centroid-scoped rewrite below: a silent under-purge in a GDPR path.
    // count(centroid_id) counts only non-null rows in the SAME pass; any
    // shortfall fails fast instead.
    if (discovery.getLong(2) != rowsRemoved)
      throw new graft.GraftDataError(
        s"IVF index at $indexDir holds ${rowsRemoved - discovery.getLong(2)} " +
          "tombstoned row(s) with a NULL centroid_id — the centroid-scoped " +
          "purge rewrite cannot remove them; rebuild the index before purging")
    val affectedRaw: Seq[Any] = discovery.getSeq[Any](1).toIndexedSeq
    val affected = affectedRaw.map(_.asInstanceOf[Number].longValue).sorted
    if (affected.isEmpty) return PurgeReport(Nil, Nil, 0L)
    val scoped = index.filter(col("centroid_id").isin(affectedRaw: _*))
    val survivors = scoped.join(ids, Seq(idCol), "left_anti")
      .select(index.columns.map(col).toIndexedSeq: _*)
    val staging = PurgeSwap.staging(dir)
    survivors.write.mode("overwrite").partitionBy("centroid_id")
      .parquet(new Path(staging, "data").toString)
    val emptied = {
      val data = new Path(staging, "data")
      affected.filterNot(k => fs.exists(new Path(data, s"centroid_id=$k")))
    }
    val listsTotal = fs.listStatus(dir)
      .count(_.getPath.getName.startsWith("centroid_id="))
    if (emptied.size == listsTotal) {
      // tombstones covered EVERY row of EVERY list — the census would
      // delete every centroid_id dir and promote nothing, leaving a
      // directory parquet inference refuses to read. Stage one ZERO-ROW
      // list (schema-only file, partition column carried by the dir name
      // as always) so the swapped-in index stays a readable, empty index.
      survivors.drop("centroid_id").limit(0).write.mode("overwrite")
        .parquet(new Path(new Path(staging, "data"),
          s"centroid_id=${affected.head}").toString)
    }
    commitSwap(fs, dir, PurgeSwap, affected)
    PurgeReport(affected, emptied, rowsRemoved)
  }
}
