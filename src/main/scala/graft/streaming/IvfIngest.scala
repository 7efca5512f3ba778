package graft.streaming

import graft.operators.{Ops, Similarity}
import graft.functions.VectorExpressions
import graft.sources.ParquetRead
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

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
    val p = codebookPath(indexDir)
    if (!fs.exists(p)) None
    else {
      val in = new java.io.DataInputStream(fs.open(p))
      try {
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
        Some(CodebookSidecar(Similarity.IvfModel(cents), rows))
      } finally in.close()
    }
  }

  /** Staging write + rename swap (see [[BloomSidecar.write]]): readers never
    * see a torn codebook; a crash mid-swap leaves the previous one.
    * `rowsAtTraining` is the training census the staleness trigger reads.
    */
  def writeCodebook(fs: FileSystem, indexDir: Path, model: Similarity.IvfModel,
      rowsAtTraining: Long = -1L): Unit = {
    val staging = new Path(indexDir, "_codebook.staging")
    val out = new java.io.DataOutputStream(fs.create(staging, true))
    try {
      out.writeInt(MagicV2)
      out.writeLong(rowsAtTraining)
      out.writeInt(model.centroids.length)
      out.writeInt(model.centroids.headOption.map(_.length).getOrElse(0))
      model.centroids.foreach(_.foreach(x => out.writeInt(java.lang.Float.floatToIntBits(x))))
    } finally out.close()
    val p = codebookPath(indexDir)
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(staging, p)
  }

  private val PqMagic = 0x47505142 // "GPQB"

  def pqCodebookPath(indexDir: Path): Path = new Path(indexDir, "_pq_codebook")

  /** Load the persisted PQ codebooks; None when absent (first batch trains). */
  def readPqCodebook(fs: FileSystem, indexDir: Path): Option[Similarity.PqModel] = {
    val p = pqCodebookPath(indexDir)
    if (!fs.exists(p)) None
    else {
      val in = new java.io.DataInputStream(fs.open(p))
      try {
        require(in.readInt() == PqMagic, "bad PQ codebook magic")
        val m = in.readInt(); val k = in.readInt(); val subDim = in.readInt()
        val books = Array.fill(m, k) {
          val v = new Array[Float](subDim)
          var i = 0
          while (i < subDim) { v(i) = java.lang.Float.intBitsToFloat(in.readInt()); i += 1 }
          v
        }
        Some(Similarity.PqModel(m, k, subDim, books))
      } finally in.close()
    }
  }

  /** Staging write + rename swap, raw float bits (exact round-trip) — the
    * PQ analog of [[writeCodebook]].
    */
  def writePqCodebook(fs: FileSystem, indexDir: Path, model: Similarity.PqModel): Unit = {
    val staging = new Path(indexDir, "_pq_codebook.staging")
    val out = new java.io.DataOutputStream(fs.create(staging, true))
    try {
      out.writeInt(PqMagic)
      out.writeInt(model.m); out.writeInt(model.k); out.writeInt(model.subDim)
      model.codebooks.foreach(_.foreach(_.foreach(x =>
        out.writeInt(java.lang.Float.floatToIntBits(x)))))
    } finally out.close()
    val p = pqCodebookPath(indexDir)
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(staging, p)
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
    recoverRefresh(fs, dir) // finish an interrupted refresh before pairing codebook+lists

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
    recoverRefresh(fs, dir)

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

  /** Continuous IVF-PQ form: every micro-batch of the embedding stream is
    * PQ-encoded and landed in the partitioned code index.
    */
  def ingestPqStream(
      embeddings: DataFrame,
      indexDir: String,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int = 16,
      iters: Int = 2,
      m: Int = 8,
      k: Int = 16,
      minBootstrapRows: Long = -1L): StreamingQuery =
    embeddings.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestPqBatch(batch, indexDir, idCol, vecCol, dim, nlist, iters, m, k,
          minBootstrapRows): Unit
      }
      .start()

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
    recoverRefresh(fs, dir)
    val ivf = readCodebook(fs, dir).getOrElse(
      throw new graft.GraftDataError(s"no codebook sidecar under $indexDir"))
    val pq = readPqCodebook(fs, dir).getOrElse(
      throw new graft.GraftDataError(s"no PQ codebook sidecar under $indexDir"))
    Similarity.ivfPqTopK(ParquetRead(spark, indexDir), ivf, pq, idCol,
      query, kTop, nprobe)
  }

  /** Retrain BOTH quantizers against the raw vectors (the index stores
    * lossy 8-byte codes, so codebook rot is fixed from the corpus store,
    * not the index) and rewrite the code index under the new models — the
    * same staged-swap marker discipline as [[refresh]]: everything builds
    * under `_refresh`, the COMPLETE marker makes it the copy of record,
    * and [[recoverRefresh]] rolls a crashed swap forward from any entry
    * point. Both codebook sidecars travel with their lists.
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
    recoverRefresh(fs, dir)
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
    val staging = stagingPath(dir)
    val (index, ivf, pq) = Similarity.ivfPqIndex(rawVectors, idCol, vecCol, dim,
      nlist, iters, m, k)
    index.write.mode("overwrite").partitionBy("centroid_id")
      .parquet(new Path(staging, "data").toString)
    // the new census travels with the new quantizer: staleness resets to
    // "trained over everything the refresh saw"
    writeCodebook(fs, staging, ivf, rowsAtTraining = rawVectors.count())
    writePqCodebook(fs, staging, pq)
    fs.create(new Path(staging, CompleteMarker), true).close()
    completeRefresh(fs, dir)
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
    recoverRefresh(fs, dir)
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

  /** Continuous form: every micro-batch of the embedding stream lands in
    * the partitioned index under the persisted codebook.
    */
  def ingestStream(
      embeddings: DataFrame,
      indexDir: String,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      minBootstrapRows: Long = -1L): StreamingQuery =
    embeddings.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, indexDir, idCol, vecCol, nlist,
          minBootstrapRows = minBootstrapRows): Unit
      }
      .start()

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
    recoverRefresh(fs, dir) // finish an interrupted refresh before pairing codebook+lists
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
    * refresh at a time, like [[CorpusCompaction]].
    *
    * Crash safety is the [[graft.streaming.Streaming]] staged-swap marker
    * discipline: the ENTIRE new state — reassigned lists under
    * `_refresh/data` AND the retrained `_refresh/_codebook` — builds inside
    * the staging directory, then a `_REFRESH_COMPLETE` marker makes it the
    * durable copy of record, and only then does [[completeRefresh]] roll the
    * swap forward in marker-tracked phases. A crash at ANY point leaves a
    * recoverable state: before the marker, the old index is untouched and
    * the partial staging is discarded; after it, the next entry point
    * ([[refresh]], [[ingestBatch]] or [[probe]] via [[recoverRefresh]])
    * finishes the swap — the new codebook can never be lost, and stale
    * codebook + new lists can never pair up silently.
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
    recoverRefresh(fs, dir) // an interrupted predecessor finishes (or clears) first
    val staging = stagingPath(dir)
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
    fs.create(new Path(staging, CompleteMarker), true).close()
    completeRefresh(fs, dir)
  }

  private val CompleteMarker = "_REFRESH_COMPLETE"
  private val ClearedMarker = "_REFRESH_CLEARED"

  private def stagingPath(dir: Path) = new Path(dir, "_refresh")

  /** Recover an interrupted [[refresh]]: a staging directory carrying a
    * completion marker IS the index (the old layout may already be partly
    * cleared) — roll the swap forward; one without the marker is a dead
    * partial build over a still-intact index — discard it. Idempotent and
    * cheap (one existence probe) when no staging exists.
    */
  def recoverRefresh(fs: FileSystem, dir: Path): Unit = {
    val staging = stagingPath(dir)
    if (fs.exists(staging)) {
      if (fs.exists(new Path(staging, CompleteMarker)) ||
        fs.exists(new Path(staging, ClearedMarker))) completeRefresh(fs, dir)
      else fs.delete(staging, true)
    }
    // every entry point that finishes a crashed refresh also finishes a
    // crashed purge — single-maintainer discipline means at most one of
    // the two stagings can exist
    recoverPurge(fs, dir)
  }

  /** Marker-tracked swap phases, each idempotent so a crash inside any of
    * them re-runs safely:
    *   1. CLEAR — delete the old list dirs/files. Runs only while the
    *      COMPLETE marker is in place (no new dir has moved up yet, so
    *      deleting every `centroid_id=` dir is safe); finishes by RENAMING
    *      the marker to CLEARED — the atomic phase transition that stops a
    *      re-entry from deleting already-promoted new lists.
    *   2. PROMOTE — move `_refresh/data`'s list dirs up; re-entry skips the
    *      ones already moved (they are no longer in staging).
    *   3. CODEBOOK — swap `_codebook` last (old lists + old codebook stay
    *      consistent for readers until the lists finish promoting). The
    *      staged copy's presence decides idempotence: still there → the top
    *      copy may be stale, redo the swap; gone → already swapped.
    *   4. Drop staging (markers leave with it) — the refresh is finished.
    */
  private def completeRefresh(fs: FileSystem, dir: Path): Unit = {
    val staging = stagingPath(dir)
    val clearedM = new Path(staging, ClearedMarker)
    if (!fs.exists(clearedM)) {
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith("centroid_id=")) fs.delete(st.getPath, true)
        else if (st.isFile && !name.startsWith("_") && !name.startsWith("."))
          fs.delete(st.getPath, false)
      }
      fs.rename(new Path(staging, CompleteMarker), clearedM)
    }
    val data = new Path(staging, "data")
    if (fs.exists(data)) fs.listStatus(data).foreach { st =>
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith("."))
        fs.rename(st.getPath, new Path(dir, name))
    }
    // both codebook sidecars swap by the same staged-copy-presence rule
    Seq(codebookPath _, pqCodebookPath _).foreach { pathOf =>
      val staged = pathOf(staging)
      if (fs.exists(staged)) {
        val top = pathOf(dir)
        if (fs.exists(top)) fs.delete(top, false)
        fs.rename(staged, top)
      }
    }
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
    *  3. the swap is metadata: survivors build under `_purge/data`, a
    *     marker carrying the affected-list census makes them durable, and
    *     the promote replaces just those partition directories. A list
    *     whose every row was tombstoned has NO staged dir — the marker's
    *     census is what tells recovery to delete it anyway.
    *
    * Crash safety follows [[refresh]]'s marker discipline exactly (crash
    * before the marker: old index intact, staging discarded; after: any
    * entry point rolls the swap forward via [[recoverPurge]]). Re-running
    * a finished purge is a no-op (discovery finds no affected lists).
    */
  def purge(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      tombstones: org.apache.spark.sql.DataFrame,
      idCol: String): PurgeReport = {
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverRefresh(fs, dir) // finishes a crashed refresh AND a crashed purge
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
    val staging = purgeStagingPath(dir)
    fs.delete(staging, true) // a dead partial from a pre-marker crash
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
    val out = fs.create(new Path(staging, PurgeCompleteMarker), true)
    out.write(affected.mkString("\n").getBytes("UTF-8"))
    out.close()
    completePurge(fs, dir)
    PurgeReport(affected, emptied, rowsRemoved)
  }

  private val PurgeCompleteMarker = "_PURGE_COMPLETE"
  private val PurgeClearedMarker = "_PURGE_CLEARED"

  private def purgeStagingPath(dir: Path) = new Path(dir, "_purge")

  /** Recover an interrupted [[purge]]: marker present → the staged
    * survivors are the copy of record, roll the partition swap forward;
    * no marker → dead partial build over a still-intact index, discard.
    */
  def recoverPurge(fs: FileSystem, dir: Path): Unit = {
    val staging = purgeStagingPath(dir)
    if (!fs.exists(staging)) return
    if (fs.exists(new Path(staging, PurgeCompleteMarker)) ||
      fs.exists(new Path(staging, PurgeClearedMarker))) completePurge(fs, dir)
    else fs.delete(staging, true)
  }

  /** [[completeRefresh]]'s phase discipline scoped to the marker's census:
    * CLEAR deletes exactly the listed partition dirs (marker renames to
    * CLEARED — the transition that stops a re-entry from deleting
    * already-promoted lists), PROMOTE moves the staged dirs up (an emptied
    * list has none — its delete in CLEAR was the whole operation), then
    * staging drops.
    */
  private def completePurge(fs: FileSystem, dir: Path): Unit = {
    val staging = purgeStagingPath(dir)
    val completeM = new Path(staging, PurgeCompleteMarker)
    val clearedM = new Path(staging, PurgeClearedMarker)
    if (!fs.exists(clearedM)) {
      val census = {
        val in = fs.open(completeM)
        val bytes = try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
          buf.toByteArray
        } finally in.close()
        new String(bytes, "UTF-8").split("\n").filter(_.nonEmpty).map(_.toLong)
      }
      census.foreach { k =>
        fs.delete(new Path(dir, s"centroid_id=$k"), true)
      }
      if (!fs.rename(completeM, clearedM))
        throw new graft.GraftDataError(s"purge recovery: marker rename failed under $staging")
    }
    val data = new Path(staging, "data")
    if (fs.exists(data)) fs.listStatus(data).foreach { st =>
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith("."))
        if (!fs.rename(st.getPath, new Path(dir, name)))
          throw new graft.GraftDataError(
            s"purge recovery: promote of $name failed under $dir")
    }
    fs.delete(staging, true)
  }
}
