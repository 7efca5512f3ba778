package graft.streaming

import graft.Checkpointing
import graft.sources.ParquetRead
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Structured Streaming surface (SURVEY.md §2.12). The reference's
  * incremental-batch loop (scroll pages + half-open window + checkpoint) maps
  * to micro-batch streaming: the watermark is the engine-managed analog of
  * the reference's "don't advance the checkpoint past unprocessed data" rule
  * (`internal_raw_to_dwh/standard_pipeline.py:20-22`).
  *
  * Every transform here is written against a plain DataFrame so the same
  * code runs batch (finite source) and streaming (readStream) — the Spark
  * unified-engine idiom.
  */
object Streaming {

  /** Tumbling-window counts + decimal value sums per event type. On a stream
    * the watermark bounds state: late rows beyond `watermarkDelay` are
    * dropped and completed windows are emitted/evicted. At cluster scale
    * state lives in the executor state store partitioned by group key.
    */
  def windowedCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermarkDelay) else events
    withWm
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(28, 2)).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("cnt"), col("sum_value"))
  }

  final case class UserEvent(user_id: Long, event_type: String, value: Double, tsMicros: Long)
  final case class UserStats(user_id: Long, n_events: Long, total_value: Double, last_ts_micros: Long)

  /** Stateful per-user running stats via mapGroupsWithState — the engine's
    * custom-state surface (the reference has no analog; this is the Spark
    * capability its checkpoint table gestures at). State is one small record
    * per user, partitioned by user_id across the cluster.
    */
  def userStats(events: Dataset[UserEvent]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(userId, 0L, 0.0, Long.MinValue))
          val next = rows.foldLeft(prev) { (acc, e) =>
            UserStats(userId, acc.n_events + 1, acc.total_value + e.value,
              math.max(acc.last_ts_micros, e.tsMicros))
          }
          state.update(next)
          next
      }
  }

  final case class SessionEvent(user_id: Long, tsMicros: Long, value: Double)
  final case class Session(
      user_id: Long, start_micros: Long, end_micros: Long,
      n_events: Long, sum_value: Double)

  /** Gap-based sessionization via flatMapGroupsWithState — the custom-state
    * surface for whole-session semantics the built-in `session_window`
    * aggregation can't express (arbitrary per-session payload, emit-on-close).
    *
    * A session closes when the next event for the key arrives `gapMicros` or
    * more after the session's last event; closed sessions are EMITTED, the
    * open session stays in the key's state across micro-batches (so a session
    * spanning batches merges correctly). State per key is one small record —
    * partitioned across the cluster's state store, never collected.
    */
  /** `flushAfterMs`: with no timeout, the final open session per key is never
    * emitted (it waits forever for a closing event); a processing-time
    * timeout flushes a key's open session after that much quiet time.
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapMicros: Long,
      flushAfterMs: Option[Long] = None): Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (flushAfterMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Session, Session](OutputMode.Append(), timeoutConf) {
        (uid: Long, rows: Iterator[SessionEvent], state: GroupState[Session]) =>
          if (state.hasTimedOut) {
            // quiet key: flush the trailing open session
            val flushed = state.getOption.toSeq
            state.remove()
            flushed.iterator
          } else {
            val (closed, open) =
              mergeSessionEvents(uid, gapMicros, state.getOption, rows.toSeq)
            open.foreach { s =>
              state.update(s)
              flushAfterMs.foreach(state.setTimeoutDuration)
            }
            closed.iterator
          }
      }
  }

  /** The sessionization merge kernel, shared by [[sessionize]]
    * (flatMapGroupsWithState) and [[sessionizeTws]] (transformWithState) so
    * the two APIs cannot drift: fold the batch's events (sorted — group
    * input is unordered) into the open session, emitting closed ones.
    */
  private[streaming] def mergeSessionEvents(
      uid: Long,
      gapMicros: Long,
      open0: Option[Session],
      events: Seq[SessionEvent]): (Seq[Session], Option[Session]) = {
    val sorted = events.sortBy(_.tsMicros)
    val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
    var open = open0
    sorted.foreach { e =>
      open = open match {
        case Some(s) if e.tsMicros < s.start_micros - gapMicros =>
          // cross-batch late arrival more than a gap BEFORE the open
          // session: it can never merge, so it forms its own
          // single-event closed session (best effort — earlier
          // batches' sessions are already emitted) and the open
          // session is untouched
          closed += Session(uid, e.tsMicros, e.tsMicros, 1L, e.value)
          Some(s)
        case Some(s) if e.tsMicros - s.end_micros < gapMicros =>
          // a late cross-batch event may land INSIDE the open span
          // (or within the gap before its start): widen with min/max
          // so the session never moves backwards
          Some(s.copy(
            start_micros = math.min(s.start_micros, e.tsMicros),
            end_micros = math.max(s.end_micros, e.tsMicros),
            n_events = s.n_events + 1, sum_value = s.sum_value + e.value))
        case Some(s) =>
          closed += s
          Some(Session(uid, e.tsMicros, e.tsMicros, 1L, e.value))
        case None =>
          Some(Session(uid, e.tsMicros, e.tsMicros, 1L, e.value))
      }
    }
    (closed.toSeq, open)
  }

  /** [[sessionize]] re-expressed on Spark 4's `transformWithState` — the
    * arbitrary-stateful-processing API that supersedes
    * flatMapGroupsWithState: TYPED per-key state handles (a
    * `ValueState[Session]` here, list/map state and per-state TTLs in
    * general) instead of one opaque state blob, explicit timers, and a
    * hard requirement on the RocksDB state store — the disk-backed backend
    * a 100 TB deployment runs anyway. The merge logic is the SAME kernel
    * as [[sessionize]] ([[mergeSessionEvents]]), and the parity spec pins
    * both APIs row-identical on the same stream.
    */
  final class SessionProcessor(gapMicros: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SessionEvent, Session] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[Session] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[Session]("open",
        org.apache.spark.sql.Encoders.product[Session],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[SessionEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[Session] = {
      val open0 = if (open.exists()) Some(open.get()) else None
      val (closed, stillOpen) = mergeSessionEvents(uid, gapMicros, open0, rows.toSeq)
      stillOpen match {
        case Some(s) => open.update(s)
        case None => open.clear()
      }
      closed.iterator
    }
  }

  def sessionizeTws(events: Dataset[SessionEvent], gapMicros: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMicros),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Streaming upsert sink via foreachBatch: each micro-batch is merged into
    * the parquet target with the reference's ON CONFLICT semantics
    * ([[graft.sinks.Sinks.upsert]]) — the streaming form of the K2 loader.
    *
    * With `partitionCol` set, the merge is PARTITION-SCOPED: only the
    * partitions containing batch keys are read and rewritten (dynamic
    * partition overwrite) — O(touched partitions) per batch instead of
    * O(target), the difference between a viable long-running stream and a
    * full-table rewrite every trigger on a large table. The partition value
    * must be stable per key (derived from the key or an immutable attribute),
    * or a key that "moves" partitions leaves its old row behind. A format
    * with transactional MERGE (Delta/Iceberg) is the upgrade when available.
    *
    * Without `partitionCol` the whole table is merged and swapped
    * crash-safely: staging is fully written FIRST, then
    * target→.old / staging→target / delete .old — the data always exists in
    * at least one complete copy, and [[mergeBatch]] recovers an interrupted
    * swap before the next merge.
    */
  def upsertStream(
      events: DataFrame,
      targetDir: String,
      keys: Seq[String],
      action: graft.types.ConflictAction = graft.types.ConflictUpdate,
      partitionCol: Option[String] = None): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeBatch(batch, targetDir, keys, action, partitionCol)
      }
      .start()

  /** One micro-batch merge (the foreachBatch body, callable from batch jobs
    * and tests).
    */
  def mergeBatch(
      batch: DataFrame,
      targetDir: String,
      keys: Seq[String],
      action: graft.types.ConflictAction = graft.types.ConflictUpdate,
      partitionCol: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(targetDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // intra-batch duplicate keys must collapse on EVERY path, including the
    // first write — route through upsert against an empty existing frame so
    // the keep-one-row-per-key contract (and its ordering rules) apply
    def dedupedFirstWrite: DataFrame =
      graft.sinks.Sinks.upsert(batch.limit(0), batch, keys, action)
    // COMPACTION, piggybacked on every merge: the merged slice comes out of
    // upsert's join/window shuffled across spark.sql.shuffle.partitions
    // tasks, and EVERY task holding rows of a partition value writes its own
    // file into that directory — O(shuffle.partitions) small files per
    // touched directory per batch, compounding scan overhead over a long
    // stream. Hash-clustering on the partition column first puts each
    // partition value in exactly one task, so every touched directory is
    // rewritten as ONE file — file count per partition stays 1 regardless of
    // batch count (StreamingSpec asserts this across 10 batches). Oversized
    // partitions can be re-split by setting maxRecordsPerFile on the session.
    def clustered(df: DataFrame, pcol: String): DataFrame = df.repartition(col(pcol))
    partitionCol match {
      case Some(pcol) =>
        if (!fs.exists(target)) {
          clustered(dedupedFirstWrite, pcol).write.partitionBy(pcol).parquet(targetDir)
        } else {
          // partitions this batch touches — bounded by the batch, not the table
          val affected = batch.select(col(pcol)).distinct().collect().map(_.get(0)).toSeq
          if (affected.nonEmpty) {
            // the filter prunes to affected partition DIRECTORIES at plan
            // time. isin(null) is never true (SQL null semantics), so the
            // null partition needs an explicit isNull disjunct — without it
            // the dynamic overwrite would replace the null-partition
            // directory with ONLY the batch's rows, silently deleting the
            // existing ones
            val nonNull = affected.filter(_ != null)
            val prune = (if (nonNull.nonEmpty) Some(col(pcol).isin(nonNull: _*)) else None) ++
              (if (affected.contains(null)) Some(col(pcol).isNull) else None)
            val slice = ParquetRead(spark, targetDir).filter(prune.reduce(_ || _))
            val merged = graft.sinks.Sinks.upsert(slice, batch, keys, action)
            // dynamic overwrite replaces exactly the partitions present in
            // `merged` (= the affected ones); all other dirs are untouched.
            // CRASH WINDOW (unlike the non-partitioned path's staged swap):
            // dynamic partition overwrite deletes+renames per partition dir
            // with no cross-directory atomicity, so a crash mid-commit can
            // lose an affected partition's prior contents. Streaming retries
            // the batch (foreachBatch is at-least-once) which repairs the
            // SLICE it re-reads, but rows already merged into a lost dir from
            // EARLIER batches are gone. Production deployments at this
            // contract level should point the sink at a table format with an
            // atomic commit protocol (Delta/Iceberg MERGE, which also
            // replaces this whole read-merge-write); the plain-parquet path
            // here accepts the window in exchange for zero table-format
            // dependencies.
            clustered(merged, pcol).write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy(pcol).parquet(targetDir)
          }
        }
      case None =>
        stagedSwap(spark, targetDir) {
          case Some(existing) => graft.sinks.Sinks.upsert(existing, batch, keys, action)
          case None => dedupedFirstWrite
        }
    }
  }

  /** Crash-safe whole-table rewrite: recover an interrupted swap, hand the
    * current table (None on first write) to `compute`, write the result to
    * staging FIRST, then target→.old / staging→target / delete .old — the
    * data always exists in at least one complete copy, and the next call
    * recovers an interrupted swap before reading. Shared by the streaming
    * upsert and SCD2 sinks; only for dimension/history-sized targets — a
    * fact-sized table wants the partition-scoped path.
    */
  private def stagedSwap(spark: SparkSession, targetDir: String)(
      compute: Option[DataFrame] => DataFrame): Unit = {
    val target = new org.apache.hadoop.fs.Path(targetDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(targetDir + ".staging")
    val old = new org.apache.hadoop.fs.Path(targetDir + ".old")
    // recover a crash mid-swap: staging is only ever renamed in AFTER it
    // was completely written (its _SUCCESS marker exists), so if target is
    // missing, a complete staging — else the displaced .old — IS the data
    val stagingComplete =
      fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))
    if (!fs.exists(target)) {
      if (stagingComplete) fs.rename(staging, target)
      else if (fs.exists(old)) fs.rename(old, target)
    }
    if (fs.exists(old)) fs.delete(old, true)
    val result = compute(
      if (fs.exists(target)) Some(ParquetRead(spark, targetDir)) else None)
    result.write.mode("overwrite").parquet(staging.toString)
    // swap: never delete the only complete copy
    if (fs.exists(target)) fs.rename(target, old)
    fs.rename(staging, target)
    if (fs.exists(old)) fs.delete(old, true)
  }

  /** Streaming SCD Type-2 maintenance: each micro-batch of dimension
    * observations merges into the parquet history via
    * [[graft.operators.Scd.scd2Merge]] — versions open and close as
    * changes stream in, `valid_to IS NULL` always marks the current row.
    *
    * Replay-safe by construction: re-merging an already-applied batch is a
    * no-op because every batch row is either a no-change re-observation
    * (lag-collapsed) or loses its instant to the identical existing version
    * — foreachBatch's at-least-once delivery needs exactly that
    * (StreamingSpec asserts idempotence under replay). The history table is
    * dimension-sized, so the whole-table staged swap applies; the merge
    * itself re-derives only the batch's affected keys.
    */
  def scd2Stream(
      changes: DataFrame,
      targetDir: String,
      keyCols: Seq[String],
      tsCol: String,
      tieCol: String,
      attrCols: Seq[String]): StreamingQuery =
    changes.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        scd2Batch(batch, targetDir, keyCols, tsCol, tieCol, attrCols)
      }
      .start()

  /** One SCD2 micro-batch (the foreachBatch body, callable from batch jobs
    * and tests).
    */
  def scd2Batch(
      batch: DataFrame,
      targetDir: String,
      keyCols: Seq[String],
      tsCol: String,
      tieCol: String,
      attrCols: Seq[String]): Unit =
    stagedSwap(batch.sparkSession, targetDir) {
      case Some(history) =>
        graft.operators.Scd.scd2Merge(history, batch, keyCols, tsCol, tieCol, attrCols)
      case None =>
        graft.operators.Scd.scd2FromChangeLog(batch, keyCols, tsCol, tieCol, attrCols)
    }

  /** Continuous dedup ingestion: each micro-batch passes the incremental
    * exact-dedup gate against the corpus accumulated so far and APPENDS only
    * the survivors — the streaming form of the daily-crawl ingestion
    * pipeline. The corpus bloom filter is PERSISTED as a sidecar and
    * OR-merged with each admitted batch's keys ([[ingestBatch]]), so the
    * steady-state per-batch cost is the batch size alone: no corpus-sized
    * bloom rebuild, and the exact confirm join runs only when the bloom
    * flags candidate duplicates.
    *
    * foreachBatch is at-least-once: a RETRIED batch re-checks against a
    * corpus that already holds whatever its first attempt appended, so the
    * retry admits nothing already present — the corpus stays content-unique
    * under retries (content-level idempotence, the invariant that matters
    * for a dedup corpus; StreamingSpec asserts it by replaying a batch).
    */
  def ingestDedupStream(
      docs: DataFrame,
      corpusDir: String,
      idCol: String,
      contentCols: Seq[String]): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, corpusDir, idCol, contentCols): Unit
      }
      .start()

  /** Per-batch ingestion outcome, returned so callers (and StreamingSpec)
    * can assert the cost model: `corpusScans` counts the corpus-sized Spark
    * reads this batch actually paid (0 in the steady state — the bloom
    * rejected every row or the sidecar was fresh; 1 when candidates needed
    * the exact confirm join; +1 when the sidecar had to be rebuilt).
    */
  final case class IngestStats(
      admitted: Long,
      corpusScans: Int,
      rebuiltBloom: Boolean,
      saturatedRebuild: Boolean)

  /** One ingestion micro-batch (the foreachBatch body, callable from batch
    * jobs and tests): gate against the persisted corpus bloom, append the
    * survivors, then OR-merge their keys into the bloom sidecar. An empty
    * survivor set skips both writes so uneventful batches don't accrete
    * files.
    *
    * Cost model at 100 TB: the corpus is NEVER scanned in the steady state.
    * The sidecar bloom prunes the batch inside its scan stage; only rows the
    * bloom flags (true duplicates + the sized false-positive rate) take the
    * exact anti-join against the corpus digests, and the whole join is
    * skipped when no row is flagged. The bloom is rebuilt from the corpus in
    * exactly two cases: the sidecar is missing/stale (first migration, or a
    * crash landed between the corpus append and the sidecar swap — detected
    * by the data-file-count stamp) and saturation (admitted keys outgrew the
    * filter's capacity; it is rebuilt at double size, so rebuilds amortize
    * to O(log corpus) over the corpus lifetime).
    *
    * Crash-safety ordering: survivors are appended BEFORE the sidecar swap.
    * A crash in between leaves a sidecar missing the new keys — but also
    * stale by file count, which forces a rebuild on the next batch. The
    * bloom therefore never under-covers the corpus it gates (a false
    * negative would admit a duplicate; a false positive only costs the
    * confirm join).
    *
    * TWO sidecar forms under a byte budget (`sidecarMaxBytes`), exactly
    * as in [[ingestNearDupBatch]]:
    * past the budget the content-key bloom (a plan literal, one key per
    * corpus row — driver-unshippable at extreme corpus sizes) becomes the
    * persisted sharded [[KeyTableSidecar]] probed by broadcasting the
    * batch's content keys into a shard-pruned equi-join. The table probe
    * is exact, so only true 64-bit-hash collisions pay the digest confirm.
    */
  /** Shared sidecar plumbing for the continuous ingestion gates
    * ([[ingestBatch]] content keys, [[ingestNearDupBatch]] band keys): the
    * bloom-vs-table byte-budget policy, the table rebuild (with bloom
    * retirement), the key-append + meta-swap tail, and the stale-stamp
    * dispatch live HERE once, so the two gates cannot drift on the crash
    * ordering or the mode rule. Each gate supplies only its key
    * derivation, sizing, and batch bodies.
    */
  private final case class SidecarGate(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path,
      corpusDir: String,
      tableName: String,
      bloomName: String,
      nShards: graft.Sizing.Count,
      budget: Long,
      minExpectedKeys: Long,
      keysOver: DataFrame => DataFrame,
      corpusKeyCount: DataFrame => Long,
      buildBloomBytes: (DataFrame, Long) => Array[Byte]) {

    def overBudget(keyCount: Long): Boolean =
      KeyTableSidecar.estimatedBloomBytes(
        math.max(minExpectedKeys, 2 * keyCount)) > budget

    /** The modulus a NEW table is created with: data-derived under
      * [[graft.Sizing.Auto]] (the default), else the explicit constant.
      * Existing tables keep their meta's modulus.
      */
    def newModulus(keyCount: Long): Int =
      nShards.orElse(KeyTableSidecar.deriveShards(keyCount))

    /** Rebuild the table sidecar from the corpus (one corpus scan),
      * retiring any bloom sidecar; meta swaps in LAST so a crash
      * mid-rebuild leaves a stale stamp and the next batch rebuilds again.
      */
    def rebuildTable(corpus: DataFrame, keyCount: Long): KeyTableMeta = {
      val mod = newModulus(keyCount)
      KeyTableSidecar.rebuild(fs, keysOver(corpus), target, mod, tableName)
      val meta = KeyTableMeta(mod, keyCount, BloomSidecar.filesStamp(fs, target))
      KeyTableSidecar.writeMeta(fs, target, meta, tableName)
      val bloomPath = BloomSidecar.path(target, bloomName)
      if (fs.exists(bloomPath)) fs.delete(bloomPath, false)
      meta
    }

    /** The table-mode append tail (post-corpus-append, post-corpus-
      * compaction): append the admitted keys, bound the table's per-shard
      * file count (add-then-delete — a crash can only duplicate keys,
      * never lose one), then swap the meta with the post-compaction stamp.
      */
    def appendTableKeys(survivors: DataFrame, meta: KeyTableMeta, newKeys: Long,
        maxSmallFiles: Int): Unit = {
      KeyTableSidecar.appendKeys(keysOver(survivors), target, meta.nShards, tableName)
      KeyTableSidecar.compact(spark, fs, target, tableName, maxSmallFiles)
      KeyTableSidecar.writeMeta(fs, target,
        KeyTableMeta(meta.nShards, meta.keyCount + newKeys,
          BloomSidecar.filesStamp(fs, target)), tableName)
    }

    /** Stale-stamp dispatch: a fresh table sidecar beats a fresh bloom
      * beats a one-corpus-scan rebuild of whichever form fits the budget.
      */
    def dispatch(
        tableBatch: (KeyTableMeta, Boolean, Int) => IngestStats,
        bloomBatch: (BloomSidecar, Boolean, Int) => IngestStats): IngestStats = {
      // finish any compaction commit a crash interrupted BEFORE trusting
      // the corpus: mid-commit, retired rows exist only in the staging dir
      CorpusCompaction.recover(fs, target)
      val stamp = BloomSidecar.filesStamp(fs, target)
      KeyTableSidecar.readMeta(fs, target, tableName).filter(_.filesStamp == stamp) match {
        case Some(meta) => tableBatch(meta, false, 0)
        case None =>
          BloomSidecar.read(fs, target, bloomName).filter(_.filesStamp == stamp) match {
            case Some(sidecar) => bloomBatch(sidecar, false, 0)
            case None =>
              // neither sidecar is fresh: ONE corpus scan rebuilds
              // whichever form fits the byte budget
              val corpus = ParquetRead(spark, corpusDir)
              val keyCnt = corpusKeyCount(corpus)
              if (overBudget(keyCnt)) tableBatch(rebuildTable(corpus, keyCnt), true, 1)
              else {
                val expected = math.max(minExpectedKeys, 2 * keyCnt)
                bloomBatch(BloomSidecar(expected, keyCnt, stamp,
                  buildBloomBytes(corpus, expected)), true, 1)
              }
          }
      }
    }
  }

  def ingestBatch(
      batch: DataFrame,
      corpusDir: String,
      idCol: String,
      contentCols: Seq[String],
      expectedCorpusItems: Long = 1000000L,
      maxSmallFiles: Int = 8,
      minFileBytes: Long = 32L * 1024 * 1024,
      nShards: graft.Sizing.Count = graft.Sizing.Auto,
      sidecarMaxBytes: Long = KeyTableSidecar.DefaultMaxBytes): IngestStats = {
    val spark = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Dedup = graft.operators.Dedup
    val bloomKey = Dedup.contentBloomKey(contentCols)
    val TableName = KeyTableSidecar.ContentName
    val gate = SidecarGate(spark, fs, target, corpusDir,
      tableName = TableName, bloomName = BloomSidecar.ContentName,
      nShards = nShards, budget = sidecarMaxBytes, minExpectedKeys = expectedCorpusItems,
      keysOver = df => df.select(bloomKey.as("__k")),
      corpusKeyCount = _.count(),
      buildBloomBytes = (corpus, expected) => corpus
        .agg(graft.functions.SketchFunctions.bloomFilterAgg(bloomKey, expected))
        .head().getAs[Array[Byte]](0))

    // gate through the TABLE sidecar (the past-driver-memory form): the
    // batch's content keys broadcast into the shard-pruned key table; only
    // true hash collisions pay the digest confirm anti-join
    def tableBatch(meta: KeyTableMeta, rebuilt: Boolean, scans0: Int): IngestStats = {
      var scans = scans0
      val kept = Dedup.exact(batch, idCol, contentCols)
        .transform(Checkpointing.materialize)
      // materialized: the tiny hit-id set feeds the semi and anti splits
      // AND the emptiness probe — without this the shard-pruned key-table
      // join re-executes once per consumer
      val candIds = Dedup.tableCandidateIds(
        kept.select(col(idCol), bloomKey.as("__k")), idCol,
        Dedup.KeyTable(KeyTableSidecar.load(spark, target, TableName), meta.nShards))
        .transform(Checkpointing.materialize)
      val candidates = kept.join(broadcast(candIds), Seq(idCol), "left_semi")
      val definitelyNew = kept.join(broadcast(candIds), Seq(idCol), "left_anti")
      val survivors = (if (candidates.isEmpty) kept
      else {
        scans += 1 // exact confirmation reads the corpus digests once
        val digest = Dedup.contentDigest(contentCols)
        val confirmed = candidates.withColumn("__digest", digest)
          .join(ParquetRead(spark, corpusDir).select(digest.as("__digest")),
            Seq("__digest"), "left_anti")
          .drop("__digest")
        definitelyNew.unionByName(confirmed)
      }).transform(Checkpointing.materialize)
      val n = survivors.count()
      if (n > 0) {
        survivors.write.mode("append").parquet(corpusDir)
        CorpusCompaction.compact(spark, fs, target, maxSmallFiles, minFileBytes)
        gate.appendTableKeys(survivors, meta, newKeys = n, maxSmallFiles)
      }
      IngestStats(n, scans, rebuiltBloom = rebuilt, saturatedRebuild = false)
    }

    // gate through the BLOOM sidecar (the small-corpus fast path); a
    // saturation rebuild whose doubled capacity would blow the byte budget
    // switches to the table sidecar instead
    def bloomBatch(sidecar: BloomSidecar, rebuilt: Boolean, scans0: Int): IngestStats = {
      var scans = scans0
      val flagged = Dedup.exact(batch, idCol, contentCols)
        .withColumn("__might", graft.functions.SketchFunctions
          .mightContain(lit(sidecar.bloom), bloomKey))
        .transform(Checkpointing.materialize)
      val definitelyNew = flagged.filter(!col("__might")).drop("__might")
      val candidates = flagged.filter(col("__might")).drop("__might")
      val survivors = (if (candidates.isEmpty) definitelyNew
      else {
        scans += 1 // exact confirmation reads the corpus digests once
        val digest = Dedup.contentDigest(contentCols)
        val confirmed = candidates.withColumn("__digest", digest)
          .join(ParquetRead(spark, corpusDir).select(digest.as("__digest")),
            Seq("__digest"), "left_anti")
          .drop("__digest")
        definitelyNew.unionByName(confirmed)
      }).transform(Checkpointing.materialize)
      val n = survivors.count()
      var saturated = false
      if (n > 0) {
        survivors.write.mode("append").parquet(corpusDir)
        val mergedCount = sidecar.insertedCount + n
        if (mergedCount > sidecar.expectedItems && gate.overBudget(mergedCount)) {
          saturated = true; scans += 1
          CorpusCompaction.compact(spark, fs, target, maxSmallFiles, minFileBytes)
          gate.rebuildTable(ParquetRead(spark, corpusDir), mergedCount)
        } else {
          val (capacity, bloomBytes) =
            if (mergedCount > sidecar.expectedItems) {
              // capacity outgrown: rebuild at double size from the corpus
              // (which now includes this batch) -- amortized O(log corpus)
              saturated = true; scans += 1
              val corpus = ParquetRead(spark, corpusDir)
              val cap = math.max(2 * mergedCount, expectedCorpusItems)
              (cap, corpus.agg(
                graft.functions.SketchFunctions.bloomFilterAgg(bloomKey, cap))
                .head().getAs[Array[Byte]](0))
            } else {
              val batchBf = survivors.agg(
                graft.functions.SketchFunctions
                  .bloomFilterAgg(bloomKey, sidecar.expectedItems))
                .head().getAs[Array[Byte]](0)
              (sidecar.expectedItems, BloomSidecar.merge(sidecar.bloom, batchBf))
            }
          // bound the file count BEFORE stamping the sidecar: the stamp must
          // record the post-compaction count or the next batch would read it
          // as a crash and pay a needless rebuild. Compaction preserves
          // content, so the bloom itself is untouched.
          CorpusCompaction.compact(spark, fs, target, maxSmallFiles, minFileBytes)
          BloomSidecar.write(fs, target,
            BloomSidecar(capacity, mergedCount,
              BloomSidecar.filesStamp(fs, target), bloomBytes))
        }
      }
      IngestStats(n, scans, rebuiltBloom = rebuilt, saturatedRebuild = saturated)
    }

    if (!fs.exists(target)) {
      val survivors = Dedup.exact(batch, idCol, contentCols)
        .transform(Checkpointing.materialize)
      val n = survivors.count()
      if (n > 0) {
        survivors.write.mode("append").parquet(corpusDir)
        if (gate.overBudget(n)) {
          val mod = gate.newModulus(n)
          KeyTableSidecar.appendKeys(gate.keysOver(survivors), target, mod, TableName)
          KeyTableSidecar.writeMeta(fs, target,
            KeyTableMeta(mod, n, BloomSidecar.filesStamp(fs, target)), TableName)
        } else {
          val expected = math.max(expectedCorpusItems, 2 * n)
          val bf = survivors.agg(
            graft.functions.SketchFunctions.bloomFilterAgg(bloomKey, expected))
            .head().getAs[Array[Byte]](0)
          BloomSidecar.write(fs, target,
            BloomSidecar(expected, n, BloomSidecar.filesStamp(fs, target), bf))
        }
      }
      IngestStats(n, corpusScans = 0, rebuiltBloom = false, saturatedRebuild = false)
    } else {
      gate.dispatch(tableBatch, bloomBatch)
    }
  }

  /** What [[purgeCorpus]] did, for callers and specs: corpus rows removed,
    * content keys deleted from the table sidecar (0 when the gate runs in
    * bloom mode), and whether a bloom sidecar was retired.
    */
  final case class CorpusPurgeStats(
      rowsRemoved: Long, keysDeleted: Long, bloomRetired: Boolean)

  /** Tombstone purge of a continuously-ingested corpus — the
    * right-to-be-forgotten action over [[ingestBatch]]'s whole state:
    *
    *  1. the corpus data files rewrite minus the tombstoned ids under
    *     [[CorpusCompaction.rewrite]]'s manifest roll-forward (the sidecar
    *     dirs inside the corpus are untouched — this is NOT a directory
    *     swap);
    *  2. the content-key TABLE sidecar drops exactly the keys that leave
    *     WITH the tombstoned rows, via [[KeyTableSidecar.purgeKeys]]'
    *     shard-pruned rewrite, and its meta re-stamps against the
    *     rewritten corpus — so the gate stays LIVE across the purge (the
    *     next batch pays no rebuild scan). The key set is computed
    *     precisely: a key a surviving duplicate still produces is KEPT,
    *     because the gate admits probe-negative rows without the exact
    *     confirm — over-deleting would re-admit content the corpus still
    *     holds;
    *  3. a content BLOOM sidecar is retired instead (blooms cannot
    *     delete) — the next batch's stale-stamp dispatch rebuilds
    *     whichever form fits the budget from the purged corpus. This
    *     asymmetry is the operational argument for the table form beyond
    *     driver-memory limits: it is also the only GDPR-capable one.
    *
    * Any OTHER gate's sidecars over the same corpus (the near-dup band
    * keys, the fingerprint gate) self-heal the same way the bloom does:
    * their metas stamp the corpus files, the rewrite changes the stamp,
    * the next batch rebuilds in one scan.
    *
    * Scale shape: an id-only probe, then the corpus-sized survivor
    * rewrite; under a content-key TABLE sidecar only, one more
    * corpus-sized read feeds the two key aggregations (the leaving-key set
    * is removed-minus-survivor-held, with the survivor side pruned to the
    * removed keys by a broadcast semi-join) — a bloom-mode or ungated
    * corpus has no key set to maintain and skips that derivation
    * entirely. Then metadata-sized swaps. Corpus-sized, so batch
    * tombstones — GDPR queues flush on a cadence, not per request:
    * [[TombstoneLog]] provides exactly that queue
    * (KB-scale request appends, read-side compliance via anti-join, one
    * flush here per N requests).
    */
  def purgeCorpus(
      spark: SparkSession,
      corpusDir: String,
      tombstones: DataFrame,
      idCol: String,
      contentCols: Seq[String]): CorpusPurgeStats = {
    val target = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CorpusCompaction.recover(fs, target)
    val Dedup = graft.operators.Dedup
    val key = Dedup.contentBloomKey(contentCols)
    // no distinct: the probe and the rewrite use ids as the build side of a
    // semi/anti join, where duplicates cannot change the result; the one
    // consumer where they would (the flagging left join below) dedups there
    val ids = tombstones.select(col(idCol)).na.drop()
      .transform(Checkpointing.materialize)
    val corpus = ParquetRead(spark, corpusDir)
    // No-op probe AND the rowsRemoved stat in ONE id-column-only scan: the
    // count prunes the content columns at the parquet scan (ReadSchema is
    // the id alone), so the idempotent-replay path (tombstoned ids absent)
    // pays a narrow metadata-speed scan — not the content-sized key
    // projection it paid before (ADVICE r18).
    val rowsRemoved = corpus.join(broadcast(ids), Seq(idCol), "left_semi").count()
    if (rowsRemoved == 0L) return CorpusPurgeStats(0L, 0L, bloomRetired = false)
    val TableName = KeyTableSidecar.ContentName
    // The leaving-key set exists only for a content-key TABLE sidecar (its
    // meta is read before the rewrite, which never touches sidecar dirs): a
    // bloom cannot delete and an ungated corpus keeps no key set, so
    // neither pays the derivation. There, ONE content-sized pass feeds BOTH
    // the removed-key set and the survivor-held check (previously two
    // corpus-scale scans, each paying the content read + key hash): every
    // row is flagged removed/survivor by an ids-sized broadcast (distinct
    // here: a duplicated id on the build side of this LEFT join would
    // duplicate its corpus row), projected to its content key, and the
    // (key, flag) projection — ~9 bytes/row against the content bytes a
    // second scan would re-read — persists for the two derivations. The
    // total key-hash work is unchanged (the old stillHeld pass hashed every
    // survivor anyway); the saving is one full content read of the corpus.
    // Persisted (not materialized): call-scoped, unpersisted in finally
    // after the leaving keys are safely materialized, BEFORE the rewrite
    // retires the files the cached plan's lineage points at.
    val keyPurge = KeyTableSidecar.readMeta(fs, target, TableName).map { meta =>
      val flagged = corpus
        .join(broadcast(ids.distinct().withColumn("__t", lit(true))), Seq(idCol), "left")
        .select(key.as("__k"), col("__t").isNotNull.as("__r"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val removedKeys = flagged.filter(col("__r")).select(col("__k")).distinct()
        val stillHeld = flagged.filter(!col("__r")).select(col("__k"))
          .join(broadcast(removedKeys), Seq("__k"), "left_semi").distinct()
        meta -> removedKeys.join(stillHeld, Seq("__k"), "left_anti")
          .transform(Checkpointing.materialize)
      } finally flagged.unpersist(false)
    }
    // broadcast, like every other consumer of the ids frame: tombstones
    // are ids-sized by the TombstoneLog contract, and without the hint the
    // planner's estimate for the materialized frame let the rewrite plan a
    // SortMergeJoin — both corpus exchanges and a sort, profiled as the
    // single largest job of the composed flush (guide §3.1)
    CorpusCompaction.rewrite(spark, fs, target)(
      _.join(broadcast(ids), Seq(idCol), "left_anti")): Unit
    val keysDeleted = keyPurge.fold(0L) { case (meta, leaving) =>
      val n = KeyTableSidecar.purgeKeys(spark, fs, target, leaving,
        meta.nShards, TableName)
      // fresh stamp LAST: only now is the purged table the live gate
      KeyTableSidecar.writeMeta(fs, target,
        KeyTableMeta(meta.nShards, math.max(0L, meta.keyCount - n),
          BloomSidecar.filesStamp(fs, target)), TableName)
      n
    }
    val bloomPath = BloomSidecar.path(target, BloomSidecar.ContentName)
    val bloomRetired = fs.exists(bloomPath)
    if (bloomRetired) fs.delete(bloomPath, false)
    CorpusPurgeStats(rowsRemoved, keysDeleted, bloomRetired)
  }

  /** Continuous NEAR-duplicate ingestion: [[ingestDedupStream]]'s exact gate
    * upgraded to MinHash-LSH — a re-crawled page with one changed byte is an
    * exact-gate miss but a near-dup hit, so an ingestion pipeline that only
    * hashes content accretes boilerplate families forever. Same at-least-once
    * content idempotence: a retried batch re-gates against a corpus (and
    * band sidecar) that already holds its first attempt's rows, and every
    * row of the retry is a Jaccard-1 clone of itself, so nothing lands twice.
    */
  def ingestNearDupStream(
      docs: DataFrame,
      corpusDir: String,
      idCol: String,
      textCol: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestNearDupBatch(batch, corpusDir, idCol, textCol): Unit
      }
      .start()

  /** One near-dup ingestion micro-batch — [[ingestBatch]]'s cost model with
    * LSH band keys as the sidecar unit: the persisted bloom holds the
    * corpus's [[graft.operators.Dedup.bandProbeKeys]] (bands keys per doc);
    * a batch row NONE of whose band keys hit the bloom provably shares no
    * band bucket with any corpus row and is admitted inside the batch's own
    * scan stage. Only flagged candidates pay the (band, bucket) equi-join +
    * exact-Jaccard confirm against the corpus, and the join is skipped
    * entirely when nothing is flagged — the corpus is never scanned in the
    * steady state. Rebuild triggers (stale stamp, saturation) and the
    * crash-safety ordering (append BEFORE sidecar swap; a crash in the
    * window leaves the stamp stale, forcing a rebuild — the bloom never
    * under-covers the corpus) are identical to the exact gate's.
    *
    * TWO sidecar forms, chosen by a byte budget (`sidecarMaxBytes`,
    * default [[KeyTableSidecar.DefaultMaxBytes]], 64 MB):
    * the bloom is a plan literal — it lives whole in the driver and ships
    * with every task binary, so past the budget (corpusRows × bands keys at
    * a useful FPR) the gate uses the [[KeyTableSidecar]] instead: a
    * hash-sharded persisted key table probed by BROADCASTING the batch's
    * band keys into a shard-pruned equi-join — exact (strictly fewer
    * candidates than a saturating bloom), with no key-set-sized state
    * anywhere. The switch happens at first build, at a stale-stamp rebuild,
    * or when a saturation rebuild's doubled capacity would blow the budget;
    * a fresh table sidecar always wins over a fresh bloom. Admissions are
    * identical through either form (the probe only selects WHICH rows pay
    * the exact confirm join).
    */
  def ingestNearDupBatch(
      batch: DataFrame,
      corpusDir: String,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      expectedCorpusBandKeys: Long = 1000000L,
      maxSmallFiles: Int = 8,
      minFileBytes: Long = 32L * 1024 * 1024,
      nShards: graft.Sizing.Count = graft.Sizing.Auto,
      sidecarMaxBytes: Long = KeyTableSidecar.DefaultMaxBytes): IngestStats = {
    val spark = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Dedup = graft.operators.Dedup
    val probeKeys = Dedup.bandProbeKeys(col(textCol), n, numHashes, bands, seed)
    def bloomOver(df: DataFrame, expected: Long): Array[Byte] =
      df.select(explode(probeKeys).as("__k"))
        .agg(graft.functions.SketchFunctions.bloomFilterAgg(col("__k"), expected))
        .head().getAs[Array[Byte]](0)
    def keysOver(df: DataFrame): DataFrame =
      df.select(explode(probeKeys).as("__k"))
    val gate = SidecarGate(spark, fs, target, corpusDir,
      tableName = KeyTableSidecar.BandName, bloomName = BloomSidecar.BandName,
      nShards = nShards, budget = sidecarMaxBytes, minExpectedKeys = expectedCorpusBandKeys,
      keysOver = keysOver,
      corpusKeyCount = _.count() * bands,
      buildBloomBytes = (corpus, expected) => bloomOver(corpus, expected))

    // gate the within-batch-deduped survivors against the corpus via the
    // TABLE sidecar: batch keys broadcast into the shard-pruned key table,
    // the (tiny) hit-id set selects candidates, only candidates pay the
    // banded corpus confirm. `scans0`/`rebuilt` carry the cost of a
    // sidecar rebuild that already happened in the caller.
    def tableBatch(meta: KeyTableMeta, rebuilt: Boolean, scans0: Int): IngestStats = {
      var scans = scans0
      val kept = Dedup
        .ngramJaccard(batch, idCol, textCol, n, threshold, numHashes, bands, seed)
        .transform(Checkpointing.materialize)
      // materialized: the semi-join split, the emptiness probe and the
      // anti-join resolution all reuse the tiny hit-id set
      val candIds = Dedup.tableCandidateIds(
        kept.select(col(idCol), explode(probeKeys).as("__k")), idCol,
        Dedup.KeyTable(KeyTableSidecar.load(spark, target), meta.nShards))
        .transform(Checkpointing.materialize)
      val candidates = kept.join(broadcast(candIds), Seq(idCol), "left_semi")
      val survivors = (if (candidates.isEmpty) kept
      else {
        scans += 1 // the confirm join reads the corpus once
        kept.join(
          Dedup.nearDupRejects(ParquetRead(spark, corpusDir), candidates,
            idCol, textCol, n, threshold, numHashes, bands, seed),
          Seq(idCol), "left_anti")
      }).transform(Checkpointing.materialize)
      val cnt = survivors.count()
      if (cnt > 0) {
        survivors.write.mode("append").parquet(corpusDir)
        // compact BEFORE stamping (stamp must record post-compaction names);
        // compaction preserves content, so the key table is untouched
        CorpusCompaction.compact(spark, fs, target, maxSmallFiles, minFileBytes)
        gate.appendTableKeys(survivors, meta, newKeys = cnt * bands, maxSmallFiles)
      }
      IngestStats(cnt, scans, rebuiltBloom = rebuilt, saturatedRebuild = false)
    }

    // gate via the BLOOM sidecar (the small-corpus fast path); on
    // saturation the capacity doubles — unless the doubled filter would
    // outgrow the byte budget, in which case the gate SWITCHES to the table
    // sidecar (the bloom cannot ship as a plan literal past that size)
    def bloomBatch(sidecar: BloomSidecar, rebuilt: Boolean, scans0: Int): IngestStats = {
      var scans = scans0
      val flagged = Dedup
        .ngramJaccard(batch, idCol, textCol, n, threshold, numHashes, bands, seed)
        .withColumn("__cand", exists(probeKeys,
          k => graft.functions.SketchFunctions.mightContain(lit(sidecar.bloom), k)))
        .transform(Checkpointing.materialize)
      val candidates = flagged.filter(col("__cand"))
      val survivors = (if (candidates.isEmpty) flagged
      else {
        scans += 1 // the confirm join reads the corpus once
        flagged.join(
          Dedup.nearDupRejects(ParquetRead(spark, corpusDir), candidates,
            idCol, textCol, n, threshold, numHashes, bands, seed),
          Seq(idCol), "left_anti")
      }).drop("__cand").transform(Checkpointing.materialize)
      val cnt = survivors.count()
      var saturated = false
      if (cnt > 0) {
        survivors.write.mode("append").parquet(corpusDir)
        val mergedCount = sidecar.insertedCount + cnt * bands
        if (mergedCount > sidecar.expectedItems && gate.overBudget(mergedCount)) {
          // capacity outgrown AND the doubled bloom would blow the byte
          // budget: switch to the table sidecar from the post-append corpus
          saturated = true; scans += 1
          CorpusCompaction.compact(spark, fs, target, maxSmallFiles, minFileBytes)
          gate.rebuildTable(ParquetRead(spark, corpusDir), mergedCount)
        } else {
          val (capacity, bloomBytes) =
            if (mergedCount > sidecar.expectedItems) {
              // capacity outgrown: rebuild at double size from the corpus
              // (which now includes this batch) -- amortized O(log corpus)
              saturated = true; scans += 1
              val corpus = ParquetRead(spark, corpusDir)
              val cap = math.max(2 * mergedCount, expectedCorpusBandKeys)
              (cap, bloomOver(corpus, cap))
            } else
              (sidecar.expectedItems, BloomSidecar.merge(sidecar.bloom,
                bloomOver(survivors, sidecar.expectedItems)))
          CorpusCompaction.compact(spark, fs, target, maxSmallFiles, minFileBytes)
          BloomSidecar.write(fs, target,
            BloomSidecar(capacity, mergedCount,
              BloomSidecar.filesStamp(fs, target), bloomBytes),
            BloomSidecar.BandName)
        }
      }
      IngestStats(cnt, scans, rebuiltBloom = rebuilt, saturatedRebuild = saturated)
    }

    if (!fs.exists(target)) {
      val survivors = Dedup
        .ngramJaccard(batch, idCol, textCol, n, threshold, numHashes, bands, seed)
        .transform(Checkpointing.materialize)
      val cnt = survivors.count()
      if (cnt > 0) {
        survivors.write.mode("append").parquet(corpusDir)
        val keyCnt = cnt * bands
        if (gate.overBudget(keyCnt)) {
          val mod = gate.newModulus(keyCnt)
          KeyTableSidecar.appendKeys(gate.keysOver(survivors), target, mod)
          KeyTableSidecar.writeMeta(fs, target,
            KeyTableMeta(mod, keyCnt, BloomSidecar.filesStamp(fs, target)))
        } else {
          val expected = math.max(expectedCorpusBandKeys, 2 * keyCnt)
          BloomSidecar.write(fs, target,
            BloomSidecar(expected, keyCnt,
              BloomSidecar.filesStamp(fs, target), bloomOver(survivors, expected)),
            BloomSidecar.BandName)
        }
      }
      IngestStats(cnt, corpusScans = 0, rebuiltBloom = false, saturatedRebuild = false)
    } else {
      gate.dispatch(tableBatch, bloomBatch)
    }
  }

  /** Stream-static enrichment join: each micro-batch joins against the
    * static dimension, broadcast so the stream side never shuffles — the
    * standard shape for enriching an event stream with reference data. The
    * static side is re-planned per batch, so an updated dimension table is
    * picked up without restarting the query.
    */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Watermarked stream-stream inner join: every click joined to the same
    * user's purchases within the following `windowMinutes`. Both sides carry
    * watermarks AND the join condition bounds the event-time distance, so
    * the state store evicts rows once the watermark passes the window — the
    * two requirements that make a stream-stream join runnable indefinitely
    * (an unbounded-state join would OOM a long-running cluster job).
    * Expects (event_id, user_id, ts) on both inputs.
    */
  def clickToPurchase(
      clicks: DataFrame,
      purchases: DataFrame,
      windowMinutes: Int = 30,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val c = if (clicks.isStreaming) clicks.withWatermark("ts", watermarkDelay) else clicks
    // rename the right side AFTER its watermark so the join condition binds
    // unambiguously without dataset aliases (alias resolution through
    // EventTimeWatermark nodes is fragile in the streaming planner)
    val p0 = if (purchases.isStreaming) purchases.withWatermark("ts", watermarkDelay) else purchases
    val p = p0.select(
      col("event_id").as("p_event_id"), col("user_id").as("p_user_id"), col("ts").as("p_ts"))
    c.join(p,
        col("user_id") === col("p_user_id") &&
          col("p_ts") >= col("ts") &&
          col("p_ts") <= col("ts") + expr(s"interval $windowMinutes minutes"))
      .select(
        col("user_id"),
        col("event_id").as("click_id"),
        col("p_event_id").as("purchase_id"),
        col("ts").as("click_ts"),
        col("p_ts").as("purchase_ts"))
  }

  /** Streaming exactly-once-per-key dedup: dropDuplicates keyed on event_id
    * with the watermark bounding how long ids are remembered — the streaming
    * analog of W1/K2 conflict-skip semantics.
    */
  def dedupStream(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermarkDelay).dropDuplicates("event_id", "ts")

  /** [[dedupStream]] for AT-LEAST-ONCE redelivery where the retry carries a
    * DIFFERENT event time (a re-ingested record restamped by the collector):
    * `dropDuplicates` must include the watermark column in its key, so a
    * restamped clone sails through it; `dropDuplicatesWithinWatermark`
    * dedups on the business key alone while the watermark still bounds the
    * id-memory state — the duplicate is dropped as long as it arrives
    * within the delay of the original. The right form whenever the event id
    * is the identity and the timestamp is transport metadata.
    */
  def dedupStreamWithinWatermark(
      events: DataFrame,
      keys: Seq[String] = Seq("event_id"),
      watermarkDelay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  // ------------------------------------------------- multimodal dedup ingest

  /** Continuous MULTIMODAL dedup ingestion: perceptual fingerprints
    * (image dHash, audio energy hash — any 64-bit fingerprint) stream in;
    * a row is admitted iff nothing within hamming `maxHamming` exists in
    * the corpus fingerprint sidecar or earlier in the batch, and admitted
    * fingerprints append to the sidecar. The corpus never re-fingerprints:
    * the sidecar IS the index — 16 bytes per corpus item, the whole reason
    * perceptual hashes are the right ingestion-gate currency at 100 TB
    * (probing a billion-image corpus = a band equi-join against a 16 GB
    * table, pruned to collisions).
    */
  def ingestFingerprintStream(
      fps: DataFrame,
      sidecarDir: String,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 2,
      bands: Int = 8): StreamingQuery =
    fps.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestFingerprintBatch(batch, sidecarDir, idCol, fpCol, maxHamming, bands): Unit
      }
      .start()

  /** One fingerprint-gated ingestion micro-batch (callable from batch jobs
    * and tests): within-batch hamming dedup first (the gate must admit one
    * representative of a batch-internal near-dup family, and be idempotent
    * under at-least-once replay — a replayed row's own fingerprint is in
    * the sidecar by then, at distance 0), then the corpus probe (banded
    * equi-join + exact `bit_count` confirm — the same pigeonhole-exact
    * construction as [[graft.operators.Dedup.hammingDedup]]), then the
    * admitted fingerprints append. Returns the admitted count.
    * Long-running streams accrete one sidecar file per non-empty batch;
    * fold [[CorpusCompaction]] over the sidecar dir on the same cadence as
    * any other append-only corpus table.
    */
  def ingestFingerprintBatch(
      batch: DataFrame,
      sidecarDir: String,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 2,
      bands: Int = 8): Long = {
    val spark = batch.sparkSession
    // exact-collapse identical fingerprints first (min id per fp): a crawl
    // batch full of byte-identical images is the common flood, and the
    // banded pair join would go quadratic inside that bucket — collapsing
    // first is semantics-free (distance-0 pairs keep the min id either way)
    val uniq = batch.groupBy(col(fpCol)).agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col(fpCol))
    val kept = graft.operators.Dedup.hammingDedup(
      uniq, idCol, fpCol, maxHamming, bands)
    val path = new org.apache.hadoop.fs.Path(sidecarDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val admitted =
      if (!fs.exists(path)) kept
      else {
        val corpusFps = ParquetRead(spark, sidecarDir).select(col(fpCol))
        kept.join(
          graft.operators.Dedup.hammingRejects(
            corpusFps, kept, idCol, fpCol, maxHamming, bands),
          Seq(idCol), "left_anti")
      }
    val admittedRows = Checkpointing.materialize(admitted)
    val n = admittedRows.count()
    if (n > 0)
      admittedRows.write.mode("append").parquet(sidecarDir)
    n
  }

  // ------------------------------------------------------- drift monitoring

  /** Continuous ingestion drift monitoring: every micro-batch's bucket
    * distribution compared against a reference snapshot
    * ([[graft.operators.DataChecks.distributionDrift]]), one metrics row
    * `(batch_id, n_rows, tvd)` appended per non-empty batch. The metrics
    * table is what an operator alerts on — a crawl source going bad shows
    * up as a TVD step long before a correctness check can fire, and the
    * fixed-point TVD is deterministic, so replayed batches append the same
    * number. The reference is re-planned per batch (a refreshed snapshot
    * table is picked up without restarting the query).
    */
  def driftMonitorStream(
      stream: DataFrame,
      reference: DataFrame,
      bucketExpr: org.apache.spark.sql.Column,
      metricsDir: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        driftMonitorBatch(batch, batchId, reference, bucketExpr, metricsDir): Unit
      }
      .start()

  /** One monitoring micro-batch (the foreachBatch body): returns the TVD,
    * or None for an empty batch (nothing is appended — an empty batch has
    * no distribution, and "drift 0.5 against nothing" would page someone
    * for an idle source).
    */
  def driftMonitorBatch(
      batch: DataFrame,
      batchId: Long,
      reference: DataFrame,
      bucketExpr: org.apache.spark.sql.Column,
      metricsDir: String): Option[Double] = {
    val spark = batch.sparkSession
    import spark.implicits._
    val counted = Checkpointing.materialize(
      graft.operators.DataChecks.distributionDrift(reference, batch, bucketExpr)
        .select(col("count_b"), col("tvd")))
    val n = counted.agg(coalesce(sum(col("count_b")), lit(0L))).head().getLong(0)
    if (n == 0) None
    else {
      val tvd = counted.select(col("tvd")).head().getDouble(0)
      Seq((batchId, n, tvd)).toDF("batch_id", "n_rows", "tvd")
        .write.mode("append").parquet(metricsDir)
      Some(tvd)
    }
  }

  // ---------------------------------------------------------- streaming PIT

  /** A dimension-version record on the update stream. */
  final case class AsOfUpdate(key: Long, tsMicros: Long, dimValue: String)

  /** A fact on the event stream, to be enriched as-of its own event time. */
  final case class AsOfEvent(event_id: Long, key: Long, tsMicros: Long, payload: Double)

  /** One enriched fact: the LATEST dim version at or before the event's
    * time (None when no version precedes it) — the batch
    * [[graft.operators.Joins.asOfJoin]] contract, emitted from a stream.
    */
  final case class AsOfEnriched(
      event_id: Long, key: Long, event_ts_micros: Long, payload: Double,
      dim_value: Option[String], dim_ts_micros: Option[Long])

  final case class AsOfTagged(
      key: Long, tsMicros: Long, isDim: Boolean,
      dimValue: String, eventId: Long, payload: Double,
      ts: java.sql.Timestamp)

  /** Keyed state: buffered dim versions and not-yet-emittable events, both
    * ascending by time. Bounded: events only live until the watermark
    * passes them, dim versions older than the newest one at-or-before the
    * watermark are evicted (any future emittable event is ≥ the watermark,
    * so only that version and newer can ever match).
    */
  final case class AsOfState(
      dims: List[(Long, String)], events: List[(Long, Long, Double)])

  /** STREAM-STREAM event-time as-of join (streaming point-in-time
    * enrichment): facts on one stream, dimension versions on another, each
    * fact enriched with the latest version at or before its event time —
    * watermark-correct, so out-of-order arrival of either side within the
    * allowed lateness cannot produce a stale or too-new match.
    *
    * Spark's built-in stream-stream joins can bound one side's time against
    * the other's, but "the LATEST version ≤ t" is an argmax per fact —
    * inexpressible as a join condition without a per-pair aggregation after
    * the fact. This is the custom-state ladder instead
    * ([[sessionize]]-style): both streams tag-union into one keyed
    * `flatMapGroupsWithState`, facts buffer until the event-time watermark
    * passes them (only then is the set of admissible versions complete),
    * then match by binary order against the buffered version history.
    *
    * Guarantees, under the shared watermark `delay`:
    *  - a fact emits exactly once, when the watermark passes its event time;
    *  - the match equals the batch as-of join of everything that arrived
    *    no later than `delay` after its event time (parity is spec-pinned
    *    against [[graft.operators.Joins.asOfJoin]]);
    *  - state per key is O(versions-in-flight + facts-in-flight): eviction
    *    keeps exactly the still-matchable suffix of the version history.
    *    Same-instant versions tie-break to the SMALLEST value — the batch
    *    as-of keep-first tiebreak, so parity holds through version ties
    *    (deterministic under any arrival order).
    *  - keys with buffered facts but no new input still flush on time via
    *    an event-time timeout pinned to the earliest buffered fact.
    */
  /** `stateTtlMicros`: with None (default) a key that stops receiving
    * traffic retains its newest dim version forever — correct, and the
    * usual choice when any key can come back. On key spaces that churn
    * (session ids, request ids) that is a state leak: a TTL drops a QUIET
    * key's retained version once the watermark is `ttl` past it. Facts are
    * never TTL'd — only the already-superseded-at-watermark version
    * history a dead key would otherwise pin.
    */
  def asOfEnrichStream(
      events: Dataset[AsOfEvent],
      updates: Dataset[AsOfUpdate],
      watermarkDelay: String = "10 minutes",
      stateTtlMicros: Option[Long] = None): Dataset[AsOfEnriched] = {
    require(stateTtlMicros.forall(_ > 0), "stateTtlMicros must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val taggedEvents = events.map(e =>
      AsOfTagged(e.key, e.tsMicros, isDim = false, null, e.event_id, e.payload,
        new java.sql.Timestamp(e.tsMicros / 1000L)))
    val taggedDims = updates.map(u =>
      AsOfTagged(u.key, u.tsMicros, isDim = true, u.dimValue, -1L, 0.0,
        new java.sql.Timestamp(u.tsMicros / 1000L)))
    taggedEvents.unionByName(taggedDims)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsOfState, AsOfEnriched](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[AsOfTagged], state: GroupState[AsOfState]) =>
          val st = state.getOption.getOrElse(AsOfState(Nil, Nil))
          var dims = st.dims
          var evs = st.events
          if (!state.hasTimedOut) rows.foreach { r =>
            if (r.isDim) dims = (r.tsMicros, r.dimValue) :: dims
            else evs = (r.eventId, r.tsMicros, r.payload) :: evs
          }
          val wm = state.getCurrentWatermarkMs() * 1000L
          // same-instant versions collapse to the SMALLEST value — the
          // batch as-of keep-first tiebreak ([[graft.operators.Joins
          // .asOfJoin]]) — so the match is arrival-order independent AND
          // row-identical to the batch path through version ties
          val dimsSorted = dims.distinct.groupBy(_._1)
            .map { case (ts, vs) => (ts, vs.map(_._2).min) }
            .toList.sortBy(_._1)
          val (emit, keep) = evs.partition(_._2 <= wm)
          val out = emit.sortBy(e => (e._2, e._1)).map { case (id, ts, pay) =>
            val matched = dimsSorted.takeWhile(_._1 <= ts).lastOption
            AsOfEnriched(id, key, ts, pay, matched.map(_._2), matched.map(_._1))
          }
          // evict all versions superseded at the watermark: the newest one
          // at-or-before wm still serves future facts, older ones cannot
          val lastCovered = dimsSorted.lastIndexWhere(_._1 <= wm)
          val prunedDims = if (lastCovered <= 0) dimsSorted else dimsSorted.drop(lastCovered)
          val ttlExpired = state.hasTimedOut && rows.isEmpty && keep.isEmpty &&
            emit.isEmpty && stateTtlMicros.isDefined
          if ((prunedDims.isEmpty && keep.isEmpty) || ttlExpired) {
            // nothing left to serve — or a TTL wake-up found the key still
            // quiet, so its retained version drops
            if (state.exists) state.remove()
          } else {
            state.update(AsOfState(prunedDims, keep))
            // flush guarantee for quiet keys: wake when the watermark passes
            // the earliest buffered fact (strictly > current wm by the
            // partition above; +1ms covers the micro→milli truncation).
            // With only a retained version left, the TTL (if any) schedules
            // the expiry check instead.
            if (keep.nonEmpty)
              state.setTimeoutTimestamp(keep.map(_._2).min / 1000L + 1L)
            else
              stateTtlMicros.foreach(ttl =>
                state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttl / 1000L + 1L))
          }
          out.iterator
      }
  }

  /** File-backed micro-batch harness used by tests: stream the events table
    * through `transform` into an in-memory table, synchronously.
    */
  def runFileStream(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      transform: DataFrame => DataFrame,
      queryName: String,
      outputMode: OutputMode = OutputMode.Update()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    val q = transform(stream).writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q
  }
}
