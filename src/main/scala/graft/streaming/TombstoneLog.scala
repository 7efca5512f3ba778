package graft.streaming

import graft.sources.ParquetRead

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batched right-to-be-forgotten for content-gated corpora: purge REQUESTS
  * append to a KB-scale tombstone log; the corpus-sized rewrite
  * ([[Streaming.purgeCorpus]] → [[CorpusCompaction.rewrite]]) runs ONCE
  * for N pending requests, when a threshold or age trigger fires. Without
  * this, a compliant operator under a realistic trickle of daily requests
  * either rewrites the whole corpus per request or hand-rolls exactly
  * this queue — the engine now enforces the batching its own
  * purge Scaladoc prescribes.
  *
  * Read-side compliance BEFORE the physical purge: [[readCompliant]]
  * anti-joins the pending log (ids-sized, broadcastable) onto the corpus,
  * so downstream consumers can honor a request the moment it lands while
  * the physical rewrite waits for its batch.
  *
  * Layout: `<corpus>/_tombstones/t<millis>-<nonce>/` — one tiny parquet
  * dir per request (underscore-prefixed parent: invisible to corpus
  * reads). Entry names are allocated collision-free (epoch millis plus a
  * random nonce), so concurrent requesters never clobber each other; no
  * counter, no list-then-max race. A request dir is live once its
  * `_SUCCESS` lands; a crash-torn request has none and is ignored (the
  * requester retries).
  *
  * Concurrency contract: requesters may append at ANY time, including
  * while the single maintainer's [[flushPurge]] is mid-rewrite. The flush
  * retires EXACTLY the request dirs whose ids it read — never a request
  * that landed after the snapshot (it stays pending for the next flush).
  * Torn dirs are swept only once they are older than `tornGraceMs` AND
  * still `_SUCCESS`-less immediately before the delete. REQUESTER
  * DURABILITY: that check-then-delete pair is not atomic, so a write
  * whose commit stalls PAST the grace age must not be assumed durable —
  * a requester whose [[requestPurge]] took longer than `tornGraceMs`
  * (or errored) re-verifies via [[pending]] and re-requests if absent;
  * within the grace age a completed append is never swept. Size
  * `tornGraceMs` comfortably above any realistic write stall (the
  * default is 15 minutes for a KB-scale write).
  *
  * Crash windows (single MAINTAINER per corpus, like every sidecar here;
  * requests themselves are just appends):
  *   - crash mid-request: no `_SUCCESS` → invisible; age-gated sweep at a
  *     later flush;
  *   - crash between the purge and the log retire: the log survives, the
  *     next flush re-purges (the purge's no-op fast path — tombstoned ids
  *     already absent — makes this one cheap semi-join) and then retires;
  *   - ids purged twice across requests: distinct-ed before the purge,
  *     and the purge itself is idempotent.
  */
object TombstoneLog {

  val DirName = "_tombstones"

  /** Torn (no-`_SUCCESS`) request dirs younger than this are left alone
    * by the flush sweep: they may be mid-write by a live requester.
    */
  val DefaultTornGraceMs: Long = 15L * 60L * 1000L

  private def logDir(corpusDir: Path) = new Path(corpusDir, DirName)

  private def fileSystem(spark: SparkSession, corpusDir: String): (FileSystem, Path) = {
    val dir = new Path(corpusDir)
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  private def allEntries(fs: FileSystem, corpusDir: Path): Seq[Path] = {
    val d = logDir(corpusDir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).map(_.getPath).toSeq
      .filter(p => p.getName.length > 1 && p.getName.startsWith("t"))
  }

  private def completeEntries(fs: FileSystem, corpusDir: Path): Seq[Path] =
    allEntries(fs, corpusDir)
      .filter(p => fs.exists(new Path(p, "_SUCCESS")))
      .map(p => (fs.getFileStatus(p).getModificationTime, p.getName, p))
      .sortBy(t => (t._1, t._2)).map(_._3)

  /** Append one purge request: a KB-scale parquet write of the distinct
    * non-null ids — NEVER a corpus read (the ids frame is written as
    * given; no corpus file is opened). Returns the entry name. Safe to
    * call concurrently with other requesters AND with a running
    * [[flushPurge]]: the name is unique by construction and the entry
    * only becomes visible once its `_SUCCESS` lands.
    */
  def requestPurge(corpusDir: String, ids: DataFrame, idCol: String): String = {
    val spark = ids.sparkSession
    val (fs, dir) = fileSystem(spark, corpusDir)
    val d = logDir(dir)
    fs.mkdirs(d)
    val name = s"t${System.currentTimeMillis()}-${UUID.randomUUID().toString.take(8)}"
    ids.select(col(idCol)).na.drop().distinct().coalesce(1)
      .write.mode("error").parquet(new Path(d, name).toString)
    name
  }

  /** All pending tombstoned ids (complete requests only), distinct; an
    * empty frame with the corpus id type when the log is empty.
    */
  def pending(spark: SparkSession, corpusDir: String, idCol: String): DataFrame = {
    val (fs, dir) = fileSystem(spark, corpusDir)
    val entries = completeEntries(fs, dir)
    if (entries.isEmpty)
      ParquetRead(spark, corpusDir).select(col(idCol)).limit(0)
    else
      ParquetRead(spark, entries.map(_.toString): _*)
        .select(col(idCol)).distinct()
  }

  /** The corpus with pending tombstones already excluded — read-side
    * compliance the moment a request lands, ahead of the physical purge.
    * The pending side is ids-sized (broadcastable at any corpus scale).
    */
  def readCompliant(spark: SparkSession, corpusDir: String, idCol: String): DataFrame =
    ParquetRead(spark, corpusDir)
      .join(broadcast(pending(spark, corpusDir, idCol)), Seq(idCol), "left_anti")

  /** Flush the log: ONE [[Streaming.purgeCorpus]] for every pending
    * request, then retire EXACTLY the request dirs whose ids were read.
    * A request landing after the snapshot — even one completing while the
    * corpus rewrite runs — is untouched and stays pending for the next
    * flush. Torn (`_SUCCESS`-less) dirs are swept only when older than
    * `tornGraceMs` and still torn at sweep time. Triggers: pending
    * distinct ids >= `minPending`, OR the oldest pending request is older
    * than `maxAgeMs` (mtime-based). Returns None (log kept, nothing
    * touched) when neither fires or the log is empty; otherwise the purge
    * stats and the number of requests retired.
    *
    * `alsoPurge` is the DOWNSTREAM-STORES hook: derived stores holding
    * the same ids (a [[Bm25Index]], an [[IvfIngest]] index) must forget
    * them in the SAME flush, but the ids retire with the log — capturing
    * them afterward is impossible, and capturing [[pending]] beforehand
    * races new requests. The hook receives the exact materialized
    * distinct-ids frame the corpus purge used, AFTER the corpus rewrite
    * and BEFORE the retire — so a crash (or a throw) inside it leaves the
    * log intact and the next flush idempotently redoes BOTH sides (the
    * corpus re-purge is a no-op semi-join; [[Bm25Index.purge]] skips
    * already-tombstoned ids by contract).
    */
  def flushPurge(spark: SparkSession, corpusDir: String, idCol: String,
      contentCols: Seq[String], minPending: Long = 1L,
      maxAgeMs: Long = Long.MaxValue,
      tornGraceMs: Long = DefaultTornGraceMs,
      alsoPurge: DataFrame => Unit = _ => ()): Option[(Streaming.CorpusPurgeStats, Int)] =
    flushPurgeHooked(spark, corpusDir, idCol, contentCols, minPending, maxAgeMs,
      tornGraceMs, () => (), alsoPurge)

  /** [[flushPurge]] with a test seam: `afterPurge` runs between the corpus
    * rewrite and the log retire — exactly the window where a concurrent
    * request can land — so the retire-set contract is spec-pinnable.
    */
  private[graft] def flushPurgeHooked(spark: SparkSession, corpusDir: String,
      idCol: String, contentCols: Seq[String], minPending: Long,
      maxAgeMs: Long, tornGraceMs: Long,
      afterPurge: () => Unit,
      alsoPurge: DataFrame => Unit = _ => ()): Option[(Streaming.CorpusPurgeStats, Int)] = {
    val (fs, dir) = fileSystem(spark, corpusDir)
    val entries = completeEntries(fs, dir)
    if (entries.isEmpty) return None
    // The pending ids are KB-scale by the class contract (requests hold
    // ids, never content) and end up broadcast by every consumer anyway —
    // ONE collect carries both the trigger count and the id values. The
    // old materialize + count pair was two driver jobs, and a held
    // (below-threshold) probe paid both only to discard the frame; a held
    // probe is now one job, and a due flush hands the purge a LocalRelation
    // whose downstream broadcast costs no recompute of the log read.
    val pendingDf = ParquetRead(spark, entries.map(_.toString): _*)
      .select(col(idCol)).distinct()
    val idRows = pendingDf.collect()
    val n = idRows.length.toLong
    val now = System.currentTimeMillis()
    val oldest = entries.map(e => fs.getFileStatus(e).getModificationTime).min
    val due = n >= minPending || (now - oldest) >= maxAgeMs
    if (!due) return None
    val ids = spark.createDataFrame(
      java.util.Arrays.asList(idRows: _*), pendingDf.schema)
    val stats = Streaming.purgeCorpus(spark, corpusDir, ids, idCol, contentCols)
    // downstream stores forget the same batch inside the crash-safe window
    // (see flushPurge doc): a throw here keeps the log, the re-flush
    // idempotently redoes both sides
    alsoPurge(ids)
    afterPurge()
    // Retire AFTER the purge (a crash above leaves the log intact and the
    // re-flush idempotent) and retire ONLY the snapshot: anything that
    // landed since — complete or mid-write — was not purged and must
    // survive. Torn leftovers sweep only past the grace age, re-checking
    // completeness at sweep time so a write that just finished is kept.
    entries.foreach(e => fs.delete(e, true))
    val retiredSet = entries.map(_.getName).toSet
    allEntries(fs, dir)
      .filter(p => !retiredSet.contains(p.getName))
      .filter(p => (now - fs.getFileStatus(p).getModificationTime) >= tornGraceMs)
      .foreach { p =>
        // completeness re-checked immediately before each delete: a write
        // that finished during the flush is a live request and stays. The
        // check-then-delete pair is not atomic — the residual window is
        // a _SUCCESS landing in the microseconds between them, which the
        // requester durability contract (class doc) makes the requester's
        // to detect, not silently ours to lose
        if (!fs.exists(new Path(p, "_SUCCESS"))) fs.delete(p, true)
      }
    Some((stats, entries.size))
  }
}
