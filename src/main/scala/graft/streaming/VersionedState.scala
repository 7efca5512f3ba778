package graft.streaming

import graft.sources.{FsPublish, ParquetRead}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared versioned-state scaffolding for the continuous batch-merge
  * maintainers ([[KmvSegments]], [[RollupState]]): a state directory holds
  * `v<batchId>` parquet versions and a `current` pointer file naming the
  * live one.
  *
  * The pointer doubles as each batch's COMMIT RECORD: [[isCommitted]] lets
  * a maintainer skip a redelivered batchId whose version is already live —
  * which is what makes NON-idempotent merge algebras (additive rollups)
  * exactly-once under at-least-once delivery, and keeps every maintainer
  * from reading and overwriting its own version path.
  *
  * Crash discipline (hand-verified windows):
  *   - version write completes (with `_SUCCESS`) BEFORE the pointer moves;
  *   - the pointer swap is staging + rename; rename cannot overwrite, so
  *     the old pointer is deleted first — a crash inside that window
  *     leaves no pointer, and [[read]] falls back to the most recently
  *     WRITTEN `_SUCCESS`-complete version on disk (recency by the
  *     monotonic `_seq` stamp, not version number or mtime — names may
  *     regress across checkpoint loss, mtime granules can swallow the
  *     regression; the batch in flight never wrote its streaming commit,
  *     so it redelivers onto that base);
  *   - superseded versions sweep AFTER the swap, except the immediately
  *     retired one — a one-merge grace window for readers whose plan still
  *     pins it. SINGLE-WRITER per state dir, like every sidecar here.
  */
object VersionedState {

  private def pointerPath(stateDir: Path) = new Path(stateDir, "current")

  def versionName(batchId: Long): String = s"v$batchId"

  def fileSystem(spark: SparkSession, stateDir: String): (FileSystem, Path) = {
    val dir = new Path(stateDir)
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  /** The live state frame, or None before the first commit. */
  def read(spark: SparkSession, stateDir: String): Option[DataFrame] = {
    val (fs, dir) = fileSystem(spark, stateDir)
    liveVersion(fs, dir).map(v => ParquetRead(spark, new Path(dir, v).toString))
  }

  /** Has `batchId` already committed? (Its version is the live one.) */
  def isCommitted(spark: SparkSession, stateDir: String, batchId: Long): Boolean = {
    val (fs, dir) = fileSystem(spark, stateDir)
    liveVersion(fs, dir).contains(versionName(batchId))
  }

  def liveVersion(fs: FileSystem, dir: Path): Option[String] =
    currentVersion(fs, dir).orElse(latestCompleteVersion(fs, dir))

  private def currentVersion(fs: FileSystem, dir: Path): Option[String] =
    FsPublish.read(fs, pointerPath(dir))(FsPublish.utf8).map(_.trim)

  /** Crash recovery: the MOST RECENTLY WRITTEN `_SUCCESS`-complete version
    * (a dir mid-write at the crash has no `_SUCCESS` and is skipped).
    *
    * Recency is the version's `_seq` stamp — a monotonic per-state-dir
    * counter [[commit]] writes after the parquet lands — NOT the parsed
    * batchId and not the filesystem mtime: version names may REGRESS (a
    * restart without a checkpoint re-numbers from the source's beginning —
    * [[KmvSegments]] documents "the version name may regress, never the
    * content"), and within one mtime granule of such a regression the
    * numerically-higher dir is the content-OLDER one, so neither name nor
    * mtime alone can order it. `(mtime, batchId)` remains the fallback for
    * a version whose crash window closed between `_SUCCESS` and `_seq` —
    * picking an older seq-stamped version there is SAFE: that batch never
    * wrote its streaming commit, so it redelivers onto the base it read.
    */
  private def latestCompleteVersion(fs: FileSystem, dir: Path): Option[String] = {
    if (!fs.exists(dir)) return None
    val ranked = fs.listStatus(dir).map(_.getPath.getName).collect {
      case n if n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit) =>
        (n, new Path(new Path(dir, n), "_SUCCESS"))
    }.collect {
      case (n, s) if fs.exists(s) =>
        (readSeq(fs, new Path(dir, n)),
          (fs.getFileStatus(s).getModificationTime, n.drop(1).toLong), n)
    }
    if (ranked.isEmpty) None
    else {
      val stamped = ranked.filter(_._1.isDefined)
      val pick =
        if (stamped.nonEmpty) stamped.maxBy(t => (t._1.get, t._2))
        else ranked.maxBy(_._2)
      Some(pick._3)
    }
  }

  private def seqPath(vPath: Path) = new Path(vPath, "_seq")

  private def readSeq(fs: FileSystem, vPath: Path): Option[Long] =
    FsPublish.read(fs, seqPath(vPath))(FsPublish.utf8)
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)

  /** Fail fast when a foreachBatch stream's batchIds would RE-NUMBER from
    * 0 against state that already committed versions — the trap for every
    * NON-idempotent merge algebra ([[RollupState]], the heavy-hitters
    * maintainer): a renumbered batch whose id matches the live version
    * SKIPS (silently dropping its data), and one that does not re-merges
    * already-counted data. Starting is safe only when the state is empty
    * or the checkpoint is the (non-fresh) one the state was built under.
    * Idempotent algebras ([[KmvSegments]]) need no such gate — a replayed
    * batch merges as a no-op.
    */
  def requireStreamSafe(spark: SparkSession, stateDir: String,
      checkpointDir: Option[String], what: String): Unit = {
    val (fs, dir) = fileSystem(spark, stateDir)
    if (liveVersion(fs, dir).isEmpty) return
    checkpointDir match {
      case None => throw new graft.GraftDataError(
        s"$what.stream() without a checkpoint numbers batches from 0, but the state " +
          s"at $stateDir already committed versions — the commit-record skip would " +
          "silently drop (or re-merge) micro-batches; pass checkpointDir")
      case Some(c) =>
        val cp = new Path(c)
        val cpFs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!cpFs.exists(cp) || cpFs.listStatus(cp).isEmpty)
          throw new graft.GraftDataError(
            s"fresh checkpoint at $c against already-committed state at $stateDir: " +
              "batchIds would re-number from 0 into the commit records — resume the " +
              "original checkpoint, or start from an empty state dir")
    }
  }

  /** Write `merged` as `v<batchId>`, swap the pointer onto it, sweep
    * superseded versions (keeping the one-merge grace version), and return
    * the committed frame. `coalesceTo` bounds the version's file count —
    * pass the state's natural parallelism (1 for segments-sized state).
    */
  def commit(merged: DataFrame, stateDir: String, batchId: Long,
      coalesceTo: Int = 1): DataFrame = {
    val spark = merged.sparkSession
    val (fs, dir) = fileSystem(spark, stateDir)
    val vName = versionName(batchId)
    val vPath = new Path(dir, vName)
    val live = liveVersion(fs, dir)
    require(!live.contains(vName),
      s"batch $batchId is already the live version — callers gate on isCommitted")
    merged.coalesce(coalesceTo).write.mode("overwrite").parquet(vPath.toString)
    // the monotonic write stamp latestCompleteVersion recovers by: max over
    // the (<= 2) surviving versions' seqs, plus one. Written AFTER the
    // parquet commit — a crash in between leaves a version recoverable by
    // the (mtime, batchId) fallback, which is safe there (see Scaladoc)
    val nextSeq = fs.listStatus(dir).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit) && n != vName
      }
      .flatMap(p => readSeq(fs, p)).foldLeft(0L)(math.max) + 1L
    val so = fs.create(seqPath(vPath), true)
    try so.write(nextSeq.toString.getBytes("UTF-8")) finally so.close()
    // a crash between the replace's delete and rename leaves no pointer,
    // and read() recovers via latestCompleteVersion
    FsPublish.replace(fs, pointerPath(dir))(_.write(vName.getBytes("UTF-8")))
    val keep = Set(vName) ++ live
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit) && !keep(n))
      .foreach(v => fs.delete(new Path(dir, v), true))
    ParquetRead(spark, vPath.toString)
  }
}
