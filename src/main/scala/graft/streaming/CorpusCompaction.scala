package graft.streaming

import graft.sources.{FsPublish, ParquetRead}

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Threshold-triggered small-file compaction for append-only corpora
  * ([[Streaming.ingestBatch]] appends one file set per micro-batch, which
  * unbounded would drown the driver's file listing and the scheduler's
  * split planning long before the data itself hurts).
  *
  * Scale shape: a compaction reads ONLY the small files (below
  * `minFileBytes`), never the corpus — cost is bounded by
  * threshold x minFileBytes regardless of corpus size. Files that have ever
  * been compacted past the size floor are never touched again.
  *
  * Crash-safety is a manifest-based roll-forward commit (single writer
  * assumed, like every sink here):
  *
  *  1. compacted data is written to `_compact/data/` (invisible to readers:
  *     underscore-prefixed);
  *  2. `_compact/manifest` — the list of small files to retire — is
  *     published AFTER the data completes ([[FsPublish.publish]]: a torn
  *     write never takes the name); its existence is the commit point;
  *  3. commit: delete the manifest's files, move the compacted files in
  *     under fresh names, drop the staging dir.
  *
  * A crash before (2) leaves dead staging data that the next run deletes; a
  * crash after (2) is completed by [[recover]] at the next batch — deletes
  * are idempotent and the moved-in names never appear in any manifest, so
  * replaying the commit can neither lose nor duplicate rows. [[recover]]
  * MUST run before a reader trusts the corpus (a mid-commit crash leaves
  * retired rows only in staging); ingestBatch runs it first thing.
  */
object CorpusCompaction {

  private def stagingDir(corpusDir: Path) = new Path(corpusDir, "_compact")
  private def manifestPath(corpusDir: Path) = new Path(stagingDir(corpusDir), "manifest")

  /** Roll an interrupted commit forward (manifest present) or discard an
    * incomplete staging write (no manifest). Idempotent; cheap no-op when
    * there is no staging dir.
    */
  def recover(fs: FileSystem, corpusDir: Path): Unit = {
    val staging = stagingDir(corpusDir)
    if (fs.exists(staging))
      FsPublish.read(fs, manifestPath(corpusDir))(FsPublish.linesOf) match {
        case Some(names) => commit(fs, corpusDir, names)
        case None => fs.delete(staging, true)
      }
  }

  /** Compact when more than `maxSmallFiles` data files are below
    * `minFileBytes`. Returns true when a compaction ran.
    */
  def compact(
      spark: SparkSession,
      fs: FileSystem,
      corpusDir: Path,
      maxSmallFiles: Int = 8,
      minFileBytes: Long = 32L * 1024 * 1024): Boolean = {
    recover(fs, corpusDir)
    val smalls = fs.listStatus(corpusDir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".") && st.getLen < minFileBytes
    }
    if (smalls.length <= maxSmallFiles) false
    else {
      stageAndCommit(fs, corpusDir, smalls)(
        ParquetRead(spark, smalls.map(_.getPath.toString).toIndexedSeq: _*).coalesce(1))
      true
    }
  }

  /** Whole-data rewrite under the SAME manifest roll-forward commit as
    * [[compact]]: read every data file, apply `transform`, stage the
    * result, then retire the originals atomically-enough (the manifest is
    * the commit point; [[recover]] finishes a crashed commit). The
    * sidecar dirs (underscore-prefixed) are untouched — which is the whole
    * reason this is not a directory swap. Unlike compaction this is a
    * corpus-sized pass; it exists for the rare explicit maintenance
    * actions (tombstone purges) — batch them ([[TombstoneLog]] is the
    * queue that enforces the batching).
    *
    * Returns false (and does nothing) on an empty corpus. Callers that
    * derive state from the PRE-rewrite corpus must materialize it first:
    * the commit deletes the files a lazy plan would re-read.
    */
  def rewrite(
      spark: SparkSession,
      fs: FileSystem,
      corpusDir: Path)(transform: DataFrame => DataFrame): Boolean = {
    recover(fs, corpusDir)
    val files = fs.listStatus(corpusDir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (files.isEmpty) false
    else {
      stageAndCommit(fs, corpusDir, files)(
        transform(ParquetRead(spark, files.map(_.getPath.toString).toIndexedSeq: _*)))
      true
    }
  }

  /** Write `data` to staging, publish the manifest retiring `retire`
    * (temp + rename: a torn manifest must never become a commit point,
    * since replaying half a list deletes some originals and moves in the
    * copy of all of them), then commit.
    */
  private def stageAndCommit(fs: FileSystem, corpusDir: Path, retire: Seq[FileStatus])(
      data: DataFrame): Unit = {
    val staging = stagingDir(corpusDir)
    fs.delete(staging, true)
    data.write.mode("overwrite").parquet(new Path(staging, "data").toString)
    val names = retire.map(_.getPath.getName)
    FsPublish.publish(fs, new Path(staging, "manifest.tmp"), manifestPath(corpusDir))(
      _.write(names.mkString("\n").getBytes(StandardCharsets.UTF_8)))
    commit(fs, corpusDir, names)
  }

  /** Retire the manifest's files, move every compacted file in, and only
    * then drop staging: a failed move throws with the manifest still in
    * place, so the next [[recover]] replays the rest.
    */
  private def commit(fs: FileSystem, corpusDir: Path, names: Seq[String]): Unit = {
    val staging = stagingDir(corpusDir)
    names.foreach(n => fs.delete(new Path(corpusDir, n), false))
    val dataDir = new Path(staging, "data")
    if (fs.exists(dataDir)) {
      fs.listStatus(dataDir).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.foreach { st =>
        // "compacted-" prefix: a name that can never collide with a pending
        // manifest entry from THIS commit (part names carry a write UUID,
        // so cross-commit collisions can't happen either)
        FsPublish.move(fs, st.getPath, new Path(corpusDir, "compacted-" + st.getPath.getName))
      }
    }
    fs.delete(staging, true)
  }
}
