package graft.streaming

import graft.sources.ParquetRead

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

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
  *  2. `_compact/manifest` — the list of small files to retire — is written
  *     AFTER the data completes; its existence is the commit point;
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
    if (fs.exists(staging)) {
      if (fs.exists(manifestPath(corpusDir))) commit(fs, corpusDir)
      else fs.delete(staging, true)
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
      val staging = stagingDir(corpusDir)
      fs.delete(staging, true)
      val dataDir = new Path(staging, "data")
      ParquetRead(spark, smalls.map(_.getPath.toString).toIndexedSeq: _*)
        .coalesce(1)
        .write.mode("overwrite").parquet(dataDir.toString)
      val man = fs.create(manifestPath(corpusDir), true)
      try man.write(smalls.map(_.getPath.getName).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      finally man.close()
      commit(fs, corpusDir)
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
      corpusDir: Path)(transform: org.apache.spark.sql.DataFrame
        => org.apache.spark.sql.DataFrame): Boolean = {
    recover(fs, corpusDir)
    val files = fs.listStatus(corpusDir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (files.isEmpty) false
    else {
      val staging = stagingDir(corpusDir)
      fs.delete(staging, true)
      val dataDir = new Path(staging, "data")
      transform(ParquetRead(spark, files.map(_.getPath.toString).toIndexedSeq: _*))
        .write.mode("overwrite").parquet(dataDir.toString)
      val man = fs.create(manifestPath(corpusDir), true)
      try man.write(files.map(_.getPath.getName).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      finally man.close()
      commit(fs, corpusDir)
      true
    }
  }

  private def commit(fs: FileSystem, corpusDir: Path): Unit = {
    val staging = stagingDir(corpusDir)
    val man = manifestPath(corpusDir)
    val names = {
      val in = fs.open(man)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        .split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
      finally in.close()
    }
    names.foreach { n =>
      val p = new Path(corpusDir, n)
      if (fs.exists(p)) fs.delete(p, false)
    }
    val dataDir = new Path(staging, "data")
    if (fs.exists(dataDir)) {
      fs.listStatus(dataDir).filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.foreach { st =>
        // "compacted-" prefix: a name that can never collide with a pending
        // manifest entry from THIS commit (part names carry a write UUID,
        // so cross-commit collisions can't happen either)
        fs.rename(st.getPath, new Path(corpusDir, "compacted-" + st.getPath.getName))
      }
    }
    fs.delete(staging, true)
  }
}
