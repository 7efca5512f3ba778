package graft.sources

import java.io.{FileNotFoundException, InputStream}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileSystem, Path}

/** The engine's one publish protocol: every small metadata file, commit
  * point and directory swap becomes visible all-or-nothing through a
  * Hadoop file-system rename made here. Callers say WHAT they publish;
  * only this module knows the staging names, delete-before-rename, the
  * failure rule and that "absent" is a `FileNotFoundException` on open.
  *
  * Failure rule: a rename that returns false throws
  * [[graft.GraftDataError]] unless its target exists afterwards (another
  * attempt or a concurrent replay published it), in which case the temp
  * is deleted.
  *
  * Multi-file commits (the v2 commit, the IVF refresh and purge, the
  * key-table shard purge) stage their files, make them durable with a
  * marker or manifest, and then roll the moves forward with [[promote]].
  * Its rule refuses a move whose source and target both exist: a Hadoop
  * rename of a directory onto an existing directory does not fail, it
  * nests the source inside the target.
  */
object FsPublish {

  /** Replace `target` wholesale: write `<target>.staging`, delete the
    * target, rename. A crash leaves the old target, no target, or the new
    * one — never a torn file.
    */
  def replace(fs: FileSystem, target: Path)(write: FSDataOutputStream => Unit): Unit = {
    val staging = new Path(target.getParent, target.getName + ".staging")
    create(fs, staging, write)
    fs.delete(target, false)
    move(fs, staging, target)
  }

  /** Publish a new file: write `tmp`, then rename it to `target`. */
  def publish(fs: FileSystem, tmp: Path, target: Path)(write: FSDataOutputStream => Unit): Unit = {
    create(fs, tmp, write)
    move(fs, tmp, target)
  }

  /** Rename `from` to `to` under the failure rule. */
  def move(fs: FileSystem, from: Path, to: Path): Unit = {
    // a concurrent replay that published `to` may already have swept
    // `from`: HDFS then returns false, the local file system throws
    val renamed =
      try fs.rename(from, to)
      catch { case _: FileNotFoundException if fs.exists(to) => false }
    if (!renamed) {
      if (!fs.exists(to))
        throw new graft.GraftDataError(s"publishing rename $from -> $to failed")
      fs.delete(from, false)
    }
  }

  /** Roll staged moves forward, idempotently, so a replay after any
    * failure finishes the set. Per `(from, to)`: a target present with
    * its source gone is done (an earlier attempt or a concurrent replay
    * moved it); an absent target moves under [[move]]'s rule; both present
    * or both gone throws and deletes nothing. One `exists` and one rename
    * per move when nothing has moved yet.
    */
  def promote(fs: FileSystem, moves: Seq[(Path, Path)]): Unit =
    moves.foreach { case (from, to) =>
      if (!fs.exists(to))
        try move(fs, from, to)
        catch {
          case e: FileNotFoundException if !fs.exists(from) =>
            throw new graft.GraftDataError(s"promote $from -> $to: neither exists", e)
        }
      else if (fs.exists(from))
        throw new graft.GraftDataError(
          s"promote $from -> $to: the target already exists; renaming would nest or clobber it")
    }

  /** Decode `p` with one open; None when it does not exist. */
  def read[A](fs: FileSystem, p: Path)(decode: FSDataInputStream => A): Option[A] = {
    val in = try fs.open(p) catch { case _: FileNotFoundException => return None }
    try Some(decode(in)) finally in.close()
  }

  /** Decoder: the whole stream as UTF-8 text. */
  def utf8(in: InputStream): String = new String(in.readAllBytes(), StandardCharsets.UTF_8)

  /** Decoder: the trimmed non-blank lines of a UTF-8 record. */
  def linesOf(in: InputStream): Seq[String] =
    utf8(in).split('\n').toSeq.map(_.trim).filter(_.nonEmpty)

  /** The lines of a record that must exist: a missing one throws
    * `FileNotFoundException` (a concurrent fold deleted it; callers retry).
    */
  def lines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try linesOf(in) finally in.close()
  }

  /** Swap the directory tree `root` for a freshly written one. First a swap
    * a crash interrupted is finished: with `root` missing, a `staging`
    * holding `_SUCCESS` rolls forward, else the set-aside `retired` rolls
    * back. Then stale siblings go, `writeStaging` fills `staging` (it must
    * leave `_SUCCESS` there), `root` moves aside to `retired` and `staging`
    * renames in. Every rename is checked and a failed one throws before
    * anything is deleted, so no crash or failure destroys the only
    * complete copy. The retired tree is the caller's to delete.
    */
  def swapDir(fs: FileSystem, root: Path, staging: Path, retired: Path)(
      writeStaging: => Unit): Unit = {
    if (!fs.exists(root)) {
      if (fs.exists(new Path(staging, "_SUCCESS"))) rename(fs, staging, root, "roll-forward")
      else if (fs.exists(retired)) rename(fs, retired, root, "roll-back")
    }
    fs.delete(staging, true)
    fs.delete(retired, true)
    writeStaging
    if (fs.exists(root)) rename(fs, root, retired, "set-aside")
    if (!fs.rename(staging, root)) {
      if (fs.exists(retired)) rename(fs, retired, root, "roll-back")
      throw new graft.GraftDataError(s"publishing rename $staging -> $root failed")
    }
  }

  private def create(fs: FileSystem, p: Path, write: FSDataOutputStream => Unit): Unit = {
    val out = fs.create(p, true)
    try write(out) finally out.close()
  }

  private def rename(fs: FileSystem, from: Path, to: Path, what: String): Unit =
    if (!fs.rename(from, to))
      throw new graft.GraftDataError(s"$what rename $from -> $to failed")
}
