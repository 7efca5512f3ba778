package graft.sources.v2

import java.nio.charset.StandardCharsets

import graft.sources.FsPublish
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** The WRITE half of the `graft-parquet` connector ([[GraftParquetSource]]):
  * a staged-commit batch writer, so the connector round-trips — what the
  * reader proves about pushdown, the writer proves about atomicity.
  *
  * Commit protocol (the [[graft.streaming.CorpusCompaction]] manifest
  * roll-forward, applied to appends). Concurrency contract: APPENDS are
  * multi-writer-safe — the commit log assigns sequences optimistically
  * (a bounded CAS loop in [[appendLogRecord]]: collide, retract, retry at
  * the next seq), so a fleet of ingest jobs can feed one table;
  * MAINTENANCE (OPTIMIZE / DELETE / folds) still assumes an exclusive
  * window, and its swaps conflict-validate their removals so a violated
  * window fails loudly rather than duplicating rows:
  *
  *  1. every task writes its parquet file into `_write_<queryId>/` —
  *     underscore-prefixed, so readers cannot see uncommitted data;
  *  2. the driver's commit writes `_write_<queryId>/manifest` listing
  *     exactly the files of COMMITTED tasks (a speculative or failed task's
  *     orphan file is not listed and dies with the staging dir) — the
  *     manifest's existence is the commit point;
  *  3. roll-forward: listed files move into the table directory (names are
  *     queryId-unique, so replaying a move can't collide), staging dir drops.
  *
  * A crash before (2) leaves invisible staging garbage that ages into
  * [[GraftTableOptimize.vacuum]]'s grace-gated sweep (write jobs must NOT
  * sweep it — it may be a live concurrent appender's stage); a crash after
  * (2) is completed by [[healPublished]] at the next write job or read —
  * renames are idempotent-by-absence (a file already moved is skipped), so
  * replaying the roll-forward neither loses nor duplicates rows. The full
  * [[recover]] sweep (complete published + discard unmanifested) belongs to
  * maintenance entry points, which own an exclusive window.
  *
  * Membership is MANIFEST-DERIVED: every roll-forward retains a compact
  * record under `_log/` (adds with lengths, removals), and
  * [[listDataFiles]] folds those records instead of listing the directory.
  * At 100 TB on an object store that turns query planning from O(files)
  * paginated LIST calls into O(commits) small reads — the same argument the
  * zone map already won for footer reads — and it closes the
  * reader-races-OPTIMIZE window: removal lines are published to the log
  * only after the packed adds are physically present, and removed files are
  * physically deleted only after the record that retires them has landed,
  * so a log-resolving reader never references a missing file. The directory
  * listing survives as the LEGACY membership (plain parquet directories and
  * pre-log tables bootstrap into the log at their next commit) and as
  * fsck's cross-check.
  *
  * Snapshots are RETENTION-AWARE: removals are logical (the retiring record
  * publishes, the bytes stay), [[GraftTableOptimize.foldLog]] keeps the
  * newest records as history instead of collapsing all of it, and physical
  * deletion belongs to [[GraftTableOptimize.vacuum]], which collects only
  * files no retained record references — so an AS-OF handle survives
  * routine OPTIMIZE runs and dies loudly (never silently) once maintenance
  * retires its history past the retention horizon.
  */
object GraftParquetWrite {

  // shared with fsck ([[GraftTableOptimize.fsck]]) so a renamed staging
  // prefix or manifest name can never make fsck report a damaged table
  // as healthy
  private[v2] val StagingPrefix = "_write_"

  def stagingDir(table: Path, queryId: String): Path =
    new Path(table, StagingPrefix + queryId)

  private[v2] def manifestPath(staging: Path): Path = new Path(staging, "manifest")

  /** Complete interrupted commits (manifest present) and discard incomplete
    * staging writes (no manifest). Idempotent. MAINTENANCE-ONLY under the
    * optimistic-concurrency contract: the discard half would sweep a live
    * concurrent appender's stage, so write jobs run [[healPublished]]
    * instead and OPTIMIZE/DELETE (exclusive window) run this.
    */
  def recover(fs: FileSystem, table: Path): Unit =
    if (fs.exists(table)) {
      stagingDirs(fs, table).foreach { st =>
        if (fs.exists(manifestPath(st.getPath))) commit(fs, table, st.getPath)
        else fs.delete(st.getPath, true)
      }
    }

  /** Staging dirs by PREFIX-scoped glob, not a full directory listing: on
    * an object store `_write_*` is an O(matches) prefixed LIST, so the
    * recovery probe on every scan/write stays O(staging dirs ≈ 0), never
    * O(data files) — the same economics the commit log gives membership.
    * The TABLE path itself is glob-escaped: a literal `[1]` or `*` in a
    * directory name must stay literal, or recovery would silently find
    * nothing there (the pattern applies only to the `_write_*` child).
    */
  private[v2] def stagingDirs(fs: FileSystem, table: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val matched = fs.globStatus(new Path(globEscape(table.toString), StagingPrefix + "*"))
    if (matched == null) Seq.empty else matched.filter(_.isDirectory).toSeq
  }

  private def globEscape(s: String): String =
    s.flatMap { c =>
      if ("*?[]{}\\".indexOf(c) >= 0) s"\\$c" else c.toString
    }

  /** Manifest line format — four shapes, one per maintenance need:
    *   - `fileName\t<zone-map json>`: add with statistics (every writer
    *     commit since the zone map landed);
    *   - `fileName`: add without statistics (pre-zone-map manifests stay
    *     replayable — the file simply scans un-pruned);
    *   - `~fileName`: REMOVE a committed file ([[GraftTableOptimize]]'s
    *     swap);
    *   - `!marker`: create `_commits/marker` as part of the roll-forward —
    *     the exactly-once receipt [[graft.streaming.TableIngest]] keys
    *     batch dedup on. Riding the manifest is what makes it crash-safe:
    *     a marker written as a separate step after the commit would leave
    *     a window where the data landed but a redelivered batch cannot
    *     see that it did.
    *   - `@<schema json>`: the writer's Spark schema; the roll-forward
    *     publishes an `m-<seq>-<commitId>` metadata record when it differs
    *     from the table's current schema epoch (SCHEMA EVOLUTION — see
    *     [[latestSchemaAt]]). Riding the manifest makes evolution
    *     crash-safe the same way the marker is: the new epoch can never be
    *     lost between the data landing and a separate metadata write.
    * Prefixes are unambiguous: writer-produced file names always start
    * with `part-`. The manifest write is the commit point; everything else
    * replays from it.
    */
  private[v2] def commitLines(fs: FileSystem, table: Path, staging: Path,
      lines: Seq[String]): Unit = {
    // single-writer tripwire: every staged ADD must still exist before the
    // commit point lands. If a concurrent writer's recover() swept this
    // staging dir as garbage (the contract violation — e.g. a stream batch
    // racing an OPTIMIZE), publishing the manifest anyway would replay the
    // removal lines with the adds skipped-by-absence: committed rows
    // deleted, every step reporting success. Failing here loses only this
    // attempt's work.
    lines.filterNot(l =>
      l.startsWith("~") || l.startsWith("!") || l.startsWith("@")).foreach { l =>
      val cut = l.indexOf('\t')
      val name = if (cut < 0) l else l.substring(0, cut)
      require(fs.exists(new Path(staging, name)),
        s"staged file $name vanished before the commit point — a concurrent " +
          "writer broke the single-writer contract; this commit is aborted intact")
    }
    // temp + rename makes the commit point ATOMIC: create+write+close is
    // not, and a torn manifest is no longer just a lost append now that
    // removal lines exist — half a swap manifest would rename the packed
    // files in while deleting only some sources (duplicate rows forever).
    // A crash mid-write leaves manifest.tmp, which recover() treats as
    // no-commit-point: staging is discarded whole.
    FsPublish.publish(fs, new Path(staging, "manifest.tmp"), manifestPath(staging))(
      _.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8)))
    commit(fs, table, staging)
  }

  private def commit(fs: FileSystem, table: Path, staging: Path): Unit = {
    // a published commit may be replayed CONCURRENTLY by the writer's own
    // roll-forward and a reader's healPublished — every step below is
    // idempotent, but whoever finishes first deletes the staging dir. A
    // vanished manifest means the other replayer completed the commit and
    // reached its staging delete (nothing else ever removes a manifest;
    // the recursive delete may still be mid-flight, so the staging dir's
    // own existence proves nothing): success, not failure — failing the
    // write job here would push an application into a duplicate retry of
    // rows that actually landed.
    val lines = FsPublish.read(fs, manifestPath(staging))(FsPublish.linesOf) match {
      case Some(ls) => ls
      case None => return
    }
    val (markerLines, rest0) = lines.partition(_.startsWith("!"))
    val (schemaLines, rest) = rest0.partition(_.startsWith("@"))
    val (removalLines, addLines) = rest.partition(_.startsWith("~"))
    val adds: Seq[(String, Option[ZoneMap.FileStats])] = addLines.map { line =>
      val cut = line.indexOf('\t')
      if (cut < 0) (line, None)
      // a stats blob that does not decode (FS corruption — the atomic
      // rename above keeps torn manifests out) degrades to a stats-less
      // add: the file commits and scans un-pruned, the table never wedges
      else (line.substring(0, cut),
        scala.util.Try(ZoneMap.decode(line.substring(cut + 1))).toOption)
    }
    // adds before removals: a replayed swap must never pass through a state
    // with the rows missing (duplicates inside the crash window are the
    // maintenance contract's to exclude — see GraftTableOptimize); a file
    // the other replayer already moved counts as moved
    FsPublish.promote(fs, adds.map { case (n, _) => new Path(staging, n) -> new Path(table, n) })
    // membership record after the physical adds: a log-resolving reader in
    // either window sees a complete table (old membership before the record
    // lands, new membership after) — never a reference to a missing file.
    // Removals are LOGICAL: the record retires the file from membership but
    // the bytes stay on disk, so an AS-OF snapshot issued before the swap
    // still reads them — physical deletion is retention policy, owned by
    // [[GraftTableOptimize.vacuum]] (and OPTIMIZE's inline reclaim once the
    // retiring records themselves fold away).
    val seq = appendLogRecord(fs, table, staging,
      adds.map(_._1), removalLines.map(_.substring(1)))
    // schema epoch AFTER the membership record, stamped with the SEQ THE
    // CAS ACTUALLY WON — the only seq that is correct under concurrency
    // and replay (a locally-guessed max+1 would let a late heal-replay of
    // a crashed evolving commit stamp its STALE epoch above newer ones,
    // and two concurrent evolvers tie one m-seq with different JSON). The
    // window between the two renames is bounded and self-closing: any
    // writer or heal-capable reader completes the commit (healQuietly runs
    // before schema resolution), so only a READ-ONLY session inside the
    // crash window resolves new files under the previous epoch — sound for
    // appended columns (they read as absent), LOUD (failed decode, never
    // silent) for a type widening, and for a nullability widening the
    // null-introducing paths under our control (UPDATE/MERGE) publish
    // their widened epoch BEFORE their swap instead, inside their
    // exclusive maintenance window (GraftTableOptimize.epochWideningJson).
    schemaLines.headOption.foreach(sl =>
      appendSchemaRecord(fs, table, staging, seq, sl.substring(1)))
    // sidecar BEFORE the staging delete: a crash between the two replays
    // this commit (manifest still present) and overwrites the same
    // zm-<queryId> idempotently; a crash before it replays the same way.
    // File names are queryId-unique, so the entry can never describe a
    // different file than the one just renamed.
    ZoneMap.write(fs, table, staging.getName.stripPrefix(StagingPrefix),
      adds.collect { case (n, Some(s)) => (n, s) })
    markerLines.foreach { m =>
      fs.create(new Path(new Path(table, "_commits"), m.substring(1)), true).close()
    }
    fs.delete(staging, true)
  }

  /** Reader-side recovery: complete PUBLISHED commits (manifest present)
    * left in staging by a crashed writer. Unlike [[recover]] it never
    * deletes an unmanifested staging dir — that may belong to a LIVE
    * writer mid-stage; completing a published commit is safe under the
    * single-writer contract because its writer has passed the commit point
    * and every roll-forward step is idempotent. A staging dir that
    * vanishes mid-heal was completed concurrently — not an error.
    */
  def healPublished(fs: FileSystem, table: Path): Unit =
    if (fs.exists(table) && fs.getFileStatus(table).isDirectory) {
      stagingDirs(fs, table).foreach { st =>
        try { if (fs.exists(manifestPath(st.getPath))) commit(fs, table, st.getPath) }
        catch { case _: java.io.FileNotFoundException => () }
      }
    }

  /** Read-path healing: best-effort [[healPublished]]. A pure reader may
    * hold read-only credentials, and healing MUTATES the table (renames,
    * log appends); the log already excludes an unrolled commit, so current
    * log membership is consistent — healing is a freshness improvement
    * there, not a consistency requirement. A heal that fails (permissions,
    * transient IO) logs a warning and the scan proceeds on current
    * membership; write jobs keep the hard-failing [[recover]].
    */
  def healQuietly(fs: FileSystem, table: Path): Unit =
    try healPublished(fs, table)
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"read-side heal of $table failed (${e.getMessage}); " +
            "proceeding on current log membership")
    }

  /** Has `marker` been committed (its `!marker` manifest rolled forward)? */
  def markerExists(fs: FileSystem, table: Path, marker: String): Boolean =
    fs.exists(new Path(new Path(table, "_commits"), marker))

  // ------------------------------------------------------------ commit log

  /** Retained membership log: one record per roll-forward under `_log/`,
    * named `c-<seq>-<commitId>` (seq zero-padded for fold ordering;
    * commitId = the staging dir's queryId, so a replayed commit finds its
    * own record and skips). Line format: `fileName\tlength` per add —
    * length is load-bearing, the scan tiles row-group ranges up to it and
    * statistics sum it — and `~fileName` per removal. Membership is
    * adds − removals in ANY order: file names are never reused, so a
    * removed name can never be re-added.
    */
  private[v2] val LogDirName = "_log"

  def logDir(table: Path): Path = new Path(table, LogDirName)

  def logRecordFiles(fs: FileSystem, table: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val d = logDir(table)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).filter(st => st.isFile && st.getPath.getName.startsWith("c-")).toSeq
  }

  def logSeqOf(name: String): Long =
    name.stripPrefix("c-").takeWhile(_.isDigit).toLong

  private[v2] def logIdOf(name: String): String = {
    val rest = name.stripPrefix("c-")
    rest.substring(rest.indexOf('-') + 1)
  }

  /** Is this record a complete history ROOT — a baseline membership folds
    * can stand on? True for the table's first record (seq 0 snapshots the
    * whole directory by construction) and for fold snapshots
    * (`logfold-`/`logbase-` ids). AS-OF resolution requires one at or
    * below its seq; a rootless suffix of deltas (the residue of an
    * interrupted fold's oldest-first deletions) is an incomplete corpus.
    */
  private[v2] def isHistoryRoot(name: String): Boolean =
    logSeqOf(name) == 0L ||
      logIdOf(name).startsWith("logfold-") || logIdOf(name).startsWith("logbase-")

  /** fileName → length for every committed member, or None when the table
    * carries no log (legacy tables and plain parquet directories — the
    * caller falls back to the directory listing).
    */
  private[v2] def logMembership(fs: FileSystem, table: Path,
      asOfSeq: Option[Long] = None): Option[Map[String, Long]] = {
    // a reader can list records just before a concurrent foldLog deletes
    // the superseded ones: re-list and re-read (the fold's snapshot carries
    // the same membership). Bounded retries — if records keep vanishing
    // without a fold snapshot appearing, that is real damage, fail loudly.
    var attempt = 0
    while (true) {
      try return logMembershipOnce(fs, table, asOfSeq)
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1; if (attempt > 3) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Highest committed log sequence — the snapshot handle an AS-OF read
    * names (`option("graft.asOfSeq", seq)`); None on tables without a log.
    */
  def currentSeq(fs: FileSystem, table: Path): Option[Long] = {
    val recs = logRecordFiles(fs, table)
    if (recs.isEmpty) None
    else Some(recs.map(st => logSeqOf(st.getPath.getName)).max)
  }

  private def logMembershipOnce(fs: FileSystem, table: Path,
      asOfSeq: Option[Long]): Option[Map[String, Long]] = {
    val all = logRecordFiles(fs, table)
    val recs = asOfSeq match {
      case None => all
      case Some(seq) =>
        // history exists only back to the last fold (foldLog renumbers):
        // an unreachable snapshot must fail loudly, never read as empty —
        // and a seq ABOVE the highest commit is equally invalid (a handle
        // from the wrong table, or a typo): accepting it would read
        // current membership today and a DIFFERENT corpus after more
        // ingest, silently breaking the reproducibility contract
        require(all.nonEmpty, s"no commit log at $table — nothing to time-travel")
        val seqs = all.map(st => logSeqOf(st.getPath.getName))
        require(seq <= seqs.max,
          s"snapshot seq=$seq is beyond this table's history (highest committed seq is " +
            s"${seqs.max}) — not a handle this table ever issued")
        val kept = all.filter(st => logSeqOf(st.getPath.getName) <= seq)
        require(kept.nonEmpty,
          s"snapshot seq<=$seq is not available at $table (folded away or before first commit; " +
            s"earliest retained seq is ${seqs.min})")
        kept
    }
    if (recs.isEmpty) None
    else {
      // the resolved set must CONTAIN a valid history root — the table's
      // first record (seq 0, a complete snapshot by construction) or a
      // fold snapshot. A fold deletes superseded records oldest-first
      // AFTER publishing its base, so an interrupted fold can leave a
      // rootless suffix of deltas below the base seq: a handle resolving
      // inside that suffix would fold only those deltas and silently serve
      // an INCOMPLETE corpus — the exact silent-wrong-answer the AS-OF
      // contract forbids (an intact log always reaches a root through the
      // base). The same check guards CURRENT membership: a log whose every
      // root is missing is real damage (lost records), and failing loudly
      // beats serving the partial table as if it were whole.
      require(recs.exists(st => isHistoryRoot(st.getPath.getName)),
        s"commit log at $table has no history root among the " +
          s"${asOfSeq.fold("retained")(s => s"seq<=$s")} records — an interrupted fold " +
          "is retiring this handle, or records were lost; refusing to serve an " +
          "incomplete corpus (re-run the fold to converge, then use a handle at or " +
          "above the fold base)")
      val adds = scala.collection.mutable.Map.empty[String, Long]
      val removed = scala.collection.mutable.Set.empty[String]
      def fold(source: Path, lines: Seq[String]): Unit =
        lines.foreach { line =>
          if (line.startsWith("~")) removed += line.substring(1)
          else if (line.startsWith(">")) {
            // a SHARDED base record: the line points at an immutable,
            // content-addressed membership shard under _log — the reader
            // streams shard-by-shard, so a base over millions of files is
            // never one driver-sized record read or fold rewrite. A shard
            // deleted by a concurrent fold throws FileNotFoundException,
            // which the caller's bounded retry absorbs (the new base
            // carries equivalent membership).
            val shard = new Path(logDir(table), line.substring(1))
            fold(shard, FsPublish.lines(fs, shard))
          } else {
            val cut = line.indexOf('\t')
            // the record was published by an atomic rename, so a malformed
            // line is real FS corruption — failing the plan loudly beats
            // silently planning a torn scan with a wrong file length
            require(cut > 0, s"corrupt log record $source: '$line'")
            adds.put(line.substring(0, cut), line.substring(cut + 1).trim.toLong)
          }
        }
      recs.foreach(st => fold(st.getPath, FsPublish.lines(fs, st.getPath)))
      Some(adds.filterNot { case (n, _) => removed(n) }.toMap)
    }
  }

  /** Every file name some RETAINED log record still references as an add —
    * the reachability set of the table's surviving snapshots. A file in
    * this set may be retired from CURRENT membership yet still readable
    * through `graft.asOfSeq`; a `.parquet` on disk that is in neither
    * current membership nor this set is unreferenced by every reachable
    * snapshot and safe to reclaim ([[GraftTableOptimize.vacuum]]).
    */
  def logReferencedFiles(fs: FileSystem, table: Path): Set[String] =
    logReferencedFiles(fs, table, logRecordFiles(fs, table))

  /** As above, over records the caller already listed — fsck and other
    * multi-question probes pay ONE `_log` listing, not one per question.
    */
  def logReferencedFiles(fs: FileSystem, table: Path,
      records: Seq[org.apache.hadoop.fs.FileStatus]): Set[String] =
    records.iterator.flatMap(st =>
      expandAddNames(fs, table, FsPublish.lines(fs, st.getPath))).toSet

  /** The ADD file names of a record's lines, with sharded-base pointer
    * lines (`>shard`) resolved — every reachability question must see
    * through the tiering or a shard's files would read as unreferenced.
    */
  private[v2] def expandAddNames(fs: FileSystem, table: Path,
      lines: Seq[String]): Iterator[String] =
    lines.iterator.flatMap { line =>
      if (line.startsWith("~")) Iterator.empty
      else if (line.startsWith(">"))
        expandAddNames(fs, table,
          FsPublish.lines(fs, new Path(logDir(table), line.substring(1))))
      else {
        val cut = line.indexOf('\t')
        Iterator.single(if (cut < 0) line else line.substring(0, cut))
      }
    }

  /** Test seam for the commit race: invoked between sequence computation
    * and record publication, where a concurrent committer's record can
    * appear. Production value is a no-op; specs inject a competing record
    * here to drive the CAS arbitration deterministically.
    */
  private[graft] var raceInjection: () => Unit = () => ()

  /** Does `mine` hold sequence `seq` uncontested (or win the tie)? Peers
    * exclude fold BASE records (`logbase-` — membership-identical crash
    * residue of a retention fold, cleared by the next fold); a `logfold-`
    * snapshot or another commit's record at the same seq is a real peer.
    * Ties are broken by record NAME (lexicographic minimum wins): both
    * sides of a race compute the same winner from the same listing.
    */
  private def winsAt(names: Seq[String], seq: Long, mine: String): Boolean = {
    val peers = names.filter(n =>
      n != mine && logSeqOf(n) == seq && !logIdOf(n).startsWith("logbase-"))
    peers.isEmpty || peers.forall(mine < _)
  }

  /** How many CAS attempts before declaring pathological contention. Each
    * retry re-lists the log and lands at a strictly higher sequence, so 16
    * losses in a row means 16 distinct commits landed during this one —
    * far beyond any sane concurrency on one table.
    */
  private val MaxCommitAttempts = 16

  /** Publish this commit's membership delta, idempotently by commitId, and
    * return the sequence it holds (the existing record's on replay). Runs
    * inside the roll-forward AFTER adds are physically in the table
    * (lengths are read off the landed files); removed files stay on disk
    * (logical removal), so log-resolved membership — current or AS-OF —
    * never references a missing file. The FIRST record of a pre-log table
    * snapshots the existing directory listing (minus this commit's
    * removals), so the log is complete from its first record on.
    *
    * CONCURRENCY: optimistic, a bounded CAS loop. Two legal writers can
    * both compute `max + 1`; after publishing, each re-lists and checks it
    * holds its sequence uncontested ([[winsAt]]). The loser retracts its
    * record and retries at a fresh sequence — so a fleet of append jobs
    * all land, at distinct seqs, with union membership; nobody's batch is
    * aborted for racing. Conflict validation before each (re)publish: an
    * APPEND (no removals) is always safe to re-sequence, while a
    * MAINTENANCE swap must re-prove every file it retires is still a
    * member — an interleaved swap that already retired one means this
    * swap's packed adds were built from stale inputs, and re-appending
    * would duplicate rows; that fails loudly instead.
    *
    * Two windows are deliberately tolerated, both benign:
    *  - a tie that escapes detection (each side listed before the other's
    *    rename) leaves TWO records at one seq; membership folds them
    *    commutatively (adds/removes are name-keyed and names are never
    *    reused), fold order is (seq, name)-deterministic, and an AS-OF at
    *    that seq includes both — each writer's receipt still names a state
    *    containing its batch. fsck reports the tie informationally.
    *  - a retracting loser's delta is VISIBLE between its rename and its
    *    retract; a reader folding that instant sees rows that re-land at
    *    the next seq moments later — read-uncommitted of a commit that
    *    completes, same as seeing any record before its writer returns.
    *
    * The sanctioned replay concurrency (reader heals completing a
    * published commit alongside the writer's own roll-forward) shares a
    * commitId and therefore a record name: whoever loses the rename
    * observes the winner's identical record and returns its seq.
    */
  private def appendLogRecord(fs: FileSystem, table: Path, staging: Path,
      adds: Seq[String], removes: Seq[String]): Long = {
    val commitId = staging.getName.stripPrefix(StagingPrefix)
    def lenOf(n: String): Long = fs.getFileStatus(new Path(table, n)).getLen
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val recs = logRecordFiles(fs, table)
      val names = recs.map(_.getPath.getName)
      names.find(n => logIdOf(n) == commitId) match {
        case Some(existing) =>
          val seq = logSeqOf(existing)
          // replayed commit. If it landed as a tie it stays — retracting a
          // record that may already be folded into a base, or that a
          // reader already resolved, risks more than the tie costs.
          return seq
        case None =>
          val seq = if (recs.isEmpty) 0L else names.map(logSeqOf).max + 1L
          val lines: Seq[String] =
            if (recs.isEmpty) {
              // bootstrap: lengths come off the listing itself — no
              // per-file re-stat round-trips on a large legacy table
              val gone = removes.toSet
              listByDirectory(fs, table)
                .filterNot(st => gone(st.getPath.getName))
                .map(st => (st.getPath.getName, st.getLen)).sortBy(_._1)
                .map { case (n, len) => s"$n\t$len" }
            } else adds.sorted.map(n => s"$n\t${lenOf(n)}") ++ removes.sorted.map("~" + _)
          // maintenance conflict validation: every removal must still be a
          // member under the log as listed for THIS attempt. Append-only
          // commits skip (nothing to invalidate); a swap re-proves its
          // inputs on every retry, paying O(retained records) reads only
          // on the rare maintenance path.
          if (removes.nonEmpty && recs.nonEmpty) {
            val members = logMembership(fs, table).getOrElse(Map.empty)
            val gone = removes.filterNot(members.contains)
            require(gone.isEmpty,
              s"maintenance swap conflict at $table: ${gone.take(3).mkString(", ")}" +
                s"${if (gone.length > 3) s" (+${gone.length - 3} more)" else ""} " +
                "already left membership — a concurrent maintenance op retired them, " +
                "so this swap's packed adds were built from stale inputs; aborting " +
                "loudly instead of duplicating rows")
          }
          fs.mkdirs(logDir(table))
          raceInjection()
          // temp + rename: the record's appearance is atomic; tmp lives in
          // the staging dir, which the roll-forward deletes anyway (a
          // concurrent heal of the same published commit can win the rename)
          val name = f"c-$seq%012d-$commitId"
          val target = new Path(logDir(table), name)
          val published =
            try {
              FsPublish.publish(fs, new Path(staging, s"logrec-${System.nanoTime()}.tmp"), target)(
                _.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8)))
              true
            } catch {
              // that heal finished first at another seq and swept the
              // staging dir, temp included: the next lap lists its record
              case _: java.io.FileNotFoundException if !fs.exists(staging) => false
            }
          // CAS verification: re-list and arbitrate. Winner keeps the seq;
          // loser retracts and re-sequences on the next lap.
          if (published) {
            if (winsAt(logRecordFiles(fs, table).map(_.getPath.getName), seq, name))
              return seq
            fs.delete(target, false)
          }
      }
    }
    throw new IllegalStateException(
      s"commit-log CAS at $table lost $MaxCommitAttempts consecutive races — " +
        "pathological contention; retry the write job")
  }

  // ---------------------------------------------------- schema evolution

  /** Schema metadata records: `m-<seq>-<commitId>` under `_log/`, holding
    * the Spark schema JSON of the epoch that begins at log sequence `seq`.
    * Published by the roll-forward from the manifest's `@` line whenever
    * the writer's schema differs from the table's current epoch, so the
    * log carries the schema HISTORY alongside membership: a current read
    * resolves the newest epoch, an AS-OF read resolves the epoch at its
    * sequence (the old schema, not the new one with nulls). Files older
    * than an epoch simply lack its new columns — the reader backfills
    * NULL per file, so evolution is one metadata record, never a rewrite
    * (the 100 TB point: a years-lived ingest table grows columns for the
    * price of one small write).
    */
  def schemaRecordFiles(fs: FileSystem, table: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val d = logDir(table)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).filter(st => st.isFile && st.getPath.getName.startsWith("m-")).toSeq
  }

  def schemaSeqOf(name: String): Long =
    name.stripPrefix("m-").takeWhile(_.isDigit).toLong

  private def schemaIdOf(name: String): String = {
    val rest = name.stripPrefix("m-")
    rest.substring(rest.indexOf('-') + 1)
  }

  /** The admissible TYPE WIDENINGS between epochs — value-preserving
    * upcasts the reader performs per file. ONE definition shared by
    * plan-time acceptance ([[GraftParquetTable.newWriteBuilder]]) and
    * commit-time epoch validation ([[appendSchemaRecord]]): if the two
    * ever disagreed, a write could be accepted at plan time and then die
    * AFTER its files are physically in the table.
    */
  private[v2] def typeWidens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** Merge one epoch field forward: nullability is MONOTONE (ever-nullable
    * stays nullable), prior field metadata carries (widenedFrom evidence
    * must survive later epochs), and a float→double widening gains the
    * [[GraftScan.WidenedFromKey]] marker pruning depends on.
    */
  private[v2] def mergeEpochField(prev: StructField, incoming: StructField): StructField = {
    // always a UNION of prior and incoming metadata (incoming wins on
    // overlapping keys): a writer frame carrying unrelated field metadata
    // must never evict the prior epoch's widenedFrom marker — losing it
    // would switch float-era zone bounds back to exact-double parsing and
    // silently prune files that hold matching rows
    val merged = new MetadataBuilder()
      .withMetadata(prev.metadata).withMetadata(incoming.metadata)
    val md =
      if (prev.dataType == FloatType && incoming.dataType == DoubleType)
        merged.putString(GraftScan.WidenedFromKey, "float").build()
      else merged.build()
    incoming.copy(nullable = incoming.nullable || prev.nullable, metadata = md)
  }

  /** The table's schema epoch current at `asOfSeq` (or the newest with
    * None): the highest-seq metadata record at or below the bound. None on
    * tables that have never published one (pre-evolution tables — the
    * caller falls back to parquet inference, sound because such a table
    * has a single epoch by construction).
    */
  def latestSchemaAt(fs: FileSystem, table: Path, asOfSeq: Option[Long]): Option[StructType] = {
    val recs = schemaRecordFiles(fs, table)
    val eligible = asOfSeq match {
      case None => recs
      case Some(s) => recs.filter(st => schemaSeqOf(st.getPath.getName) <= s)
    }
    if (eligible.isEmpty) None
    else {
      // ties on seq (a replay racing a heal) carry identical JSON by
      // commitId-idempotence; name order makes the pick deterministic
      val best = eligible.maxBy(st => (schemaSeqOf(st.getPath.getName), st.getPath.getName))
      val json = FsPublish.lines(fs, best.getPath).mkString("\n")
      DataType.fromJson(json) match {
        case st: StructType => Some(st)
        case other => throw new graft.GraftDataError(
          s"corrupt schema record ${best.getPath}: expected a struct, got $other")
      }
    }
  }

  /** Publish a schema epoch for this commit, idempotently by commitId and
    * only when it DIFFERS from the current epoch — identical-schema writes
    * (the overwhelmingly common case) add nothing, so the schema history
    * stays O(evolutions), not O(commits).
    */
  private[v2] def appendSchemaRecord(fs: FileSystem, table: Path, staging: Path,
      seq: Long, schemaJson: String): Unit = {
    val commitId = staging.getName.stripPrefix(StagingPrefix)
    val recs = schemaRecordFiles(fs, table)
    if (recs.exists(st => schemaIdOf(st.getPath.getName) == commitId)) return // replayed
    val incoming = DataType.fromJson(schemaJson) match {
      case st: StructType => st
      case other => throw new graft.GraftDataError(
        s"manifest schema line is not a struct: $other")
    }
    // nullability is MONOTONE across epochs (the write builder already
    // widens; re-widening here keeps hand-built manifests sound too): a
    // column that was ever nullable stays nullable — files from the
    // permissive epoch may hold nulls forever, and a non-nullable epoch
    // over them would let Spark miscompile null checks away. Types may
    // only WIDEN ([[typeWidens]]) — a narrowing epoch over wide files
    // would truncate values, so hand-built manifests die here too. The
    // float→double marker and any prior field metadata carry forward
    // ([[mergeEpochField]]).
    val prev = latestSchemaAt(fs, table, None)
    val epoch = prev match {
      case None => incoming
      case Some(p) => StructType(incoming.fields.zipWithIndex.map { case (f, i) =>
        if (i < p.fields.length && p.fields(i).name == f.name) {
          val pf = p.fields(i)
          if (pf.dataType != f.dataType && !typeWidens(pf.dataType, f.dataType))
            throw new graft.GraftDataError(
              s"schema epoch may not change '${f.name}' from ${pf.dataType.catalogString} " +
                s"to ${f.dataType.catalogString} (only int->long / float->double widening)")
          mergeEpochField(pf, f)
        } else f.copy(nullable = true)
      })
    }
    if (prev.contains(epoch)) return // same epoch
    FsPublish.publish(fs, new Path(staging, s"schemarec-${System.nanoTime()}.tmp"),
      new Path(logDir(table), f"m-$seq%012d-$commitId"))(
      _.write(epoch.json.getBytes(StandardCharsets.UTF_8)))
  }

  /** Raw directory listing of data files — the LEGACY membership (tables
    * without a `_log`) and fsck's physical cross-check against the log.
    */
  private[v2] def listByDirectory(fs: FileSystem, table: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(table)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).toSeq

  /** The table's committed data files — THE definition of table membership
    * (directories, sidecars, staging and receipts excluded), shared by the
    * scan, the metadata aggregates, OPTIMIZE, fsck, and the prune report so
    * they can never disagree about what is in the table. Resolved from the
    * commit log when the table has one (O(commits) small reads, lengths
    * exact because data files are immutable); the directory listing is the
    * fallback for plain parquet directories and pre-log tables.
    */
  def listDataFiles(fs: FileSystem, table: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    listDataFiles(fs, table, None)

  /** Membership, optionally AS OF a log sequence (snapshot read): only the
    * records with seq <= asOfSeq contribute. Exact and free on append-only
    * tables (every historical file still exists) — and across OPTIMIZE,
    * because removals are logical and vacuum never collects a file a
    * retained record references. A snapshot only dies when foldLog retires
    * its records past the retention horizon, and then it fails loudly at
    * plan time ("folded away"), never by dangling file.
    */
  def listDataFiles(fs: FileSystem, table: Path,
      asOfSeq: Option[Long]): Seq[org.apache.hadoop.fs.FileStatus] =
    if (fs.getFileStatus(table).isDirectory)
      logMembership(fs, table, asOfSeq) match {
        case Some(members) =>
          members.toSeq.sortBy(_._1).map { case (n, len) =>
            new org.apache.hadoop.fs.FileStatus(len, false, 1, 0L, 0L, new Path(table, n))
          }
        // None is only reachable without asOfSeq: a log-less table under
        // an AS-OF request already failed inside logMembership
        case None => listByDirectory(fs, table)
      }
    else Seq(fs.getFileStatus(table))

  /** Spark schema → parquet message type, restricted to the primitive
    * columns the reader evaluates ([[GraftScan.evaluable]]'s type set) so
    * everything written through the connector reads back with full pushdown.
    */
  def toMessageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      f.dataType match {
        case LongType => b.addField(Types.primitive(INT64, rep).named(f.name))
        case IntegerType => b.addField(Types.primitive(INT32, rep).named(f.name))
        case DoubleType => b.addField(Types.primitive(DOUBLE, rep).named(f.name))
        case FloatType => b.addField(Types.primitive(FLOAT, rep).named(f.name))
        case BooleanType => b.addField(Types.primitive(BOOLEAN, rep).named(f.name))
        case StringType => b.addField(Types.primitive(BINARY, rep)
          .as(LogicalTypeAnnotation.stringType()).named(f.name))
        case other => throw new graft.GraftConfigError(
          s"graft-parquet write supports primitive columns only; '${f.name}' is $other")
      }
    }
    b.named("graft_schema")
  }
}

final case class GraftWriteBuilder(path: String, info: LogicalWriteInfo,
    epochSchema: StructType, publishEpoch: Boolean) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      // fail at plan time on an unwritable schema, not per-task
      GraftParquetWrite.toMessageType(info.schema())
      // optional exactly-once receipt: `.option("graft.commitMarker", m)`
      // adds a `!m` manifest line, so _commits/m appears atomically with
      // the data (TableIngest keys streaming batch dedup on it)
      GraftBatchWrite(path, info.queryId(), info.schema(),
        Option(info.options().get("graft.commitMarker")).filter(_.nonEmpty),
        epochSchema, publishEpoch)
    }
  }
}

final case class GraftBatchWrite(path: String, queryId: String, schema: StructType,
    commitMarker: Option[String] = None, epochSchema: StructType = new StructType(),
    publishEpoch: Boolean = true)
    extends BatchWrite {

  private def withFs[T](body: (FileSystem, Path) => T): T = {
    val table = new Path(path)
    body(table.getFileSystem(HadoopConf.shared), table)
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    withFs { (fs, table) =>
      // complete any PUBLISHED predecessor before staging next to it, but
      // never sweep an unmanifested staging dir — under optimistic
      // concurrency it may belong to a LIVE concurrent appender mid-stage
      // (the old recover() here was how two legal writers killed each
      // other). Crash garbage without a manifest is invisible to readers
      // and is reclaimed by maintenance (vacuum past the grace).
      GraftParquetWrite.healPublished(fs, table)
      fs.mkdirs(GraftParquetWrite.stagingDir(table, queryId))
    }
    GraftWriterFactory(path, queryId, schema)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = withFs { (fs, table) =>
    val entries = messages.collect { case GraftCommitMessage(name, stats) => (name, stats) }.toSeq
    // the (nullability-widened) schema epoch rides the manifest only when
    // the PLAN-TIME comparison saw it differ from the table's resolved
    // schema (first commit, evolution, or nullability widening): a
    // steady-state append then pays ZERO schema metadata IO in the
    // roll-forward — no `_log` re-listing, no epoch-record read per commit
    // (on an object store those were paid LIST/GET calls on the hot ingest
    // path). appendSchemaRecord stays idempotent-and-compare-on-publish for
    // the rare commits that do carry the line.
    val epoch = if (epochSchema.isEmpty) schema else epochSchema
    val lines = entries.map { case (n, s) => s"$n\t${ZoneMap.encode(s)}" } ++
      commitMarker.map("!" + _) ++
      (if (publishEpoch) Seq("@" + epoch.json) else Nil)
    GraftParquetWrite.commitLines(fs, table, GraftParquetWrite.stagingDir(table, queryId), lines)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = withFs { (fs, table) =>
    fs.delete(GraftParquetWrite.stagingDir(table, queryId), true)
  }
}

final case class GraftCommitMessage(fileName: String, stats: ZoneMap.FileStats)
    extends WriterCommitMessage

final case class GraftWriterFactory(path: String, queryId: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(path, queryId, schema, partitionId, taskId)
}

/** Executor-side writer: parquet-hadoop example API (the mirror of the
  * reader's [[GraftPartitionReader]]); one file per task, named
  * queryId-uniquely so commit renames can never collide across jobs.
  */
final class GraftDataWriter(
    path: String, queryId: String, schema: StructType, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val fileName = s"part-$queryId-$partitionId-$taskId.parquet"
  private val staged =
    new Path(GraftParquetWrite.stagingDir(new Path(path), queryId), fileName)
  private val msgType = GraftParquetWrite.toMessageType(schema)
  private val factory = new SimpleGroupFactory(msgType)
  // zone-map statistics ride along for free: the task sees every row it
  // writes, so min/max/null-count cost one comparison per column per row
  private val stats = new ZoneMap.Collector(schema)

  private val writer: ParquetWriter[Group] = {
    // a copy: the builder may set keys on the conf it is handed
    ExampleParquetWriter.builder(staged).withConf(HadoopConf.copy()).withType(msgType).build()
  }

  override def write(row: InternalRow): Unit = {
    stats.observe(row)
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        val f = schema(i)
        f.dataType match {
          case LongType => g.append(f.name, row.getLong(i))
          case IntegerType => g.append(f.name, row.getInt(i))
          case DoubleType => g.append(f.name, row.getDouble(i))
          case FloatType => g.append(f.name, row.getFloat(i))
          case BooleanType => g.append(f.name, row.getBoolean(i))
          case StringType => g.append(f.name, row.getUTF8String(i).toString)
          case other => throw new graft.GraftConfigError(
            s"unreachable: '${f.name}' ($other) was gated at plan time")
        }
      }
      i += 1
    }
    writer.write(g)
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    GraftCommitMessage(fileName, stats.result)
  }

  override def abort(): Unit = {
    writer.close()
    val fs = staged.getFileSystem(HadoopConf.shared)
    if (fs.exists(staged)) fs.delete(staged, false)
  }

  override def close(): Unit = ()
}
