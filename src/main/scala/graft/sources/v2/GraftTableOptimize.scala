package graft.sources.v2

import graft.sources.ParquetRead

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** OPTIMIZE for graft-parquet tables: bin-pack small committed files toward
  * `targetBytes`, crash-anywhere-safely, and fold the per-commit `_zonemap`
  * sidecars to one file.
  *
  * Why this exists: the connector's append model (one staged commit per
  * write job, one file per task) is the right durability unit, but a table
  * fed by many incremental appends accumulates many small files — at 100 TB
  * the planner pays a footer read per file and tasks go IO-bound on open
  * costs (the classic small-file problem). OPTIMIZE is the standard
  * amortized answer: rewrite the small tail into ~targetBytes files, leave
  * the already-big files alone.
  *
  * Protocol — the SAME manifest roll-forward as every write
  * ([[GraftParquetWrite]]), extended with removal lines:
  *
  *  1. the packed replacement files are written (distributed, through the
  *     connector itself, so their zone-map stats are collected on the way)
  *     into a standalone mini-table INSIDE the staging dir — underscore
  *     prefix keeps all of it invisible to readers;
  *  2. the driver moves the packed files to the staging root under
  *     optimize-unique names and writes the staging manifest: one
  *     `name\t<stats json>` add line per packed file plus one `~name`
  *     removal line per consumed small file (data file names always start
  *     with `part-`, so `~` is unambiguous) — the manifest write is the
  *     commit point;
  *  3. roll-forward: adds rename in, removals delete, the zone-map entry
  *     for the adds is written, staging drops. Replay after a crash
  *     anywhere converges: renames are idempotent-by-absence, deletes are
  *     idempotent-by-absence, the sidecar write overwrites its own file.
  *  4. sidecar fold: one `zm-optfold-<id>` carrying every SURVIVING file's
  *     entry is written, then the superseded zm files drop. Both windows
  *     are safe: duplicate entries agree (names are never reused) and a
  *     stale entry names a file the listing no longer returns.
  *
  * Contract: single writer, maintenance window — like
  * [[graft.streaming.Bm25Index.compact]], OPTIMIZE assumes no concurrent
  * reader mid-swap (a reader racing step 3 can see a packed file and a
  * not-yet-deleted source together). Crash recovery restores exactness
  * before the next read: every write job and OPTIMIZE itself run
  * [[GraftParquetWrite.recover]] first.
  */
object GraftTableOptimize {

  final case class OptimizeReport(
      filesBefore: Int, filesAfter: Int, filesRewritten: Int,
      bytesRewritten: Long, zmSidecarsBefore: Int, zmSidecarsAfter: Int,
      logRecordsBefore: Int, logRecordsAfter: Int, filesReclaimed: Int = 0)

  /** Rewrite committed files smaller than `smallBytes` into ~targetBytes
    * packed files. No-op (beyond recovery + sidecar folding) when fewer
    * than `minGroup` small files exist — one small file gains nothing from
    * a rewrite.
    *
    * `clusterBy` additionally RANGE-CLUSTERS the rewrite (sampled range
    * partitioning + an intra-file sort on the same key): each packed file
    * then carries a tight, near-disjoint min/max interval on the key, so
    * zone-map pruning works even when the original appends interleaved key
    * ranges and every file's [min,max] spanned the whole domain. This is
    * the data-layout half of data skipping. Lexicographic range clustering
    * is honest about multi-column keys: it clusters by the LEADING column
    * and the second key's per-file span stays wide — for two independently
    * selective dimensions use `zOrderBy` instead, which quantile-buckets
    * both columns, interleaves the bucket indices into a Morton key
    * (the [[graft.sinks.Sinks.writeZOrdered]] kernel, codegen'd), and
    * clusters on that: every packed file then covers a tight BOX, so the
    * zone map prunes predicates on either column or both. Either
    * clustering forces one shuffle of the rewritten tail (z-order adds two
    * driver-side quantile sketches); plain packing stays shuffle-free via
    * coalesce.
    */
  def optimize(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024, smallBytes: Long = 32L * 1024 * 1024,
      minGroup: Int = 2, clusterBy: Seq[String] = Nil,
      zOrderBy: Option[(String, String)] = None, zBits: Int = 8,
      retainLog: Int = 8): OptimizeReport = {
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy are alternative layouts — pass one")
    // smallBytes may exceed targetBytes: "rewrite everything toward a
    // smaller target" is the re-layout form a clusterBy pass wants
    require(targetBytes > 0 && smallBytes > 0,
      s"need positive smallBytes/targetBytes, got $smallBytes/$targetBytes")
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(table), s"no table at $path")
    GraftParquetWrite.recover(fs, table)

    def dataFiles() = GraftParquetWrite.listDataFiles(fs, table)
    val before = dataFiles()
    val small = before.filter(_.getLen < smallBytes)
    val zmBefore = zmFiles(fs, table).length
    val logBefore = GraftParquetWrite.logRecordFiles(fs, table).length

    if (small.length < minGroup) {
      val folded = foldSidecars(fs, table)
      val logAfter = foldLog(fs, table, retainLog)
      return OptimizeReport(before.length, before.length, 0, 0L, zmBefore, folded,
        logBefore, logAfter)
    }

    // optimize-unique id: names must never collide with a past or future
    // commit's (write names embed Spark queryIds; this embeds time + nonce,
    // the TombstoneLog discipline)
    val optId = maintenanceId("opt")
    val staging = GraftParquetWrite.stagingDir(table, optId)
    fs.mkdirs(staging)

    // 1. the tail reads under the CURRENT schema epoch (an epoch-spanning
    //    repack must not adopt one file's pre-evolution shape) and shapes
    //    into the declared layout
    val bytes = small.map(_.getLen).sum
    val nOut = outputFiles(bytes, targetBytes)
    val tail = readUnderCurrentEpoch(spark, fs, table, small.map(_.getPath.toString))
    import org.apache.spark.sql.functions.col
    val shaped = zOrderBy match {
      case Some((a, b)) =>
        val cuts = (1 until (1 << zBits)).map(_.toDouble / (1 << zBits)).toArray
        val Array(boundsA, boundsB) = tail.stat.approxQuantile(Array(a, b), cuts, 0.001)
        val z = graft.functions.HashExpressions.zOrderKey(
          graft.functions.HashExpressions.bucketIndex(col(a).cast("double"), boundsA).cast("long"),
          graft.functions.HashExpressions.bucketIndex(col(b).cast("double"), boundsB).cast("long"),
          zBits)
        tail.withColumn("__zkey", z)
          .repartitionByRange(nOut, col("__zkey"))
          .sortWithinPartitions(col("__zkey"))
          .drop("__zkey")
      case None =>
        if (clusterBy.isEmpty) tail.coalesce(nOut)
        else {
          val keys = clusterBy.map(col)
          tail.repartitionByRange(nOut, keys: _*).sortWithinPartitions(keys: _*)
        }
    }
    // 2. distributed packed write through the connector + move up under
    //    final names; manifest = adds + removals
    val moved = stageRewrite(fs, staging, optId, shaped)
    val lines = addLines(moved) ++ small.map(st => s"~${st.getPath.getName}")

    // 3. commit point + roll-forward (idempotent on replay via recover).
    //    The removals are LOGICAL: the retired small files stay on disk so
    //    AS-OF snapshots issued before this swap keep reading them.
    GraftParquetWrite.commitLines(fs, table, staging, lines)

    // 4. fold the sidecars down to one, and the commit log down to a base
    //    snapshot plus the newest `retainLog` records — the retained tail
    //    is the AS-OF history that survives this maintenance run
    val zmAfter = foldSidecars(fs, table)
    val logAfter = foldLog(fs, table, retainLog)
    // 5. inline reclaim of THIS run's retired files when no record can
    //    reference them: with retainLog = 0 the fold collapsed all history
    //    (the fold-everything contract), and on a BOOTSTRAP run
    //    (logBefore == 0, a pre-log table) the first record ever written
    //    is this swap's directory snapshot MINUS its removals — the
    //    retired files appear in no record at all, so no snapshot can ever
    //    name them and leaving them would leak the whole retired tail.
    //    With retainLog > 0 on an already-logged table the swap record
    //    itself is retained, so every retired file is provably still
    //    referenced — skipping the reachability read saves O(retained
    //    records) small reads per routine run; vacuum owns those files
    //    once later folds age the record out. Only files this run retired
    //    are touched; foreign unlogged files stay vacuum's (grace-gated)
    //    job.
    val reclaimed =
      if (retainLog > 0 && logBefore > 0) Seq.empty[String]
      else {
        val referenced = GraftParquetWrite.logReferencedFiles(fs, table)
        small.map(_.getPath.getName).filterNot(referenced)
      }
    reclaimed.foreach(n => fs.delete(new Path(table, n), false))
    OptimizeReport(before.length, dataFiles().length, small.length, bytes, zmBefore, zmAfter,
      logBefore, logAfter, reclaimed.length)
  }

  /** time+nonce maintenance id (the TombstoneLog discipline): names must
    * never collide with a past or future commit's.
    */
  private def maintenanceId(prefix: String): String =
    // mask, not abs: math.abs(Long.MinValue) is still negative, which would
    // produce an oversized negative-hex suffix once in 2^64
    s"$prefix-${System.currentTimeMillis()}-${(scala.util.Random.nextLong() & 0xFFFFFFL).toHexString}"

  /** Read table files under the CURRENT schema epoch: on an evolved table
    * the files span epochs, and a bare parquet read would adopt one file's
    * schema — dropping the evolved column's values from newer files. With
    * the explicit schema, pre-epoch files backfill NULL and every value
    * survives a rewrite.
    */
  private def readUnderCurrentEpoch(spark: SparkSession, fs: FileSystem, table: Path,
      paths: Seq[String]): DataFrame =
    readUnderEpoch(spark, GraftParquetWrite.latestSchemaAt(fs, table, None), paths)

  /** Same, with the epoch already resolved — multi-read callers pay the
    * `_log` schema lookup once, not per read.
    */
  private def readUnderEpoch(spark: SparkSession, epoch: Option[StructType],
      paths: Seq[String]): DataFrame = {
    val ps = paths.toIndexedSeq
    epoch.fold(ParquetRead(spark, ps: _*))(e => spark.read.schema(e).parquet(ps: _*))
  }

  /** Staging step of every swap (OPTIMIZE's, and the row-level [[swap]]
    * DELETE, UPDATE and MERGE share): write `df` through the connector into
    * the staging mini-table (zone-map stats ride along like any write), move
    * the packed files up under `part-<id>-<i>` names, drop the scaffolding,
    * and return (finalName, stats) for the caller's manifest. One
    * implementation, so the swap protocol can never diverge between
    * maintenance ops.
    */
  private def stageRewrite(fs: FileSystem, staging: Path, id: String,
      df: DataFrame): Seq[(String, Option[ZoneMap.FileStats])] = {
    val packedDir = new Path(staging, "packed")
    df.write.format("graft-parquet").mode("append").save(packedDir.toString)
    val packedStats = ZoneMap.load(fs, packedDir)
    val moved = fs.listStatus(packedDir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .zipWithIndex.map { case (st, i) =>
        val finalName = s"part-$id-$i.parquet"
        require(fs.rename(st.getPath, new Path(staging, finalName)),
          s"stage move failed for ${st.getPath}")
        (finalName, packedStats.get(st.getPath.getName))
      }.toSeq
    fs.delete(packedDir, true) // drop the mini-table scaffolding pre-commit
    moved
  }

  private def addLines(moved: Seq[(String, Option[ZoneMap.FileStats])]): Seq[String] =
    moved.map { case (n, s) => s.map(st => s"$n\t${ZoneMap.encode(st)}").getOrElse(n) }

  /** Output files of a maintenance rewrite of `bytes`: one per
    * `targetBytes`, through the one sizing rule, uncapped.
    */
  private[graft] def outputFiles(bytes: Long, targetBytes: Long): Int =
    graft.Sizing.count(BigInt(bytes), targetBytes, Int.MaxValue)

  /** Shape a maintenance rewrite for the staged write: coalesce to `nOut`
    * files, or — with `clusterBy` — range-repartition plus an intra-file
    * sort so every rewritten file keeps a tight zone on the cluster key
    * (the layout contract deletes/updates/merges must not quietly erode).
    * One implementation, inside the row-level [[swap]].
    */
  private def shapeForWrite(df: DataFrame, nOut: Int, clusterBy: Seq[String]): DataFrame =
    if (clusterBy.isEmpty) {
      // coalesce can never INCREASE partition count: a low-partition input
      // (one post-aggregate source, one giant candidate file) must
      // repartition UP or the write serializes into too-few oversized
      // slabs, violating the targetBytes contract every caller sized for
      if (df.rdd.getNumPartitions < nOut) df.repartition(nOut)
      else df.coalesce(nOut)
    } else {
      val keys = clusterBy.map(org.apache.spark.sql.functions.col)
      df.repartitionByRange(nOut, keys: _*).sortWithinPartitions(keys: _*)
    }

  /** A row-level op's table as [[resolve]] found it, plus the caller's write options. */
  private final case class RowLevel(spark: SparkSession, path: String, fs: FileSystem,
      table: Path, members: Seq[FileStatus], epoch: Option[StructType],
      schema: Option[StructType], targetBytes: Long, purge: Boolean, retainLog: Int,
      clusterBy: Seq[String])

  /** The shared prologue of DELETE, UPDATE and MERGE: crash recovery; when
    * this call purges, convergence of an interrupted purge FIRST, whatever
    * this call's predicate finds (the marker proves a prior purge passed its
    * swap); the members; and the schema epoch, resolved ONCE for
    * validation, pruning and every read (each `latestSchemaAt` is a paid
    * `_log` listing on an object store). `schema` is the epoch, else the
    * first member's footer; None only on an empty table that never had one.
    */
  private def resolve(spark: SparkSession, path: String, targetBytes: Long, purge: Boolean,
      retainLog: Int, clusterBy: Seq[String]): RowLevel = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(table), s"no table at $path")
    GraftParquetWrite.recover(fs, table)
    if (purge && fs.exists(purgePendingMarker(table))) purgeFinalize(spark, fs, path, table)
    val members = GraftParquetWrite.listDataFiles(fs, table)
    val epoch = GraftParquetWrite.latestSchemaAt(fs, table, None)
    val schema = epoch.orElse(members.headOption.map(st =>
      ParquetRead(spark, st.getPath.toString).schema))
    RowLevel(spark, path, fs, table, members, epoch, schema, targetBytes, purge, retainLog,
      clusterBy)
  }

  /** Validate a condition and its assignments against the schema BEFORE
    * any destructive step, on a zero-row frame (no IO): zone pruning can
    * legitimately empty the scan set, and skipping analysis there would let
    * a misspelled column — in the predicate or an assignment — slide
    * straight into purgeFinalize's irreversible history collapse while
    * reporting a successful no-op. DELETE validates as an UPDATE with no
    * assignments.
    *
    * Returns the assigned columns the rewrite can make NULL: those whose
    * expression is nullable over the probe, which carries the epoch's
    * nullability (a parquet read reports every column nullable, so the
    * rewrite's own frame cannot tell).
    */
  private def validateWhere(t: RowLevel, condition: Column,
      set: Seq[(String, Column)]): Set[String] =
    t.schema.fold(Set.empty[String]) { sch =>
      set.foreach { case (name, _) =>
        require(sch.fieldNames.contains(name),
          s"updateWhere assignment targets unknown column '$name' " +
            s"(schema: ${sch.fieldNames.mkString(", ")})")
      }
      val probe = t.spark.createDataFrame(java.util.Collections.emptyList[Row](), sch)
      applyAssignments(probe.filter(condition), sch, condition, set)
        .queryExecution.analyzed: Unit
      probe.select(set.map { case (name, e) => e.cast(sch(name).dataType).as(name) }: _*)
        .schema.filter(_.nullable).map(_.name).toSet
    }

  /** The one swap of DELETE, UPDATE and MERGE — the crash-safe manifest
    * roll-forward OPTIMIZE commits, with `replacement` standing in for the
    * `retired` files:
    *
    *  1. a maintenance-unique staging dir; with `purge`, the purge-pending
    *     marker lands BEFORE the commit point, so every crash window after
    *     rows start disappearing re-runs into purgeFinalize;
    *  2. a replacement that may hold NULLs in the `nullable` columns
    *     (UPDATE's nullable assignments, MERGE's nullable source columns —
    *     never DELETE's subset of the rows) first publishes the
    *     nullability-widened epoch ([[publishWideningEpoch]]);
    *  3. `bytes` sizes the output to ~targetBytes files, and `clusterBy`
    *     keeps the table's layout through the rewrite ([[shapeForWrite]]):
    *     a non-range delete (user_id IN ...) on an event_id-clustered table
    *     intersects MANY disjoint slabs, and a bare coalesce would merge them
    *     into wide-zone files, silently degrading range pruning on the
    *     cluster key until the next OPTIMIZE;
    *  4. stage, commit (adds + one removal line per retired file), fold the
    *     sidecars; then `purge`'s compliance finalization, or the retention
    *     fold of the log.
    *
    * Returns the member count after the swap.
    */
  private def swap(t: RowLevel, kind: String, retired: Seq[FileStatus], bytes: Long,
      replacement: DataFrame, nullable: Set[String]): Int = {
    val id = maintenanceId(kind)
    val staging = GraftParquetWrite.stagingDir(t.table, id)
    t.fs.mkdirs(staging)
    if (t.purge) t.fs.create(purgePendingMarker(t.table), true).close()
    if (nullable.nonEmpty)
      publishWideningEpoch(t.fs, t.table, staging, t.schema.getOrElse(replacement.schema),
        nullable)
    val moved = stageRewrite(t.fs, staging, id,
      shapeForWrite(replacement, outputFiles(bytes, t.targetBytes), t.clusterBy))
    GraftParquetWrite.commitLines(t.fs, t.table, staging,
      addLines(moved) ++ retired.map(st => s"~${st.getPath.getName}"))
    foldSidecars(t.fs, t.table): Unit
    if (t.purge) purgeFinalize(t.spark, t.fs, t.path, t.table)
    else foldLog(t.fs, t.table, t.retainLog): Unit
    GraftParquetWrite.listDataFiles(t.fs, t.table).length
  }

  /** Pruned candidate discovery shared by DELETE and UPDATE: the
    * condition's pushable conjuncts test the zone map driver-side (files
    * the statistics refute are never opened), then ONE pushed-down scan
    * over the survivors counts condition-TRUE rows per file — the
    * candidate set and the exact matched-row count in a single pass.
    */
  private def discoverMatches(t: RowLevel, schema: StructType,
      condition: Column): Map[String, Long] = {
    import org.apache.spark.sql.functions.{count, input_file_name, lit}
    val pushable = pushableConjuncts(condition)
    val scanSet =
      if (pushable.isEmpty) t.members
      else {
        val zm = ZoneMap.load(t.fs, t.table)
        if (zm.isEmpty) t.members
        else t.members.filter(st =>
          zm.get(st.getPath.getName).forall(ZoneMap.mayMatchAll(pushable, _, schema)))
      }
    if (scanSet.isEmpty) Map.empty
    else readUnderEpoch(t.spark, t.epoch, scanSet.map(_.getPath.toString))
      .filter(condition)
      .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("n"))
      .collect().map { r =>
        val u = r.getString(0)
        (u.substring(u.lastIndexOf('/') + 1), r.getLong(1))
      }.toMap
  }

  /** DELETE's and UPDATE's common body: pruned discovery, then — when
    * anything matched — the [[swap]] of every candidate file for `replace`
    * applied to its rows, read under the epoch. A call matching nothing
    * touches no history (an interrupted purge already converged in
    * [[resolve]]). Returns (files rewritten, rows matched, files after).
    */
  private def rewriteWhere(t: RowLevel, kind: String, condition: Column, nullable: Set[String])
      (replace: (DataFrame, StructType) => DataFrame): (Int, Long, Int) = t.schema match {
    case Some(schema) if t.members.nonEmpty =>
      val trueByFile = discoverMatches(t, schema, condition)
      val cands = t.members.filter(st => trueByFile.contains(st.getPath.getName))
      if (cands.isEmpty) (0, 0L, t.members.length)
      else {
        val rows = readUnderEpoch(t.spark, t.epoch, cands.map(_.getPath.toString))
        (cands.length, trueByFile.values.sum, swap(t, kind, cands, cands.map(_.getLen).sum,
          replace(rows, schema), nullable))
      }
    case _ => (0, 0L, 0)
  }

  final case class DeleteReport(
      filesScanned: Int, filesRewritten: Int, rowsDeleted: Long,
      filesAfter: Int, purged: Boolean)

  /** DELETE WHERE on a graft-parquet table — the row-level
    * right-to-be-forgotten primitive, expressed as the crash-safe [[swap]]
    * UPDATE and MERGE share (never a table rebuild):
    *
    *  1. candidate discovery is PRUNED TWICE, then distributed: the
    *     condition's pushable conjuncts test the zone map driver-side
    *     (files the statistics refute are never even opened — on a
    *     clustered 100 TB table a range delete's discovery reads only the
    *     zone-intersecting slabs), and ONE native parquet scan over the
    *     survivors (condition pushed into row-group skipping) counts the
    *     TRUE rows per file (`input_file_name`) — exact `rowsDeleted`,
    *     independent of sidecar health, no second pass;
    *  2. survivors of the candidate files replace them in the swap
    *     manifest — SQL semantics: a row deletes only where the condition
    *     is TRUE (NULL keeps the row);
    *  3. `purge = true` (the compliance default) then folds the log to one
    *     snapshot and runs a zero-grace [[vacuum]]: the deleted bytes are
    *     GONE — including copies inside files EARLIER maintenance retired
    *     but retained as history — and every older AS-OF handle dies
    *     loudly at plan time, necessarily, because those snapshots CONTAIN
    *     the rows being forgotten (the [[graft.streaming.TombstoneLog]]
    *     argument, applied to the table format). Finalization is gated by
    *     a `_log/purge-pending` marker written BEFORE the destructive swap
    *     and cleared after the sweep: a purge interrupted between its swap
    *     and its sweep still CONVERGES on re-run (the marker survives and
    *     re-triggers finalization even though discovery now finds zero
    *     rows), while a genuinely-no-op purge — a predicate value typo
    *     that matches nothing — touches NO history at all, instead of
    *     irreversibly collapsing the table's whole AS-OF past as the old
    *     always-finalize behavior did. `purge = false`
    *     is the analytical form: history keeps resolving under the
    *     retention contract and the retired bytes wait for their records
    *     to age into vacuum.
    *
    * Single-writer maintenance window, like OPTIMIZE. Deleting every row
    * leaves a readable EMPTY table (the schema epoch record survives the
    * data files), never a directory inference refuses.
    */
  def deleteWhere(spark: SparkSession, path: String,
      condition: Column,
      targetBytes: Long = 128L * 1024 * 1024,
      purge: Boolean = true, retainLog: Int = 8,
      clusterBy: Seq[String] = Nil): DeleteReport = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val t = resolve(spark, path, targetBytes, purge, retainLog, clusterBy)
    validateWhere(t, condition, Nil): Unit
    val (rewritten, rowsDeleted, after) = rewriteWhere(t, "del", condition, Set.empty) {
      (rows, _) => rows.filter(not(coalesce(condition, lit(false))))
    }
    DeleteReport(t.members.length, rewritten, rowsDeleted, after, purge)
  }

  /** The purge-pending marker: written before a purging op's destructive
    * swap, cleared after its sweep. Its presence is what distinguishes "a
    * purge was interrupted here — finish it" from "this call matched
    * nothing — leave history alone": finalization is irreversible (every
    * AS-OF handle dies), so it must never ride a harmless no-op call.
    */
  private def purgePendingMarker(table: Path): Path =
    new Path(GraftParquetWrite.logDir(table), "purge-pending")

  /** The compliance finalization: collapse history to one snapshot,
    * zero-grace vacuum, clear the marker. Shared by every purge exit path
    * so a re-run converges whatever the previous attempt reached.
    */
  private def purgeFinalize(spark: SparkSession, fs: FileSystem,
      path: String, table: Path): Unit = {
    foldLog(fs, table, retain = 0): Unit
    vacuum(spark, path, graceMs = 0L): Unit
    val m = purgePendingMarker(table)
    if (fs.exists(m)) fs.delete(m, false): Unit
  }

  final case class UpdateReport(
      filesScanned: Int, filesRewritten: Int, rowsUpdated: Long,
      filesAfter: Int, purged: Boolean)

  /** UPDATE WHERE on a graft-parquet table — [[deleteWhere]]'s pruned
    * discovery + crash-safe swap with a "rewrite matched rows TRANSFORMED"
    * branch: `set` maps column names to replacement expressions applied
    * only where the condition is TRUE (SQL semantics — FALSE and NULL rows
    * pass through untouched). Discovery is zone-pre-pruned on the
    * condition's pushable conjuncts and counted by ONE pushed-down scan,
    * so on a clustered 100 TB table a range update rewrites only the
    * intersecting slabs — never a table rebuild. An assignment may
    * introduce NULLs (e.g. set(col -> lit(null))) into a column the epoch
    * declares non-nullable, so the swap widens the epoch first.
    *
    * `purge = true` is the redaction form (scrubbing PII in place must
    * also forget the PRE-UPDATE values every retained snapshot still
    * reads): finalization collapses history and vacuums the retired bytes,
    * gated by the same `purge-pending` marker discipline as deleteWhere —
    * interrupted purges converge on re-run, no-op updates touch nothing.
    * The default keeps history: old row versions stay readable AS-OF until
    * their records age out.
    *
    * Single-writer maintenance window, like OPTIMIZE.
    */
  def updateWhere(spark: SparkSession, path: String,
      condition: Column,
      set: Seq[(String, Column)],
      targetBytes: Long = 128L * 1024 * 1024,
      purge: Boolean = false, retainLog: Int = 8,
      clusterBy: Seq[String] = Nil): UpdateReport = {
    require(set.nonEmpty, "updateWhere needs at least one column assignment")
    val t = resolve(spark, path, targetBytes, purge, retainLog, clusterBy)
    val nullable = validateWhere(t, condition, set)
    // every candidate row rewrites; matched rows carry the assignments
    // (gated TRUE-only via when), the rest pass through byte-identical
    val (rewritten, rowsUpdated, after) = rewriteWhere(t, "upd", condition, nullable) {
      (rows, schema) => applyAssignments(rows, schema, condition, set)
    }
    UpdateReport(t.members.length, rewritten, rowsUpdated, after, purge)
  }

  /** Publish a nullability-widened epoch BEFORE a maintenance swap whose
    * rewritten rows may hold NULLs in a column the epoch declares
    * non-nullable (UPDATE assigning lit(null), MERGE with a nullable
    * source; DELETE only drops rows and can never need it). Pre-publishing
    * is safe — a widened epoch over unchanged membership merely PERMITS —
    * and closes every crash window: once the swap's rows can exist, the
    * epoch already admits them, so Spark can never compile IS NULL checks
    * away over them. The record lands at the seq the swap is about to take
    * (race-free inside the op's exclusive maintenance window) through
    * [[GraftParquetWrite.appendSchemaRecord]], which keeps it idempotent
    * by the op's id and nullability/type-monotone against the live epoch.
    * `nullable` comes from what the rewrite writes (UPDATE's assignments
    * probed under the epoch, MERGE's source schema), never from the
    * rewrite's frame: a parquet read reports every column nullable, and
    * widening from it would widen every column on the first UPDATE.
    */
  private def publishWideningEpoch(fs: FileSystem, table: Path, staging: Path,
      epoch: StructType, nullable: Set[String]): Unit = {
    val widened = StructType(
      epoch.fields.map(ef => ef.copy(nullable = ef.nullable || nullable(ef.name))))
    if (!widened.fields.map(_.nullable).sameElements(epoch.fields.map(_.nullable))) {
      val recs = GraftParquetWrite.logRecordFiles(fs, table)
      val seq =
        if (recs.isEmpty) 0L
        else recs.map(st => GraftParquetWrite.logSeqOf(st.getPath.getName)).max + 1L
      GraftParquetWrite.appendSchemaRecord(fs, table, staging, seq, widened.json)
    }
  }

  /** The UPDATE projection: assigned columns become
    * `when(cond, expr).otherwise(col)` CAST back to the column's declared
    * type (an assignment must never smuggle a type change past the epoch),
    * all other columns pass through. Shared by validation and the rewrite
    * so they can never diverge.
    */
  private def applyAssignments(df: DataFrame, schema: StructType, condition: Column,
      set: Seq[(String, Column)]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val byName = set.toMap
    val hit = coalesce(condition, lit(false))
    df.select(schema.fields.toSeq.map { f =>
      byName.get(f.name) match {
        case Some(expr) => when(hit, expr.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }: _*)
  }

  final case class MergeReport(
      filesScanned: Int, filesRewritten: Int, rowsUpdated: Long,
      rowsInserted: Long, filesAfter: Int)

  /** MERGE (upsert) a source frame into a graft-parquet table by key —
    * K2's keep-last upsert semantics at the table-format layer, expressed
    * as a discovery plus the [[swap]] DELETE and UPDATE share: table rows
    * whose key matches a source row are REPLACED by it, source rows
    * matching nothing INSERT, table rows matching nothing are untouched
    * (their files never rewrite).
    *
    *  1. the source must be column-compatible with the table epoch and
    *     key-unique (two source rows for one key have no deterministic
    *     winner — fail loudly, the caller picks). ONE aggregate over the
    *     persisted source's per-key counts checks both: their sum is the
    *     source row count, and the largest count, with its key, is the
    *     duplicate example;
    *  2. discovery semi-joins ONE keys-only scan of the table against the
    *     broadcast source keys and groups the matches BY KEY: each matched
    *     key's table row count and set of files. The collect holds one row
    *     per matched key, so it is bounded by the source. It yields the
    *     candidates (only files holding a matched key — on a clustered table
    *     a key-local source touches only its slabs), `rowsUpdated` (the
    *     matched table rows) and, the source being key-unique,
    *     `rowsInserted` (source rows minus matched keys) — exact even when
    *     one key sits in several files;
    *  3. candidates rewrite with matched rows anti-joined away; the source
    *     (updates + inserts in one frame) lands as adds in the SAME swap
    *     manifest, so the upsert is one atomic commit point — a crash
    *     anywhere replays to exactly-once. An empty table is the same path
    *     with no candidates: a pure insert.
    *
    * History: replaced row versions stay readable AS-OF under the
    * retention contract (`retainLog`), like every maintenance swap.
    * Single-writer maintenance window.
    */
  def merge(spark: SparkSession, path: String,
      source: DataFrame, keys: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      retainLog: Int = 8, clusterBy: Seq[String] = Nil): MergeReport = {
    import org.apache.spark.sql.functions.{broadcast, col, collect_set, count, input_file_name,
      lit, max, max_by, struct, sum}
    require(keys.nonEmpty, "merge needs at least one key column")
    val t = resolve(spark, path, targetBytes, purge = false, retainLog, clusterBy)
    val schema = t.schema.getOrElse(source.schema)
    // column compatibility: same names and types (order-free — the source
    // is re-projected to epoch order), keys present in both
    val tShape = schema.fields.map(f => (f.name, f.dataType.catalogString)).toSet
    val sShape = source.schema.fields.map(f => (f.name, f.dataType.catalogString)).toSet
    require(sShape == tShape,
      s"merge source schema ${source.schema.simpleString} does not match table " +
        s"epoch ${schema.map(_.name).mkString("(", ",", ")")} (names+types, any order)")
    keys.foreach(k => require(schema.fieldNames.contains(k), s"unknown merge key '$k'"))
    val src = source.select(schema.fieldNames.toSeq.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // 1. the source row count and the duplicate-key check in one action
      val perKey = src.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      val counts = perKey.agg(sum(col("n")), max(col("n")),
        max_by(struct((keys :+ "n").map(col): _*), col("n"))).head()
      val srcCount = if (counts.isNullAt(0)) 0L else counts.getLong(0)
      if (srcCount == 0)
        return MergeReport(t.members.length, 0, 0L, 0L, t.members.length)
      require(counts.getLong(1) == 1L,
        s"merge source holds duplicate keys (e.g. ${counts.getStruct(2)}) — " +
          "keep-last needs an order only the caller can define; dedup the source first")
      val srcKeys = src.select(keys.map(col): _*)
      // 2. keyed discovery: per matched key, its table rows and files
      val matched =
        if (t.members.isEmpty) Array.empty[Row]
        else readUnderEpoch(spark, t.epoch, t.members.map(_.getPath.toString))
          .select((keys.map(col) :+ input_file_name().as("__f")): _*)
          .join(broadcast(srcKeys), keys, "left_semi")
          .groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("n"), collect_set(col("__f")).as("files"))
          .select("n", "files").collect()
      val candNames = matched.iterator.flatMap(_.getSeq[String](1))
        .map(u => u.substring(u.lastIndexOf('/') + 1)).toSet
      val cands = t.members.filter(st => candNames.contains(st.getPath.getName))
      val rowsUpdated = matched.iterator.map(_.getLong(0)).sum
      val rowsInserted = srcCount - matched.length
      // 3. candidates minus their matched rows, plus the whole source
      val replacement =
        if (cands.isEmpty) src
        else readUnderEpoch(spark, t.epoch, cands.map(_.getPath.toString))
          .join(broadcast(srcKeys), keys, "left_anti")
          .unionByName(src)
      val after = swap(t, "mrg", cands, cands.map(_.getLen).sum + srcCount * 64L, replacement,
        source.schema.filter(_.nullable).map(_.name).toSet)
      MergeReport(t.members.length, cands.length, rowsUpdated, rowsInserted, after)
    } finally src.unpersist(): Unit
  }

  /** Best-effort Column → pushable v1 conjuncts for the zone pre-prune:
    * only shapes the zone map can test translate (attribute-vs-literal
    * comparisons under AND — [[org.apache.spark.sql.graftbridge
    * .ColumnBridge.pushableConjuncts]] walks the node tree); anything else
    * contributes nothing, and the discovery scan simply covers that much
    * more — conservative, never wrong.
    */
  def pushableConjuncts(condition: org.apache.spark.sql.Column)
      : Array[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.graftbridge.ColumnBridge.pushableConjuncts(condition).toArray

  /** Table health report — the maintenance scan an operator runs before
    * trusting a table that crashed mid-anything (the
    * [[graft.streaming.Bm25Index.fsck]] discipline applied here). Read-only;
    * every condition it reports is one recover()/optimize()/write away from
    * clean, and `sidecarCoverage < 1.0` only costs pruning, never rows.
    */
  final case class FsckReport(
      dataFiles: Int, dataBytes: Long,
      sidecarEntries: Int, sidecarCoverage: Double, staleSidecarEntries: Int,
      zmSidecarFiles: Int, commitMarkers: Int,
      stagingCommitted: Int, stagingGarbage: Int,
      logRecords: Int, missingDataFiles: Int, unloggedDataFiles: Int,
      // files retired from current membership but still referenced by a
      // retained log record: AS-OF history held on purpose, not garbage —
      // vacuum must NOT collect these until their records fold away
      retiredRetained: Int = 0,
      // log sequences held by more than one (non-fold-base) record: the
      // benign residue of an UNOBSERVED commit race (each side listed
      // before the other's rename, so neither retracted). Membership folds
      // the tie commutatively and ordering is (seq, name)-deterministic —
      // informational; the next fold absorbs it
      logSeqCollisions: Int = 0,
      // schema epoch records retained in the log (0 = pre-epoch table,
      // schema comes from parquet inference; >1 = the table has evolved
      // within the retention horizon)
      schemaRecords: Int = 0,
      // the commit log holds records but NO history root (first record or
      // fold snapshot) — the residue of an interrupted fold or lost
      // records: reads fail loudly by design, and fsck reports the state
      // instead of dying on it (data fields below fall back to the
      // physical listing so the operator can still see what is on disk)
      logRootMissing: Boolean = false) {
    // a member the disk no longer holds is DATA LOSS, not a maintenance
    // backlog — no recover()/optimize() can restore it, so it fails health
    def healthy: Boolean =
      stagingCommitted == 0 && stagingGarbage == 0 && missingDataFiles == 0 &&
        !logRootMissing
  }

  def fsck(spark: SparkSession, path: String): FsckReport = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(table), s"no table at $path")
    val st = fs.listStatus(table)
    // the diagnostic must SURVIVE the damage it diagnoses: a rootless log
    // makes membership resolution fail loudly (correct for reads), so fsck
    // degrades to the physical listing and raises logRootMissing instead
    val (data, rootMissing) =
      try (GraftParquetWrite.listDataFiles(fs, table), false)
      catch {
        case e: IllegalArgumentException if e.getMessage != null &&
            e.getMessage.contains("history root") =>
          (st.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")).toSeq, true)
      }
    val dataNames = data.map(_.getPath.getName).toSet
    // the physical cross-check the log demoted the listing to: membership
    // says what SHOULD be on disk, the listing (already in hand as `st` —
    // fsck is the one caller that legitimately pays it) says what IS
    val listed = st.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    val zm = ZoneMap.load(fs, table)
    val covered = dataNames.count(zm.contains)
    val staging = st.filter(s =>
      s.isDirectory && s.getPath.getName.startsWith(GraftParquetWrite.StagingPrefix))
    val (committed, garbage) = staging.partition(s =>
      fs.exists(GraftParquetWrite.manifestPath(s.getPath)))
    val commitsDir = new Path(table, "_commits")
    val markers = if (fs.exists(commitsDir)) fs.listStatus(commitsDir).length else 0
    // ONE _log listing serves every log-derived field (records, schema
    // epochs, reachability, collisions) — on an object store each listing
    // is a paid LIST call, and fsck is a diagnostic that should not grow
    // one per report field
    val logDirPath = GraftParquetWrite.logDir(table)
    val logAll =
      if (!fs.exists(logDirPath)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(logDirPath).filter(_.isFile)
    val logRecs = logAll.filter(_.getPath.getName.startsWith("c-")).toSeq
    val schemaRecs = logAll.count(_.getPath.getName.startsWith("m-"))
    // the reachability set: adds across every retained record. On-disk
    // non-members split into retained AS-OF history vs true garbage.
    val referenced = GraftParquetWrite.logReferencedFiles(fs, table, logRecs)
    val collisions = logRecs.map(_.getPath.getName)
      .filterNot(n => GraftParquetWrite.logIdOf(n).startsWith("logbase-"))
      .groupBy(GraftParquetWrite.logSeqOf).count(_._2.length > 1)
    FsckReport(
      dataFiles = data.length, dataBytes = data.map(_.getLen).sum,
      sidecarEntries = zm.size,
      sidecarCoverage = if (data.isEmpty) 1.0 else covered.toDouble / data.length,
      staleSidecarEntries = zm.keysIterator.count(!dataNames.contains(_)),
      zmSidecarFiles = zmFiles(fs, table).length, commitMarkers = markers,
      stagingCommitted = committed.length, stagingGarbage = garbage.length,
      logRecords = logRecs.length,
      missingDataFiles = dataNames.count(!listed.contains(_)),
      unloggedDataFiles = listed.count(n => !dataNames.contains(n) && !referenced.contains(n)),
      retiredRetained = listed.count(n => !dataNames.contains(n) && referenced.contains(n)),
      logSeqCollisions = collisions,
      schemaRecords = schemaRecs,
      logRootMissing = rootMissing)
  }

  private def zmFiles(fs: FileSystem, table: Path): Array[Path] = {
    val d = ZoneMap.dir(table)
    if (!fs.exists(d)) Array.empty
    else fs.listStatus(d).map(_.getPath).filter(_.getName.startsWith("zm-"))
  }

  /** Rewrite the zone-map sidecar set as ONE file holding every surviving
    * data file's entry, then drop the superseded files. Crash windows are
    * benign in both orders: a duplicate entry agrees with itself (file
    * names are never reused) and a stale entry names a file the listing
    * no longer returns. Returns the sidecar count after folding.
    */
  def foldSidecars(fs: FileSystem, table: Path): Int = {
    val olds = zmFiles(fs, table)
    if (olds.length <= 1) return olds.length
    val live = GraftParquetWrite.listDataFiles(fs, table).map(_.getPath.getName).toSet
    val entries = ZoneMap.load(fs, table).filter { case (n, _) => live.contains(n) }
    val foldName = maintenanceId("optfold")
    if (entries.nonEmpty) ZoneMap.write(fs, table, foldName, entries.toSeq.sortBy(_._1))
    olds.foreach(p => fs.delete(p, false))
    zmFiles(fs, table).length
  }

  // ------------------------------------------------- retirement stamping

  /** Durable retirement times: `_log/r-<millis>-<nonce>` records with one
    * `fileName\tretiredAtMs` line per file a fold just unreferenced.
    * [[vacuum]]'s grace counts from max(mtime, retiredAt), so the
    * "unreferenced for at least graceMs" protection survives filesystems
    * where `setTimes` is unsupported or silently swallowed (S3A throws;
    * the mtime re-stamp alone would leave fold-retired files carrying
    * their old write-time mtimes, and a graced vacuum would collect them
    * instantly — exactly the in-flight-AS-OF-reader window the grace
    * exists to protect). The record is written BEFORE the fold deletes the
    * records that unreference the files (protective write before the
    * destructive one), and vacuum garbage-collects a stamp record once
    * every file it names has left the disk.
    */
  private def writeRetirementRecord(fs: FileSystem, table: Path,
      names: Iterable[String], nowMs: Long): Unit =
    if (names.nonEmpty) {
      val d = GraftParquetWrite.logDir(table)
      fs.mkdirs(d)
      val tmp = new Path(d, s"retire-${System.nanoTime()}.tmp")
      val out = fs.create(tmp, true)
      try out.write(names.toSeq.sorted.map(n => s"$n\t$nowMs").mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val target = new Path(d, s"r-$nowMs-${maintenanceId("stamp").split('-').last}")
      require(fs.rename(tmp, target), s"retirement stamp publish failed in $d")
    }

  private[graft] def retirementRecordFiles(fs: FileSystem, table: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val d = GraftParquetWrite.logDir(table)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).filter(st => st.isFile && st.getPath.getName.startsWith("r-")).toSeq
  }

  /** fileName → newest durable retirement stamp. */
  private def retirementTimes(fs: FileSystem, table: Path): Map[String, Long] =
    retirementRecordFiles(fs, table).foldLeft(Map.empty[String, Long]) { (acc, st) =>
      GraftParquetWrite.recordLines(fs, st.getPath).foldLeft(acc) { (m, line) =>
        val cut = line.indexOf('\t')
        if (cut <= 0) m
        else {
          val n = line.substring(0, cut)
          val ts = scala.util.Try(line.substring(cut + 1).trim.toLong).getOrElse(0L)
          m.updated(n, math.max(ts, m.getOrElse(n, 0L)))
        }
      }
    }

  /** Physical garbage collection, snapshot-aware: delete `.parquet` files
    * no RETAINED log record references — alien drops, leftovers of pre-log
    * tooling, and files OPTIMIZE retired whose retiring records have since
    * folded past the retention horizon. A file still referenced by any
    * retained record (fsck's `retiredRetained`) is AS-OF history and is
    * never collected, however old — so snapshots inside the retention
    * window survive vacuum by construction, and one outside it fails
    * loudly at plan time (its records are gone), never by dangling file.
    *
    * Healing (not [[GraftParquetWrite.recover]]) runs first: a published
    * commit is completed so its pending files get logged before the sweep.
    * UNMANIFESTED staging dirs are swept only once OLDER than `graceMs` —
    * a live concurrent appender's stage is always younger than any sane
    * grace, so the default needs no writer lock; `graceMs = 0` says "I
    * hold an exclusive window, reclaim everything now" (what the purge
    * finalization passes, inside the maintenance contract). `graceMs`
    * absorbs clock skew and any in-flight rename of files outside staging —
    * and for files OPTIMIZE retired, [[foldLog]] stamps the retirement time
    * DURABLY (an `r-` record under `_log`, plus a best-effort mtime
    * re-stamp); the grace tests max(mtime, stamp), so it reads as
    * "unreferenced for at least graceMs" even on object stores without
    * setTimes: an in-flight AS-OF reader whose handle a fold just retired
    * keeps its files for the grace, not zero. No-op on tables without a log
    * (membership IS the
    * listing there, so nothing can be unreferenced). Returns the number
    * of files deleted.
    */
  def vacuum(spark: SparkSession, path: String,
      graceMs: Long = 24L * 3600 * 1000): Int = {
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(table), s"no table at $path")
    GraftParquetWrite.healPublished(fs, table)
    if (GraftParquetWrite.logRecordFiles(fs, table).isEmpty) return 0
    val referenced = GraftParquetWrite.logReferencedFiles(fs, table)
    val retiredAt = retirementTimes(fs, table)
    val cutoff = System.currentTimeMillis() - graceMs
    val listed = GraftParquetWrite.listByDirectory(fs, table)
    // <=, not <: graceMs = 0 must mean "collect everything unreferenced
    // now", including a file the fold stamped within this millisecond.
    // Retirement time = max(mtime, durable stamp): the stamp is what holds
    // on object stores where the fold's setTimes re-stamp is a no-op.
    val dead = listed.filter { st =>
      !referenced.contains(st.getPath.getName) &&
        math.max(st.getModificationTime,
          retiredAt.getOrElse(st.getPath.getName, 0L)) <= cutoff
    }
    dead.foreach(st => fs.delete(st.getPath, false))
    // stamp-record GC off the listing already in hand: a record every one
    // of whose files has left the disk can never influence a grace again
    val remaining = listed.map(_.getPath.getName).toSet -- dead.map(_.getPath.getName)
    retirementRecordFiles(fs, table).foreach { st =>
      val names = GraftParquetWrite.recordLines(fs, st.getPath)
        .flatMap { l => val cut = l.indexOf('\t'); if (cut <= 0) None else Some(l.substring(0, cut)) }
      if (names.forall(n => !remaining.contains(n))) fs.delete(st.getPath, false)
    }
    // unmanifested staging garbage past the grace: the append path no
    // longer sweeps it at write start (a live concurrent appender may be
    // mid-stage there), so crashed stagings age into vacuum like retired
    // files do. A LIVE writer's staging is always younger than any sane
    // grace; the manifested kind was completed by the heal above.
    GraftParquetWrite.stagingDirs(fs, table)
      .filter(st => !fs.exists(GraftParquetWrite.manifestPath(st.getPath)) &&
        st.getModificationTime <= cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    dead.length
  }

  /** Compact the commit log so a long-lived table's planning cost stays
    * O(retain), not O(commits) — RETENTION-AWARE: the newest `retain`
    * records survive as AS-OF history, everything older collapses into one
    * base snapshot that keeps the seq of the newest record it absorbed.
    * Snapshot handles at or above the base seq keep resolving (base +
    * retained deltas); handles below it fail loudly at plan time ("folded
    * away"), never read as empty. `retain = 0` is the fold-everything
    * legacy form: one fresh snapshot at seq max+1, all history retired.
    *
    * Crash-safe in both windows: once a snapshot lands, every superseded
    * add agrees with it (names are never reused) and every superseded
    * removal names a non-member (subtracting it is a no-op) — a base
    * briefly sharing its seq with the record it absorbed is membership-
    * identical by construction (and excluded from the collision tripwire
    * by its `logbase-` id). Superseded records are then deleted
    * OLDEST-FIRST, so an add line can never outlive the newer removal line
    * that retires it (a removal's add is always in an older record).
    * Returns the record count after folding.
    */
  def foldLog(fs: FileSystem, table: Path, retain: Int = 0,
      shardOver: Int = 8192, shardTarget: Int = 4096): Int = {
    // (seq, name): a same-seq tie — the benign residue of an unobserved
    // commit race — must split across the retention boundary the same way
    // on every fold, whatever order the listing returned
    val recs = GraftParquetWrite.logRecordFiles(fs, table)
      .sortBy(st => (GraftParquetWrite.logSeqOf(st.getPath.getName), st.getPath.getName))
    val d = GraftParquetWrite.logDir(table)
    def publish(lines: Seq[String], name: String): Unit = {
      // temp + rename inside _log (a name outside the `c-` record namespace
      // is invisible to readers): the snapshot's appearance is atomic
      val tmp = new Path(d, s"fold-${System.nanoTime()}.tmp")
      val out = fs.create(tmp, true)
      try out.write(lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      require(fs.rename(tmp, new Path(d, name)), s"log fold publish failed in $d")
    }
    def memberLines(asOf: Option[Long]): Seq[String] =
      GraftParquetWrite.logMembership(fs, table, asOf).getOrElse(Map.empty)
        .toSeq.sortBy(_._1).map { case (n, len) => s"$n\t$len" }
    // MANIFEST TIERING: a base over more than `shardOver` members is not
    // one O(files) record — at 10M files that is a multi-hundred-MB
    // driver-side read per plan and a full rewrite per fold. The members
    // partition into content-addressed SHARDS (`s-<bucket>-<md5 of
    // content>` under _log, immutable, published atomically BEFORE any
    // base references them) and the base carries one `>shard` pointer line
    // per bucket. Bucketing is a stable hash of the file NAME into a
    // power-of-two bucket count, so a later fold recomputes identical
    // content for untouched buckets, lands on the SAME shard name, and
    // skips the publish — only dirty shards rewrite. Readers stream
    // shard-by-shard; orphan shards (referenced by no surviving record)
    // are swept at the end of the fold.
    def shardify(lines: Seq[String]): Seq[String] =
      if (lines.length <= shardOver) lines
      else {
        val want = math.max(1, (lines.length + shardTarget - 1) / shardTarget)
        val nBuckets = Integer.highestOneBit(math.max(1, want - 1)) * 2 // next pow2 >= want
        def nameOf(line: String): String = {
          val cut = line.indexOf('\t'); if (cut < 0) line else line.substring(0, cut)
        }
        // String.hashCode is specified by the JLS — stable across JVMs and
        // releases, so bucket assignment never shifts under a table
        lines.groupBy(l => (nameOf(l).hashCode & Int.MaxValue) % nBuckets)
          .toSeq.sortBy(_._1).map { case (bucket, bucketLines) =>
            val content = bucketLines.sorted
            val digest = java.security.MessageDigest.getInstance("MD5")
              .digest(content.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val fp = digest.take(8).map(b => f"$b%02x").mkString
            val shardName = f"s-$bucket%05d-$fp"
            if (!fs.exists(new Path(d, shardName))) publish(content, shardName)
            ">" + shardName
          }
      }
    // shards referenced by any surviving record, vs every shard on disk:
    // the difference is dead tiering (previous folds' dirty buckets and
    // crash leftovers) no reader can reach
    def sweepOrphanShards(): Unit = {
      val survivors = GraftParquetWrite.logRecordFiles(fs, table)
      val referenced = survivors.iterator.flatMap(st =>
        GraftParquetWrite.recordLines(fs, st.getPath).iterator
          .collect { case l if l.startsWith(">") => l.substring(1) }).toSet
      fs.listStatus(d).iterator
        .filter(st => st.isFile && st.getPath.getName.startsWith("s-") &&
          !referenced.contains(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, false))
    }
    // schema epochs below the surviving horizon collapse too: every seq a
    // reader can still name resolves its epoch through the newest metadata
    // record at-or-below the horizon, so older ones are dead history
    def pruneSchemaRecords(horizon: Long): Unit = {
      val below = GraftParquetWrite.schemaRecordFiles(fs, table)
        .filter(st => GraftParquetWrite.schemaSeqOf(st.getPath.getName) <= horizon)
        .sortBy(st => (GraftParquetWrite.schemaSeqOf(st.getPath.getName), st.getPath.getName))
      if (below.length > 1) below.dropRight(1).foreach(st => fs.delete(st.getPath, false))
    }
    // a fold is the moment retired files become UNREFERENCED (their
    // retiring removal lines drop with the folded records): stamp their
    // mtime so vacuum's grace counts from retirement, not from when the
    // bytes were written — "collected only after being unreferenced for
    // graceMs" is what protects an in-flight AS-OF reader whose handle
    // this fold just retired. Stamping happens BEFORE the folded records
    // are deleted: a crash (or a concurrent lock-free vacuum) between the
    // two must find the files either still referenced or already
    // re-stamped — stamp-after-delete would leave a window where
    // just-unreferenced files carry their old write-time mtimes and a
    // grace vacuum collects them instantly. Stamping early is always safe
    // (vacuum never touches referenced files; a crash pre-delete leaves
    // them referenced with a newer mtime, which only lengthens the grace).
    // Post-fold reachability = the snapshot's own adds plus the retained
    // records' adds, both in hand pre-delete. The stamp is DURABLE: an
    // atomic `r-` record under _log carries fileName→retiredAtMs (vacuum
    // graces against max(mtime, stamp)), so the protection holds on object
    // stores where setTimes is unsupported; the mtime re-stamp remains as
    // a best-effort secondary. The folded
    // records' lines are read once and shared between the dropped-removal
    // set and nothing else (membership still folds them via memberLines —
    // a second read, accepted: folds fire at most every 16th ingest batch).
    def stampUnreferenced(folded: Seq[org.apache.hadoop.fs.FileStatus],
        snapshotLines: Seq[String],
        retained: Seq[org.apache.hadoop.fs.FileStatus]): Unit = {
      val dropped = folded.flatMap(st => GraftParquetWrite.recordLines(fs, st.getPath)
        .collect { case l if l.startsWith("~") => l.substring(1) }).toSet
      if (dropped.nonEmpty) {
        val referencedAfter =
          (GraftParquetWrite.expandAddNames(fs, table, snapshotLines) ++
            retained.iterator.flatMap(st => GraftParquetWrite.expandAddNames(fs, table,
              GraftParquetWrite.recordLines(fs, st.getPath)))).toSet
        val now = System.currentTimeMillis()
        val retiring = dropped.filterNot(referencedAfter)
          .filter(n => fs.exists(new Path(table, n)))
        // the DURABLE stamp first (one atomic record — the protection that
        // holds on object stores), then the best-effort mtime re-stamp (a
        // filesystem without setTimes silently keeps write-time mtimes,
        // which the durable stamp now outvotes via max())
        writeRetirementRecord(fs, table, retiring, now)
        retiring.foreach { n =>
          try fs.setTimes(new Path(table, n), now, -1)
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }
    if (retain <= 0) {
      if (recs.length <= 1) return recs.length
      val seq = GraftParquetWrite.logSeqOf(recs.last.getPath.getName) + 1L
      val snapshot = shardify(memberLines(None))
      publish(snapshot, f"c-$seq%012d-${maintenanceId("logfold")}")
      stampUnreferenced(recs, snapshot, Nil)
      recs.foreach(st => fs.delete(st.getPath, false)) // oldest-first
      pruneSchemaRecords(seq)
    } else {
      if (recs.length <= retain + 1) return recs.length
      val folded = recs.dropRight(retain)
      val retained = recs.takeRight(retain)
      val baseSeq = GraftParquetWrite.logSeqOf(folded.last.getPath.getName)
      val snapshot = shardify(memberLines(Some(baseSeq)))
      publish(snapshot, f"c-$baseSeq%012d-${maintenanceId("logbase")}")
      stampUnreferenced(folded, snapshot, retained)
      folded.foreach(st => fs.delete(st.getPath, false)) // oldest-first
      pruneSchemaRecords(baseSeq)
    }
    sweepOrphanShards()
    GraftParquetWrite.logRecordFiles(fs, table).length
  }
}
