package graft.sources.v2

import graft.sources.ParquetRead

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The `graft-parquet` DataSourceV2 connector: S1's pushdown contract
  * end-to-end (the offline stand-in for the reference's Elasticsearch scroll
  * scan, `elasticsearch_service.py:63-87`, where the query DSL carries
  * filters and `_source` carries the projection INTO the store), grown into
  * the full data-skipping stack a 100 TB table needs:
  *
  *   - `SupportsPushDownRequiredColumns` — the pruned schema becomes the
  *     parquet read projection (`parquet.read.schema`), so unread columns are
  *     never decoded.
  *   - `SupportsPushDownFilters` — comparison/equality filters on primitive
  *     columns are accepted, compiled to parquet `FilterApi` predicates
  *     (row-group + page skipping via min/max stats), and re-checked
  *     per-record; everything else is rejected back to Spark.
  *   - FILE-level skipping from the [[ZoneMap]] sidecar: committed per-file
  *     min/max/null statistics refute whole files against the pushed
  *     conjunction BEFORE any footer read.
  *   - `SupportsPushDownAggregates` — COUNT(*)/COUNT(col)/MIN/MAX with no
  *     grouping and no filters answer from the sidecar alone (one single-row
  *     partition, zero data files opened) with sound declines.
  *   - `SupportsReportStatistics` — exact pruned byte/row statistics, so a
  *     narrow slice of a huge table is broadcast-eligible.
  *   - `SupportsRuntimeV2Filtering` — selective joins hand the scan their
  *     keys at execute time; the zone map drops the fact files outside the
  *     key slice (the DSv2 dynamic-pruning seam).
  *   - One `InputPartition` per parquet ROW GROUP (the ES sliced-scroll
  *     analog, at the granularity that matters): a 100 TB table is multi-GB
  *     files, and file-granularity partitions would cap parallelism at the
  *     file count and hand single tasks gigabytes. The planner reads each
  *     footer once, tiles the file into contiguous byte ranges split at row
  *     group starts, and the reader opens its range with `withFileRange` —
  *     parquet assigns a row group to the range holding its midpoint, and
  *     contiguous tiling puts every midpoint in exactly one range (no row
  *     group read twice or dropped).
  *
  * All ordering flows through one comparator ([[GraftScan.cmp]], code-point
  * string collation), so record evaluation, zone-map pruning, and metadata
  * aggregates can never disagree. Registered as `graft-parquet` via
  * META-INF/services. Executors read and write with Hadoop's default
  * `Configuration`, parsed once per JVM ([[HadoopConf]]; local/posix
  * filesystems); a cluster deploy would broadcast the driver conf.
  */
class GraftParquetSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-parquet"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // schema records first: on a table whose log carries schema epochs
    // ([[GraftParquetWrite.latestSchemaAt]]) the schema is one small read —
    // current epoch for a live read, the epoch AT the sequence for an
    // AS-OF read (time travel returns the OLD schema, not the new one
    // null-padded). Lenient seq parse here: the typed error for junk
    // belongs to newScanBuilder, which always runs after.
    // Fallback: one driver-side footer read through Spark's own inference
    // so logical types (incl. the nanosAsLong mapping) match the native
    // reader exactly — sound for epoch-less tables, which have a single
    // schema by construction. A missing/empty target (the FIRST write of a
    // table) infers as the empty schema — the write path takes its real
    // schema from LogicalWriteInfo, and ACCEPT_ANY_SCHEMA keeps Spark from
    // rejecting the append against the placeholder.
    val path = pathOf(options)
    val p = new Path(path)
    val fs = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    val asOf = Option(options.get("graft.asOfSeq"))
      .flatMap(s => scala.util.Try(java.lang.Long.parseLong(s.trim)).toOption)
    if (!fs.exists(p)) new StructType()
    else {
    // heal BEFORE resolving the epoch: an evolving append that crashed
    // between its membership record and its epoch record is completed
    // here, so schema resolution and membership can't disagree about the
    // evolution. Best-effort like every read-path heal — a read-only
    // session inside that (bounded, next-writer-closes-it) crash window
    // resolves the previous epoch, which is consistent if stale.
    GraftParquetWrite.healQuietly(fs, p)
    GraftParquetWrite.latestSchemaAt(fs, p, asOf) match {
      case Some(st) => st
      case None => asOf match {
        // an AS-OF handle from BEFORE the table's first epoch record (a
        // pre-epoch table that later evolved): the directory now holds
        // post-evolution files, so whole-directory inference could serve
        // the evolved schema to a pre-evolution snapshot. The members at
        // the handle's seq are all pre-evolution by construction (evolved
        // files commit at-or-after their epoch record's seq), and a
        // pre-epoch table has ONE schema across them — one member footer
        // is the epoch. Membership resolution also fails loudly here for
        // a seq the table never issued, exactly like the scan would.
        case Some(s) if GraftParquetWrite.logRecordFiles(fs, p).nonEmpty =>
          val members = GraftParquetWrite.listDataFiles(fs, p, Some(s))
          if (members.isEmpty) new StructType()
          else ParquetRead(SparkSession.active, members.map(_.getPath.toString).min).schema
        // a target holding only hidden entries — a concurrent first
        // writer's `_write_*` staging dir, say — is still empty: infer it
        // like a missing one instead of failing Spark's inference
        case _ if fs.listStatus(p).forall { st =>
            val n = st.getPath.getName
            n.startsWith("_") || n.startsWith(".")
          } => new StructType()
        case _ => ParquetRead(SparkSession.active, path).schema
      }
    }
    }
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform], properties: JMap[String, String]): Table =
    GraftParquetTable(pathOf(properties), schema)

  private def pathOf(properties: JMap[String, String]): String = {
    val p = properties.get("path")
    require(p != null, "graft-parquet requires a single load(path)")
    p
  }
}

final case class GraftParquetTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-parquet($path)"
  override def schema(): StructType = tableSchema
  // ACCEPT_ANY_SCHEMA defers append-schema validation to the connector: the
  // first write of a table has only the empty placeholder schema to check
  // against (see inferSchema); a LATER append against a populated table is
  // validated here instead (newWriteBuilder), same strictness, right time
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // snapshot (AS-OF) read: `.option("graft.asOfSeq", seq)` resolves
    // membership at commit-log sequence `seq` (GraftParquetWrite.currentSeq
    // hands the caller the handle) — the reproducible-corpus primitive for
    // a continuously-ingested table: "the exact files batch N saw"
    val asOf = Option(options.get("graft.asOfSeq")).map { s =>
      try java.lang.Long.parseLong(s.trim)
      catch {
        case _: NumberFormatException => throw new graft.GraftConfigError(
          s"graft.asOfSeq must be a long commit-log sequence (got '$s')")
      }
    }
    new GraftScanBuilder(path, tableSchema, asOf)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // structural match (names + types, nullability-insensitive — writing a
    // non-nullable column into a nullable parquet field is always safe), OR
    // SCHEMA EVOLUTION, two orthogonal forms an append may combine:
    //   - appended columns: the current schema is a prefix of the write's;
    //     old files backfill NULL per file, never a rewrite;
    //   - TYPE WIDENING on existing columns (int→long, float→double): the
    //     epoch adopts the wider type, old files keep their narrow
    //     physical encoding and the reader upcasts per file exactly
    //     (i32→i64 and f32→f64 are value-preserving). Narrowing is
    //     rejected — the writer casts. A float→double widening marks the
    //     column with `graft.widenedFrom` metadata in the epoch: pre-
    //     widening zone-map bounds were rendered from FLOATS, and the
    //     marker is what tells pruning to hull-parse them and metadata
    //     extremes to decline (int bounds re-parse exactly — no marker).
    // The epoch's nullability is WIDENED accordingly: appended columns
    // publish as nullable (pre-evolution files hold nulls there by
    // construction), and existing columns keep any nullability the table
    // already admits — a stricter writer must never flip an epoch to
    // non-nullable over files that may hold nulls.
    val tFields = tableSchema.fields
    val wFields = info.schema().fields
    val compatible = wFields.length >= tFields.length &&
      tFields.zip(wFields).forall { case (tf, wf) =>
        tf.name == wf.name && (tf.dataType == wf.dataType ||
          GraftParquetWrite.typeWidens(tf.dataType, wf.dataType))
      }
    require(tableSchema.isEmpty || compatible,
      s"graft-parquet append schema ${info.schema().simpleString} does not match " +
        s"table schema ${tableSchema.simpleString} (exact match, appended-column " +
        "evolution, or int->long / float->double widening)")
    val epochSchema =
      if (tableSchema.isEmpty) info.schema() // first commit: files define it exactly
      else StructType(wFields.zipWithIndex.map { case (f, i) =>
        if (i >= tFields.length) f.copy(nullable = true) // appended: old files read NULL
        // nullability widens, metadata (incl. any widenedFrom marker the
        // float→double case gains) carries — shared with the commit-time
        // epoch validation so the two can never diverge
        else GraftParquetWrite.mergeEpochField(tFields(i), f)
      })
    // the `@` epoch line rides the manifest only when this write would
    // actually move the epoch (first commit of an empty table, appended
    // columns, or nullability widening): the comparison happens HERE, at
    // plan time, against the schema the read path already resolved — a
    // steady-state append then skips the line and the roll-forward pays no
    // per-commit schema listing/read at all. Compared on (name, type,
    // nullable) — metadata differences must not force epoch churn.
    def epochShape(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))
    val publishEpoch = tableSchema.isEmpty || epochShape(epochSchema) != epochShape(tableSchema)
    GraftWriteBuilder(path, info, epochSchema, publishEpoch)
  }
}

final class GraftScanBuilder(path: String, full: StructType,
    asOfSeq: Option[Long] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var agg: Option[GraftAggResult] = None
  // the aggregation the cached attempt answered — Spark pushes once per
  // builder today, but a second, DIFFERENT aggregation must recompute, not
  // serve the first answer. Keyed STRUCTURALLY (describe() of every agg +
  // group expression): Aggregation has no toString override, so an
  // identity-based key would degenerate to per-object caching
  private var aggFor: Option[String] = None

  private def aggKey(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): String =
    aggregation.aggregateExpressions.map(_.describe).mkString("agg[", ",", "]") +
      aggregation.groupByExpressions.map(_.describe).mkString("by[", ",", "]")

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition(GraftScan.evaluable(_, full))
    pushed = accepted
    rejected // Spark keeps these as a post-scan Filter
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  // metadata-only aggregate answering: COUNT(*) / COUNT(col) / MIN / MAX
  // with no grouping and no filters are read entirely from the zone-map
  // sidecar — zero data files opened. Spark probes supportCompletePushDown
  // first and calls pushAggregation on acceptance; both answer from one
  // cached attempt so the two can never disagree. Partial pushdown is
  // deliberately unsupported (a per-partition metadata answer has no
  // advantage — either the sidecar answers exactly or the scan runs).
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // snapshot reads decline the metadata answer: answerFromMetadata sums
    // CURRENT membership, and a folded sidecar may no longer carry every
    // historical file's entry — the normal scan answers exactly instead
    if (asOfSeq.isDefined) return false
    val key = aggKey(aggregation)
    if (!aggFor.contains(key)) {
      agg = GraftScan.answerFromMetadata(path, full, pushed, aggregation)
      aggFor = Some(key)
    }
    agg.isDefined
  }
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    supportCompletePushDown(aggregation)

  override def build(): Scan = GraftScan(path, full, required, pushed, agg, asOfSeq)
}

/** A completely-pushed aggregation answered from table metadata: the
  * result schema Spark's planner adopts and the single result row's values
  * (internal representation — UTF8String for strings).
  */
final case class GraftAggResult(schema: StructType, values: Seq[Any], description: String)

final case class GraftScan(
    path: String, full: StructType, required: StructType, filters: Array[Filter],
    agg: Option[GraftAggResult] = None, asOfSeq: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeV2Filtering {

  // runtime (join-time) filters — the DSv2 dynamic-pruning seam: Spark
  // evaluates the dim side of a selective join first (broadcast reuse) and
  // hands the fact scan the join keys as IN predicates BEFORE
  // planInputPartitions. Against the zone map that turns a star join's
  // fact scan into "only the files whose key range intersects the dim
  // slice" with zero extra IO — at 100 TB the difference between scanning
  // the fact table and scanning the matching slabs. Filters arrive by
  // mutation per the interface contract; they are used for FILE pruning
  // only (the join itself re-checks every surviving record, so pruning is
  // the only sound use — per-record evaluation would be redundant work).
  @transient private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only the scan's OUTPUT columns: Spark resolves these against the
    // pruned relation, and a projected-away column would fail analysis
    if (agg.isDefined) Array.empty
    else required.fieldNames.map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val v1 = predicates.flatMap(GraftScan.predicateToV1)
    runtimeFilters = runtimeFilters ++ v1.filter(GraftScan.evaluable(_, full))
  }

  /** The runtime filters received so far (read-only observability). */
  def runtimePruning: Array[Filter] = runtimeFilters

  /** Filters effective for FILE pruning: pushed ∪ runtime. */
  private def pruningFilters: Array[Filter] = filters ++ runtimeFilters

  override def readSchema(): StructType = agg.map(_.schema).getOrElse(required)
  override def toBatch: Batch = this
  override def description(): String = agg match {
    case Some(a) => s"GraftScan path=$path, metadata-only aggregation=[${a.description}]"
    case None =>
      s"GraftScan path=$path, pushed=[${filters.mkString(", ")}], " +
        s"read=[${required.fieldNames.mkString(", ")}]" +
        asOfSeq.map(s => s", asOfSeq=$s").getOrElse("")
  }

  /** The files the pushed conjunction cannot refute, with the zone map (the
    * shared planning substrate of partition planning and statistics).
    * Zone-map FILE skipping happens here, before any footer read: a file
    * whose committed min/max/null statistics refute the conjunction plans
    * zero partitions and costs zero metadata round-trips (the 100 TB
    * planning bottleneck — see [[ZoneMap]]). Files without an entry scan
    * un-pruned.
    */
  // the listing and sidecar are read ONCE per scan: Catalyst may ask for
  // statistics several times and BatchScanExec re-plans partitions when
  // runtime filters arrive — only the (cheap, in-memory) filter application
  // recomputes. Sound under the single-writer contract: the table does not
  // change under a running query.
  @transient private lazy val tableBase
      : (Seq[org.apache.hadoop.fs.FileStatus], Map[String, ZoneMap.FileStats]) = {
    val p = new Path(path)
    val fs = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    // complete any published-but-unrolled commit BEFORE resolving
    // membership: a pure-reader session after a writer crash heals the
    // table instead of serving (or failing on) a torn state. Best-effort —
    // a reader with read-only credentials falls back to current log
    // membership (consistent; the log excludes the unrolled commit)
    GraftParquetWrite.healQuietly(fs, p)
    (GraftParquetWrite.listDataFiles(fs, p, asOfSeq), ZoneMap.load(fs, p))
  }

  // prepared ONCE per runtime-filter state (keyed on the runtimeFilters
  // array reference, which filter() replaces): Catalyst asks for
  // statistics several times and BatchScanExec re-plans partitions when
  // runtime filters arrive — the multi-thousand-key IN sort must not
  // re-run on each ask
  @transient private var preparedFor: Array[Filter] = _
  @transient private var preparedCache: Array[ZoneMap.Prepared] = _
  private def preparedPruning(): Array[ZoneMap.Prepared] = {
    val rf = runtimeFilters
    if (preparedFor ne rf) { preparedCache = ZoneMap.prepare(filters ++ rf); preparedFor = rf }
    preparedCache
  }

  private def survivingFiles(): (Seq[org.apache.hadoop.fs.FileStatus], Map[String, ZoneMap.FileStats]) = {
    val (listed, zm) = tableBase
    val files =
      if (pruningFilters.isEmpty || zm.isEmpty) listed
      else {
        // a runtime IN of thousands of dim keys tests each file in
        // O(log keys), not O(keys) — the planner stays O(files·log keys)
        // however selective the join gets
        val prepared = preparedPruning()
        listed.filter(st =>
          zm.get(st.getPath.getName).forall(ZoneMap.mayMatchAllPrepared(prepared, _, full)))
      }
    (files, zm)
  }

  override def planInputPartitions(): Array[InputPartition] =
    agg match {
      case Some(a) => Array(GraftAggPartition(a.values))
      case None => planFilePartitions()
    }

  /** Planning-time statistics so Catalyst can size joins: byte size is the
    * SURVIVING files' on-disk sum (what Spark's own file scans report) and
    * the row count is the zone-map sum when every survivor carries an
    * entry — both upper bounds once per-record filters apply, which is the
    * conservative direction for broadcast decisions. The payoff at scale:
    * a zone-map-pruned slice of a huge table becomes broadcast-eligible
    * instead of defaulting to sizeInBytes=MAX and a shuffle join.
    */
  override def estimateStatistics(): Statistics = agg match {
    case Some(_) => GraftStats(java.util.OptionalLong.of(256L), java.util.OptionalLong.of(1L))
    case None =>
      val (files, zm) = survivingFiles()
      val entries = files.map(st => zm.get(st.getPath.getName))
      val rows =
        if (entries.forall(_.isDefined)) // empty table → exact 0
          java.util.OptionalLong.of(entries.flatten.map(_.rows).sum)
        else java.util.OptionalLong.empty()
      GraftStats(java.util.OptionalLong.of(files.map(_.getLen).sum), rows)
  }

  private def planFilePartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val (files, _) = survivingFiles()
    // one partition per row group: tile each file into contiguous byte
    // ranges cut at row-group starting offsets (footer metadata — one
    // driver-side footer read per surviving file; a production connector
    // would cache these in a metadata store)
    files.sortBy(_.getPath.toString).flatMap { st =>
      val f = st.getPath
      val len = st.getLen
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
        HadoopReadOptions.builder(conf).build())
      val starts =
        try reader.getFooter.getBlocks.asScala.map(_.getStartingPos).toSeq
        finally reader.close()
      (starts :+ len).sliding(2).collect {
        case Seq(s, e) => GraftFilePartition(f.toString, s, e): InputPartition
      }.toSeq
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(required, filters)
}

/** The one-row partition of a completely-pushed aggregation. */
final case class GraftAggPartition(values: Seq[Any]) extends InputPartition

/** Planning statistics ([[GraftScan.estimateStatistics]]). */
final case class GraftStats(size: java.util.OptionalLong, rows: java.util.OptionalLong)
    extends Statistics {
  override def sizeInBytes(): java.util.OptionalLong = size
  override def numRows(): java.util.OptionalLong = rows
}

/** One row-group slice of one file: the byte range [start, end) the reader
  * opens with `withFileRange`.
  */
final case class GraftFilePartition(file: String, start: Long, end: Long)
    extends InputPartition

final case class GraftReaderFactory(required: StructType, filters: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case GraftAggPartition(values) => new PartitionReader[InternalRow] {
        private var served = false
        override def next(): Boolean = if (served) false else { served = true; true }
        override def get(): InternalRow = new GenericInternalRow(values.toArray)
        override def close(): Unit = ()
      }
      case p: GraftFilePartition =>
        new GraftPartitionReader(p.file, p.start, p.end, required, filters)
    }
}

object GraftScan {

  /** Field-metadata key marking a column whose epoch was WIDENED from
    * float to double: files (and zone-map bounds) written before the
    * widening encode floats, so double-exact interpretations of those
    * bounds are off by up to one float ulp — pruning hull-parses them
    * ([[ZoneMap.colBounds]]) and metadata extremes decline. int→long needs
    * no marker: integer bound strings re-parse exactly at either width.
    */
  val WidenedFromKey = "graft.widenedFrom"

  private[v2] def widenedFromFloat(f: StructField): Boolean =
    f.metadata.contains(WidenedFromKey) && f.metadata.getString(WidenedFromKey) == "float"

  /** Try to answer a pushed aggregation ENTIRELY from the zone-map sidecar
    * — the 100 TB degenerate-scan killer: `COUNT(*)` / `COUNT(col)` /
    * `MIN(col)` / `MAX(col)` over a whole table opens zero data files and
    * plans one single-row partition. Sound only when nothing narrows the
    * statistics' scope, so the answer is declined (→ normal scan) unless
    * ALL of:
    *
    *   - no pushed filters and no grouping (file-level stats cannot see
    *     inside a file);
    *   - every committed data file has a zone-map entry (a pre-zone-map
    *     file would make counts lie);
    *   - for MIN/MAX: the column is NaN-free in every file (the collector
    *     drops NaN from bounds, and Spark orders NaN greatest — a NaN-
    *     bearing file means the true MAX is NaN, which the stats cannot
    *     say) and every stored bound parses.
    *
    * COUNT semantics match Spark exactly: COUNT(*) counts rows, COUNT(col)
    * counts non-null rows (rows − nulls per entry, both exact). MIN/MAX
    * over zero non-null values is NULL.
    */
  def answerFromMetadata(path: String, schema: StructType, pushedFilters: Array[Filter],
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[GraftAggResult] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (pushedFilters.nonEmpty || aggregation.groupByExpressions.nonEmpty) return None
    val p = new Path(path)
    val fs = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    GraftParquetWrite.healQuietly(fs, p) // the metadata answer must not miss a published commit
    val files = GraftParquetWrite.listDataFiles(fs, p)
    val zm = ZoneMap.load(fs, p)
    val entries = files.map(f => zm.get(f.getPath.getName))
    if (entries.exists(_.isEmpty)) return None // un-entried file: counts would lie
    val stats = entries.flatten.toSeq

    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          schema.fields.find(_.name == nr.fieldNames()(0))
        case _ => None
      }
    // per-file (colStats, fileRows), present for EVERY file or not at all
    def perFile(f: StructField): Option[Seq[(ZoneMap.ColStats, Long)]] = {
      val per = stats.map(s => s.cols.get(f.name).map(c => (c, s.rows)))
      if (per.exists(_.isEmpty)) None else Some(per.flatten)
    }
    def toInternal(v: Any): Any = v match {
      case s: String => UTF8String.fromString(s)
      case other => other
    }
    def extreme(col: org.apache.spark.sql.connector.expressions.Expression, isMin: Boolean)
        : Option[(StructField, Any)] =
      fieldOf(col).filterNot(
        // a float→double-widened column declines: pre-widening bounds were
        // rendered from floats, and the exact extreme may differ from
        // their double re-parse by up to one float ulp — the normal scan
        // (which upcasts per file exactly) answers instead
        widenedFromFloat
      ).flatMap { f =>
        perFile(f).flatMap { per =>
          if (per.exists(_._1.nan)) None // true extreme could be NaN
          else {
            val boundOf = (c: ZoneMap.ColStats) => if (isMin) c.min else c.max
            // all-NULL files contribute nothing; a present-but-unparseable
            // bound declines the whole answer (never guess)
            val parsed = per.map { case (c, _) =>
              boundOf(c) match {
                case None => Right(None) // no non-null values in this file
                case Some(s) => ZoneMap.parseBound(s, f.dataType) match {
                  case Some(v) => Right(Some(v))
                  case None => Left(())
                }
              }
            }
            if (parsed.exists(_.isLeft)) None
            else {
              val vals = parsed.collect { case Right(Some(v)) => v }
              val res =
                if (vals.isEmpty) null
                else vals.reduce((a, b) =>
                  if (cmp(a, b).exists(c => if (isMin) c <= 0 else c >= 0)) a else b)
              val tag = if (isMin) "min" else "max"
              Some((StructField(s"${tag}_${f.name}", f.dataType, nullable = true),
                toInternal(res)))
            }
          }
        }
      }
    val answered: Seq[Option[(StructField, Any)]] =
      aggregation.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some((StructField("count_star", LongType, nullable = false),
            stats.map(_.rows).sum))
        case c: Count if !c.isDistinct =>
          fieldOf(c.column).flatMap(f => perFile(f).map(per =>
            (StructField(s"count_${f.name}", LongType, nullable = false),
              per.map { case (cs, rows) => rows - cs.nulls }.sum)))
        case m: Min => extreme(m.column, isMin = true)
        case m: Max => extreme(m.column, isMin = false)
        case _ => None // SUM/AVG/distinct: not representable in file stats
      }
    if (answered.exists(_.isEmpty)) None
    else {
      val fields = answered.flatten
      Some(GraftAggResult(
        StructType(fields.map(_._1)), fields.map(_._2),
        aggregation.aggregateExpressions.mkString(", ") + s" over ${files.length} files"))
    }
  }

  /** V2 runtime Predicate → v1 Filter for the shapes dynamic pruning sends
    * (IN from the dim side's join keys; comparisons/null-tests for
    * completeness). Literal values arrive in INTERNAL representation
    * (UTF8String for strings) and convert to the external domain
    * [[eval]]/[[ZoneMap.mayMatch]] compare in. Anything unconvertible maps
    * to None — the scan simply prunes less, never wrongly.
    */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate): Option[Filter] = {
    import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal, NamedReference}
    def ref(e: V2Expr): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }
    def external(v: Any): Any = v match {
      case u: UTF8String => u.toString
      case other => other
    }
    def lit(e: V2Expr): Option[Any] = e match {
      case l: Literal[_] => Some(external(l.value))
      case _ => None
    }
    val ch = p.children()
    def binary(mk: (String, Any) => Filter, flipped: (String, Any) => Filter): Option[Filter] =
      if (ch.length != 2) None
      else (ref(ch(0)), lit(ch(1)), ref(ch(1)), lit(ch(0))) match {
        case (Some(a), Some(v), _, _) => Some(mk(a, v))
        case (_, _, Some(a), Some(v)) => Some(flipped(a, v))
        case _ => None
      }
    p.name() match {
      case "IN" if ch.length >= 2 =>
        ref(ch(0)).flatMap { a =>
          val vs = ch.tail.map(lit)
          if (vs.exists(_.isEmpty)) None else Some(In(a, vs.flatten))
        }
      case "=" => binary(EqualTo, EqualTo)
      case ">" => binary(GreaterThan, LessThan)
      case ">=" => binary(GreaterThanOrEqual, LessThanOrEqual)
      case "<" => binary(LessThan, GreaterThan)
      case "<=" => binary(LessThanOrEqual, GreaterThanOrEqual)
      case "IS_NULL" if ch.length == 1 => ref(ch(0)).map(IsNull)
      case "IS_NOT_NULL" if ch.length == 1 => ref(ch(0)).map(IsNotNull)
      case _ => None
    }
  }

  /** Columns a filter references. */
  private def refs(f: Filter): Array[String] = f.references

  /** Accept only what the reader genuinely evaluates: comparisons/equality/
    * null-tests/IN over primitive columns present in the schema. Anything
    * else (nested ops, string matches, OR trees) goes back to Spark.
    */
  def evaluable(f: Filter, schema: StructType): Boolean = {
    def primitive(attr: String): Boolean =
      schema.fields.find(_.name == attr).map(_.dataType).exists {
        case LongType | IntegerType | DoubleType | FloatType | BooleanType | StringType => true
        case _ => false
      }
    val shapeOk = f match {
      case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
          _: LessThan | _: LessThanOrEqual | _: IsNull | _: IsNotNull | _: In => true
      case _ => false
    }
    shapeOk && refs(f).forall(primitive)
  }

  /** Code-point (== UTF-8 binary) string order: what Spark's UTF8String,
    * parquet's Binary statistics, and DuckDB's memcmp collation all use.
    * Plain String.compareTo is UTF-16 code-UNIT order, which disagrees for
    * supplementary characters vs BMP chars in [U+E000, U+FFFF] — comparing
    * that way would make pushed string filters, zone-map pruning, and
    * metadata MIN/MAX answers diverge from an un-pushed Spark scan on
    * astral-plane data. Implemented as the standard surrogate fix-up
    * (compare UTF-16 units, remapping the [0xD800, 0xFFFF] band so
    * surrogates sort above remapped BMP chars) — no allocation per compare.
    */
  private def utf8Cmp(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c1 = a.charAt(i)
      val c2 = b.charAt(i)
      if (c1 != c2) {
        return if (c1 >= 0xD800 && c2 >= 0xD800) {
          def fix(c: Char): Int = if (c >= 0xE000) c - 0x800 else c + 0x2000
          fix(c1) - fix(c2)
        } else c1 - c2
      }
      i += 1
    }
    a.length - b.length
  }

  /** Total order across the numeric value classes Spark puts in Filters.
    * Shared with [[ZoneMap]] and [[answerFromMetadata]] so statistics
    * pruning, metadata aggregates, and record-level evaluation can never
    * disagree on ordering.
    *
    * Floating-point semantics match Spark's comparator exactly
    * (`nanSafeCompareDoubles`): NaN equals NaN and sorts greatest — which
    * `Double.compare` already gives — and NEGATIVE ZERO EQUALS POSITIVE
    * ZERO, which `Double.compare` does not (it orders -0.0 < 0.0). The
    * zeros are normalized before comparing: without this, a pushed
    * `d = 0.0` would drop -0.0 rows Spark (and DuckDB) would keep, and
    * the zone map would refute files bounded by -0.0 that genuinely
    * match — wrong rows on the read path, silently surviving rows on
    * deleteWhere's pruned discovery. Normalization preserves the total
    * order (the two zeros merely tie).
    */
  private def normZero(d: Double): Double = if (d == 0.0d) 0.0d else d

  private[v2] def cmp(field: Any, value: Any): Option[Int] = (field, value) match {
    case (a: String, b: String) => Some(utf8Cmp(a, b))
    case (a: Boolean, b: Boolean) => Some(java.lang.Boolean.compare(a, b))
    case (a: Number, b: Number) =>
      (a, b) match {
        case (x: java.lang.Double, _) =>
          Some(java.lang.Double.compare(normZero(x), normZero(b.doubleValue())))
        case (_, y: java.lang.Double) =>
          Some(java.lang.Double.compare(normZero(a.doubleValue()), normZero(y)))
        case (x: java.lang.Float, _) =>
          Some(java.lang.Double.compare(normZero(x.doubleValue()), normZero(b.doubleValue())))
        case (_, y: java.lang.Float) =>
          Some(java.lang.Double.compare(normZero(a.doubleValue()), normZero(y.doubleValue())))
        case _ => Some(java.lang.Long.compare(a.longValue(), b.longValue()))
      }
    case _ => None
  }

  /** Reference record-level semantics for every accepted filter (SQL
    * three-valued logic: a comparison against a missing value is false).
    */
  def eval(f: Filter, get: String => Any): Boolean = f match {
    case IsNull(a) => get(a) == null
    case IsNotNull(a) => get(a) != null
    case EqualTo(a, v) => val x = get(a); x != null && cmp(x, v).contains(0)
    case GreaterThan(a, v) => val x = get(a); x != null && cmp(x, v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => val x = get(a); x != null && cmp(x, v).exists(_ >= 0)
    case LessThan(a, v) => val x = get(a); x != null && cmp(x, v).exists(_ < 0)
    case LessThanOrEqual(a, v) => val x = get(a); x != null && cmp(x, v).exists(_ <= 0)
    case In(a, vs) => val x = get(a); x != null && vs.exists(v => cmp(x, v).contains(0))
    case _ => true // unreachable: evaluable() gates acceptance
  }

  /** Compile an accepted filter to a parquet FilterPredicate where the
    * physical type allows — this is what turns the pushdown into row-group
    * and page SKIPPING via min/max statistics, not just early evaluation.
    * Filters that don't compile (IN, null-tests) still evaluate per record.
    */
  def toParquetPredicate(f: Filter, fileSchema: MessageType): Option[FilterPredicate] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def physical(attr: String) = {
      // index-based lookup: getType(String) is overload-ambiguous from Scala
      if (!fileSchema.containsField(attr)) None
      else {
        val t = fileSchema.getType(fileSchema.getFieldIndex(attr))
        if (t.isPrimitive) Some(t.asPrimitiveType().getPrimitiveTypeName) else None
      }
    }
    def make(attr: String, v: Any,
        mkLong: (org.apache.parquet.filter2.predicate.Operators.LongColumn, java.lang.Long) => FilterPredicate,
        mkInt: (org.apache.parquet.filter2.predicate.Operators.IntColumn, java.lang.Integer) => FilterPredicate,
        mkDouble: (org.apache.parquet.filter2.predicate.Operators.DoubleColumn, java.lang.Double) => FilterPredicate,
        mkBinary: (org.apache.parquet.filter2.predicate.Operators.BinaryColumn, Binary) => FilterPredicate)
        : Option[FilterPredicate] =
      (physical(attr), v) match {
        case (Some(INT64), n: Number) => Some(mkLong(FilterApi.longColumn(attr), n.longValue()))
        // an INT32 file under a widened LONG epoch can meet a long literal
        // beyond int range: intValue() would WRAP and a compiled range
        // predicate could drop genuinely-matching rows (x < 3e9 keeps every
        // int32 row, lt(wrapped negative) keeps almost none). Out-of-range
        // literals decline compilation; the record-level eval (which
        // compares at long width) stays authoritative.
        case (Some(INT32), n: Number) if n.longValue() == n.intValue().toLong =>
          Some(mkInt(FilterApi.intColumn(attr), n.intValue()))
        // a ±0.0 literal does NOT compile: parquet's double comparator is
        // total-order (-0.0 < 0.0), so its row-group/record filtering
        // would drop -0.0 rows a Spark-semantics `= 0.0` keeps — the
        // (zero-normalized) record-level eval stays authoritative and the
        // file merely scans un-skipped for this one literal shape
        case (Some(DOUBLE), n: Number) if n.doubleValue() != 0.0d =>
          Some(mkDouble(FilterApi.doubleColumn(attr), n.doubleValue()))
        case (Some(BINARY), s: String) => Some(mkBinary(FilterApi.binaryColumn(attr), Binary.fromString(s)))
        case _ => None
      }
    f match {
      case EqualTo(a, v) => make(a, v, FilterApi.eq, FilterApi.eq, FilterApi.eq, FilterApi.eq)
      case GreaterThan(a, v) => make(a, v, FilterApi.gt, FilterApi.gt, FilterApi.gt, FilterApi.gt)
      case GreaterThanOrEqual(a, v) => make(a, v, FilterApi.gtEq, FilterApi.gtEq, FilterApi.gtEq, FilterApi.gtEq)
      case LessThan(a, v) => make(a, v, FilterApi.lt, FilterApi.lt, FilterApi.lt, FilterApi.lt)
      case LessThanOrEqual(a, v) => make(a, v, FilterApi.ltEq, FilterApi.ltEq, FilterApi.ltEq, FilterApi.ltEq)
      case _ => None
    }
  }
}

/** Executor-side reader: parquet-hadoop Group API with the projection pushed
  * into the decoder and compiled predicates pushed into the row-group/page
  * filter; every accepted Spark filter is additionally re-checked per record
  * (statistics-based skipping is only a may-drop).
  */
final class GraftPartitionReader(
    file: String, start: Long, end: Long, required: StructType, filters: Array[Filter])
    extends PartitionReader[InternalRow] {

  // a copy: the projection below is set on it as PARQUET_READ_SCHEMA
  private val conf = HadoopConf.copy()
  private val input = HadoopInputFile.fromPath(new Path(file), conf)

  private val fileSchema: MessageType = {
    val r = ParquetFileReader.open(input, HadoopReadOptions.builder(conf).build())
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  // projection = required columns ∪ filter columns, in file order; built from
  // the FILE schema so logical annotations survive intact
  private val readCols: Seq[String] = {
    val want = (required.fieldNames ++ filters.flatMap(_.references)).toSet
    fileSchema.getFields.asScala.map(_.getName).filter(want).toSeq
  }
  private val projection = new MessageType(fileSchema.getName,
    readCols.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))): _*)

  private val reader: ParquetReader[Group] = {
    conf.set(ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
    // the InputFile constructor takes our conf as given — the (readSupport,
    // path) builder parses a fresh default conf of its own before withConf
    // replaces it
    val builder = new ParquetReader.Builder[Group](input, new HadoopParquetConfiguration(conf)) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
    }
      // only the row groups whose midpoints land in this partition's range
      .withFileRange(start, end)
    val preds = filters.flatMap(GraftScan.toParquetPredicate(_, fileSchema))
    val withSkip =
      if (preds.isEmpty) builder
      else builder.withFilter(FilterCompat.get(preds.reduce(FilterApi.and)))
    withSkip.build()
  }

  private val colIdx: Map[String, Int] = readCols.zipWithIndex.toMap
  private var current: InternalRow = _

  private def physOf(i: Int): org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName =
    projection.getType(i).asPrimitiveType().getPrimitiveTypeName

  private def value(g: Group, name: String): Any = colIdx.get(name) match {
    // column absent from this FILE's schema: written before the epoch that
    // added it — reads as NULL (schema evolution's per-file backfill)
    case None => null
    case Some(i) =>
    if (g.getFieldRepetitionCount(i) == 0) null
    else required.find(_.name == name).map(_.dataType) match {
      // TYPE-WIDENED epochs decode at the file's PHYSICAL width and upcast
      // (i32→i64, f32→f64 are value-preserving): a file written before an
      // int→long or float→double evolution serves the wide epoch exactly
      case Some(LongType) =>
        if (physOf(i) == org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32)
          g.getInteger(i, 0).toLong
        else g.getLong(i, 0)
      case Some(IntegerType) => g.getInteger(i, 0)
      case Some(DoubleType) =>
        if (physOf(i) == org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT)
          g.getFloat(i, 0).toDouble
        else g.getDouble(i, 0)
      case Some(FloatType) => g.getFloat(i, 0)
      case Some(BooleanType) => g.getBoolean(i, 0)
      case Some(StringType) => g.getString(i, 0)
      case _ => // filter-only column: physical type decides
        physOf(i) match {
          case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 => g.getLong(i, 0)
          case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32 => g.getInteger(i, 0)
          case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.DOUBLE => g.getDouble(i, 0)
          case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT => g.getFloat(i, 0)
          case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BOOLEAN => g.getBoolean(i, 0)
          case _ => g.getString(i, 0)
        }
    }
  }

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null && !filters.forall(GraftScan.eval(_, value(g, _)))) g = reader.read()
    if (g == null) { current = null; false }
    else {
      val row = new GenericInternalRow(required.length)
      var i = 0
      while (i < required.length) {
        val v = value(g, required(i).name)
        row.update(i, v match {
          case s: String => UTF8String.fromString(s)
          case other => other
        })
        i += 1
      }
      current = row
      true
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
