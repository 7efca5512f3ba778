package graft.sources

import graft.types._
import graft.operators.Ops
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source abstraction (SURVEY.md §2.1). The reference's scans are paged pulls
  * from Elasticsearch / S3 / HTTP; here every source is a `spark.read` whose
  * pagination, parallelism and projection/predicate pushdown are Spark's
  * partitioned scan. The existence-probe + failOnMissing semantics (S2) are
  * preserved: a missing source either aborts or yields None so the caller
  * skips the run *without advancing its checkpoint*
  * (reference `internal_raw_to_dwh/standard_pipeline.py:73-79`).
  */
object Sources {

  sealed trait Source {
    def path: String
    def load(spark: SparkSession): DataFrame
    /** Existence probe for [[open]]'s failOnMissing gate. Filesystem by
      * default; subtypes whose identity is not a path (catalog views,
      * future JDBC tables) override with their own lookup.
      */
    def exists(spark: SparkSession): Boolean = Sources.exists(spark, path)
  }

  /** S1-analog primary scan: columnar, partitioned, pushdown-friendly. */
  final case class ParquetSource(path: String) extends Source {
    def load(spark: SparkSession): DataFrame = ParquetRead(spark, path)
  }

  /** S3-analog chunked CSV scan with rename + lenient type maps applied
    * (reference `s3_service.py:155-184`). Chunking maps to file-split
    * partitions (`spark.sql.files.maxPartitionBytes`), not a row-count loop.
    */
  final case class CsvSource(
      path: String,
      renames: Map[String, String] = Map.empty,
      types: Seq[TypeSpec] = Nil,
      header: Boolean = true) extends Source {
    def load(spark: SparkSession): DataFrame = {
      val raw = spark.read
        .option("header", header.toString)
        .option("encoding", "UTF-8") // BOM handled natively (C2 parity)
        .csv(path)
      Ops.castWith(types)(Ops.renameWith(renames)(raw))
    }
  }

  /** S5-analog NDJSON scan (reference `data_processing.py:18-60`); the
    * type/date grouping it feeds is `groupBy`/`partitionBy` downstream.
    */
  final case class JsonLinesSource(path: String) extends Source {
    def load(spark: SparkSession): DataFrame = spark.read.json(path)
  }

  /** Connector-table source: a zone-mapped `graft-parquet` table as a
    * declared pipeline input, optionally pinned to a commit-log sequence
    * (`asOfSeq` — the snapshot handle [[graft.streaming.TableIngest]]
    * receipts carry). A pipeline that records the seq its training batch
    * saw can re-run bit-identically while the table keeps ingesting; a
    * handle retired past the retention horizon fails loudly at plan time.
    */
  final case class GraftTableSource(path: String, asOfSeq: Option[Long] = None) extends Source {
    def load(spark: SparkSession): DataFrame = {
      val r = spark.read.format("graft-parquet")
      asOfSeq.fold(r)(s => r.option("graft.asOfSeq", s.toString)).load(path)
    }
  }

  /** Catalog-backed source: a registered view or table — the pipeline form
    * for composing over an already-planned relation (an upstream stage's
    * output, a lakehouse table) instead of files. Stays one lazy plan: the
    * view's logical plan inlines into the pipeline's. Existence is a
    * catalog lookup, not a filesystem probe.
    */
  final case class ViewSource(name: String) extends Source {
    def path: String = name
    def load(spark: SparkSession): DataFrame = spark.table(name)
    override def exists(spark: SparkSession): Boolean = spark.catalog.tableExists(name)
  }

  /** S2 — existence probe + failOnMissing gate. Returns None (skip, keep
    * checkpoint) when missing and failOnMissing=false, throws when true.
    */
  def open(spark: SparkSession, source: Source, failOnMissing: Boolean): Option[DataFrame] = {
    if (source.exists(spark)) Some(source.load(spark))
    else if (failOnMissing)
      throw new java.io.FileNotFoundException(s"Source does not exist: ${source.path}")
    else None
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Events table adapter: the driver's parquet stores `ts` as
    * TIMESTAMP(NANOS), which Spark's TimestampType (µs) cannot hold. With
    * `spark.sql.legacy.parquet.nanosAsLong=true` the column arrives as a
    * nanosecond epoch long; this adapter truncates to µs — exactly what
    * DuckDB's reader does — so oracle comparisons agree. The raw nanos stay
    * available as `ts_ns` for tiebreaks.
    */
  /** Push a half-open wall-clock window down to the raw nanosecond column:
    * the derived µs `ts` is a post-scan projection, so a predicate on it
    * cannot reach the parquet reader — the equivalent `ts_ns` bounds do,
    * and row-group min/max stats prune whole chunks of a 100 TB scan.
    */
  def pushTsRangeNs(df: DataFrame, start: Option[String], end: Option[String]): DataFrame = {
    // The pushed bounds are deliberately weaker-or-equal (floor the lower,
    // ceil the upper to whole seconds): the exact µs-precision filter on `ts`
    // still applies downstream, so this only prunes, never drops valid rows.
    def instant(s: String): java.time.Instant =
      java.time.LocalDateTime.parse(s.replace(' ', 'T')).toInstant(java.time.ZoneOffset.UTC)
    def floorNs(s: String): Long = instant(s).getEpochSecond * 1000000000L
    def ceilNs(s: String): Long = {
      val i = instant(s)
      (i.getEpochSecond + (if (i.getNano > 0) 1 else 0)) * 1000000000L
    }
    if (!df.columns.contains("ts_ns")) df
    else {
      val lower = start.map(s => col("ts_ns") >= lit(floorNs(s)))
      val upper = end.map(e => col("ts_ns") < lit(ceilNs(e)))
      (lower.toSeq ++ upper.toSeq).foldLeft(df)((d, p) => d.filter(p))
    }
  }

  /** Read a raw-text corpus written by [[graft.sinks.Sinks.writeTextCorpus]],
    * auto-detecting the layout from the top-level directory names (one
    * driver-side listing — the same cost Spark's own partition discovery
    * pays):
    *
    *   - sharded (`shard=N` dirs): the id is recovered from the FILE NAME
    *     via `input_file_name()` + [[graft.sinks.TextCorpusLayout]]'s
    *     expression-only decode — no per-document directories, so the
    *     file-index listing is nShards directories however large the
    *     corpus. Ids come back as strings (the file name has no type);
    *     callers cast.
    *   - flat (`<idCol>=value` dirs — the small-corpus layout): partition
    *     discovery recovers the id from the directory name, keeping
    *     whatever type discovery infers.
    *
    * Both paths are files-based parallelism (small files bundled up to
    * `maxPartitionBytes` per task), no central state beyond the file index.
    */
  def textCorpus(spark: SparkSession, path: String, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = if (fs.exists(root))
      fs.listStatus(root) else Array.empty[org.apache.hadoop.fs.FileStatus]
    // an EMPTY published corpus (writeTextCorpus of zero docs) is a root
    // holding ONLY the _SUCCESS marker — neither branch below could even
    // name its columns, so answer it here, typed. The marker requirement
    // keeps this narrow: a wrong path, a plain file, or a damaged root
    // still falls through to the loud resolution failure below. The id
    // comes back as StringType — an empty layout carries no type evidence
    // (sharded ids are strings always; flat discovery has nothing to
    // infer from), so callers casting must tolerate the cast-from-empty.
    val visible = statuses.filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (statuses.nonEmpty && visible.isEmpty &&
        statuses.exists(_.getPath.getName == "_SUCCESS"))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(idCol, org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(textCol, org.apache.spark.sql.types.StringType))))
    val sharded = statuses.exists { st =>
      st.isDirectory && st.getPath.getName.startsWith("shard=")
    }
    if (sharded)
      spark.read.text(path)
        .select(
          graft.sinks.TextCorpusLayout.idFromFilePath(input_file_name()).as(idCol),
          col("value").as(textCol))
    else
      spark.read.text(path)
        .select(col(idCol), col("value").as(textCol))
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // Defensive: a driver-created session may lack the nanosAsLong conf
    // (it is runtime-settable); without it the NANOS column is unreadable.
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
    val raw = ParquetRead(spark, s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // TIMESTAMP(NANOS) parquet, surfaced as an epoch-ns long. Integer
        // division is mandatory: epoch-ns (~1.7e18) exceeds double's 53-bit
        // mantissa, so `/ 1000` + floor would be off by ±1 µs.
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Naive µs parquet (no tz annotation): interpret the wall-clock value
        // as UTC — identical to DuckDB's naive read and to the NANOS branch's
        // truncation semantics. The cast is exact under the engine's fixed
        // UTC session zone; [[graft.plans.PushNtzTsFilters]] unwraps range
        // filters on the derived columns back onto the scannable NTZ
        // attribute so row-group pruning still works.
        raw.withColumn("ts_ns", unix_micros(col("ts").cast("timestamp")) * 1000L)
          .withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }
}
