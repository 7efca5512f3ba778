package graft.operators

import graft.types._
import graft.functions.Registry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's operator surface as composable `DataFrame => DataFrame`
  * transforms (SURVEY.md §2). Everything here is declarative Column algebra,
  * so Catalyst gets full visibility: filters/projections push into the scan,
  * whole-stage codegen fuses the chain, and AQE re-plans shuffles at runtime.
  * No collect(), no driver-side row loops — every op scales by partitioning.
  */
object Ops {

  /** P4 — half-open time window `[start, end)`. Applied only when BOTH bounds
    * are present, else a no-op (match_all fallback,
    * reference `elastic_query_model.py:25-40`).
    */
  def rangeFilter(field: String, start: Option[String], end: Option[String]): DataFrame => DataFrame =
    df =>
      (start, end) match {
        case (Some(s), Some(e)) => df.filter(col(field) >= lit(s) && col(field) < lit(e))
        case _ => df
      }

  /** P5 — conjunctive equality filters (reference `elastic_query_model.py:53-55`). */
  def termFilters(filters: Seq[(String, String)]): DataFrame => DataFrame =
    df => filters.foldLeft(df) { case (d, (k, v)) => d.filter(col(k) === lit(v)) }

  /** P1/P2 — keep listed columns. `strict` raises on a missing column, else
    * missing columns are skipped (reference `pandas_select_and_enrich.py:59-68`).
    */
  def selectColumns(columns: Seq[String], strict: Boolean = true): DataFrame => DataFrame = { df =>
    val present = df.columns.toSet
    val missing = columns.filterNot(present)
    if (strict && missing.nonEmpty)
      throw new graft.GraftConfigError(s"Missing columns: ${missing.mkString(", ")}")
    df.select(columns.filter(present).map(col): _*)
  }

  /** P3 — field-mapping projection: nested path extraction + rename + reorder,
    * with a configurable placeholder for missing/null values
    * (reference `tsv_converter.py:164-186`; placeholder default the *string*
    * "NULL", `:48`). Fields listed in `notNullFields` must be non-null — the
    * run fails otherwise (P6, `:178-179`), enforced here lazily via a check
    * column the caller can assert on, or eagerly via [[notNullCheck]].
    */
  def project(
      fields: Seq[FieldSpec],
      placeholder: Option[String] = Some("NULL"),
      notNullFields: Set[String] = Set.empty): DataFrame => DataFrame = { df =>
    val cols = fields.map { f =>
      val c = col(f.path)
      val withPlaceholder = placeholder match {
        case Some(p) if !notNullFields.contains(f.name) => coalesce(c.cast("string"), lit(p))
        case _ => c
      }
      withPlaceholder.as(f.name)
    }
    df.select(cols: _*)
  }

  /** P6 — fail the run if a required field has any null (reference
    * `tsv_converter.py:178-179`). One job over the filter; the scan prunes to
    * just the checked columns.
    */
  def notNullCheck(fields: Seq[String])(df: DataFrame): DataFrame = {
    if (fields.nonEmpty) {
      val pred = fields.map(col(_).isNull).reduce(_ || _)
      val bad = df.filter(pred).limit(1).count()
      if (bad > 0)
        throw new graft.GraftDataError(s"Null value in required field(s): ${fields.mkString(", ")}")
    }
    df
  }

  /** T1/T2 — constant-column enrichment (reference
    * `pandas_select_and_enrich.py:46-49`, `tsv_converter.py:188-197`).
    */
  def enrichConst(constants: Seq[(String, Any)]): DataFrame => DataFrame =
    df => constants.foldLeft(df) { case (d, (name, v)) => d.withColumn(name, lit(v)) }

  /** U1 — function-valued enrichment: resolve the named registry function,
    * bind args from row columns (`inputMapping`) and constants (`staticArgs`),
    * splat the struct result into output columns per `outputMapping`
    * (reference `tsv_converter.py:105-154`, registry gate
    * `elasticsearch_to_postgresql.py:100-111`).
    */
  def enrichFn(field: FnField): DataFrame => DataFrame = { df =>
    val fn = Registry(field.fn)
    val args: Map[String, Column] =
      field.inputMapping.map { case (arg, path) => arg -> col(path) } ++
        field.staticArgs.map { case (arg, v) => arg -> lit(v) }
    val resultCol = fn.build(args)
    val tmp = "__graft_fn_result"
    val withRes = df.withColumn(tmp, resultCol)
    field.outputMapping.foldLeft(withRes) { case (d, (resField, outCol)) =>
      d.withColumn(outCol, col(s"$tmp.$resField"))
    }.drop(tmp)
  }

  /** W1 — dedup keep-first-by-order (reference `pandas_select_and_enrich.py:52-57`):
    * first row per `dedupBy` key under `orderBy` ascending. pandas' stable
    * sort keeps input order on ties; Spark needs the explicit `tiebreak`
    * column for the same determinism (SURVEY.md §7.4.1) — callers that need
    * bit-exact parity pass an ingest row id.
    *
    * Scale: one hash shuffle on the dedup key; AQE splits skewed keys. This is
    * the plan a 1000-executor cluster wants — no global sort.
    */
  def dedupKeepFirst(spec: DedupSpec): DataFrame => DataFrame = { df =>
    val ordering: Seq[Column] = spec.orderBy.map(col) ++ spec.tiebreak.toSeq
    val w = Window.partitionBy(spec.dedupBy.map(col): _*).orderBy(ordering: _*)
    val rn = "__graft_rn"
    df.withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn)
  }

  /** S3 — lenient type coercion per the reference's CSV ingest
    * (`s3_service.py:171-182`): `coerce` -> bad values become null
    * (try_cast / to_timestamp), `ignore` -> bad values keep the original.
    */
  def castWith(specs: Seq[TypeSpec]): DataFrame => DataFrame = { df =>
    specs.foldLeft(df) { (d, s) =>
      val src = col(s.column)
      val casted = s.target.toLowerCase match {
        // try_to_timestamp, not to_timestamp: ANSI mode (Spark 4 default)
        // raises on malformed input, but coerce semantics want null.
        case "timestamp" => try_to_timestamp(src)
        case t => try_cast(src, t)
      }
      s.mode match {
        case CastCoerce => d.withColumn(s.column, casted)
        case CastIgnore => d.withColumn(s.column, when(casted.isNull && src.isNotNull, src).otherwise(casted.cast("string")))
      }
    }
  }

  private def try_cast(c: Column, t: String): Column = c.try_cast(t)

  /** Rename map application (reference `s3_service.py:166-169`). */
  def renameWith(renames: Map[String, String]): DataFrame => DataFrame =
    df => df.withColumnsRenamed(renames)

  /** O1 — explicit result ordering (reference `elastic_query_model.py:48-50`,
    * default ascending by timestamp). A global sort — only used at the query
    * surface where the reference guarantees scan order.
    */
  def sortBy(order: Seq[(String, Boolean)]): DataFrame => DataFrame =
    df =>
      if (order.isEmpty) df
      else df.orderBy(order.map { case (f, asc) => if (asc) col(f).asc else col(f).desc }: _*)

  /** A2 — run-stats counters (the reference's `rows_loaded` accounting,
    * `internal_raw_to_dwh/standard_pipeline.py:113-115`) via `observe`: the
    * metric accumulates during the SAME action that consumes the frame — no
    * second scan, which at 100 TB is the difference between free accounting
    * and doubling the job.
    */
  def countObserved(df: DataFrame)(action: DataFrame => Unit): Long = {
    val obs = new org.apache.spark.sql.Observation()
    action(df.observe(obs, count(lit(1)).as("rows_loaded")))
    obs.get("rows_loaded").asInstanceOf[Long]
  }

  /** Parallelism guard for CPU-dense per-row kernels (MinHash signatures,
    * cosine scans): if the input plan has fewer partitions than the
    * kernel's width ([[graft.Sizing.kernelWidth]] at the vector-kernel byte
    * target), round-robin repartition up to it so the compute fans out. At
    * 100 TB the scan already carries thousands of file-split partitions and
    * this is a no-op — the guard only fires for few-partition inputs (a
    * single small file, a collapsed post-AQE stage), where the one extra
    * shuffle of the narrow projected input is cheaper than running the
    * kernel on one core.
    */
  def spread(df: DataFrame): DataFrame =
    spreadWith(df, graft.Sizing.VectorKernelBytes)

  /** [[spread]] at the text-kernel byte target
    * ([[graft.Sizing.TextKernelBytes]]): tokenize and n-gram/minhash
    * explode kernels do several times the per-byte CPU of a vector kernel.
    */
  def spreadText(df: DataFrame): DataFrame =
    spreadWith(df, graft.Sizing.TextKernelBytes)

  private def spreadWith(df: DataFrame, bytesPerPartition: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical
    val target = graft.Sizing.kernelWidth(df, bytesPerPartition)
    // a plan that already shuffles gets its parallelism from the shuffle
    // (spark.sql.shuffle.partitions / an explicit repartition / AQE); only
    // narrow scan-shaped plans need the guard. This matters because the
    // `.rdd` partition probe below EXECUTES query stages under AQE — cheap
    // metadata for a raw scan, a full re-run for a shuffled subtree.
    // Join is deliberately NOT in this list: a broadcast join keeps the
    // probe side's partitioning (possibly 1 partition), so joined plans
    // still need the guard; the probe may then execute join stages once,
    // which is the price of not serializing a CPU kernel. Sort counts only
    // when global (sortWithinPartitions does not exchange).
    // CAVEAT: trusting shuffle parallelism means AQE may still coalesce a
    // small shuffle output to 1 partition and re-serialize a downstream
    // CPU-dense kernel. Kernel-feeding call sites that can't afford that
    // must pin parallelism with an explicit repartition(n, cols) — explicit
    // counts are exempt from AQE coalescing (see Dedup.distinctContent).
    val hasShuffle = df.queryExecution.logical.find {
      case _: logical.Repartition | _: logical.RepartitionByExpression |
          _: logical.Aggregate | _: logical.Window |
          _: logical.Distinct | _: logical.Deduplicate => true
      case s: logical.Sort => s.global
      case _ => false
    }.isDefined
    if (hasShuffle) df
    else if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Whole declarative query (the ElasticQueryModel analog): window + terms +
    * projection + sort in one plan (reference `elastic_query_model.py:18-61`).
    */
  def query(spec: QuerySpec): DataFrame => DataFrame = { df =>
    val afterRange = spec.rangeField match {
      case Some(f) => rangeFilter(f, spec.start, spec.end)(df)
      case None => df
    }
    val afterTerms = termFilters(spec.filters)(afterRange)
    val afterProj = spec.sourceFields match {
      case Some(fields) => afterTerms.select(fields.map(col): _*)
      case None => afterTerms
    }
    sortBy(spec.sortBy)(afterProj)
  }

  /** Time-series resampling to a regular grid with forward fill (the
    * kdb/Flink "sample-and-hold" shape): per key, grid points at every
    * multiple of `stepMicros` within the key's observed span, each carrying
    * the LAST observation at or before it. The grid starts at the first
    * multiple ≥ the key's min timestamp, so every emitted point has an
    * observation to inherit — no partial rows, no sentinel values.
    *
    * Composition, not new machinery: per-key bounds are one aggregation,
    * the grid is a bounded `sequence` explode (≤ span/step rows per key —
    * state the step in the key's natural cadence, not microseconds, or the
    * explode IS the output size), and the fill is the engine's own as-of
    * join ([[Joins.asOfJoin]] — union + one keyed window, one shuffle).
    * Same-instant observation ties break by `tieBreak` keep-first, the
    * as-of contract.
    *
    * `maxStepsPerKey` hard-caps the per-key grid the same way
    * [[Joins.intervalOverlapJoin]] caps its bucket explode: one key
    * spanning years at a fine step is a silent task OOM, and that decision
    * must be the caller's. Overflow raises executor-side with the key's
    * actual grid size in the message.
    *
    * The first grid point is the smallest multiple of `stepMicros` that is
    * ≥ the key's min timestamp, computed with FLOOR-division semantics so
    * pre-epoch (negative) timestamps land on the correct multiple —
    * `x - pmod(x, step)` floors for any sign, where Spark's `DIV` would
    * truncate toward zero and skip a grid point.
    */
  def resampleForward(
      df: DataFrame,
      keys: Seq[String],
      tsMicrosCol: String,
      payload: Seq[String],
      tieBreak: String,
      stepMicros: Long,
      maxStepsPerKey: Int = 1 << 20): DataFrame = {
    require(stepMicros > 0, s"stepMicros must be positive (got $stepMicros)")
    require(maxStepsPerKey > 0, s"maxStepsPerKey must be positive (got $maxStepsPerKey)")
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(min(col(tsMicrosCol)).as("__mn"), max(col(tsMicrosCol)).as("__mx"))
    val x = s"(__mn + ${stepMicros - 1})"
    val firstSql = s"($x - pmod($x, $stepMicros))"
    val first = expr(firstSql)
    // __mx >= first whenever the branch below takes it, so the difference
    // is non-negative and truncating DIV equals floor division
    val steps = expr(s"(__mx - $firstSql) DIV $stepMicros + 1")
    val grid = bounds
      .select(keys.map(col) :+ explode(
        when(first <= col("__mx"),
          when(steps > maxStepsPerKey,
            raise_error(concat(
              lit("resampleForward: a key's grid has "),
              steps.cast("long").cast("string"),
              lit(s" points at stepMicros=$stepMicros, over maxStepsPerKey=" +
                s"$maxStepsPerKey — coarsen the step or pre-split the key"))))
            .otherwise(sequence(first, col("__mx"), lit(stepMicros))))
          .otherwise(array().cast("array<long>"))).as(tsMicrosCol): _*)
    Joins.asOfJoin(grid, df, keys, tsMicrosCol, tsMicrosCol, payload, tieBreak)
  }
}
