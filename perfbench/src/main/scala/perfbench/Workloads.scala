package perfbench

import graft.SparkEntry
import graft.pipeline.PipelineConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.perfbench.Bridge

/** One timed operation. `run` is the measured call. `before` runs untimed
  * right before it (drawing the operation's seeded parameters), `after`
  * untimed right after it (state bookkeeping and output checks) and returns
  * whether the output passed its check.
  */
final case class Op(name: String, run: () => Unit,
    after: () => Boolean = () => true, before: () => Unit = () => ())

trait Workload {
  /** Untimed state creation before the warm passes (part of setup). */
  def prepare(): Unit = ()

  /** The operations of pass `pass`, in the pass's seeded order. */
  def ops(pass: Int): Seq[Op]

  /** Untimed checks at the end of a pass; returns the names of the
    * operations of that pass whose outputs failed a pass-level check.
    */
  def afterPass(pass: Int): Set[String] = Set.empty

  /** Writes every catalog operation's output for the external oracle check. */
  def dumpOutputs(dir: String, injectWrong: Option[String]): Unit = ()

  /** Bytes on disk of what the workload keeps, over the same live rows
    * written fresh.
    */
  def spaceAmp(): Double = 1.0

  /** Domain counters for the traced run (files rewritten, rows purged...). */
  def counters(): Map[String, Double] = Map.empty
}

/** The `etl_batch` workload: catalog queries, run the way a user gets their
  * result (the closure builds the DataFrame, its physical plan is forced
  * once, and every output row and column is materialized through that
  * plan), and the two reference archetypes run from config. Each pass runs
  * every operation once, in a seeded order.
  */
final class EtlBatch(spark: SparkSession, dataDir: String, outDir: String,
    seed: Long, tracer: Tracer) extends Workload {
  import EtlBatch.queries

  private def fn(name: String) = SparkEntry.queries(name)

  private def catalogOp(name: String): Op = Op(name, () => {
    val df = tracer.span("SparkEntry.build", "SparkEntry.build")(fn(name)(spark, dataDir))
    tracer.span("plans.plan", "plans.plan")(df.queryExecution.executedPlan)
    tracer.span("exec", "exec")(Bridge.materialize(df))
  })

  /** The CSV-ingest archetype on the seeded AppsFlyer installs export: every
    * human-readable header renamed to snake case, install time, LAT flag and
    * cost typed, re-delivered installs deduplicated keeping the first, to a
    * parquet sink.
    */
  val csvConfig: String = {
    val first = new java.io.File(s"$dataDir/raw/installs").listFiles()
      .filter(_.getName.endsWith(".csv")).minBy(_.getName)
    val src = scala.io.Source.fromFile(first, "UTF-8")
    val headers = try src.getLines().next().stripPrefix("\uFEFF").split(",").toSeq
      .map(_.stripPrefix("\"").stripSuffix("\"")) finally src.close()
    val renames = headers.map(h => s"${Json.str(h)}: ${Json.str(EtlBatch.snake(h))}")
    s"""{"source": {"type": "csv", "path": "$dataDir/raw/installs",
       |  "renames": {${renames.mkString(", ")}},
       |  "types": {"install_time": "timestamp", "is_lat": "boolean", "cost_value": "double"}},
       | "constants": {"source_": "appsflyer"},
       | "dedup": {"strategy": "keepFirst", "by": ["appsflyer_id"], "orderBy": ["install_time"]},
       | "sink": {"type": "parquet", "options": {"path": "$outDir/pipeline_csv_parquet"}}}""".stripMargin
  }

  /** The raw-to-DWH archetype: an events query model, enrichment, a TSV sink,
    * then a checkpoint.
    */
  val eventsConfig: String =
    s"""{"source": {"type": "parquet", "path": "$dataDir/events.parquet"},
       | "query": {"rangeField": "ts", "start": "2024-01-05 00:00:00", "end": "2024-01-20 00:00:00",
       |   "filters": {"event_type": "purchase"},
       |   "sourceFields": ["event_id", "user_id", "event_type", "value"]},
       | "constants": {"version_": "v1"},
       | "sink": {"type": "tsv", "options": {"path": "$outDir/pipeline_events_tsv"}},
       | "checkpoint": {"path": "$outDir/pipeline_events_checkpoint",
       |   "values": {"pipeline": "events_tsv"}}}""".stripMargin

  private def pipelineOp(name: String, config: String): Op = Op(name, () => {
    val p = tracer.span("pipeline.parse", "pipeline.parse")(PipelineConfig.fromJson(spark, config))
    if (tracer.enabled)
      tracer.span("pipeline.plan", "pipeline.plan")(p.plan(spark).foreach(_.queryExecution.executedPlan))
    tracer.span("pipeline.run", "pipeline.run")(p.run(spark))
  })

  private val all: Seq[Op] = queries.map(catalogOp) ++ Seq(
    pipelineOp("pipeline_csv_parquet", csvConfig),
    pipelineOp("pipeline_events_tsv", eventsConfig))

  def ops(pass: Int): Seq[Op] = new scala.util.Random(seed * 1000003L + pass).shuffle(all)

  override def dumpOutputs(dir: String, injectWrong: Option[String]): Unit = {
    queries.foreach { name =>
      val df = fn(name)(spark, dataDir)
      // a wrong result on purpose (the self-test's injected failure): one
      // duplicated row, which no correct output has
      val out: DataFrame = if (injectWrong.contains(name)) df.union(df.limit(1)) else df
      out.write.mode("overwrite").parquet(s"$dir/$name")
    }
    val oracle = queries.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/oracle_sql.json"),
      oracle.mkString("{", ",", "}").getBytes("UTF-8"))
  }
}

object EtlBatch {
  /** Scan and pushdown (`flagship_events`, `events_query_model`), windows
    * (`dedup_keep_first`, `scd2_history`), aggregation (`q1_agg`) and a
    * shuffle join with top-k (`q3_topk_join`).
    */
  val queries: Seq[String] = Seq(
    "flagship_events", "events_query_model", "dedup_keep_first", "scd2_history",
    "q1_agg", "q3_topk_join")

  /** An export header as the pipeline names the column ("AppsFlyer ID" ->
    * "appsflyer_id").
    */
  def snake(header: String): String = header.toLowerCase.replace(' ', '_')
}

object Fs {
  /** Bytes of every regular file under `path` (0 when absent). */
  def bytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }
}
