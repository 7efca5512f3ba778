package graft

import graft.functions.{Registry, VectorExpressions}
import graft.operators.{Dedup, EntityResolution, Multimodal, Ops, Sampling, Similarity, TextAnalysis}
import graft.sinks.Sinks
import graft.sources.{FsPublish, ParquetRead, Sources}
import graft.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver contract (SURVEY.md §7): one named query per implemented operator,
  * each paired (when ANSI-SQL-expressible) with a DuckDB oracle over the same
  * parquet tables.
  *
  * Determinism rules for oracle parity:
  *  - aggregated monetary/quantity sums go through DECIMAL casts in BOTH
  *    engines (double accumulation order differs between Spark partial
  *    aggregates and DuckDB's sequential scan; decimal arithmetic is exact),
  *    but the FINAL sum is cast to DOUBLE in both — see [[decSum]];
  *  - per-row double arithmetic is left as double (same IEEE ops, same
  *    operands, identical results);
  *  - `events.ts` (parquet TIMESTAMP_NANOS) is truncated to µs on the Spark
  *    side ([[Sources.events]]) and `CAST(ts AS TIMESTAMP)` on the DuckDB
  *    side — identical truncation;
  *  - every computed column is aliased to the same name in both engines
  *    (the driver sorts columns by name before hashing);
  *  - ranked/limited queries carry a full deterministic tiebreaker.
  */
object SparkEntry {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** One scratch root per JVM, deleted on exit: the round-trip/ingest
    * queries materialize files, and every builder invocation (Verify,
    * Bench re-runs, PlanGuardSpec's whole-surface sweeps) would otherwise
    * leave a fresh orphan directory under /tmp. Run-scoped (not a fixed
    * path) so two concurrent runs — the local verify loop and the
    * driver's gate — cannot clobber each other mid-read.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file._
      try {
        Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      } catch { case _: Exception => () } // best-effort: never fail exit
    }))
    root
  }

  private def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  /** Invariant harness for the near-dup LSH family, whose survivor sets
    * depend on xxhash64 kernels DuckDB cannot run: instead of dumping the
    * (un-oracle-able) survivor list, the query emits PROVABLE invariants of a
    * correct run as (chk, n) rows — the oracle states their expected values
    * as literals, so any violation (an id from nowhere, two survivors of
    * identical text, the globally smallest id dropped, survivors exceeding
    * the distinct-content count) breaks the hash match. The full dedup still
    * executes: every invariant consumes the survivor set.
    */
  private def dedupInvariants(docs: DataFrame, kept: DataFrame, idCol: String, textCol: String): DataFrame = {
    // materialize the survivor ID LIST once (narrow long column, bounded by
    // the corpus id count): each invariant below references it, and without
    // the checkpoint every branch would re-run the whole LSH dedup
    val keptIds = kept.select(col(idCol)).transform(Checkpointing.materialize)
    val digest = md5(to_json(struct(col(textCol))))
    val tot = docs.agg(count(lit(1)).as("total"))
    val kc = keptIds.agg(count(lit(1)).as("kept"))
    val groups = docs.agg(countDistinct(digest).as("groups"))
    val notIn = keptIds.join(docs.select(col(idCol)), Seq(idCol), "left_anti")
      .agg(count(lit(1)).as("not_in"))
    val multi = docs.withColumn("__digest", digest)
      .join(keptIds, Seq(idCol), "left_semi")
      .groupBy(col("__digest")).agg(count(lit(1)).as("k"))
      .filter(col("k") >= 2).agg(count(lit(1)).as("multi"))
    val minDropped = docs.agg(min(col(idCol)).as(idCol))
      .join(keptIds, Seq(idCol), "left_anti")
      .agg(count(lit(1)).as("mindrop"))
    tot.crossJoin(kc).crossJoin(groups).crossJoin(notIn).crossJoin(multi).crossJoin(minDropped)
      .selectExpr(
        """stack(6,
          | 'total_input', CAST(total AS BIGINT),
          | 'kept_in_range', CAST(CASE WHEN kept >= 1 AND kept <= total THEN 1 ELSE 0 END AS BIGINT),
          | 'kept_not_in_input', CAST(not_in AS BIGINT),
          | 'exact_group_multi_kept', CAST(multi AS BIGINT),
          | 'min_id_dropped', CAST(mindrop AS BIGINT),
          | 'kept_gt_distinct_content', CAST(CASE WHEN kept > groups THEN 1 ELSE 0 END AS BIGINT)
          |) AS (chk, n)""".stripMargin)
  }

  /** Invariants for the incremental NEAR-dup ingestion gate
    * ([[operators.Dedup.incrementalMinhash]]), each computable Spark-side by
    * an independent exact method and stated by the oracle as a literal (the
    * LSH pruning itself uses xxhash kernels DuckDB cannot replay — same
    * rationale as [[dedupInvariants]]):
    *  - `total_batch`: batch row count (oracle recomputes in SQL);
    *  - `admitted_not_in_batch` = 0: admitted ⊆ batch;
    *  - `exact_clone_admitted` = 0: a batch row whose content digest exists
    *    in the corpus NEVER passes (identical text ⇒ full band collision ⇒
    *    bloom hit ⇒ Jaccard 1 ≥ threshold);
    *  - `within_admitted_exact_dupes` = 0: the within-batch collapse leaves
    *    no two admitted rows with identical content;
    *  - `near_clone_admitted` = 0: no admitted row has exact n-gram Jaccard
    *    ≥ 0.9 against any corpus row — verified here via the FULL gram-hash
    *    inverted index (every pair with jac > 0 shares a gram, so the index
    *    misses nothing), independent of the gate's banded path;
    *  - `rejected_ge_exact_clones` = 1: the gate rejected at least as many
    *    rows as there are exact corpus clones in the batch.
    */
  private def incrementalGateInvariants(
      corpus: DataFrame,
      batch: DataFrame,
      admitted: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val admIds = admitted.select(col(idCol)).transform(Checkpointing.materialize)
    val digest = md5(to_json(struct(col(textCol))))
    val grams = array_distinct(graft.functions.HashExpressions
      .ngramHashes(operators.TextAnalysis.tokens(col(textCol)), 3))
    val tot = batch.agg(count(lit(1)).as("total"))
    val admCnt = admIds.agg(count(lit(1)).as("adm"))
    val notIn = admIds.join(batch.select(col(idCol)), Seq(idCol), "left_anti")
      .agg(count(lit(1)).as("not_in"))
    val corpusDigests = corpus.select(digest.as("__digest")).distinct()
    val cloneAdmitted = batch.withColumn("__digest", digest)
      .join(admIds, Seq(idCol), "left_semi")
      .join(corpusDigests, Seq("__digest"), "left_semi")
      .agg(count(lit(1)).as("clone_adm"))
    val withinDupes = batch.withColumn("__digest", digest)
      .join(admIds, Seq(idCol), "left_semi")
      .groupBy(col("__digest")).agg(count(lit(1)).as("k"))
      .filter(col("k") >= 2).agg(count(lit(1)).as("within"))
    // exact inverted-index near-clone check: common-gram counts per
    // (admitted, corpus) pair via one equi-join on the gram hash, then the
    // exact |∩| / |∪| ratio — no LSH involved
    val admGrams = operators.Ops.spreadText(
        batch.join(admIds, Seq(idCol), "left_semi")
          .select(col(idCol), col(textCol)))
      .select(col(idCol).as("__a"), grams.as("__g"))
      .select(col("__a"), size(col("__g")).as("__na"), explode(col("__g")).as("__h"))
    // spread: the corpus-side gram kernel (tokenize + trigram hash +
    // explode) otherwise runs on the scan's single partition at small sizes
    val corpGrams = operators.Ops.spreadText(
        corpus.select(col(idCol), col(textCol)))
      .select(col(idCol).as("__b"), grams.as("__g"))
      .select(col("__b"), size(col("__g")).as("__nb"), explode(col("__g")).as("__h"))
    // sound pair prune BEFORE the per-pair count: jac = |∩|/|∪| ≤
    // min(na,nb)/max(na,nb), so any pair whose distinct-gram counts differ
    // by more than the threshold ratio cannot reach 0.9 — dropping it at
    // join-output time keeps the exactness of the check while cutting the
    // groupBy input by the frequent-gram blowup (the common trigrams that
    // pair most docs also pair docs of very different lengths)
    // the admitted side is batch-bounded (one ingestion micro-batch), the
    // corpus side is the 100 TB one: broadcasting the batch grams keeps the
    // corpus explode in the scan stage — no corpus-sized shuffle
    val nearClone = broadcast(admGrams).join(corpGrams, Seq("__h"))
      .filter(least(col("__na"), col("__nb")) * 10 >=
        greatest(col("__na"), col("__nb")) * 9)
      .groupBy(col("__a"), col("__b"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("__common"))
      .filter(col("__common").cast("double") /
        (col("__na") + col("__nb") - col("__common")) >= 0.9)
      .agg(countDistinct(col("__a")).as("near_adm"))
    val exactClones = batch.withColumn("__digest", digest)
      .join(corpusDigests, Seq("__digest"), "left_semi")
      .agg(count(lit(1)).as("clones"))
    tot.crossJoin(admCnt).crossJoin(notIn).crossJoin(cloneAdmitted)
      .crossJoin(withinDupes).crossJoin(nearClone).crossJoin(exactClones)
      .selectExpr(
        """stack(6,
          | 'total_batch', CAST(total AS BIGINT),
          | 'admitted_not_in_batch', CAST(not_in AS BIGINT),
          | 'exact_clone_admitted', CAST(clone_adm AS BIGINT),
          | 'within_admitted_exact_dupes', CAST(within AS BIGINT),
          | 'near_clone_admitted', CAST(near_adm AS BIGINT),
          | 'rejected_ge_exact_clones', CAST(CASE WHEN total - adm >= clones THEN 1 ELSE 0 END AS BIGINT)
          |) AS (chk, n)""".stripMargin)
  }

  /** Shared DuckDB replay of [[operators.TextAnalysis.trainPerceptron]]'s
    * three unrolled batch-perceptron iterations (integer weights, exact
    * integer margins), used by both `classifier_train` and
    * `trained_classifier_filter`. Ends at CTE `w3` = the learned table.
    */
  private lazy val perceptronReplayCtes: String =
    s"""WITH f AS (
       |  SELECT d, y, b, count(*) AS x FROM (
       |    SELECT doc_id AS d,
       |      CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |      ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b
       |    FROM (SELECT doc_id, lang, unnest($sqlToks) AS tok FROM documents) t0) t1
       |  GROUP BY d, y, b),
       |w1 AS (SELECT b, sum(y * x) AS w FROM f GROUP BY b),
       |m2 AS (SELECT f.d, f.y, sum(coalesce(w1.w, 0) * f.x) AS m
       |       FROM f LEFT JOIN w1 ON f.b = w1.b GROUP BY f.d, f.y),
       |mis2 AS (SELECT d FROM m2 WHERE y * m <= 0),
       |g2 AS (SELECT f.b, sum(f.y * f.x) AS g FROM f
       |       JOIN mis2 ON f.d = mis2.d GROUP BY f.b),
       |w2 AS (SELECT coalesce(w1.b, g2.b) AS b,
       |         coalesce(w1.w, 0) + coalesce(g2.g, 0) AS w
       |       FROM w1 FULL OUTER JOIN g2 ON w1.b = g2.b),
       |m3 AS (SELECT f.d, f.y, sum(coalesce(w2.w, 0) * f.x) AS m
       |       FROM f LEFT JOIN w2 ON f.b = w2.b GROUP BY f.d, f.y),
       |mis3 AS (SELECT d FROM m3 WHERE y * m <= 0),
       |g3 AS (SELECT f.b, sum(f.y * f.x) AS g FROM f
       |       JOIN mis3 ON f.d = mis3.d GROUP BY f.b),
       |w3 AS (SELECT coalesce(w2.b, g3.b) AS b,
       |         coalesce(w2.w, 0) + coalesce(g3.g, 0) AS w
       |       FROM w2 FULL OUTER JOIN g3 ON w2.b = g3.b)""".stripMargin

  /** The oracle side of [[dedupInvariants]]: expected values as literals. */
  /** Shared CTE chain replaying [[operators.Multimodal.dHash64]] closed-form
    * from the media adapter's pixel function: `m` = image dims, `g` = the
    * 9×8 nearest-neighbor grayscale grid (gray = r+g+b of the sampled source
    * pixel), `b` = gradient-sign bits, `hs` = the hash as its 8 row-bytes
    * b0..b7 (never leaves 8-bit integers, so no BIGINT shift overflow).
    */
  private val dHashOracleCtes: String = {
    val bandCols = (0 until 8).map(k =>
      s"    CAST(COALESCE(SUM(CASE WHEN y = $k THEN bit << x END), 0) AS BIGINT) AS b$k")
      .mkString(",\n")
    s"""m AS (
       |  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h
       |  FROM documents WHERE doc_id % 3 = 0),
       |g AS (
       |  SELECT doc_id, x.x AS x, y.y AS y,
       |    list_sum(list_transform(range(0, 3), ch ->
       |      (doc_id*31 + (((y.y*h//8)*w + (x.x*w//9))*3 + ch)*17) % 256)) AS gray
       |  FROM m, range(0, 9) x(x), range(0, 8) y(y)),
       |b AS (
       |  SELECT l.doc_id, l.x AS x, l.y AS y,
       |    CASE WHEN r.gray > l.gray THEN 1 ELSE 0 END AS bit
       |  FROM g l JOIN g r ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1
       |  WHERE l.x < 8),
       |hs AS (
       |  SELECT doc_id AS media_id,
       |$bandCols
       |  FROM b GROUP BY doc_id)""".stripMargin
  }

  private val dedupInvariantsOracle: String =
    """SELECT 'total_input' AS chk, CAST(count(*) AS BIGINT) AS n FROM documents
      |UNION ALL SELECT 'kept_in_range', 1
      |UNION ALL SELECT 'kept_not_in_input', 0
      |UNION ALL SELECT 'exact_group_multi_kept', 0
      |UNION ALL SELECT 'min_id_dropped', 0
      |UNION ALL SELECT 'kept_gt_distinct_content', 0""".stripMargin

  /** Exact decimal accumulation, double on the wire: aggregate over
    * DECIMAL(18,2) inputs (order-insensitive, exact), then cast the final
    * sum to DOUBLE so both engines serialize an identical float64 (the
    * driver's pandas compare renders Spark parquet DECIMAL as
    * `decimal.Decimal` but DuckDB DECIMAL as float64 — same value, different
    * canonical string — so decimals must never reach the output schema).
    */
  private def decSum(c: Column): Column = sum(dec2(c)).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Spark restatement of the reference's elasticsearch_to_postgresql run
    * (SURVEY.md §3.1): half-open time window + term filter + projection +
    * constant enrichment + derived datetime/time_mcs/month + scan order.
    */
  def entry(spark: SparkSession): DataFrame =
    flagship(spark, "/root/testdata/sf0.001")

  private def flagship(s: SparkSession, dir: String): DataFrame = {
    val (start, end) = ("2024-01-05 00:00:00", "2024-01-20 00:00:00")
    // redundant ns-column bounds reach the parquet reader (row-group pruning);
    // the exact µs filter below keeps the query semantics
    val ev = Sources.pushTsRangeNs(Sources.events(s, dir), Some(start), Some(end))
    val (dt, mcs, month) = Registry.timestampParts(col("ts"))
    val pipe = Seq(
      Ops.rangeFilter("ts", Some(start), Some(end)),
      Ops.termFilters(Seq("event_type" -> "purchase")),
      Ops.enrichConst(Seq("version_" -> "v1"))
    ).reduce(_ andThen _)
    pipe(ev)
      .select(
        col("event_id"), col("user_id"), col("value"),
        dt.as("datetime"), mcs.as("time_mcs"), month.as("month_"), col("version_"))
      .orderBy(col("event_id"))
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ the LLM-pipeline
    * operator family). Key convention: reference-surface ops first, then
    * Spark-native capability queries, then large-scale data-pipeline ops.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference surface --------------------------------------------
    "flagship_events" -> ((s, dir) => flagship(s, dir)),

    "events_query_model" -> ((s, dir) =>
      Ops.query(QuerySpec(
        rangeField = Some("ts"), start = Some("2024-01-01 00:00:00"), end = None, // one bound -> match_all
        filters = Seq("event_type" -> "signup"),
        sourceFields = Some(Seq("event_id", "user_id", "event_type")),
        sortBy = Seq(("event_id", true))))(Sources.events(s, dir))),

    "events_scan_v2" -> ((s, dir) =>
      // the same declarative query routed through the DataSourceV2 connector
      // (graft.sources.v2.GraftParquetSource): the event_type equality and
      // the column set reach the connector via SupportsPushDownFilters /
      // pruneColumns (PlanRulesSpec asserts both) — same oracle as
      // events_query_model
      s.read.format("graft-parquet").load(s"$dir/events.parquet")
        .filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))),

    "zonemap_skipping" -> ((s, dir) => {
      // zone-map FILE skipping end-to-end (graft.sources.v2.ZoneMap): the
      // events table lands in the connector as 8 append commits of
      // contiguous event_id slabs — the realistic many-appends-over-time
      // shape, each commit's per-file min/max riding its manifest into the
      // _zonemap sidecar. The narrow id window is then planned with
      // file-level skipping BEFORE any footer read; the engine-verified
      // flag pins that exactly the slab files intersecting the window
      // survived and every other file was refuted from statistics alone
      // (at 100 TB this is the difference between O(files) and O(matching
      // files) planning metadata reads). Oracle: the same window on the
      // source table, flag stated TRUE.
      val out = scratchDir("graft_zonemap") + "/t"
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val n = ev.count()
      val slabs = 8
      def slabBounds(i: Int): (Long, Long) =
        (i.toLong * n / slabs, if (i == slabs - 1) n else (i + 1).toLong * n / slabs)
      (0 until slabs).foreach { i =>
        val (lo, hi) = slabBounds(i)
        ev.filter(col("event_id") >= lo && col("event_id") < hi)
          .coalesce(1).write.format("graft-parquet").mode("append").save(out)
      }
      val (loW, hiW) = (100L, 160L)
      val back = s.read.format("graft-parquet").load(out)
      val outPath = new org.apache.hadoop.fs.Path(out)
      val (total, pruned) = graft.sources.v2.ZoneMap.pruneReport(
        outPath.getFileSystem(s.sparkContext.hadoopConfiguration), outPath,
        Array(org.apache.spark.sql.sources.GreaterThanOrEqual("event_id", loW),
          org.apache.spark.sql.sources.LessThan("event_id", hiW)),
        back.schema)
      val expectScanned = (0 until slabs).count { i =>
        val (lo, hi) = slabBounds(i); lo < hiW && hi > loW
      }
      val ok = total == slabs && pruned == slabs - expectScanned && expectScanned <= 2
      back.filter(col("event_id") >= loW && col("event_id") < hiW)
        .withColumn("zm_pruned_ok", lit(ok))
    }),

    "metadata_agg" -> ((s, dir) => {
      // metadata-only aggregation (graft.sources.v2.GraftScan
      // .answerFromMetadata): COUNT(*)/COUNT(col)/MIN/MAX over a connector
      // table answer from the zone-map sidecar alone — the plan is ONE
      // single-row partition, zero data files opened (at 100 TB: a count
      // over a petabyte table costs O(commits) sidecar reads, not a scan).
      // The flag pins that the planned scan really carries the pushed
      // metadata answer. Oracle: the same aggregates on the source table.
      val out = scratchDir("graft_metadata_agg") + "/t"
      ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.format("graft-parquet").mode("append").save(out)
      val agged = s.read.format("graft-parquet").load(out)
        .agg(count(lit(1)).as("n_rows"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"), min(col("event_type")).as("min_type"),
          max(col("event_type")).as("max_type"), count(col("value")).as("n_value"))
      val metaOnly = graft.plans.PlanWalk.flatten(agged.queryExecution.executedPlan).collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[graft.sources.v2.GraftScan].agg.isDefined
      }.getOrElse(false)
      agged.withColumn("meta_only", lit(metaOnly))
    }),

    "dpp_join" -> ((s, dir) => {
      // runtime file pruning at the join seam (SupportsRuntimeV2Filtering):
      // a slab-committed fact table joins a tiny parquet dim filtered on a
      // NON-key attribute, so nothing is statically inferable — at execute
      // time Spark broadcasts the dim, hands the fact scan the join keys as
      // an IN predicate, and the zone map drops every slab file outside the
      // hot range. The 100 TB star-join shape: the fact scan reads the
      // matching slabs, not the table. Flag pins that the seam actually
      // received runtime filters in the executed plan. Oracle: the same
      // join restated statically.
      import s.implicits._
      val root = scratchDir("graft_dpp")
      val factDir = s"$root/fact"
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      val n = ev.count()
      val slabs = 8
      // the 8 slab commits are INDEPENDENT (disjoint event_id ranges) and
      // the commit log's CAS arbitration makes a lost race a retry, never
      // an abort (concurrent_ingest and the ZoneMapSpec races pin that
      // contract) — overlap them from a small pool (guide §2.6) so each
      // single-task write back-fills the previous one's commit tail
      // instead of serializing 8 driver round-trips. Membership is
      // order-free: the table is the union of the slabs at whatever seqs
      // the race assigns.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (0 until slabs).foreach { i =>
        pool.execute { () =>
          try {
            val lo = i.toLong * n / slabs
            val hi = if (i == slabs - 1) n else (i + 1).toLong * n / slabs
            ev.filter(col("event_id") >= lo && col("event_id") < hi)
              .coalesce(1).write.format("graft-parquet").mode("append").save(factDir)
          } catch { case e: Throwable => errs.add(e) }
        }
      }
      pool.shutdown()
      if (!pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES))
        throw new graft.GraftDataError("dpp_join slab commits timed out")
      if (!errs.isEmpty) throw errs.peek()
      // dim: the hot keys plus cold outliers — tiny by construction so it
      // broadcasts under the lowered threshold while the fact does not
      val dimDir = s"$root/dim"
      ev.filter(col("event_id") >= 100L && col("event_id") < 160L)
        .select(col("event_id").as("k"), lit("hot").as("attr"))
        .union(Seq((0L, "cold"), (1L, "cold")).toDF("k", "attr"))
        .coalesce(1).write.parquet(dimDir)
      val fact = s.read.format("graft-parquet").load(factDir)
      def hotJoin = {
        val dimF = ParquetRead(s, dimDir).filter(col("attr") === "hot")
        fact.join(dimF, fact("event_id") === dimF("k"))
          .select(col("event_id"), col("user_id"), col("value"))
      }
      // the probe run: execute the join under a threshold that broadcasts
      // the dim but not the fact, then read the seam off the EXECUTED plan
      val prevThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val fired =
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "8192")
          val probe = hotJoin
          probe.collect()
          graft.plans.PlanWalk.flatten(probe.queryExecution.executedPlan).collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.scan.asInstanceOf[graft.sources.v2.GraftScan].runtimePruning.nonEmpty
          }.getOrElse(false)
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      hotJoin.withColumn("dpp_fired", lit(fired))
    }),

    "optimize_roundtrip" -> ((s, dir) => {
      // OPTIMIZE end-to-end under the oracle (graft.sources.v2
      // .GraftTableOptimize): a small-file storm of 12 INTERLEAVED commits
      // (event_id % 12) gives every file a whole-domain [min,max], so the
      // zone map can refute nothing. The range-clustered rewrite
      // (repartitionByRange + intra-file sort on event_id) re-lays the SAME
      // rows into near-disjoint slabs: afterwards the window is proven
      // empty in all but <=2 files, the swap's removal-line manifest
      // retired every small file, sidecars and the commit log each folded
      // to one, and fsck certifies membership (nothing missing, nothing
      // unlogged). Row content is pinned identical by the oracle hash on
      // the window; the flag pins the maintenance semantics. The 100 TB
      // point: OPTIMIZE is the amortized answer to a streaming table's
      // small-file tail, and this drives its most dangerous path —
      // deleting committed files via removal lines — under the oracle.
      val out = scratchDir("graft_optimize") + "/t"
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val n = ev.count()
      val commits = 12
      (0 until commits).foreach { r =>
        ev.filter(pmod(col("event_id"), lit(commits)) === r)
          .coalesce(1).write.format("graft-parquet").mode("append").save(out)
      }
      val outPath = new org.apache.hadoop.fs.Path(out)
      val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val back0 = s.read.format("graft-parquet").load(out)
      val window: Array[org.apache.spark.sql.sources.Filter] = Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual("event_id", 100L),
        org.apache.spark.sql.sources.LessThan("event_id", 160L))
      val (t0, p0) = graft.sources.v2.ZoneMap.pruneReport(fs, outPath, window, back0.schema)
      val bytes = graft.sources.v2.GraftParquetWrite.listDataFiles(fs, outPath).map(_.getLen).sum
      val rep = graft.sources.v2.GraftTableOptimize.optimize(s, out,
        targetBytes = math.max(1L, bytes / 6), smallBytes = bytes + 1,
        clusterBy = Seq("event_id"), retainLog = 0)
      val back = s.read.format("graft-parquet").load(out)
      val (t1, p1) = graft.sources.v2.ZoneMap.pruneReport(fs, outPath, window, back.schema)
      val fsckRep = graft.sources.v2.GraftTableOptimize.fsck(s, out)
      val ok = t0 == commits && p0 == 0 &&
        rep.filesRewritten == commits && rep.filesAfter >= 2 &&
        t1 == rep.filesAfter && p1 >= t1 - 2 && p1 > 0 &&
        rep.zmSidecarsAfter == 1 && rep.logRecordsAfter == 1 &&
        fsckRep.healthy && fsckRep.missingDataFiles == 0 &&
        fsckRep.unloggedDataFiles == 0 && back.count() == n
      back.filter(col("event_id") >= 100L && col("event_id") < 160L)
        .withColumn("opt_ok", lit(ok))
    }),

    "stream_table_ingest" -> ((s, dir) => {
      // exactly-once streaming append into the zone-mapped table
      // (graft.streaming.TableIngest): three micro-batches land through the
      // connector's manifest commit, each leaving a !b<id> marker
      // atomically with its data; batch 1 is DELIVERED TWICE and the
      // marker absorbs the redelivery — a duplicate would double batch 1's
      // rows and fail the oracle hash. The flag additionally pins that the
      // duplicate was detected (returned false) rather than coincidentally
      // absent. Oracle: the slices partition events, so the table is
      // exactly the source.
      val out = scratchDir("graft_stream_ingest") + "/t"
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      def slice(r: Int) = ev.filter(pmod(col("event_id"), lit(3)) === r)
      val w0 = graft.streaming.TableIngest.ingestBatch(slice(0), out, 0L)
      val w1 = graft.streaming.TableIngest.ingestBatch(slice(1), out, 1L)
      val dup = graft.streaming.TableIngest.ingestBatch(slice(1), out, 1L)
      val w2 = graft.streaming.TableIngest.ingestBatch(slice(2), out, 2L)
      s.read.format("graft-parquet").load(out)
        .withColumn("dedup_ok", lit(w0 && w1 && w2 && !dup))
    }),

    "table_time_travel" -> ((s, dir) => {
      // snapshot (AS-OF) read on the connector's commit log: three ingest
      // batches land append-only; the snapshot handle captured after batch
      // 1 (GraftParquetWrite.currentSeq) is read back with
      // option("graft.asOfSeq") and must contain EXACTLY the first two
      // slices — the files batch 1 saw, bit-for-bit, regardless of what
      // landed since. This is the reproducible-training-corpus primitive:
      // "train on the corpus as of batch N" stays answerable while the
      // table keeps ingesting. The flag pins that the live table really
      // moved past the snapshot (all three slices, a strictly higher seq)
      // so the oracle hash is proving time travel, not a stalled table.
      val out = scratchDir("graft_timetravel") + "/t"
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      def slice(r: Int) = ev.filter(pmod(col("event_id"), lit(3)) === r)
      graft.streaming.TableIngest.ingestBatch(slice(0), out, 0L)
      graft.streaming.TableIngest.ingestBatch(slice(1), out, 1L)
      val outPath = new org.apache.hadoop.fs.Path(out)
      val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val snap = graft.sources.v2.GraftParquetWrite.currentSeq(fs, outPath).get
      graft.streaming.TableIngest.ingestBatch(slice(2), out, 2L)
      val live = s.read.format("graft-parquet").load(out)
      val ok = live.count() == ev.count() &&
        graft.sources.v2.GraftParquetWrite.currentSeq(fs, outPath).exists(_ > snap)
      s.read.format("graft-parquet").option("graft.asOfSeq", snap.toString).load(out)
        .withColumn("tt_ok", lit(ok))
    }),

    "time_travel_across_optimize" -> ((s, dir) => {
      // retention-aware maintenance end-to-end (graft.sources.v2
      // .GraftTableOptimize + the logical-removal commit protocol): a
      // snapshot handle taken BEFORE an OPTIMIZE keeps reading its exact
      // corpus afterwards — the swap retires the small files from
      // membership but leaves the bytes, and the retiring records stay in
      // the retained log tail — so "train on the corpus as of batch N"
      // survives routine maintenance, not just append-only quiet. vacuum
      // inside the retention window collects NOTHING the handle needs.
      // The result IS the post-OPTIMIZE snapshot read, so the oracle hash
      // certifies bit-identical time travel across the rewrite. A second,
      // sacrificial table proves the other half of the contract: history
      // retired past the horizon (fold-everything + vacuum) kills its
      // handle LOUDLY at plan time — never an empty or dangling read.
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val n = ev.count()
      def build(out: String): Unit =
        (0 until 6).foreach { r =>
          ev.filter(pmod(col("event_id"), lit(6)) === r)
            .coalesce(1).write.format("graft-parquet").mode("append").save(out)
        }
      def seqOf(out: String): Long =
        graft.streaming.TableIngest.currentSeq(s, out).get
      val out1 = scratchDir("graft_ttx") + "/t1"
      build(out1)
      val snap1 = seqOf(out1)
      val rep = graft.sources.v2.GraftTableOptimize.optimize(s, out1,
        targetBytes = 1L << 30, smallBytes = 1L << 30, clusterBy = Seq("event_id"))
      val vacInside = graft.sources.v2.GraftTableOptimize.vacuum(s, out1, graceMs = 0L)
      val snapRead = s.read.format("graft-parquet")
        .option("graft.asOfSeq", snap1.toString).load(out1)
      val liveOk = s.read.format("graft-parquet").load(out1).count() == n
      // the sacrificial table: same construction, history retired
      val out2 = scratchDir("graft_ttx") + "/t2"
      build(out2)
      val snap2 = seqOf(out2)
      graft.sources.v2.GraftTableOptimize.optimize(s, out2,
        targetBytes = 1L << 30, smallBytes = 1L << 30, clusterBy = Seq("event_id"))
      val p2 = new org.apache.hadoop.fs.Path(out2)
      val fs2 = p2.getFileSystem(s.sparkContext.hadoopConfiguration)
      graft.sources.v2.GraftTableOptimize.foldLog(fs2, p2, retain = 0)
      val vacPast = graft.sources.v2.GraftTableOptimize.vacuum(s, out2, graceMs = 0L)
      val diedLoudly = scala.util.Try(
        s.read.format("graft-parquet").option("graft.asOfSeq", snap2.toString)
          .load(out2).count()).failed.toOption
        .exists(_.getMessage.contains("not available"))
      val ok = rep.filesRewritten == 6 && rep.filesReclaimed == 0 &&
        vacInside == 0 && liveOk && vacPast == 6 && diedLoudly
      snapRead.withColumn("ttx_ok", lit(ok))
    }),

    "schema_evolution_log" -> ((s, dir) => {
      // schema evolution through the commit log (graft.sources.v2
      // .GraftParquetWrite schema epochs): a table ingests under a 3-column
      // schema, then an append ARRIVES WITH a fourth column — accepted as
      // an epoch record, no rewrite. The live read serves the union shape
      // with per-file NULL backfill (old files never wrote the column); the
      // AS-OF handle from before the evolution serves the OLD 3-column
      // schema, not a null-padded one. The 100 TB point: a years-lived
      // ingest table grows a column for the price of one metadata record.
      // Oracle: the evolved column equals event_type exactly on the evolved
      // slice and NULL on the pre-evolution slice.
      val out = scratchDir("graft_evolve") + "/t"
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .drop("event_type")
        .coalesce(1).write.format("graft-parquet").mode("append").save(out)
      val preSeq = graft.streaming.TableIngest.currentSeq(s, out).get
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .coalesce(1).write.format("graft-parquet").mode("append").save(out)
      val live = s.read.format("graft-parquet").load(out)
      val oldEpoch = s.read.format("graft-parquet")
        .option("graft.asOfSeq", preSeq.toString).load(out)
      val ok = live.schema.fieldNames.toSeq ==
          Seq("event_id", "user_id", "value", "event_type") &&
        live.schema("event_type").nullable &&
        oldEpoch.schema.fieldNames.toSeq == Seq("event_id", "user_id", "value") &&
        oldEpoch.count() == ev.filter(pmod(col("event_id"), lit(2)) === 0).count()
      live.withColumn("evo_ok", lit(ok))
    }),

    "table_delete_where" -> ((s, dir) => {
      // row-level DELETE on the connector table (graft.sources.v2
      // .GraftTableOptimize.deleteWhere) — the right-to-be-forgotten
      // primitive as a pruned swap, never a rebuild: after a clustered
      // OPTIMIZE, a range delete's candidate discovery (one pushed-down
      // native scan mapping matching rows to files) touches only the
      // files whose zone intersects the range — the flag pins
      // filesRewritten < filesScanned, the pruning proof. purge=true (the
      // compliance default) physically reclaims the retired bytes and
      // retires history, because every older snapshot CONTAINS the
      // forgotten rows; fsck certifies nothing unlogged remains. The
      // cutoff derives from the data (30% of max id) so the pruning claim
      // holds at every scale factor; the oracle recomputes it with
      // integer division.
      val out = scratchDir("graft_delete") + "/t"
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      val commits = 12
      (0 until commits).foreach { r =>
        ev.filter(pmod(col("event_id"), lit(commits)) === r)
          .coalesce(1).write.format("graft-parquet").mode("append").save(out)
      }
      val outPath = new org.apache.hadoop.fs.Path(out)
      val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val bytes = graft.sources.v2.GraftParquetWrite.listDataFiles(fs, outPath).map(_.getLen).sum
      graft.sources.v2.GraftTableOptimize.optimize(s, out,
        targetBytes = math.max(1L, bytes / 6), smallBytes = bytes + 1,
        clusterBy = Seq("event_id"), retainLog = 0): Unit
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val cutoff = maxId * 3L / 10L
      val expected = ev.filter(col("event_id") < cutoff).count()
      val rep = graft.sources.v2.GraftTableOptimize.deleteWhere(
        s, out, col("event_id") < cutoff)
      val back = s.read.format("graft-parquet").load(out)
      val fsckRep = graft.sources.v2.GraftTableOptimize.fsck(s, out)
      val ok = rep.rowsDeleted == expected &&
        rep.filesRewritten > 0 && rep.filesRewritten < rep.filesScanned &&
        fsckRep.healthy && fsckRep.unloggedDataFiles == 0 &&
        back.count() == ev.count() - expected
      back.withColumn("del_ok", lit(ok))
    }),

    "pipeline_asof_replay" -> ((s, dir) => {
      // the recorded-corpus replay loop through the DECLARED surface: three
      // ingest batches land via TableIngest, each returning an
      // IngestReceipt whose seq names "the corpus as this batch saw it";
      // the seq recorded after batch 1 is then handed to a declared
      // pipeline SOURCE ({"type": "graft_table", "asOfSeq": ...}) and must
      // replay EXACTLY the first two slices — twice, identically — while
      // the live declared source sees all three. This is the
      // training-checkpoint workflow: the job stores one long in its
      // checkpoint table and re-materializes its corpus bit-for-bit later.
      val out = scratchDir("graft_replay") + "/t"
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      def slice(r: Int) = ev.filter(pmod(col("event_id"), lit(3)) === r)
      val r0 = graft.streaming.TableIngest.ingestBatchRecorded(slice(0), out, 0L)
      val r1 = graft.streaming.TableIngest.ingestBatchRecorded(slice(1), out, 1L)
      val r2 = graft.streaming.TableIngest.ingestBatchRecorded(slice(2), out, 2L)
      val recorded = r1.seq.get
      def declared(asOf: Option[Long]) = pipeline.PipelineConfig.fromJson(s,
        s"""{"source": {"type": "graft_table", "path": "$out"${
          asOf.map(v => s""", "asOfSeq": $v""").getOrElse("")}}}""")
        .plan(s).get
      val replayA = declared(Some(recorded))
      val replayB = declared(Some(recorded))
      val ok = Seq(r0, r1, r2).forall(r => r.wrote && r.seq.isDefined) &&
        r0.seq.get < r1.seq.get && r1.seq.get < r2.seq.get &&
        declared(None).count() == ev.count() &&
        replayB.count() == replayA.count()
      replayA.withColumn("replay_ok", lit(ok))
    }),

    "sharded_log_fold" -> ((s, dir) => {
      // manifest tiering end-to-end under the oracle (graft.sources.v2
      // .GraftTableOptimize.foldLog): a retention fold over more members
      // than `shardOver` publishes its base as POINTER LINES into
      // content-addressed shards (`s-<bucket>-<md5>` under _log) instead
      // of one O(files) record — the seam that otherwise breaks first at
      // 10M files (a multi-hundred-MB driver read per plan, a full rewrite
      // per fold). A second fold after two more commits lands on the SAME
      // shard names for clean buckets (content-addressed reuse), so fold
      // cost is O(dirty buckets). The flag pins: pointer-only base, shard
      // reuse >= all-but-two, AS-OF resolving through the tiering; the
      // oracle hash pins the membership bit-exact.
      val out = scratchDir("graft_shardfold") + "/t"
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      val commits = 12
      def slice(r: Int) = ev.filter(pmod(col("event_id"), lit(commits)) === r)
      (0 until 10).foreach(r =>
        slice(r).coalesce(1).write.format("graft-parquet").mode("append").save(out))
      val outPath = new org.apache.hadoop.fs.Path(out)
      val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val logDir = graft.sources.v2.GraftParquetWrite.logDir(outPath)
      def shards(): Seq[String] = fs.listStatus(logDir)
        .map(_.getPath.getName).filter(_.startsWith("s-")).toSeq.sorted
      def baseIsPointers(): Boolean = {
        val base = graft.sources.v2.GraftParquetWrite.logRecordFiles(fs, outPath)
          .map(_.getPath.getName).filter(_.contains("logbase-"))
        base.length == 1 && {
          val lines = FsPublish.lines(fs, new org.apache.hadoop.fs.Path(logDir, base.head))
          lines.nonEmpty && lines.forall(_.startsWith(">"))
        }
      }
      graft.sources.v2.GraftTableOptimize.foldLog(fs, outPath, retain = 2,
        shardOver = 4, shardTarget = 3): Unit
      val shards1 = shards()
      val tiered1 = shards1.nonEmpty && baseIsPointers()
      (10 until 12).foreach(r =>
        slice(r).coalesce(1).write.format("graft-parquet").mode("append").save(out))
      graft.sources.v2.GraftTableOptimize.foldLog(fs, outPath, retain = 2,
        shardOver = 4, shardTarget = 3): Unit
      val shards2 = shards()
      val reused = shards2.intersect(shards1).size >= shards1.size - 2
      val asOfOk = s.read.format("graft-parquet").option("graft.asOfSeq", "10")
        .load(out).count() == ev.count() - slice(11).count()
      val ok = tiered1 && baseIsPointers() && reused && asOfOk
      s.read.format("graft-parquet").load(out).withColumn("shard_ok", lit(ok))
    }),

    "table_widening_evolution" -> ((s, dir) => {
      // TYPE-WIDENING evolution through the commit log (graft.sources.v2):
      // the table is created under an (int event_id, float value) epoch,
      // then an append arrives with (long, double) — ids shifted beyond
      // int range — and is accepted as one epoch record, no rewrite. The
      // live read serves the WIDE schema with exact per-file upcasts
      // (i32→i64, f32→f64); a pushed long literal beyond int range must
      // not wrap into the old files' compiled int predicates (the range
      // guard); the AS-OF handle from before the widening serves the
      // NARROW schema. Oracle: DuckDB reproduces the float round-trip with
      // CAST(CAST(value AS REAL) AS DOUBLE) — identical IEEE rounding.
      val out = scratchDir("graft_widen") + "/t"
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      // the int-range guard keeps the claim scale-free: an even id beyond
      // Int.MaxValue would wrap under the narrow-era cast, so both engines
      // exclude such rows (a no-op at every driver scale factor today)
      val shift = 5000000000L
      val era1 = ev.filter(pmod(col("event_id"), lit(2)) === 0 &&
          col("event_id") <= Int.MaxValue.toLong)
        .select(col("event_id").cast("int").as("event_id"), col("user_id"),
          col("value").cast("float").as("value"))
      val era2 = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select((col("event_id") + shift).as("event_id"), col("user_id"), col("value"))
      era1.coalesce(1).write.format("graft-parquet").mode("append").save(out)
      val preSeq = graft.streaming.TableIngest.currentSeq(s, out).get
      era2.coalesce(1).write.format("graft-parquet").mode("append").save(out)
      val live = s.read.format("graft-parquet").load(out)
      val old = s.read.format("graft-parquet")
        .option("graft.asOfSeq", preSeq.toString).load(out)
      val n1 = era1.count()
      val n2 = era2.count()
      import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
      val ok = live.schema("event_id").dataType == LongType &&
        live.schema("value").dataType == DoubleType &&
        old.schema("event_id").dataType == IntegerType &&
        old.schema("value").dataType == FloatType &&
        old.count() == n1 &&
        live.filter(col("event_id") < 3000000000L).count() == n1 &&
        live.filter(col("event_id") > 3000000000L).count() == n2
      live.withColumn("wid_ok", lit(ok))
    }),

    "table_update_where" -> ((s, dir) => {
      // row-level UPDATE as the same pruned swap DELETE uses (graft.sources
      // .v2.GraftTableOptimize.updateWhere): after a clustered OPTIMIZE, a
      // range update's pushed-down discovery touches only the files whose
      // zone intersects the range — the flag pins filesRewritten <
      // filesScanned. Matched rows rewrite TRANSFORMED (value doubled),
      // everything else passes through byte-identical; clusterBy keeps the
      // rewritten slabs' zones tight. The cutoff derives from the data so
      // the pruning claim holds at every scale factor.
      val out = scratchDir("graft_update") + "/t"
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      val commits = 12
      (0 until commits).foreach { r =>
        ev.filter(pmod(col("event_id"), lit(commits)) === r)
          .coalesce(1).write.format("graft-parquet").mode("append").save(out)
      }
      val outPath = new org.apache.hadoop.fs.Path(out)
      val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val bytes = graft.sources.v2.GraftParquetWrite.listDataFiles(fs, outPath).map(_.getLen).sum
      graft.sources.v2.GraftTableOptimize.optimize(s, out,
        targetBytes = math.max(1L, bytes / 6), smallBytes = bytes + 1,
        clusterBy = Seq("event_id"), retainLog = 0): Unit
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val cutoff = maxId * 3L / 10L
      val expected = ev.filter(col("event_id") < cutoff).count()
      val rep = graft.sources.v2.GraftTableOptimize.updateWhere(
        s, out, col("event_id") < cutoff,
        Seq("value" -> (col("value") * 2.0d)), clusterBy = Seq("event_id"))
      val back = s.read.format("graft-parquet").load(out)
      val ok = rep.rowsUpdated == expected &&
        rep.filesRewritten > 0 && rep.filesRewritten < rep.filesScanned &&
        back.count() == ev.count()
      back.withColumn("upd_ok", lit(ok))
    }),

    "table_merge_upsert" -> ((s, dir) => {
      // MERGE (K2's keep-last upsert) at the table-format layer (graft
      // .sources.v2.GraftTableOptimize.merge): a key-unique source both
      // UPDATES the orders in the low key range (price bumped) and INSERTS
      // brand-new shifted keys, in ONE atomic swap commit. Discovery is a
      // single keys-only pushed scan joined against the broadcast source
      // keys, so only the slabs holding matched keys rewrite — the flag
      // pins filesRewritten < filesScanned plus the exact update/insert
      // split; untouched files never rewrite.
      val out = scratchDir("graft_merge") + "/t"
      val od = ParquetRead(s, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val commits = 12
      (0 until commits).foreach { r =>
        od.filter(pmod(col("o_orderkey"), lit(commits)) === r)
          .coalesce(1).write.format("graft-parquet").mode("append").save(out)
      }
      val outPath = new org.apache.hadoop.fs.Path(out)
      val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val bytes = graft.sources.v2.GraftParquetWrite.listDataFiles(fs, outPath).map(_.getLen).sum
      graft.sources.v2.GraftTableOptimize.optimize(s, out,
        targetBytes = math.max(1L, bytes / 6), smallBytes = bytes + 1,
        clusterBy = Seq("o_orderkey"), retainLog = 0): Unit
      val maxId = od.agg(max(col("o_orderkey"))).head().getLong(0)
      val updCut = maxId / 5L
      val insCut = maxId / 10L
      val src = od.filter(col("o_orderkey") <= updCut)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 1000.0d).as("o_totalprice"))
        .union(od.filter(col("o_orderkey") <= insCut)
          .select((col("o_orderkey") + maxId + 1L).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice")))
      val rep = graft.sources.v2.GraftTableOptimize.merge(
        s, out, src, Seq("o_orderkey"), clusterBy = Seq("o_orderkey"))
      val expectedUpd = od.filter(col("o_orderkey") <= updCut).count()
      val expectedIns = od.filter(col("o_orderkey") <= insCut).count()
      val back = s.read.format("graft-parquet").load(out)
      val ok = rep.rowsUpdated == expectedUpd && rep.rowsInserted == expectedIns &&
        rep.filesRewritten > 0 && rep.filesRewritten < rep.filesScanned &&
        back.count() == od.count() + expectedIns
      back.withColumn("mrg_ok", lit(ok))
    }),

    "concurrent_ingest" -> ((s, dir) => {
      // optimistic concurrency on the commit log end-to-end: two
      // barrier-aligned writer jobs append disjoint halves of events to
      // ONE connector table at the same time. Under the old single-writer
      // tripwire the loser's whole batch aborted; under the CAS protocol
      // (GraftParquetWrite.appendLogRecord: collide → retract → re-land at
      // the next seq, with maintenance swaps conflict-validated) BOTH land
      // with union membership — the fleet-fed corpus table, which is the
      // actual 100 TB deployment shape. The flag pins that both jobs
      // committed their own log record, every file is logged, and fsck
      // certifies nothing missing; the oracle hash pins that the union is
      // exactly the source — no row lost to the race, none duplicated.
      val out = scratchDir("graft_concurrent") + "/t"
      val ev = ParquetRead(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"), col("value"))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 2).map { t =>
        new Thread(() => {
          try {
            barrier.await()
            ev.filter(pmod(col("event_id"), lit(2)) === t)
              .coalesce(1).write.format("graft-parquet").mode("append").save(out)
          } catch { case e: Throwable => errs.add(e) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val outPath = new org.apache.hadoop.fs.Path(out)
      val fs = outPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val recs = graft.sources.v2.GraftParquetWrite.logRecordFiles(fs, outPath).length
      val health = graft.sources.v2.GraftTableOptimize.fsck(s, out)
      val ok = errs.isEmpty && recs == 2 && health.healthy &&
        health.unloggedDataFiles == 0 && health.missingDataFiles == 0
      s.read.format("graft-parquet").load(out).withColumn("cc_ok", lit(ok))
    }),

    "dedup_keep_first" -> ((s, dir) =>
      Ops.dedupKeepFirst(DedupSpec(Seq("user_id"), Seq("ts"), Some(col("event_id"))))(
        Sources.events(s, dir))
        .select(col("user_id"), col("event_id"), col("value"))),

    "cast_rename" -> ((s, dir) => {
      val pipe = Ops.renameWith(Map("c_name" -> "name"))
        .andThen(Ops.castWith(Seq(TypeSpec("c_custkey", "string"), TypeSpec("c_mktsegment", "int"))))
      pipe(Tables.customer(s, dir)).select(
        col("c_custkey").as("custkey"), col("name"),
        col("c_acctbal").as("balance"), col("c_mktsegment").as("seg"))
    }),

    "enrich_fn_iso" -> ((s, dir) => {
      val ev = Sources.events(s, dir)
        .withColumn("iso", date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'+00:00'"))
      Ops.enrichFn(FnField("iso_to_dict",
        inputMapping = Map("iso_time" -> "iso"),
        staticArgs = Map.empty,
        outputMapping = Map("datetime" -> "datetime", "microseconds" -> "time_mcs", "month" -> "month_")))(ev)
        .select(col("event_id"), col("datetime"), col("time_mcs"), col("month_"))
    }),

    "notnull_projection" -> ((s, dir) =>
      Ops.project(
        Seq(FieldSpec("id", "event_id"), FieldSpec("etype", "event_type"), FieldSpec("props_raw", "props")),
        placeholder = Some("NULL"))(Sources.events(s, dir))),

    "union_all" -> ((s, dir) => {
      val ev = Sources.events(s, dir)
      ev.filter(col("event_type") === "signup").select("event_id", "event_type")
        .unionByName(ev.filter(col("event_type") === "error").select("event_id", "event_type"))
    }),

    "intersect_except" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "P").select("o_custkey"))
    }),

    "upsert_orders" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val incoming = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      Sinks.upsert(o, incoming, Seq("o_orderkey"), ConflictUpdate)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    "scd2_history" -> ((s, dir) =>
      // Type-2 dimension history from the orders change log: each
      // customer's status changes become half-open validity intervals,
      // no-change observations collapse, same-instant conflicts keep the
      // later observation. One key shuffle shared by both window passes
      operators.Scd.scd2FromChangeLog(
        Tables.orders(s, dir),
        keyCols = Seq("o_custkey"), tsCol = "o_orderdate",
        tieCol = "o_orderkey", attrCols = Seq("o_orderstatus"))),

    "pit_status_lookup" -> ((s, dir) => {
      // point-in-time lookup: each order retrieves the status version TRUE
      // at its own date from the customer's Type-2 history — the standard
      // fact-to-dimension temporal join. One key-partitioned equi-join with
      // the interval containment as the non-equi condition; exactly one
      // version matches per fact (intervals partition time per key)
      val o = Tables.orders(s, dir)
      val hist = operators.Scd.scd2FromChangeLog(
        o, Seq("o_custkey"), "o_orderdate", "o_orderkey", Seq("o_orderstatus"))
        .withColumnRenamed("o_orderstatus", "status_at")
      operators.Joins.pointInTimeJoin(
        o.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        hist.drop("is_current"),
        keys = Seq("o_custkey"), factTs = "o_orderdate")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("status_at"), col("valid_from"))
    }),

    "incremental_window" -> ((s, dir) =>
      Ops.rangeFilter("ts", Some("2024-01-01 00:00:00"), Some("2024-01-08 00:00:00"))(
        Sources.pushTsRangeNs(Sources.events(s, dir),
          Some("2024-01-01 00:00:00"), Some("2024-01-08 00:00:00")))
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("cnt"))),

    // ---- Spark-native capability queries (reference-absent categories) --
    "q1_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          decSum(col("l_quantity")).as("sum_qty"),
          decSum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("cnt"))),

    "q3_topk_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("double").as("revenue"))
        .select(col("o_orderkey"), col("revenue"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q5_region_volume" -> ((s, dir) => {
      // TPC-H Q5 shape: the deep star join with the LOCAL-supplier twist
      // (customer and supplier must share a nation). Plan strategy at scale:
      // region→nation collapses to one broadcast dim; supplier×nation is
      // broadcast onto the lineitem scan (fact side never re-shuffles for a
      // dim); the only big-big exchanges are lineitem⋈orders (orderkey) and
      // ⋈customer (custkey); the year filter pushes to the orders scan as a
      // parquet predicate so the fact join starts from 1/6 of the table.
      val asiaNations = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val localSup = Tables.supplier(s, dir)
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val ord96 = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01")
          && col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(broadcast(localSup), col("l_suppkey") === col("s_suppkey"))
        .join(ord96, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast("double").as("revenue"))
    }),

    "q18_large_orders" -> ((s, dir) => {
      // TPC-H Q18 shape: agg-filter on the fact table (orders whose total
      // quantity clears a threshold), then join the survivors back to their
      // order/customer rows. The HAVING gate runs FIRST, so the expensive
      // joins see only the ~3% surviving orderkeys; sums are exact decimals
      // cast to double at the edge (oracle-identical).
      val bigOrders = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(decSum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150.0)
      bigOrders
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_totalprice"), col("total_qty"))
    }),

    "q4_exists_late" -> ((s, dir) => {
      // TPC-H Q4 shape, DECLARED as a correlated EXISTS (not hand-lowered
      // to a semi join): orders in a quarter having at least one line item
      // shipped 60+ days after the order date. The point is exercising
      // Catalyst's subquery decorrelation — RewritePredicateSubquery must
      // turn the EXISTS into a LEFT SEMI join on l_orderkey with the
      // correlated date predicate as the join condition, never a per-row
      // re-scan or a nested loop (PlanGuardSpec pins the exchange count and
      // the no-nested-loop invariant). The quarter filter pushes to the
      // orders parquet scan, so the semi join probes from ~1/24 of orders.
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM graft_orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1996-04-01'
          |  AND EXISTS (SELECT 1 FROM graft_lineitem
          |              WHERE l_orderkey = o_orderkey
          |                AND l_shipdate >= o_orderdate + INTERVAL '60' DAY)
          |GROUP BY o_orderpriority""".stripMargin)
    }),

    "q17_small_quantity" -> ((s, dir) => {
      // TPC-H Q17 shape, DECLARED as a correlated scalar subquery: revenue
      // from line items whose quantity is under 20% of the per-part
      // average. Decorrelation must rewrite the scalar subquery into one
      // aggregate over lineitem grouped by l_partkey joined back on the
      // part key — ONE extra pass over the fact table, not one per outer
      // row. Sums are exact decimals cast to double at the edge;
      // l_quantity is integral so the double avg is order-independent
      // (integer-valued partial sums are exact in IEEE double).
      Tables.part(s, dir).createOrReplaceTempView("graft_part")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
          |         AS avg_yearly
          |FROM graft_lineitem JOIN graft_part ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#23' AND p_size < 15
          |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
          |                    FROM graft_lineitem l2
          |                    WHERE l2.l_partkey = p_partkey)""".stripMargin)
    }),

    "q21_waiting_supplier" -> ((s, dir) => {
      // TPC-H Q21 shape, DECLARED with BOTH polarities of correlated
      // existence on one key: line items late-shipped into failed orders,
      // where ANOTHER supplier shipped into the same order (EXISTS) but no
      // other supplier was also late (NOT EXISTS, itself containing a
      // join). Decorrelation must lower the pair to a LeftSemi and a
      // LeftAnti join on l_orderkey — the NOT EXISTS branch is the one
      // that silently goes per-row-re-scan on engines without full
      // decorrelation. Plan-pinned; ties in the count break by name.
      Tables.supplier(s, dir).createOrReplaceTempView("graft_supplier")
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT s_name, count(*) AS numwait
          |FROM graft_supplier
          |JOIN graft_lineitem l1 ON l1.l_suppkey = s_suppkey
          |JOIN graft_orders o ON o.o_orderkey = l1.l_orderkey
          |WHERE o.o_orderstatus = 'F'
          |  AND l1.l_shipdate >= o.o_orderdate + INTERVAL '60' DAY
          |  AND EXISTS (SELECT 1 FROM graft_lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey
          |                AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM graft_lineitem l3
          |                  JOIN graft_orders o3 ON o3.o_orderkey = l3.l_orderkey
          |                  WHERE l3.l_orderkey = l1.l_orderkey
          |                    AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_shipdate >= o3.o_orderdate + INTERVAL '60' DAY)
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin)
    }),

    "q22_idle_balance" -> ((s, dir) => {
      // TPC-H Q22 shape: an UNCORRELATED scalar subquery (the
      // above-average balance threshold — planned once as a subquery
      // result, broadcast into the scan filter, never per-row) composed
      // with a correlated NOT EXISTS (no pending order — decorrelates to a
      // LeftAnti join). The threshold is an exact decimal sum cast to
      // double divided by the count, so both engines compute the identical
      // IEEE double and the filter boundary cannot drift.
      Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      s.sql(
        """SELECT c_nationkey, count(*) AS numcust,
          |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
          |FROM graft_customer
          |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
          |                          / count(*)
          |                   FROM graft_customer WHERE c_acctbal > 0.0)
          |  AND NOT EXISTS (SELECT 1 FROM graft_orders
          |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
          |GROUP BY c_nationkey""".stripMargin)
    }),

    "q11_value_share" -> ((s, dir) => {
      // TPC-H Q11 shape: HAVING against a GLOBAL-aggregate scalar — the
      // one threshold placement q22 doesn't cover (there the scalar
      // filters the scan; here it filters an aggregate's output, so the
      // plan is two independent aggregation passes over lineitem, the
      // single-row one broadcast into the post-agg filter). Sums are exact
      // decimals; the threshold multiplies AFTER the cast to double so
      // both engines compute the identical IEEE value.
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT l_partkey,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          |           * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS value
          |FROM graft_lineitem
          |GROUP BY l_partkey
          |HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          |                * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) >
          |  (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          |                   * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * 0.0007
          |   FROM graft_lineitem)
          |ORDER BY value DESC, l_partkey LIMIT 50""".stripMargin)
    }),

    "not_in_null_aware" -> ((s, dir) => {
      // the declared NOT IN subquery — the null-semantics trap a plain
      // anti-join rewrite gets wrong (one NULL in the subquery empties the
      // whole result): Spark must plan the NULL-AWARE anti join variant
      // (plan-pinned), which degenerates to the fast anti join only after
      // proving the build side null-free. Same data as anti_join, so the
      // two formulations cross-check each other's row sets.
      Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      s.sql(
        """SELECT c_custkey, c_name FROM graft_customer
          |WHERE c_custkey NOT IN (SELECT o_custkey FROM graft_orders
          |                        WHERE o_orderstatus = 'P')""".stripMargin)
    }),

    "q20_nested_in_suppliers" -> ((s, dir) => {
      // TPC-H Q20 shape, DECLARED as NESTED correlation — the hardest
      // decorrelation in TPC-H: an IN whose subquery ITSELF contains both
      // another IN (the part-name gate) and a correlated scalar aggregate
      // (the per-(part,supplier) average) that references the MIDDLE
      // query's columns, not the outermost. Catalyst must decorrelate
      // inside-out — the scalar avg becomes ONE grouped aggregate over
      // lineitem joined back on (l_partkey, l_suppkey), the inner IN a
      // LeftSemi against part, the outer IN a LeftSemi probing supplier —
      // never a per-supplier or per-lineitem re-scan (plan-pinned: no
      // nested loop, pinned exchange count). Adapted to the fixture's
      // schema (no partsupp table): the excess-stock predicate reads
      // "shipped more than half the part+supplier's own average quantity".
      // l_quantity is integral so the double avg is order-independent.
      Tables.supplier(s, dir).createOrReplaceTempView("graft_supplier")
      Tables.part(s, dir).createOrReplaceTempView("graft_part")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT s_suppkey, s_name
          |FROM graft_supplier
          |WHERE s_suppkey IN (
          |  SELECT l1.l_suppkey FROM graft_lineitem l1
          |  WHERE l1.l_partkey IN (SELECT p_partkey FROM graft_part
          |                         WHERE p_name LIKE 'large%')
          |    AND l1.l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l1.l_shipdate < TIMESTAMP '1998-01-01'
          |    AND l1.l_quantity > (SELECT 0.5 * avg(l2.l_quantity)
          |                         FROM graft_lineitem l2
          |                         WHERE l2.l_partkey = l1.l_partkey
          |                           AND l2.l_suppkey = l1.l_suppkey))""".stripMargin)
    }),

    "q19_disjunctive_revenue" -> ((s, dir) => {
      // TPC-H Q19 shape: a DISJUNCTIVE OR-of-ANDs predicate over an
      // equi-join, each branch constraining BOTH sides. The whole
      // disjunction is not separable, so the naive plan filters only
      // post-join and scans both tables in full; the optimizer must run
      // CNF extraction (PushExtraPredicateThroughJoin) to derive each
      // side's branch-union — (brand/size OR ...) to the part scan,
      // (quantity/flag OR ...) to the lineitem scan — as PushedFilters
      // while keeping p_partkey = l_partkey as the equi-key (plan-pinned:
      // both scans carry a pushed Or, join stays equi). Adapted to the
      // fixture's columns (no p_container/l_shipmode): brand+size on the
      // part side, quantity+flag/status on the lineitem side.
      Tables.part(s, dir).createOrReplaceTempView("graft_part")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          |  count(*) AS n_items
          |FROM graft_lineitem JOIN graft_part ON p_partkey = l_partkey
          |WHERE
          |  (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
          |     AND l_quantity BETWEEN 1 AND 20 AND l_returnflag = 'N')
          |  OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
          |     AND l_quantity BETWEEN 10 AND 30 AND l_linestatus = 'O')
          |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35
          |     AND l_quantity BETWEEN 20 AND 40)""".stripMargin)
    }),

    "q13_order_distribution" -> ((s, dir) => {
      // TPC-H Q13 shape: LEFT OUTER join aggregation with a filter in the
      // ON clause — the null-preserving placement trap. The priority
      // filter must stay a right-side scan predicate (pushed to the
      // orders parquet scan), NEVER migrate above the join as a WHERE —
      // that would drop order-less customers and silently turn the outer
      // join inner. The double aggregation (orders per customer, then
      // customers per order-count) is the classic skew shape: the first
      // groupBy keys on c_custkey (uniform), the second collapses onto
      // ~40 distinct counts — partial map-side aggregation absorbs the
      // skew before the tiny exchange. Plan-pinned: join stays LeftOuter,
      // orders scan carries the pushed priority filter.
      Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      s.sql(
        """SELECT c_count, count(*) AS custdist
          |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          |      FROM graft_customer LEFT OUTER JOIN graft_orders
          |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          |      GROUP BY c_custkey) c_orders
          |GROUP BY c_count""".stripMargin)
    }),

    "q2_min_cost_shipment" -> ((s, dir) => {
      // TPC-H Q2 shape: a correlated scalar subquery whose body is ITSELF
      // A JOIN — the variant the decorrelation family lacked (q17's scalar
      // is single-table). For each small part, the shipments priced at
      // that part's minimum among completed orders; the min must
      // decorrelate to ONE (lineitem JOIN orders) aggregate grouped by
      // partkey and joined back — not a per-part re-execution of the join.
      // Q2's signature tie semantics apply: every row AT the minimum
      // returns. Equality compares STORED doubles (min picks one of them,
      // no arithmetic), so the boundary cannot drift between engines.
      Tables.part(s, dir).createOrReplaceTempView("graft_part")
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT p_partkey, p_name, l.l_suppkey, l.l_extendedprice AS min_price
          |FROM graft_part
          |JOIN graft_lineitem l ON p_partkey = l.l_partkey
          |JOIN graft_orders o ON o.o_orderkey = l.l_orderkey
          |WHERE p_size < 10 AND o.o_orderstatus = 'F'
          |  AND l.l_extendedprice = (
          |    SELECT min(l2.l_extendedprice)
          |    FROM graft_lineitem l2
          |    JOIN graft_orders o2 ON o2.o_orderkey = l2.l_orderkey
          |    WHERE l2.l_partkey = p_partkey AND o2.o_orderstatus = 'F')""".stripMargin)
    }),

    "q15_top_supplier" -> ((s, dir) => {
      // TPC-H Q15 shape: a named aggregate (the revenue view) consumed
      // TWICE — once as the join input, once inside an uncorrelated scalar
      // MAX over it — with tie-preserving equality against the scalar.
      // The optimizer question is what happens to the doubly-referenced
      // CTE: the scalar branch computes once (subquery result broadcast
      // into the filter), and revenue itself must stay ONE aggregation
      // shape per reference, never a per-row re-aggregation. Revenue is
      // the exact decimal sum cast to double, so both engines compute the
      // identical IEEE value and the max-equality boundary is exact.
      Tables.supplier(s, dir).createOrReplaceTempView("graft_supplier")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """WITH revenue AS (
          |  SELECT l_suppkey AS supplier_no,
          |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
          |      AS total_revenue
          |  FROM graft_lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM graft_supplier JOIN revenue ON s_suppkey = supplier_no
          |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin)
    }),

    "q14_promo_share" -> ((s, dir) => {
      // TPC-H Q14 shape: a ratio of a CONDITIONAL sum to the total sum over
      // the same join — the optimizer must fuse both sums into ONE
      // aggregate pass over one (lineitem x part-broadcast) join, never a
      // second scan per numerator, and the shipdate range must reach the
      // lineitem scan as PushedFilters. Both sums are exact decimal
      // arithmetic cast to double only at the end, so the final division
      // is one IEEE op on identical operands in both engines.
      Tables.part(s, dir).createOrReplaceTempView("graft_part")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT
          |  CAST(100 AS DOUBLE)
          |    * CAST(sum(CASE WHEN p_type = 'PROMO'
          |          THEN CAST(l_extendedprice AS DECIMAL(18,2))
          |               * (1 - CAST(l_discount AS DECIMAL(18,2)))
          |          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
          |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          |               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
          |    AS promo_share,
          |  count(*) AS n_items
          |FROM graft_lineitem JOIN graft_part ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1996-03-01'""".stripMargin)
    }),

    "q7_volume_pairs" -> ((s, dir) => {
      // TPC-H Q7 shape: a DISJUNCTIVE predicate over a PAIR of dimension
      // copies — (n1=A AND n2=B) OR (n1=B AND n2=A) — plus grouping on an
      // expression (year of shipdate). CNF extraction must derive each
      // nation copy's branch-union (n_name IN (A,B)) and push it into that
      // scan, while the residual pair disjunction survives post-join; a
      // failed extraction scans both nation copies in full and filters
      // only after the 4-way join.
      Tables.nation(s, dir).createOrReplaceTempView("graft_nation")
      Tables.supplier(s, dir).createOrReplaceTempView("graft_supplier")
      Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT supp_nation, cust_nation, l_year,
          |  CAST(sum(vol) AS DOUBLE) AS revenue, count(*) AS n_items
          |FROM (
          |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |    year(l_shipdate) AS l_year,
          |    CAST(l_extendedprice AS DECIMAL(18,2))
          |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS vol
          |  FROM graft_lineitem
          |  JOIN graft_orders ON o_orderkey = l_orderkey
          |  JOIN graft_customer ON c_custkey = o_custkey
          |  JOIN graft_supplier ON s_suppkey = l_suppkey
          |  JOIN graft_nation n1 ON s_nationkey = n1.n_nationkey
          |  JOIN graft_nation n2 ON c_nationkey = n2.n_nationkey
          |  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          |     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
          |) pairs
          |GROUP BY supp_nation, cust_nation, l_year""".stripMargin)
    }),

    "q6_forecast_revenue" -> ((s, dir) => {
      // TPC-H Q6 shape: the pure pushdown showcase — no join at all, a
      // conjunctive range filter on three columns and one global sum. The
      // plan contract is maximal pushdown: ALL THREE predicates reach the
      // parquet scan as PushedFilters (date range, discount band, quantity
      // cap), so at 100 TB the scan skips row groups on statistics and the
      // whole query is scan → partial sum → ONE single-row exchange. The
      // discount band compares STORED doubles against the same literals in
      // both engines — no arithmetic, no boundary drift.
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          |           * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  count(*) AS n_items
          |FROM graft_lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1997-01-01'
          |  AND l_discount BETWEEN 0.05 AND 0.07
          |  AND l_quantity < 24""".stripMargin)
    }),

    "q8_market_share" -> ((s, dir) => {
      // TPC-H Q8 shape: one nation's share of regional revenue by year — a
      // conditional-sum/total-sum ratio (like q14) sitting on TOP of the
      // largest join tree in TPC-H: lineitem ⋈ part (type gate) ⋈ orders
      // (date range) ⋈ customer ⋈ nation ⋈ region (market filter, CUSTOMER
      // side) ⋈ supplier ⋈ nation (share nation, SUPPLIER side). The plan
      // contract: every dimension broadcasts, both sums fuse into ONE
      // aggregate pass per year, and the region/type/date gates push to
      // their scans — the fact row never traverses more than one exchange.
      // Volumes are exact decimals; the division is one IEEE op at the end.
      Tables.part(s, dir).createOrReplaceTempView("graft_part")
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
      Tables.supplier(s, dir).createOrReplaceTempView("graft_supplier")
      Tables.nation(s, dir).createOrReplaceTempView("graft_nation")
      Tables.region(s, dir).createOrReplaceTempView("graft_region")
      s.sql(
        """SELECT o_year,
          |  CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN vol
          |           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
          |    / CAST(sum(vol) AS DOUBLE) AS mkt_share,
          |  count(*) AS n_items
          |FROM (
          |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
          |    CAST(l_extendedprice AS DECIMAL(18,2))
          |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS vol,
          |    n2.n_name AS supp_nation
          |  FROM graft_lineitem
          |  JOIN graft_part ON p_partkey = l_partkey
          |  JOIN graft_orders ON o_orderkey = l_orderkey
          |  JOIN graft_customer ON c_custkey = o_custkey
          |  JOIN graft_nation n1 ON c_nationkey = n1.n_nationkey
          |  JOIN graft_region ON n1.n_regionkey = r_regionkey
          |  JOIN graft_supplier ON s_suppkey = l_suppkey
          |  JOIN graft_nation n2 ON s_nationkey = n2.n_nationkey
          |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
          |    AND o_orderdate >= TIMESTAMP '1996-01-01'
          |    AND o_orderdate < TIMESTAMP '1998-01-01'
          |) shares
          |GROUP BY o_year""".stripMargin)
    }),

    "q9_profit_by_nation" -> ((s, dir) => {
      // TPC-H Q9 shape: profit by (supplier nation, year) over parts
      // matched by an infix LIKE — the two traps are the '%widget%'
      // predicate (no prefix, so no range: it must still reach the part
      // scan as a pushed StringContains, never a post-join filter) and the
      // grouping skew (every nation × year pair funnels through the agg —
      // partial map-side aggregation absorbs it before the exchange).
      // Profit = revenue − imputed cost (no partsupp in the fixture:
      // 10% of retail price × quantity), all exact decimal arithmetic —
      // DECIMAL(12,2) operands keep the three-factor product's inferred
      // precision under both engines' 38-digit cap — cast to double after
      // the sum.
      Tables.part(s, dir).createOrReplaceTempView("graft_part")
      Tables.supplier(s, dir).createOrReplaceTempView("graft_supplier")
      Tables.nation(s, dir).createOrReplaceTempView("graft_nation")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT nation, o_year,
          |  CAST(sum(profit) AS DOUBLE) AS sum_profit, count(*) AS n_items
          |FROM (
          |  SELECT n_name AS nation,
          |    CAST(year(l_shipdate) AS INT) AS o_year,
          |    CAST(l_extendedprice AS DECIMAL(12,2))
          |      * (1 - CAST(l_discount AS DECIMAL(12,2)))
          |    - CAST(p_retailprice AS DECIMAL(12,2))
          |      * CAST(l_quantity AS DECIMAL(12,2))
          |      * CAST(0.1 AS DECIMAL(2,1)) AS profit
          |  FROM graft_lineitem
          |  JOIN graft_part ON p_partkey = l_partkey
          |  JOIN graft_supplier ON s_suppkey = l_suppkey
          |  JOIN graft_nation ON s_nationkey = n_nationkey
          |  WHERE p_name LIKE '%widget%'
          |) profits
          |GROUP BY nation, o_year""".stripMargin)
    }),

    "q10_returned_items" -> ((s, dir) => {
      // TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
      // quarter — a grouped aggregate keyed on the customer's FULL
      // attribute tuple (key + name + balance + nation) with ORDER BY a
      // sum + LIMIT. The plan contract: the returnflag filter pushes to
      // the lineitem scan and the date range to orders; dims broadcast so
      // the only data-sized exchange is the customer-grouped agg; the
      // LIMIT plans TakeOrderedAndProject (never a global sort of every
      // customer). Tie-break on c_custkey makes the cut deterministic.
      Tables.customer(s, dir).createOrReplaceTempView("graft_customer")
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      Tables.nation(s, dir).createOrReplaceTempView("graft_nation")
      s.sql(
        """SELECT c_custkey, c_name,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
          |    AS revenue,
          |  c_acctbal, n_name, count(*) AS n_items
          |FROM graft_customer
          |JOIN graft_orders ON c_custkey = o_custkey
          |JOIN graft_lineitem ON l_orderkey = o_orderkey
          |JOIN graft_nation ON c_nationkey = n_nationkey
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1996-04-01'
          |  AND l_returnflag = 'R'
          |GROUP BY c_custkey, c_name, c_acctbal, n_name
          |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)
    }),

    "q12_priority_lines" -> ((s, dir) => {
      // TPC-H Q12 shape: dual CASE-conditional counts over a fact-fact
      // join — per line category (returnflag stands in for the fixture's
      // missing shipmode), how many lines belong to critical-priority
      // orders vs not. The trap: BOTH conditional sums read o_orderpriority,
      // so a naive plan joins twice or scans orders twice; the contract is
      // ONE join, ONE aggregate pass, with the date range pushed to the
      // lineitem scan. Counts are exact integers — no float drift at all.
      Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT l_returnflag,
          |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |      THEN 1 END) AS high_line_count,
          |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
          |      THEN 1 END) AS low_line_count
          |FROM graft_orders JOIN graft_lineitem ON o_orderkey = l_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1997-01-01'
          |GROUP BY l_returnflag""".stripMargin)
    }),

    "q16_supplier_relation" -> ((s, dir) => {
      // TPC-H Q16 shape: supplier count per part profile — a
      // count(DISTINCT) whose distinct column arrives through a join
      // (lineitem is the part↔supplier relation; the fixture has no
      // partsupp), gated by a NEGATED IN-list + NOT LIKE on the part side
      // and a NOT IN subquery excluding flagged suppliers. The NOT IN is
      // the null-aware anti join (same family as not_in_null_aware) but
      // feeding an Expand-rewritten distinct aggregate — the composition
      // neither pin covers alone. p_size IN (...) pushes to the part scan
      // as an In filter.
      Tables.part(s, dir).createOrReplaceTempView("graft_part")
      Tables.supplier(s, dir).createOrReplaceTempView("graft_supplier")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT p_brand, p_type, p_size,
          |  count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM graft_lineitem JOIN graft_part ON p_partkey = l_partkey
          |WHERE p_brand <> 'Brand#21'
          |  AND p_type NOT LIKE 'SMALL%'
          |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45)
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM graft_supplier
          |                        WHERE s_name LIKE '%3%')
          |GROUP BY p_brand, p_type, p_size""".stripMargin)
    }),

    "multi_distinct_agg" -> ((s, dir) =>
      // Two count(DISTINCT) over DIFFERENT columns plus plain aggregates in
      // one GROUP BY — the classic Expand-rewrite shape: the planner must
      // rewrite to ONE scan feeding an Expand (one projection per distinct
      // group + one for the plain aggs), never one scan-and-join per
      // distinct column. count(*) must survive the rewrite (it counts only
      // the non-distinct projection's rows).
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))),

    "broadcast_join_agg" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          decSum(col("c_acctbal")).as("total_balance"))),

    "semi_join" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))),

    "anti_join" -> ((s, dir) =>
      // customers with no still-pending ('P') order — non-empty at every SF
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    "window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
    }),

    "window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, dir).select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(dec2(col("l_quantity"))).over(w).cast("double").as("running_qty"))
    }),

    "window_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"),
        (col("o_totalprice") - lag(col("o_totalprice"), 1).over(w)).as("delta"))
    }),

    "rollup_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          decSum(col("l_quantity")).as("sum_qty"))),

    "rollup_multi_distinct" -> ((s, dir) =>
      // the COMPOSITION of the two Expand-lowered shapes: ROLLUP (one
      // Expand, a tuple per grouping set) under TWO count(DISTINCT) over
      // different columns (a second Expand, a projection per distinct
      // group + one plain). The planner must stack the rewrites over ONE
      // scan — the naive plan re-aggregates per grouping set per distinct
      // column (6 passes). The 3x3 row multiplication between the Expands
      // is the declared cost of the shape; both partial aggs absorb it
      // map-side before their exchange.
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_totalprice")).as("n_prices"),
          count(lit(1)).as("n_orders"))),

    "topk_orders" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    "events_window_agg" -> ((s, dir) =>
      Sources.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          decSum(col("value")).as("sum_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("cnt"), col("sum_value"))),

    "asof_join_native" -> ((s, dir) => {
      // the SAME as-of lookup as asof_join, through the whole-operator
      // native path: AsOfJoinPlan -> AsOfJoinStrategy -> AsOfJoinExec
      // (custom-operator ladder tier (c), SparkSessionExtensions-injected);
      // co-partitioned streaming merge, O(1) state — and the same DuckDB
      // ASOF JOIN oracle as the composed form, so both paths are pinned
      // row-identical by the driver gate
      val ev = Sources.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts"),
        col("event_id").as("purchase_event_id"), col("value").as("purchase_value"))
      operators.Joins.asOfJoinNative(
        ev.select("event_id", "user_id", "ts"), purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightPayload = Seq("purchase_event_id", "purchase_value"),
        rightTieBreak = "purchase_event_id")
        .select("event_id", "user_id", "purchase_event_id", "purchase_value")
    }),

    "asof_join" -> ((s, dir) => {
      // every event joined to the user's most recent purchase at-or-before it
      val ev = Sources.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts"),
        col("event_id").as("purchase_event_id"), col("value").as("purchase_value"))
      operators.Joins.asOfJoin(
        ev.select("event_id", "user_id", "ts"), purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightPayload = Seq("purchase_event_id", "purchase_value"),
        rightTieBreak = "purchase_event_id")
        .select("event_id", "user_id", "purchase_event_id", "purchase_value")
    }),

    "asof_join_forward_native" -> ((s, dir) => {
      // the forward (next-event) lookup through the native merge: ts sorted
      // DESCENDING within the key, consume comparison mirrored — same
      // DuckDB ASOF >= oracle as the composed asof_join_forward
      val ev = Sources.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts"),
        col("event_id").as("next_purchase_id"), col("value").as("next_purchase_value"))
      operators.Joins.asOfJoinForwardNative(
        ev.select("event_id", "user_id", "ts"), purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightPayload = Seq("next_purchase_id", "next_purchase_value"),
        rightTieBreak = "next_purchase_id")
        .select("event_id", "user_id", "next_purchase_id", "next_purchase_value")
    }),

    "asof_join_forward" -> ((s, dir) => {
      // every event joined to the user's NEXT purchase at-or-after it
      val ev = Sources.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts"),
        col("event_id").as("next_purchase_id"), col("value").as("next_purchase_value"))
      operators.Joins.asOfJoinForward(
        ev.select("event_id", "user_id", "ts"), purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightPayload = Seq("next_purchase_id", "next_purchase_value"),
        rightTieBreak = "next_purchase_id")
        .select("event_id", "user_id", "next_purchase_id", "next_purchase_value")
    }),

    "window_fill_forward" -> ((s, dir) => {
      // running last-known-value (forward fill): the gap-filling idiom for
      // sparse time series; ignoreNulls last over a running frame
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Sources.events(s, dir).select(
        col("event_id"), col("user_id"),
        last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
          .over(w).as("last_purchase_value"))
    }),

    "interval_overlap_join" -> ((s, dir) => {
      // window-vs-window temporal join: each user's daily activity span
      // (capped to user_id < 500 to bound the pair surface) against every
      // event type's daily span — pairs that overlap in wall-clock time,
      // with the exact intersection length. Bucketized equi-join (1-hour
      // buckets), never a cross join; pairs dedupe by first shared bucket
      val ev = Sources.events(s, dir)
      val sessions = ev.filter(col("user_id") < 500)
        .groupBy(col("user_id"), to_date(col("ts")).as("s_day"))
        .agg(min(col("ts")).as("s_start"),
          expr("max(ts) + INTERVAL 1 MINUTE").as("s_end"))
        .drop("s_day")
      val windows = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("w_day"))
        .agg(min(col("ts")).as("w_start"),
          expr("max(ts) + INTERVAL 1 MINUTE").as("w_end"))
        .drop("w_day")
      operators.Joins.intervalOverlapJoin(
        sessions, windows, keys = Seq.empty,
        leftStart = "s_start", leftEnd = "s_end",
        rightStart = "w_start", rightEnd = "w_end",
        widthMicros = 3600L * 1000000)
        .select(col("user_id"), col("event_type"), col("s_start"), col("w_start"),
          (least(unix_micros(col("s_end")), unix_micros(col("w_end"))) -
            greatest(unix_micros(col("s_start")), unix_micros(col("w_start"))))
            .as("overlap_us"))
    }),

    "range_join" -> ((s, dir) => {
      // per purchase: the user's event activity in the following 30 minutes
      val ev = Sources.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase").select(
        col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      val follows = operators.Joins.timeRangeJoin(
        purchases, ev.select(col("user_id"), col("ts"), col("value")),
        keys = Seq("user_id"), leftTs = "p_ts", rightTs = "ts",
        lowerMicros = 0L, upperMicros = 30L * 60 * 1000000)
      follows.groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_follow"),
          decSum(col("value")).as("sum_value"))
    }),

    "collect_groups" -> ((s, dir) =>
      // A1 analog: group-into-buckets (collect, not aggregate); sort_array
      // gives the deterministic order the oracle's list_sort mirrors
      Sources.events(s, dir)
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        // serialized to one string column: the driver's pandas compare cannot
        // sort rows containing numpy arrays
        .agg(concat_ws(",", sort_array(collect_list(col("event_id")))).as("ids"),
          count(lit(1)).as("cnt"))),

    "cube_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          decSum(col("l_quantity")).as("sum_qty"))),

    "grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(1) AS cnt
          |FROM graft_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    }),

    "count_distinct" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))),

    "json_extract" -> ((s, dir) =>
      Sources.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))),

    "window_ntile" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"),
        first(col("o_orderkey")).over(w).as("top_order"))
    }),

    "pivot_agg" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val pivoted = Sources.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type", types)
        .count()
      // Spark pivot leaves missing combinations null; the FILTER-count oracle
      // yields 0 — align on 0.
      pivoted.select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    }),

    "string_funcs" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        upper(substring(col("text"), 1, 10)).as("head_uc"),
        regexp_replace(col("source"), "src", "origin-").as("origin"),
        levenshtein(col("lang"), lit("en")).as("lev"),
        length(trim(col("text"))).as("trim_len"))),

    "date_funcs" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).as("days_since"),
        date_format(date_add(to_date(col("o_orderdate")), 7), "yyyy-MM-dd").as("week_later"))),

    "scalar_math" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        sqrt(col("l_quantity")).as("sq"),
        floor(col("l_extendedprice")).as("fl"),
        ceil(col("l_extendedprice")).as("ce"),
        abs(col("l_discount") - 0.05).as("ad"),
        pow(col("l_discount"), 2).as("p2"))),

    "session_window" -> ((s, dir) =>
      // gap-based sessionization (streaming-native session_window run in
      // batch mode); the oracle reconstructs identical sessions with
      // lag + cumulative-sum SQL
      Sources.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          decSum(col("value")).as("sum_value"))
        .select(
          col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), col("sum_value"))),

    // ---- LLM-data-pipeline operators ----------------------------------
    "text_stats" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.qualityFeatures(col("text")).as("q"))
        .select(
          col("doc_id"),
          col("q.n_chars").as("n_chars"),
          col("q.n_tokens").as("n_tokens"),
          col("q.avg_token_len").as("avg_token_len"),
          col("q.punct_ratio").as("punct_ratio"),
          col("q.stopword_ratio").as("stopword_ratio"))),

    "repetition_quality" -> ((s, dir) =>
      // Gopher-style repetition signal: duplicate-trigram fraction per doc —
      // boilerplate/keyword-stuffing/generation-loop detector the length and
      // stopword ratios miss. Integer counts + one divide, oracle-exact.
      Tables.documents(s, dir).select(
        col("doc_id"), TextAnalysis.repetitionStats(col("text"), 3).as("r"))
        .select(col("doc_id"),
          col("r.n_ngrams").as("n_trigrams"),
          col("r.n_distinct").as("n_distinct"),
          col("r.dup_frac").as("dup_frac"))),

    "top_ngram_share" -> ((s, dir) =>
      // the second Gopher repetition rule: share of the doc's trigrams taken
      // by its single most frequent trigram (one-phrase loop detector)
      TextAnalysis.topNgramShare(Tables.documents(s, dir), 3)),

    "contamination_check" -> ((s, dir) => {
      // benchmark decontamination: every 97th doc stands in as the held-out
      // eval set; the rest of the corpus reports its distinct-trigram
      // overlap with that set's vocabulary
      val docs = Tables.documents(s, dir)
      TextAnalysis.contaminationCheck(
        docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(97)) === 0), n = 3)
    }),

    "lang_distribution" -> ((s, dir) =>
      Tables.documents(s, dir).groupBy(col("lang")).agg(count(lit(1)).as("cnt"))),

    "lang_id" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))),

    "token_fingerprint" -> ((s, dir) => {
      // rolling-hash fingerprints aren't DuckDB-computable; emit provable
      // invariants instead (fingerprint is a pure function of the text:
      // identical text -> identical fingerprint, never null, and distinct
      // fingerprints cannot exceed distinct texts)
      // checkpointed: three narrow columns, consumed by four invariants
      val fps = Tables.documents(s, dir).select(
        col("doc_id"), md5(col("text")).as("__d"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .transform(Checkpointing.materialize)
      val tot = fps.agg(count(lit(1)).as("total"))
      val nulls = fps.filter(col("fingerprint").isNull).agg(count(lit(1)).as("nulls"))
      val inconsistent = fps.groupBy(col("__d"))
        .agg(countDistinct(col("fingerprint")).as("nfp"))
        .filter(col("nfp") >= 2).agg(count(lit(1)).as("bad"))
      val counts = fps.agg(
        countDistinct(col("fingerprint")).as("dfp"),
        countDistinct(col("__d")).as("dtxt"))
      tot.crossJoin(nulls).crossJoin(inconsistent).crossJoin(counts)
        .selectExpr(
          """stack(4,
            | 'total_docs', CAST(total AS BIGINT),
            | 'null_fingerprints', CAST(nulls AS BIGINT),
            | 'inconsistent_groups', CAST(bad AS BIGINT),
            | 'fp_exceeds_texts', CAST(CASE WHEN dfp > dtxt THEN 1 ELSE 0 END AS BIGINT)
            |) AS (chk, n)""".stripMargin)
    }),

    "exact_dedup_docs" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", Seq("text")).select("doc_id")),

    "minhash_dedup_docs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      dedupInvariants(docs, Dedup.minhashLsh(docs, "doc_id", "text"), "doc_id", "text")
    }),

    "simhash_dedup_docs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      dedupInvariants(docs, Dedup.simhash(docs, "doc_id", "text"), "doc_id", "text")
    }),

    "ngram_jaccard_dedup_docs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      dedupInvariants(docs, Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.8), "doc_id", "text")
    }),

    "segment_dedup" -> ((s, dir) =>
      // CCNet/RefinedWeb-style line-level dedup (the corpus has no newlines,
      // so the "line" is a fixed 10-token segment): a segment seen anywhere
      // earlier in the corpus drops, documents reassemble from survivors
      Dedup.segmentDedup(Tables.documents(s, dir), "doc_id", "text", segTokens = 10)),

    "duplicate_spans" -> ((s, dir) =>
      // hashed-window substring-dedup stats (Lee et al. 2022): per document,
      // how many tokens sit under an 8-token window repeated anywhere in the
      // corpus — the quantity exact substring dedup cuts
      Dedup.duplicateSpanStats(Tables.documents(s, dir), "doc_id", "text", k = 8)),

    "remove_duplicate_spans" -> ((s, dir) =>
      // substring dedup as a TRANSFORM: the stats query's duplicated windows
      // actually excised — keep-first per fingerprint corpus-wide, documents
      // rebuilt from surviving tokens (the Lee et al. pipeline's output)
      Dedup.removeDuplicateSpans(Tables.documents(s, dir), "doc_id", "text", k = 8)),

    "incremental_dedup" -> ((s, dir) => {
      // ingestion-gate dedup: every 7th doc plays the incoming batch, the
      // rest the accumulated corpus; the corpus reduces to one bloom filter
      // that prunes the batch before the exact anti-join confirms
      val docs = Tables.documents(s, dir)
      Dedup.incrementalExact(
        docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(7)) === 0),
        "doc_id", Seq("text"), expectedCorpusItems = 100000L)
        .select(col("doc_id"), col("lang"))
    }),

    "incremental_dedup_table" -> ((s, dir) => {
      // the SAME ingestion gate through the past-driver-memory probe: the
      // corpus content keys live in a sharded KeyTable and the batch's keys
      // broadcast into a shard-pruned equi-join instead of probing a
      // plan-literal bloom — admissions identical (the probe is exact), so
      // the oracle is identical too
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      Dedup.incrementalExactTable(corpus, batch, "doc_id", Seq("text"),
        Dedup.KeyTable(Dedup.corpusContentKeys(corpus, Seq("text"), nShards = 16),
          nShards = 16))
        .select(col("doc_id"), col("lang"))
    }),

    "corpus_purge_roundtrip" -> ((s, dir) => {
      // the GDPR path over the real gated corpus: ingest one batch through
      // the table-form exact gate (within-batch dedup keeps the smallest id
      // per content), purge the doc_id % 14 tombstones — manifest-committed
      // data rewrite, shard-pruned key deletion, meta re-stamp — and read
      // the corpus back. What survives is pure set algebra the oracle
      // restates
      val corpus = scratchDir("graft_gdpr") + "/corpus"
      val batch = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), col("lang"), col("text"))
      graft.streaming.Streaming.ingestBatch(batch, corpus, "doc_id", Seq("text"),
        sidecarMaxBytes = 0L): Unit
      val tomb = batch.select(col("doc_id")).filter(pmod(col("doc_id"), lit(14)) === 0)
      graft.streaming.Streaming.purgeCorpus(s, corpus, tomb, "doc_id", Seq("text")): Unit
      ParquetRead(s, corpus).select(col("doc_id"), col("lang"))
    }),

    "gdpr_tombstone_log" -> ((s, dir) => {
      // batched right-to-be-forgotten: two purge requests APPEND to the
      // KB-scale tombstone log (no corpus read), the compliant view hides
      // them immediately via an ids-sized anti-join, a below-threshold
      // flush is a no-op that keeps the log, and the real flush pays ONE
      // corpus rewrite for both requests and retires the log. The emitted
      // flags pin each of those contracts; the per-lang compliant counts
      // are the same set algebra as corpus_purge_roundtrip's
      import s.implicits._
      val Tomb = graft.streaming.TombstoneLog
      val corpus = scratchDir("graft_tomblog") + "/corpus"
      val batch = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"), col("lang"), col("text"))
      graft.streaming.Streaming.ingestBatch(batch, corpus, "doc_id", Seq("text"),
        sidecarMaxBytes = 0L): Unit
      Tomb.requestPurge(corpus,
        batch.filter(pmod(col("doc_id"), lit(15)) === 0).select(col("doc_id")),
        "doc_id"): Unit
      Tomb.requestPurge(corpus,
        batch.filter(pmod(col("doc_id"), lit(20)) === 0).select(col("doc_id")),
        "doc_id"): Unit
      // read-side compliance BEFORE any rewrite; materialized because the
      // flush below retires the very files this plan reads
      val pre = Checkpointing.materialize(
        Tomb.readCompliant(s, corpus, "doc_id")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_compliant")))
      val held = Tomb.flushPurge(s, corpus, "doc_id", Seq("text"),
        minPending = 1000000L).isEmpty // threshold not met -> log kept
      val flushed = Tomb.flushPurge(s, corpus, "doc_id", Seq("text"))
      val retired = flushed.exists(_._2 == 2) && // both requests, one rewrite
        graft.streaming.TombstoneLog.pending(s, corpus, "doc_id").count() == 0L
      val after = ParquetRead(s, corpus).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_after"))
      pre.join(after, Seq("lang"), "left")
        .select(col("lang"), col("n_compliant"),
          lit(if (held) 1L else 0L).as("held_below_threshold"),
          when(coalesce(col("n_after"), lit(0L)) === col("n_compliant"), lit(1L))
            .otherwise(lit(0L)).as("post_purge_matches"),
          lit(if (retired) 1L else 0L).as("log_retired"))
    }),

    "bm25_fsck" -> ((s, dir) => {
      // the index integrity report: one row per batch seen anywhere
      // (postings __b stamps, stats, doclens, commit markers) with the
      // health verdict — the maintenance action that pays the postings
      // one-column scan ONCE to see the torn shape purge's coverage guard
      // cannot (a batch abandoned between its postings and stats writes).
      // On a healthy two-batch index every flag is true and n_docs
      // replays exactly in DuckDB
      val idx = scratchDir("graft_bm25fsck") + "/index"
      val docs = Tables.documents(s, dir)
      streaming.Bm25Index.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), idx, "doc_id", "text",
        batchId = 0L, nShards = Sizing.Fixed(8))
      streaming.Bm25Index.ingestBatch(
        docs.filter(pmod(col("doc_id"), lit(10)) === 5), idx, "doc_id", "text",
        batchId = 1L, nShards = Sizing.Fixed(8))
      streaming.Bm25Index.fsck(s, idx)
        .select(col("batch_id"),
          col("committed").cast("long").as("committed"),
          col("in_postings").cast("long").as("in_postings"),
          col("in_stats").cast("long").as("in_stats"),
          col("in_doclens").cast("long").as("in_doclens"),
          col("n_docs"),
          col("ok").cast("long").as("ok"))
    }),

    "gdpr_composed_flush" -> ((s, dir) => {
      // the tombstone log's whole reason to exist, driven end to end: ONE
      // crash-safe flush in which the corpus AND its BM25 index forget the
      // SAME batched ids. alsoPurge receives the exact materialized id
      // frame the corpus rewrite used — after the rewrite, before the log
      // retire — so a crash (or throw) anywhere leaves the log intact and
      // the re-flush idempotently redoes both sides. The oracle restates
      // both: per-lang compliant counts are gated admission minus the two
      // requests' union, and the post-flush topK is the plain BM25 mirror
      // over that same surviving set (the purged index scores BITWISE
      // like one never holding the docs). both_sides_forgot pins that the
      // index purged exactly the admitted∩requested docs and the corpus
      // holds none of them
      import s.implicits._
      val Tomb = graft.streaming.TombstoneLog
      val root = scratchDir("graft_composed")
      val corpus = root + "/corpus"
      val idx = root + "/index"
      val batch = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(6)) === 0)
        .select(col("doc_id"), col("lang"), col("text"))
      graft.streaming.Streaming.ingestBatch(batch, corpus, "doc_id", Seq("text"),
        sidecarMaxBytes = 0L): Unit
      // the index holds exactly the gated corpus; materialized because the
      // flush below rewrites the very files this frame reads
      val admitted = Checkpointing.materialize(ParquetRead(s, corpus))
      // data-derived shards, not a hand-tuned constant: shard count never
      // touches scores (bm25_index_topk exercises the 64 default), and the
      // bytes-per-shard rule sizes the test corpus and a 100 TB corpus by
      // the same formula — this query's cost is the composed-flush
      // semantics, not postings fan-out
      streaming.Bm25Index.ingestBatch(
        admitted.select(col("doc_id"), col("text")), idx, "doc_id", "text",
        batchId = 0L, nShards = streaming.Bm25Index.AutoShards)
      val purgePred = pmod(col("doc_id"), lit(12)) === 0 ||
        pmod(col("doc_id"), lit(18)) === 0
      Tomb.requestPurge(corpus,
        batch.filter(pmod(col("doc_id"), lit(12)) === 0).select(col("doc_id")),
        "doc_id"): Unit
      Tomb.requestPurge(corpus,
        batch.filter(pmod(col("doc_id"), lit(18)) === 0).select(col("doc_id")),
        "doc_id"): Unit
      var idxPurged = -1L
      val flushed = Tomb.flushPurge(s, corpus, "doc_id", Seq("text"),
        alsoPurge = ids => idxPurged = streaming.Bm25Index.purge(s, idx, ids, "doc_id"))
      val retired = flushed.exists(_._2 == 2) && // both requests, one flush
        Tomb.pending(s, corpus, "doc_id").count() == 0L
      // ONE job carries both post-flush audits — the expected purge size
      // (over the checkpointed admission) and the corpus-clean probe (over
      // the rewritten corpus) ride a tagged union instead of two
      // sequential counts; the numbers are identical by construction
      val audit = admitted.filter(purgePred).select(lit(0).as("__side"))
        .unionByName(ParquetRead(s, corpus).filter(purgePred)
          .select(lit(1).as("__side")))
        .groupBy(col("__side")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val expected = audit.getOrElse(0, 0L)
      val corpusClean = audit.getOrElse(1, 0L) == 0L
      val bothForgot = idxPurged == expected && expected > 0L && corpusClean
      val queries = Seq(
        (0L, "spark join performance"),
        (1L, "window agg order"),
        (2L, "hash table scan")).toDF("query_id", "qtext")
      val corpusSide = ParquetRead(s, corpus).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_compliant"))
        .select(lit("corpus").as("kind"), col("lang"), col("n_compliant"),
          lit(null).cast("long").as("query_id"), lit(null).cast("long").as("doc_id"),
          lit(null).cast("long").as("rank"), lit(null).cast("double").as("score"))
      val indexSide = streaming.Bm25Index.topK(s, idx, queries, k = 10)
        .select(lit("topk").as("kind"), lit(null).cast("string").as("lang"),
          lit(null).cast("long").as("n_compliant"),
          col("query_id"), col("doc_id"), col("rank"), col("score"))
      corpusSide.unionByName(indexSide)
        .withColumn("log_retired", lit(if (retired) 1L else 0L))
        .withColumn("both_sides_forgot", lit(if (bothForgot) 1L else 0L))
    }),

    "incremental_minhash_dedup" -> ((s, dir) => {
      // NEAR-dup ingestion gate (the exact gate's re-crawl hole closed):
      // band-key bloom probe prunes the batch, (band, bucket) equi-join +
      // exact-Jaccard confirm rejects near-dups of the corpus; verified via
      // gate invariants each recomputed by an independent exact method
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      val admitted = Dedup.incrementalMinhash(corpus, batch, "doc_id", "text")
      incrementalGateInvariants(corpus, batch, admitted, "doc_id", "text")
    }),

    "semantic_dedup" -> ((s, dir) =>
      // SemDeDup: distributed-k-means clusters bound the candidate space,
      // cosine verifies within clusters only; the oracle replays the exact
      // Lloyd iterations (fixed-point sums) and the within-cluster prune
      Dedup.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        nlist = 16, iters = 2, threshold = 0.95)
        .select(col("vec_id"), col("centroid_id").cast("long").as("centroid_id"))),

    "embed_dedup" -> ((s, dir) =>
      Dedup.embeddingCosine(Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64,
        threshold = 0.95).select("vec_id")),

    "embed_dedup_cc" -> ((s, dir) =>
      // exact duplicate clusters: connected components over the verified
      // near-dup pair graph, one representative (min id) per component
      Dedup.embeddingCosineCC(Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64,
        threshold = 0.95).select("vec_id")),

    "dup_cluster_sizes" -> ((s, dir) => {
      // duplicate-cluster size distribution: connected components over the
      // verified near-dup pair graph, then a two-level rollup — the
      // dataset-curation report that tells you whether duplication is
      // dominated by pairs or by giant clusters
      val emb = Tables.embeddings(s, dir)
      val pairs = Dedup.embeddingCandidatePairs(
        emb, "vec_id", "embedding", dim = 64, threshold = 0.95)
      val labels = Dedup.connectedComponents(pairs)
      val clustered = labels
        .groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
        .select(col("cluster_size"))
      // vectors in no verified pair are their own size-1 cluster, so the
      // histogram is the FULL distribution (and never empty)
      val singles = emb.select(col("vec_id").as("id"))
        .join(labels.select(col("id")), Seq("id"), "left_anti")
        .select(lit(1L).as("cluster_size"))
      clustered.unionByName(singles)
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    }),

    "entity_resolution" -> ((s, dir) =>
      // record linkage over the customer dimension: block on the name minus
      // its last two characters, match within blocks at edit distance <= 1,
      // transitive closure assigns min-custkey entity ids. The fixture's
      // generated names make the expected clusters deterministic; the
      // operator's knobs (block key, match attribute, threshold) are what a
      // real deployment tunes
      EntityResolution.resolve(
        Tables.customer(s, dir), "c_custkey",
        blockKey = expr("substr(c_name, 1, length(c_name) - 2)"),
        matchAttr = col("c_name"),
        maxDistance = 1)),

    "embedding_norms" -> ((s, dir) =>
      Tables.embeddings(s, dir).select(
        col("vec_id"), VectorExpressions.l2norm(col("embedding")).as("norm"))),

    "ann_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k = 10)
    }),

    "ann_topk_join" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.topKJoin(emb, "vec_id", "embedding", queries, "query_id", "query_vec", k = 5)
    }),

    "quantized_ann" -> ((s, dir) => {
      // int8-quantized ANN: 4x smaller codes, exact integer dot + rescale;
      // every arithmetic step is IEEE-mirrorable so the oracle is exact
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.quantizedTopK(emb, "vec_id", "embedding", q, k = 10)
    }),

    "jl_project_check" -> ((s, dir) =>
      // deterministic JL sign projection, all 8 target dims emitted as
      // scalar columns — full-matrix verification of the kernel against the
      // oracle's formula replay (2000 vectors x 8 doubles, bit-exact)
      Similarity.jlProject(Tables.embeddings(s, dir), "vec_id", "embedding", k = 8)
        .select(col("vec_id") +: (0 until 8).map(i =>
          col("projected").getItem(i).as(s"p$i")): _*)),

    "jl_ann_topk" -> ((s, dir) => {
      // the scale path for similarity at 100 TB: project once (scan-stage
      // map, 8x narrower), shortlist in the projected space; distances are
      // sequential-accumulated doubles so the oracle replay is exact
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      Similarity.jlTopK(emb, "vec_id", "embedding", q, k = 10, projDim = 8)
    }),

    "ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val (assignments, model) = Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 16)
      Similarity.ivfTopK(assignments, model, "vec_id", "embedding", q, k = 10, nprobe = 4)
    }),

    "index_purge_roundtrip" -> ((s, dir) => {
      // the right-to-be-forgotten maintenance path END-TO-END: build the
      // partitioned IVF layout in scratch, tombstone vec_id % 13, purge —
      // discovery reads one column, the rewrite touches only the lists
      // holding a tombstone, the swap is metadata — then read the layout
      // back. Survivors must equal the Lloyd-assignment replay minus the
      // tombstones, which is exactly what the oracle states
      val emb = Tables.embeddings(s, dir)
      val out = scratchDir("graft_purge") + "/index"
      val (assignments, _) = Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 16)
      Similarity.writeIvfIndex(assignments, out)
      val tomb = emb.select(col("vec_id")).filter(pmod(col("vec_id"), lit(13)) === 0)
      graft.streaming.IvfIngest.purge(s, out, tomb, "vec_id"): Unit
      ParquetRead(s, out).select(col("vec_id").cast("long").as("vec_id"),
        col("centroid_id").cast("long").as("centroid_id"))
    }),

    "pq_ann_topk" -> ((s, dir) => {
      // product quantization, the storage-side ANN endgame: 8 subspaces × 16
      // centroids trained jointly (one aggregation per Lloyd iteration),
      // corpus encoded to ONE long per vector (32× smaller than float32),
      // query scored by ADC table lookups over the codes alone. Training
      // runs on the deterministic HALF-corpus sample (the 100 TB practice:
      // codebooks train on a ~1M-vector sample, encoding covers every
      // vector); training, encoding and the lookup-sum are all
      // fixed-point/sequential-order deterministic, so the oracle replays
      // every step — including the unit-hash sample — bitwise
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val model = Similarity.pqTrain(emb, "vec_id", "embedding", dim = 64,
        trainSampleFraction = 0.5)
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding", model)
      Similarity.pqTopK(codes, "vec_id", "pq_code", model, q, k = 10)
    }),

    "ivfpq_topk" -> ((s, dir) => {
      // the composed FAISS-style index: coarse quantizer prunes to 4 of 16
      // lists (partition pruning over a persisted index), PQ codes ADC-score
      // only inside those lists — the probe reads nprobe/nlist of the files
      // AND 8 bytes per vector; the two prunings multiply
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      // both quantizers train on the deterministic half-corpus sample; the
      // index stamp still covers every vector
      val (index, ivf, pq) = Similarity.ivfPqIndex(emb, "vec_id", "embedding",
        dim = 64, trainSampleFraction = 0.5)
      Similarity.ivfPqTopK(index, ivf, pq, "vec_id", q, k = 10, nprobe = 4)
    }),

    "pq_ann_refined" -> ((s, dir) => {
      // the deployed PQ shape: ADC shortlists 50 candidates from the codes
      // alone, then ONLY those ids' float vectors are read back (broadcast
      // semi-join = pruned scan at corpus scale) for an exact dot rerank —
      // codes quantize away within-cell ordering, the refine restores it
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      val model = Similarity.pqTrain(emb, "vec_id", "embedding", dim = 64,
        trainSampleFraction = 0.5)
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding", model)
      Similarity.pqTopKRefined(codes, emb, "vec_id", "pq_code", "embedding",
        model, q, k = 10, shortlist = 50)
    }),

    "kmeans_clusters" -> ((s, dir) =>
      // cluster-cohesion report over the distributed-Lloyd partitioning:
      // size + mean cosine-to-centroid per cluster, accumulated fixed-point
      // so the profile (and the oracle's Lloyd replay) is bitwise exact
      Similarity.clusterProfile(Tables.embeddings(s, dir), "vec_id", "embedding",
        nlist = 16)),

    "cluster_balanced_sample" -> ((s, dir) =>
      // diversity-preserving cut: at most 8 vectors per k-means cluster,
      // picked by the deterministic unit hash — a mega-cluster of
      // boilerplate cannot dominate the sample the way it would a uniform cut
      Similarity.clusterBalancedSample(Tables.embeddings(s, dir), "vec_id", "embedding",
        nlist = 16, perCluster = 8)),

    "knn_classify" -> ((s, dir) => {
      // label propagation: the 5 held-out query vectors take the majority
      // label of their 10 nearest labeled neighbors (bounded TopKAgg — the
      // shuffle is O(partitions x queries x k) regardless of corpus size)
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      Similarity.knnClassify(
        emb.filter(col("vec_id") >= 5), "vec_id", "embedding", "label",
        queries, "query_id", "query_vec", k = 10)
        .select(col("query_id"),
          col("predicted_label").cast("long").as("predicted_label"),
          col("votes"))
    }),

    "containment_dedup" -> ((s, dir) =>
      // A-inside-B detection over the rare-shingle space: the substring-dup
      // remainder exact dedup (identical docs) and Jaccard (length-diluted)
      // both miss; df-cut bounds pair volume linearly in the corpus
      Dedup.containmentScores(Tables.documents(s, dir), "doc_id", "text",
        n = 5, threshold = 0.9, maxShingleDf = 100)),

    "multimodal_features" -> ((s, dir) => {
      // REAL decode path: payloads are genuine WAV/BMP/PPM containers
      // (synthesized closed-form from doc_id — see Multimodal's adapter
      // contract), parsed by MediaCodecs; the oracle recomputes every decoded
      // feature arithmetically, so header math, sample extraction and pixel
      // channel order are all hash-checked exactly. Entropy/FNV stay as
      // invariant flags (transcendental log / no DuckDB FNV).
      val f = Multimodal.extractFeatures(Multimodal.mediaFromDocuments(s, dir)).toDF()
      f.select(
        col("media_id"), col("modality"),
        col("n_bytes").cast("long").as("n_bytes"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("duration_s"), col("rms"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_frames").cast("long").as("n_frames"),
        col("mean_r"), col("mean_g"), col("mean_b"),
        col("decoded").cast("long").as("decoded"),
        when(col("byte_entropy") >= 0.0 && col("byte_entropy") <= 8.0, 1L).otherwise(0L)
          .as("entropy_ok"),
        when(col("content_hash") =!= 0L, 1L).otherwise(0L).as("hash_ok"))
    }),

    "frame_sample" -> ((s, dir) =>
      // REAL frame sampling out of the AVI container: 3 evenly-spaced frames
      // per clip are seeked and decoded; the oracle replays the frame
      // mapping (src = j*n/3, floor) and each frame's pixel function
      Multimodal.sampleFrames(Multimodal.mediaFromDocuments(s, dir), framesPerClip = 3)
        .select(col("media_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("src_frame").cast("long").as("src_frame"),
          col("mean_r"), col("mean_g"), col("mean_b"))),

    "image_dhash" -> ((s, dir) => {
      // REAL perceptual hashing out of the image containers: decode BMP/PPM
      // → 9×8 nearest-neighbor downsample → gradient-sign dHash. Emitted as
      // the 8 per-row bytes of the 64-bit hash so the oracle (which replays
      // resample + grayscale + gradient closed-form) never leaves 8-bit ints
      val h = Multimodal.imageDHash(Multimodal.mediaFromDocuments(s, dir))
      h.select(col("media_id") +: (0 until 8).map(b =>
        shiftright(col("dhash"), b * 8).bitwiseAND(lit(255L)).as(s"b$b")): _*)
    }),

    "audio_fingerprint" -> ((s, dir) => {
      // the audio analog of image_dhash: REAL WAV decode → 65-window energy
      // contour → sign-of-difference fingerprint (Chromaprint's construction
      // over integer energies). Emitted as the hash's 8 bytes so the oracle
      // (which replays windowing + energy + signs closed-form) stays in
      // small integers; the SAME hammingDedup then serves audio near-dup
      val f = Multimodal.audioFingerprints(Multimodal.mediaFromDocuments(s, dir))
      f.select(col("media_id") +: (0 until 8).map(b =>
        shiftright(col("afp"), b * 8).bitwiseAND(lit(255L)).as(s"b$b")): _*)
    }),

    "video_fingerprint" -> ((s, dir) => {
      // the trio's third modality: per-clip fingerprint = majority vote
      // over the sampled frames' dHashes (robust to a few re-encoded
      // frames, integer-exact). Same 8-byte band emission; same
      // hammingDedup downstream as images and audio
      val f = Multimodal.videoFingerprints(Multimodal.mediaFromDocuments(s, dir))
      f.select(col("media_id") +: (0 until 8).map(b =>
        shiftright(col("vfp"), b * 8).bitwiseAND(lit(255L)).as(s"b$b")): _*)
    }),

    "image_dedup" -> ((s, dir) => {
      // image near-dup removal, end to end: real-decode dHash fingerprints,
      // then EXACT hamming-ball dedup (8-band pigeonhole LSH — zero false
      // negatives for radius 2, see Dedup.hammingDedup). Guaranteed
      // positives: each image is unioned with a 1-bit-perturbed variant
      // (id + 10^9, bit id%64 flipped — a rough stand-in for the re-encoded/
      // slightly-cropped copies a crawl produces), every variant must
      // cluster with its original and the original (smaller id) must win
      val h = Multimodal.imageDHash(Multimodal.mediaFromDocuments(s, dir))
      val variants = h.select(
        (col("media_id") + lit(1000000000L)).as("media_id"),
        expr("dhash ^ shiftleft(CAST(1 AS BIGINT), CAST(media_id % 64 AS INT))").as("dhash"))
      Dedup.hammingDedup(h.unionByName(variants), "media_id", "dhash",
        maxHamming = 2, bands = 8)
        .select(col("media_id"))
    }),

    // ---- statistics / scale-shaped additions --------------------------
    "stats_moments" -> ((s, dir) => {
      // two-pass-free exact moments: decimal sums are order-insensitive, the
      // variance/corr formulas then run in identical double arithmetic in
      // both engines — numerically stable at any partition count, unlike
      // streaming variance whose merge order differs per run
      val x = dec2(col("l_quantity")); val y = dec2(col("l_extendedprice"))
      val n = col("n").cast("double")
      val sx = col("sx").cast("double"); val sx2 = col("sx2").cast("double")
      val sy = col("sy").cast("double"); val sy2 = col("sy2").cast("double")
      val sxy = col("sxy").cast("double")
      Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(x * x).as("sx2"),
          sum(y).as("sy"), sum(y * y).as("sy2"), sum(x * y).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          (sx / n).as("mean_qty"),
          ((n * sx2 - sx * sx) / (n * (n - lit(1.0)))).as("var_qty"),
          sqrt((n * sx2 - sx * sx) / (n * (n - lit(1.0)))).as("std_qty"),
          ((n * sxy - sx * sy) /
            (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy))).as("corr_qty_price"))
    }),

    "percentile_qty" -> ((s, dir) =>
      // exact (not approx) percentiles; quartiles of integral quantities are
      // bitwise identical across interpolation formulas
      Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"))),

    "histogram_price" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(floor(col("o_totalprice") / lit(25000.0)).cast("long").as("bin"))
        .agg(count(lit(1)).as("cnt"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))),

    "token_counts_topk" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)),

    "top_bigrams" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextAnalysis.wordShingles(col("text"), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20)),

    "pseudonymize_users" -> ((s, dir) => {
      // keyed pseudonymization: user ids replaced by stable md5-derived
      // tokens (same value + salt => same token), then aggregated BY TOKEN
      // — proving the join/group-by property anonymized analytics needs;
      // the oracle re-derives the same tokens from the salt
      val ev = operators.TextAnalysis.pseudonymize(
        Sources.events(s, dir).select(col("event_id"), col("user_id"), col("value")),
        Seq("user_id"), salt = "r11")
      ev.groupBy(col("user_id").as("user_token"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("sum_value"))
    }),

    "text_corpus_roundtrip" -> ((s, dir) => {
      // raw-text corpus exchange THROUGH THE SHARDED LAYOUT (the 100 TB
      // form): 40 documents written as one plain <id>.txt file each under
      // shard=pmod(xxhash64(id), 8)/ — directory count bounded by nShards,
      // id recovered from the file name via input_file_name() — read back
      // and compared against the oracle's fixed point (the original
      // rows), so the executor-side write + filename round-trip is what's
      // under test. Newline-bearing docs are rejected at write
      // (line-oriented contract), not silently split. Run-scoped dir (same
      // rationale as json_sink_roundtrip): a fixed path would let two
      // concurrent runs clobber each other mid-read and never clean up.
      val out = scratchDir("graft_textcorpus") + "/corpus"
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 40)
      graft.sinks.Sinks.writeTextCorpus(docs, out, "doc_id", "text", nShards = 8)
      Sources.textCorpus(s, out, "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    }),

    "pii_census" -> ((s, dir) => {
      // PII redaction census: the fixture text carries no PII by
      // construction, so deterministic synthetic contacts derived from
      // doc_id are appended first (both engines replay the injection
      // exactly); the scrubber must count every planted item on the
      // original text and redact it — per-type counts + scrubbed text,
      // one scan stage, zero shuffles, RE2-safe patterns so Java regex
      // and DuckDB agree span-for-span
      val seeded = Tables.documents(s, dir)
        .select(col("doc_id"), concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com ip 10.0."),
          pmod(col("doc_id"), lit(256L)).cast("string"), lit("."),
          pmod(col("doc_id"), lit(250L)).cast("string"),
          lit(" ssn 123-45-67"),
          (pmod(col("doc_id"), lit(90L)) + lit(10L)).cast("string"),
          lit(" tel 555-867-5309")).as("text"))
      operators.TextAnalysis.piiScrub(seeded, "text")
        .select(col("doc_id"), col("pii_email"), col("pii_ipv4"),
          col("pii_ssn"), col("pii_phone"), col("text").as("scrubbed"))
    }),

    "quality_filter" -> ((s, dir) =>
      // the canonical training-data gate: keep documents passing quality
      // thresholds; runs entirely in the scan stage
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.qualityFeatures(col("text")).as("q"))
        .filter(col("q.n_tokens") >= 10 &&
          col("q.punct_ratio") <= 0.1 && col("q.stopword_ratio") >= 0.05)
        .select(col("doc_id"), col("q.n_tokens").as("n_tokens"),
          col("q.stopword_ratio").as("stopword_ratio"))),

    "vocab_coverage" -> ((s, dir) => {
      // tokenizer-vocabulary sizing: cumulative share of corpus token
      // OCCURRENCES covered by the top-50 tokens by frequency. Scale shape:
      // the corpus-sized work is the one map-side-combined groupBy; the
      // top-50 is taken with orderBy().limit(50) — a distributed
      // TakeOrderedAndProject with per-partition pruning — NOT a global
      // Window over the whole vocabulary (web-scale corpora have billions
      // of distinct tokens; an empty-partition-spec Window would move them
      // all to one partition). The rank/cumsum window then runs over the
      // <=50 surviving rows, and cum at rank r only depends on rows 1..r,
      // so the result is identical to ranking the full vocab first.
      val counts = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("tot"))
      val top = counts.orderBy(col("cnt").desc, col("token")).limit(50)
      val w = Window.orderBy(col("cnt").desc, col("token"))
      top
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum", sum(col("cnt"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(total)
        .select(col("rank"), col("token"), col("cnt"),
          (col("cum").cast("double") / col("tot")).as("cum_frac"))
    }),

    "classifier_filter" -> ((s, dir) =>
      // model-based quality gate, fastText-shaped: hashed-feature linear
      // scoring in the scan stage, fixed-point margin aggregation (md5-derived
      // weights stand in for trained ones — portable to any engine, which is
      // what makes the oracle exact)
      TextAnalysis.classifierScore(Tables.documents(s, dir), bias = 0.0, threshold = 0.0)),

    "classifier_train" -> ((s, dir) =>
      // DISTRIBUTED training of the quality classifier (the stage the fixed
      // md5 weights stand in for): batch perceptron over hashed token-count
      // features, integer weights, batch-synchronous updates — bitwise
      // partitioning-independent, every iteration replayed by the oracle
      TextAnalysis.trainPerceptron(Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", buckets = 1024, iters = 3)),

    "trained_classifier_filter" -> ((s, dir) => {
      // the trained weights FEEDING the scoring path: same scan-stage
      // feature hash as classifier_filter, weights learned by
      // classifier_train instead of derived from md5
      val docs = Tables.documents(s, dir)
      val w = TextAnalysis.trainPerceptron(docs, "doc_id", "text",
        col("lang") === "en", buckets = 1024, iters = 3)
      TextAnalysis.scoreWithWeights(docs, "doc_id", "text", w, buckets = 1024)
    }),

    "lm_score" -> ((s, dir) =>
      // corpus-bigram LM scoring (KenLM-filter stand-in): mean bigram
      // conditional probability per doc, all-rational arithmetic
      TextAnalysis.bigramLmScore(Tables.documents(s, dir))),

    "ccnet_buckets" -> ((s, dir) => {
      // CCNet-style head/middle/tail: per language, ntile(3) on the bigram
      // LM score (head = most LM-like), profiled per (lang, bucket) with
      // order-free sums — docs counted, bigrams summed, and the score mass
      // as per-doc fixed-point floor(avg·2^30) longs (the per-doc avg is one
      // deterministic IEEE divide, so the fixed-point sum is engine-exact).
      // Scale: the LM join is corpus-sized; the window is one shuffle on
      // lang; the profile collapses to ≤ 3·|langs| rows with map-side
      // partials
      val docs = Tables.documents(s, dir)
      val scored = TextAnalysis.bigramLmScore(docs)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("avg_bigram_p").desc, col("doc_id").asc)
      docs.select(col("doc_id"), col("lang"))
        .join(scored, Seq("doc_id"))
        .withColumn("__t", ntile(3).over(w))
        .withColumn("bucket",
          when(col("__t") === 1, "head")
            .when(col("__t") === 2, "middle").otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("sum_bigrams"),
          sum(floor(col("avg_bigram_p") * lit(1073741824.0)).cast("long"))
            .as("fp_score_sum"))
    }),

    "pii_scrub" -> ((s, dir) => {
      // email -> URL -> number, in that order (later passes see earlier
      // placeholders, which contain no scrubbable characters)
      val scrubbed =
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
            "https?://[^ ]+", "<URL>"),
          "[0-9]+", "<NUM>")
      Tables.documents(s, dir).select(col("doc_id"), scrubbed.as("scrubbed"))
    }),

    "salted_join_agg" -> ((s, dir) => {
      // skew-safe fact-to-fact join: identical result to the plain equi-join
      // (the oracle), with hot keys spread over 8 reducers
      val li = Tables.lineitem(s, dir).select(col("l_orderkey").as("k"), col("l_quantity"))
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"), col("o_custkey"))
      operators.Joins.saltedJoin(li, o, Seq("k"), factor = 8)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_items"), decSum(col("l_quantity")).as("sum_qty"))
    }),

    "trailing_window_sum" -> ((s, dir) => {
      // RANGE frame: per customer, order value in the trailing 30 days —
      // value-based frames are the time-series primitive rows-frames can't
      // express when days gap
      val days = datediff(to_date(col("o_orderdate")), lit("1990-01-01").cast("date"))
      Tables.orders(s, dir)
        .withColumn("days", days)
        .select(col("o_orderkey"), col("o_custkey"), col("days").cast("long").as("days"),
          sum(dec2(col("o_totalprice"))).over(
            Window.partitionBy(col("o_custkey")).orderBy(col("days")).rangeBetween(-30, 0))
            .cast("double").as("trail30"))
    }),

    "array_funcs_docs" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(array_distinct(toks)).as("n_distinct"),
        concat_ws(" ", slice(toks, 1, 3)).as("first3"),
        array_contains(toks, "the").as("has_the"))
    }),

    "null_cond_funcs" -> ((s, dir) =>
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        greatest(col("o_totalprice"), lit(100000.0)).as("g"),
        least(col("o_totalprice"), lit(100000.0)).as("l"),
        when(col("o_orderstatus") === "P", lit(null)).otherwise(col("o_totalprice")).as("nn"),
        coalesce(when(col("o_orderstatus") === "P", lit(null)).otherwise(col("o_totalprice")),
          lit(-1.0)).as("co"))),

    "distinct_pairs" -> ((s, dir) =>
      Sources.events(s, dir)
        .filter(col("event_type").isin("signup", "error"))
        .select(col("user_id"), col("event_type"))
        .distinct()),

    "union_byname_mixed" -> ((s, dir) => {
      // schema-evolution union: older records lack columns newer ones carry;
      // unionByName(allowMissingColumns) null-fills instead of failing
      val ev = Sources.events(s, dir)
      val old = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"))
      val extended = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("value"))
      old.unionByName(extended, allowMissingColumns = true)
    }),

    "collect_set_sorted" -> ((s, dir) =>
      // distinct-collect serialized deterministically (sorted, joined) so
      // the group payload is comparable across engines
      Sources.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(concat_ws(",", sort_array(collect_set(col("event_id")))).as("event_ids"),
          count(lit(1)).as("cnt"))),

    "doc_chunks" -> ((s, dir) => {
      // token-window chunking with overlap (50-token windows, stride 40) —
      // the standard prep for context-bounded training samples; 1→N rows via
      // posexplode, all inside the scan stage
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          posexplode(TextAnalysis.tokenChunks(col("toks"), size = 50, stride = 40)))
        .withColumnsRenamed(Map("pos" -> "chunk_idx", "col" -> "chunk"))
    }),

    "pack_sequences" -> ((s, dir) =>
      // sequence packing: greedy sequential fill of 256-token training bins
      // per language — deterministic, one shuffle on the group key, a single
      // stateful pass per group (see Packing's scale notes on sharding)
      operators.Packing.packGreedy(
        Tables.documents(s, dir), "lang", "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 256)
        .withColumnsRenamed(Map("group" -> "lang", "id" -> "doc_id"))),

    "mixture_sample" -> ((s, dir) =>
      // domain-weighted mixture subsampling: the "CommonCrawl at 25%, books
      // at 100%" step of assembling a pretraining mix. The weight table is
      // config-sized, so it compiles to a literal CASE inside ONE scan-stage
      // filter — no join, no shuffle, pushdown-composable (see Sampling's
      // scale notes); membership is hash-of-id deterministic, not rand()
      Sampling.mixtureSample(
        Tables.documents(s, dir), "source", "doc_id",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25), defaultWeight = 0.1)
        .select(col("doc_id"), col("source"))),

    "epoch_upsample" -> ((s, dir) =>
      // fractional-epoch upsampling: en seen 2.3×, de 0.5×, the rest 1× —
      // how public pretraining recipes weight sources across a pass. The
      // per-row copy count is literals + one hash, so the explode fuses
      // into the scan stage: zero shuffles, output exactly Σ epochs·|domain|
      Sampling.upsampleEpochs(
        Tables.documents(s, dir), "lang", "doc_id",
        Map("en" -> 2.3, "de" -> 0.5), salt = 7)
        .select(col("doc_id"), col("lang"), col("epoch"))),

    "dsir_select" -> ((s, dir) =>
      // DSIR-shaped data selection: score every document by the hashed-
      // bigram likelihood ratio against the English slice as the target
      // distribution, then priority-sample the top 60 — the "select raw
      // documents that look like the target corpus" recipe step. Two
      // corpus shuffles total (bucket model + per-doc score); the bucket
      // model and its totals broadcast; the top-k is TakeOrderedAndProject
      Sampling.importanceResample(
        Tables.documents(s, dir), "doc_id", "text",
        targetPred = col("lang") === "en", k = 60, buckets = 1024, salt = 11)),

    "uniform_stratum_sample" -> ((s, dir) =>
      // per-language uniform cap: ≤20 docs per lang drawn by hash order — a
      // deterministic uniform draw, unlike first-k-by-id (biased to old
      // rows) or stratified_sample's quality top-k. One shuffle on the
      // stratum key, one partitioned-window row_number pass
      Sampling.stratifiedSample(
        Tables.documents(s, dir), "lang", "doc_id", k = 20, salt = 3)
        .select(col("doc_id"), col("lang"))),

    "domain_cap" -> ((s, dir) =>
      // per-source cap, BEST first (Gopher/CCNet-style domain capping): at
      // most 10 docs per source by descending length — via the skew-proof
      // two-phase window (salted local top-n, then a bounded global rank),
      // so a mega-domain never lands on a single sort task
      Sampling.cappedPerKey(Tables.documents(s, dir), "source", "doc_id",
        Seq(col("n_chars").desc), n = 10, subSplits = 8)
        .select(col("doc_id"), col("source"), col("n_chars"))),

    "token_budget_select" -> ((s, dir) =>
      // token-budget selection: per language, best-first (longest docs) until
      // a 2000-token budget fills; the row that would cross is excluded. One
      // shuffle on the group key + one partitioned running-sum window
      Sampling.tokenBudgetSelect(
        Tables.documents(s, dir), "lang", "doc_id",
        qualityCol = col("n_chars"),
        tokensCol = TextAnalysis.tokenCount(col("text")),
        budget = 2000)
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    "quantile_gate" -> ((s, dir) =>
      // per-language quality gate at a QUANTILE, not an absolute threshold
      // (absolute cutoffs tuned on the majority language gut low-resource
      // ones): drop each language's bottom quartile by length. cume_dist
      // ties survive or die together; one partitioned-window pass
      Sampling.quantileQualityFilter(
        Tables.documents(s, dir), "lang", col("n_chars"), dropBelow = 0.25)
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    "train_order" -> ((s, dir) =>
      // reproducible global shuffle order: hash-of-id scatters crawl/source
      // locality into a deterministic training order; under the limit the
      // sort collapses to TakeOrderedAndProject (distributed top-k, no
      // single-partition exchange). Salting by epoch gives per-pass orders
      Sampling.shuffleOrder(
        Tables.documents(s, dir).select(col("doc_id"),
          Sampling.unitHash(col("doc_id"), 11).as("shuffle_key")),
        "doc_id", salt = 11)
        .limit(100)),

    "stratified_sample" -> ((s, dir) => {
      // per-language top-k by quality — stratified curriculum selection;
      // one shuffle on the stratum key
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("stopword_ratio").desc, col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.qualityFeatures(col("text")).getField("stopword_ratio").as("stopword_ratio"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 20)
    }),

    "resize_meta" -> ((s, dir) => {
      // REAL resize round trip: decode BMP/PPM → nearest-neighbor resample →
      // re-encode in the same container → decode AGAIN via extractFeatures.
      // The oracle mirrors the resample mapping (src pixel = (r*h/H, c*w/W),
      // integer floor) closed-form, so container re-encode and resampling are
      // both hash-checked. Small target dims keep the oracle's per-row list
      // math bounded (8x6 = 48 pixels).
      val resized = Multimodal.resizeImages(Multimodal.mediaFromDocuments(s, dir),
        width = 8, height = 6)
      Multimodal.extractFeatures(resized).toDF()
        .filter(col("modality") === "image")
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("mean_r"), col("mean_g"), col("mean_b"))
    }),

    "subword_counts" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), TextAnalysis.subwordEstimate(col("text")).as("n_subwords"))),

    "bpe_merges" -> ((s, dir) =>
      // tokenizer training: learn the corpus's first 8 BPE merges. Each step
      // is one map-side-combined pair count over the vocab-sized word table
      // (checkpointed — no lineage replay) + a 1-row argmax collect; counts
      // are exact integers, ties break on the pair string, so the merge
      // table is deterministic at any parallelism
      operators.Bpe.learnMerges(Tables.documents(s, dir), "text", steps = 8)),

    "bpe_segment" -> ((s, dir) => {
      // the other half of the BPE lifecycle: segment the corpus with the
      // learned merge table. The table is config-sized (8 rows collected),
      // so the replay compiles to scan-stage literal replaces inside a
      // transform over each doc's token array — zero shuffles, word order
      // preserved by construction
      val docs = Tables.documents(s, dir)
      val merges = operators.Bpe.learnMerges(docs, "text", steps = 8)
        .orderBy(col("step")).collect()
        .map { r => val Array(a, b) = r.getString(1).split(" ", 2); (a, b) }
        .toSeq
      operators.Bpe.segment(docs, "doc_id", "text", merges)
    }),

    "sql_surface_topk" -> ((s, dir) => {
      // the engine's SQL face: native kernels invoked from spark.sql
      // (registered by GraftExtensions; registerInto covers sessions built
      // without the extensions)
      graft.plans.GraftExtensions.registerInto(s)
      Tables.embeddings(s, dir).createOrReplaceTempView("graft_embeddings")
      s.sql(
        """WITH q AS (SELECT embedding AS qv FROM graft_embeddings WHERE vec_id = 1)
          |SELECT e.vec_id, graft_cosine(e.embedding, q.qv) AS score
          |FROM graft_embeddings e CROSS JOIN q
          |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin)
    }),

    "weighted_mix" -> ((s, dir) => {
      // deterministic per-language sampling rates (modulo on the stable id,
      // not rand() — retried tasks must agree) — training-mixture weighting
      val rates = Seq("en" -> 2, "es" -> 5, "de" -> 5, "fr" -> 8, "zh" -> 8)
      val rate = rates.foldLeft(lit(0)) { case (acc, (l, r)) =>
        when(col("lang") === l, lit(r)).otherwise(acc)
      }
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(10)) < rate)
        .select(col("doc_id"), col("lang"))
    }),

    "tfidf_top_terms" -> ((s, dir) =>
      // minDf left at 1 (knob off) so the exact oracle semantics hold; the
      // Zipf-tail shuffle cut with minDf >= 2 is asserted in AnalyticsSpec
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), k = 3)),

    "rolling_distinct_users" -> ((s, dir) => {
      // MERGEABLE sketch partials — the aggregate-once-merge-many pattern
      // incremental rollups live on at 100 TB: one corpus-sized pass builds
      // a per-day Datasketches HLL partial, then every 7-day window unions
      // KB-sized sketches — the merge never rescans events. Both rails use
      // the bounded-expansion rewrite (a day serves exactly the <=7 window
      // anchors in [day, day+6], emitted via explode(sequence) and
      // EQUI-joined to the day grid) instead of a BETWEEN range join: the
      // range form plans a cartesian/nested-loop, the expansion is a plain
      // hash shuffle with a fixed 7x fanout on KB-sized partials
      val ev = Sources.events(s, dir).select(to_date(col("ts")).as("eday"), col("user_id"))
      val byDay = ev.groupBy(col("eday").as("day"))
        .agg(hll_sketch_agg(col("user_id"), 14).as("sk"))
      val days = byDay.select(col("day").as("wday"))
      val est = byDay
        .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"), col("sk"))
        .join(days, "wday") // keep only anchors that are real event days
        .groupBy(col("wday").as("day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = ev
        .select(explode(sequence(col("eday"), date_add(col("eday"), 6))).as("wday"), col("user_id"))
        .join(days, "wday")
        .groupBy(col("wday").as("day"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(est, Seq("day"))
        .select(col("day").cast("string").as("day"), col("exact_users"),
          when(abs(col("est") - col("exact_users")) <= col("exact_users") * lit(0.05),
            lit(1L)).otherwise(lit(0L)).as("within_5pct"))
    }),

    "approx_distinct" -> ((s, dir) => {
      // sketch-based distinct (HLL++) for the 100 TB path where exact
      // countDistinct's shuffle is unaffordable; the oracle pins the exact
      // count and asserts the sketch lands within the error envelope
      val agg = Tables.orders(s, dir).agg(
        countDistinct(col("o_custkey")).as("exact"),
        approx_count_distinct(col("o_custkey"), 0.02).as("approx"))
      agg.selectExpr(
        """stack(2,
          | 'exact_custkeys', CAST(exact AS BIGINT),
          | 'approx_within_5pct', CAST(CASE WHEN abs(approx - exact) <= 0.05 * exact THEN 1 ELSE 0 END AS BIGINT)
          |) AS (chk, n)""".stripMargin)
    }),

    "bloom_prune_check" -> ((s, dir) => {
      // manual bloom-pruned join: filter over the dimension's keys,
      // broadcast, probe fact rows in their scan stage. Invariants: zero
      // false negatives (every true match tests positive) and the filter
      // actually prunes (sized for 1M items over a few hundred keys, the
      // false-positive rate is ~0)
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      // the filter binary must reach might_contain as a foldable value (the
      // expression rejects joined columns), so the ONE aggregated sketch —
      // ~120 KB, like an IVF codebook — is collected and inlined as a
      // literal; Spark's own runtime filtering injects it the same way, as
      // a scalar-subquery result
      val bf: Array[Byte] = cust
        .agg(graft.functions.SketchFunctions.bloomFilterAgg(col("c_custkey"), 100000L).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      val orders = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val tested = orders
        .withColumn("might", graft.functions.SketchFunctions.mightContain(lit(bf), col("o_custkey")))
        .transform(Checkpointing.materialize) // narrow; consumed by three invariants below
      val inSet = tested.join(
        cust.withColumnRenamed("c_custkey", "o_custkey").distinct(), Seq("o_custkey"), "left_semi")
      val building = inSet.agg(count(lit(1)).as("building"))
      val falseNeg = inSet.filter(!col("might")).agg(count(lit(1)).as("fn"))
      val totals = tested.agg(
        count(lit(1)).as("total"),
        sum(when(col("might"), 1L).otherwise(0L)).as("kept"))
      totals.crossJoin(building).crossJoin(falseNeg)
        .selectExpr(
          """stack(4,
            | 'orders_total', CAST(total AS BIGINT),
            | 'building_orders', CAST(building AS BIGINT),
            | 'bloom_false_negatives', CAST(fn AS BIGINT),
            | 'bloom_prunes_nonmatches', CAST(CASE WHEN kept < total THEN 1 ELSE 0 END AS BIGINT)
            |) AS (chk, n)""".stripMargin)
    }),

    "freq_sketch_check" -> ((s, dir) => {
      // count-min frequency sketch (the bloom filter's counting sibling):
      // fixed-memory token-frequency estimation without the full-cardinality
      // shuffle. The grid build is one distributed aggregation; probes are
      // driver-side O(1). Exact probe counts are oracle-exact; the sketch
      // estimates are checked by its two provable properties — never
      // underestimates, overestimates within the eps*N envelope
      import s.implicits._
      val probes = Seq("the", "table", "value", "row", "data")
      val toks = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val cms = toks.as[String]
        .select(new graft.functions.SketchFunctions.CountMinAgg(4, 2048).toColumn)
        .head()
      val exact = toks.filter(col("token").isin(probes: _*))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = toks.count()
      val under = probes.count(t => cms.estimate(t) < exact.getOrElse(t, 0L))
      val over = probes.count(t =>
        cms.estimate(t) > exact.getOrElse(t, 0L) + math.ceil(0.01 * n).toLong)
      (Seq("total_occurrences" -> n) ++
        probes.map(t => s"exact_$t" -> exact.getOrElse(t, 0L)) ++
        Seq("sketch_underestimates" -> under.toLong,
          "sketch_over_envelope" -> over.toLong))
        .toDF("chk", "n")
    }),

    "heavy_hitters" -> ((s, dir) => {
      // Misra-Gries heavy hitters: count-min (freq_sketch_check) answers
      // probes for KNOWN keys; this sketch FINDS the frequent tokens with
      // <= capacity counters per partial — KB-sized state off every
      // partition of a 100 TB token stream, where the exact answer is a
      // vocabulary-sized shuffle. The summary CONTENT may depend on merge
      // order, so the query states the three order-independent guarantees
      // over the (deterministic, <= capacity-sized) guaranteed-HH set:
      // every token with count > N/(cap+1) is present, never overcounted,
      // undercounted by at most N/(cap+1). Exact counts DuckDB-replayed
      import s.implicits._
      val cap = 64
      val toks = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val sk: Map[String, Long] = toks.as[String]
        .select(new graft.operators.Sketches.MisraGriesAgg(cap).toColumn).head()
      // materialized: the vocab-sized count table serves N, the threshold
      // filter AND the collect from one tokenization pass (without it each
      // consumer re-runs the corpus scan + explode)
      val counts = Checkpointing.materialize(
        toks.groupBy(col("token")).agg(count(lit(1)).as("exact_cnt")))
      val n = counts.agg(sum(col("exact_cnt"))).head().getLong(0)
      val thresh = n.toDouble / (cap + 1)
      // the guaranteed-HH set is <= cap rows by pigeonhole — bounded collect
      counts.filter(col("exact_cnt") > lit(thresh)).collect().toSeq.map { r =>
        val t = r.getString(0); val c = r.getLong(1)
        val est = sk.getOrElse(t, 0L)
        (t, c,
          if (est > 0L) 1L else 0L,
          if (est <= c && (c - est).toDouble <= thresh) 1L else 0L)
      }.toDF("token", "exact_cnt", "in_sketch", "underest_within_bound")
    }),

    "heavy_tokens_by_bytes" -> ((s, dir) => {
      // WEIGHTED Misra-Gries: which token strings carry the most BYTES of
      // the corpus — the tokenizer/compression-budget question frequency
      // alone misses (a rare long token can outweigh a frequent short
      // one). Same bounded state and cut; the guarantees hold verbatim
      // with W = TOTAL BYTES in place of the stream length. Exact masses
      // DuckDB-replayed; the guaranteed-heavy set is <= cap by pigeonhole
      import s.implicits._
      val cap = 64
      val toks = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .select(col("token"), length(col("token")).cast("long").as("w"))
      val mgw = udaf(new graft.operators.Sketches.MisraGriesWeightedAgg(cap),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(String, Long)]())
      val sk: Map[String, Long] =
        toks.agg(mgw(col("token"), col("w"))).head().getMap[String, Long](0).toMap
      val masses = Checkpointing.materialize(
        toks.groupBy(col("token")).agg(sum(col("w")).as("mass")))
      val wTot = masses.agg(sum(col("mass"))).head().getLong(0)
      val thresh = wTot.toDouble / (cap + 1)
      masses.filter(col("mass") > lit(thresh)).collect().toSeq.map { r =>
        val t = r.getString(0); val m = r.getLong(1)
        val est = sk.getOrElse(t, 0L)
        (t, m,
          if (est > 0L) 1L else 0L,
          if (est <= m && (m - est).toDouble <= thresh) 1L else 0L)
      }.toDF("token", "mass", "in_sketch", "underest_within_bound")
    }),

    "heavy_hitters_by_lang" -> ((s, dir) => {
      // the GROUPED form of heavy_hitters, fully in-plan: one Misra-Gries
      // summary per language (a udaf partial per partition per group, so
      // the shuffle carries |langs| x cap counters), probed with map
      // functions — no driver collect anywhere. Same order-independent
      // guarantees, stated per (lang, token) over the guaranteed-HH set
      import org.apache.spark.sql.Encoders
      val cap = 32
      val toks = Tables.documents(s, dir)
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      val mg = udaf(new graft.operators.Sketches.MisraGriesAgg(cap), Encoders.STRING)
      val sks = toks.groupBy(col("lang")).agg(mg(col("token")).as("sk"))
      val counts = Checkpointing.materialize(
        toks.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("exact_cnt")))
      val ns = counts.groupBy(col("lang")).agg(sum(col("exact_cnt")).as("n"))
      val bound = col("n").cast("double") / lit((cap + 1).toDouble)
      val est = coalesce(element_at(col("sk"), col("token")), lit(0L))
      counts.join(ns, Seq("lang"))
        .filter(col("exact_cnt") > bound)
        .join(broadcast(sks), Seq("lang"))
        .select(col("lang"), col("token"), col("exact_cnt"),
          when(est > 0L, lit(1L)).otherwise(lit(0L)).as("in_sketch"),
          when(est <= col("exact_cnt") &&
            (col("exact_cnt") - est).cast("double") <= bound, lit(1L))
            .otherwise(lit(0L)).as("underest_within_bound"))
    }),

    "kmv_overlap" -> ((s, dir) => {
      // KMV (k-minimum-values) distinct sketches: the mergeable family that
      // — unlike HLL — supports SET-INTERSECTION estimates, the "audience
      // overlap" question (how many users are in segment A AND segment B).
      // Exact count(distinct) answers it only by co-shuffling BOTH segments
      // on user_id; the sketch path reduces each segment map-side to k
      // longs, so at 100 TB the overlap math runs on two KB-sized arrays.
      // The exact side below exists only to pin the estimator envelope
      // (rse = 1/sqrt(k-2) ≈ 8.9% at k=128; 30% is a >3-sigma bound, and
      // both fixtures measure well inside it — ≤1.2% at sf0.01).
      import graft.operators.Sketches
      val k = 128
      val seg = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "view") && col("value") > 120)
        .select(col("event_type").as("seg"), col("user_id"))
      // one scan → per-segment bounded partials → two (seg, kmv) rows,
      // pivoted wide by a first(when(...)) so the plan stays single-pass
      val pair = Sketches.sketch(seg, "seg", "user_id", k).agg(
        first(when(col("seg") === "purchase", col("kmv")), ignoreNulls = true).as("a"),
        first(when(col("seg") === "view", col("kmv")), ignoreNulls = true).as("b"))
      val est = pair.select(
        Sketches.estimateCol(col("a"), k).as("est_a"),
        Sketches.estimateCol(col("b"), k).as("est_b"),
        Sketches.unionEstCol(col("a"), col("b"), k).as("est_u"),
        Sketches.intersectEstCol(col("a"), col("b"), k).as("est_i"))
      val exact = seg.distinct()
        .groupBy(col("user_id")).agg(collect_set(col("seg")).as("segs"))
        .agg(
          count(when(array_contains(col("segs"), "purchase"), 1)).as("exact_a"),
          count(when(array_contains(col("segs"), "view"), 1)).as("exact_b"),
          count(when(size(col("segs")) === 2, 1)).as("exact_i"))
      exact.crossJoin(est).selectExpr(
        """stack(7,
          | 'exact_purchase', CAST(exact_a AS BIGINT),
          | 'exact_view', CAST(exact_b AS BIGINT),
          | 'exact_overlap', CAST(exact_i AS BIGINT),
          | 'purchase_within_30pct', CAST(CASE WHEN abs(est_a - exact_a) <= 0.30 * exact_a THEN 1 ELSE 0 END AS BIGINT),
          | 'view_within_30pct', CAST(CASE WHEN abs(est_b - exact_b) <= 0.30 * exact_b THEN 1 ELSE 0 END AS BIGINT),
          | 'union_within_30pct', CAST(CASE WHEN abs(est_u - (exact_a + exact_b - exact_i)) <= 0.30 * (exact_a + exact_b - exact_i) THEN 1 ELSE 0 END AS BIGINT),
          | 'overlap_within_30pct', CAST(CASE WHEN abs(est_i - exact_i) <= 0.30 * exact_i THEN 1 ELSE 0 END AS BIGINT)
          |) AS (chk, n)""".stripMargin)
    }),

    "incremental_rollup" -> ((s, dir) => {
      // the incremental GROUP BY: a keys-sized rollup table (count, exact
      // decimal sum, min/max, HLL distinct) maintained across three
      // user-disjoint micro-batches, with the LAST batch REDELIVERED under
      // its own batchId (Spark's restart semantics) — additive algebra
      // would double-count, so exactly-once rides the commit-record skip.
      // cnt/sum/min/max are order-free exact and DuckDB-replayed directly;
      // the HLL estimate is envelope-flagged (lgK=14 ≈ 0.8% rse)
      import graft.streaming.RollupState
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("value"), col("user_id"))
      val stateDir = scratchDir("graft_rollup") + "/state"
      Seq((0, 0L), (1, 1L), (2, 2L), (2, 2L)).foreach { case (m, id) =>
        RollupState.mergeBatch(ev.filter(pmod(col("user_id"), lit(3)) === m),
          stateDir, Seq("event_type"), "value", "user_id", batchId = id): Unit
      }
      val st = RollupState.state(s, stateDir).get
      val exactUsers = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      st.join(exactUsers, Seq("event_type"))
        .select(col("event_type"), col("cnt"),
          col("sum_v").cast("double").as("sum_value"),
          col("min_v").as("min_value"), col("max_v").as("max_value"),
          col("exact_users"),
          when(abs(hll_sketch_estimate(col("distinct_hll")) - col("exact_users"))
            <= lit(0.05) * col("exact_users"), lit(1L)).otherwise(lit(0L))
            .as("hll_within_5pct"))
    }),

    "kmv_stream_state" -> ((s, dir) => {
      // the continuous audience-sketch maintainer driven end to end: three
      // user-disjoint micro-batches merge into the persisted per-segment
      // state, batch 1 REDELIVERED on top (at-least-once). The stated
      // invariants: the final state equals the one-shot batch sketch
      // BITWISE (k-smallest-of-union is associative, commutative and
      // idempotent — redelivery merges as a no-op), and each segment's
      // estimate lands inside the calibrated envelope; exact counts are
      // DuckDB-replayed
      import graft.operators.Sketches
      import graft.streaming.KmvSegments
      val k = 128
      val segs = Tables.events(s, dir)
        .filter(col("value") < 250)
        .select(floor(col("value") / lit(50.0)).cast("long").as("seg"), col("user_id"))
      val stateDir = scratchDir("graft_kmvstate") + "/state"
      Seq(0, 1, 2, 1).zipWithIndex.foreach { case (m, i) => // 1 redelivered
        KmvSegments.mergeBatch(segs.filter(pmod(col("user_id"), lit(3)) === m),
          stateDir, "seg", "user_id", k, batchId = i.toLong): Unit
      }
      val st = KmvSegments.state(s, stateDir).get
      val whole = Sketches.sketch(segs, "seg", "user_id", k)
      val exact = segs.distinct().groupBy(col("seg")).agg(count(lit(1)).as("exact_users"))
      st.join(whole.withColumnRenamed("kmv", "__whole"), Seq("seg"))
        .join(exact, Seq("seg"))
        .select(col("seg"), col("exact_users"),
          when(col("kmv") === col("__whole"), lit(1L)).otherwise(lit(0L))
            .as("state_matches_batch_build"),
          when(abs(Sketches.estimateCol(col("kmv"), k) - col("exact_users"))
            <= lit(0.30) * col("exact_users"), lit(1L)).otherwise(lit(0L))
            .as("est_within_30pct"))
    }),

    "hh_stream_state" -> ((s, dir) => {
      // continuous heavy hitters: per-lang Misra-Gries summaries (plus the
      // exact per-lang stream length) maintained across three doc-disjoint
      // micro-batches, with the LAST batch REDELIVERED under its own
      // batchId — counter addition would inflate counts AND n_tokens, so
      // exactly-once rides the commit-record skip, pinned by the
      // n_matches_exact flag. The cross-batch merge is the same PODS'12
      // cut-merge as the batch udaf, so the probe states the identical
      // order-independent guarantees over the guaranteed-HH set, with N
      // the TOTAL stream length; exact counts DuckDB-replayed
      val cap = 32
      val toks = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("token"))
      val stateDir = scratchDir("graft_hhstate") + "/state"
      Seq((0, 0L), (1, 1L), (2, 2L), (2, 2L)).foreach { case (m, id) =>
        graft.streaming.HeavyHittersState.mergeBatch(
          toks.filter(pmod(col("doc_id"), lit(3)) === m).drop("doc_id"),
          stateDir, "lang", "token", cap, batchId = id): Unit
      }
      val st = graft.streaming.HeavyHittersState.state(s, stateDir).get
      val counts = Checkpointing.materialize(
        toks.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("exact_cnt")))
      val ns = counts.groupBy(col("lang")).agg(sum(col("exact_cnt")).as("n"))
      val bound = col("n").cast("double") / lit((cap + 1).toDouble)
      val est = coalesce(element_at(col("hh"), col("token")), lit(0L))
      counts.join(ns, Seq("lang"))
        .filter(col("exact_cnt") > bound)
        .join(broadcast(st.withColumnRenamed("group", "lang")), Seq("lang"))
        .select(col("lang"), col("token"), col("exact_cnt"),
          when(est > 0L, lit(1L)).otherwise(lit(0L)).as("in_sketch"),
          when(est <= col("exact_cnt") &&
            (col("exact_cnt") - est).cast("double") <= bound, lit(1L))
            .otherwise(lit(0L)).as("underest_within_bound"),
          when(col("n_tokens") === col("n"), lit(1L)).otherwise(lit(0L))
            .as("n_matches_exact"))
    }),

    "hh_dashboard" -> ((s, dir) => {
      // the CONSUMER API over the heavy-hitters state: the topK ranked
      // view (rank, threshold, soundness-certified guaranteed flag), not
      // the raw state map hh_stream_state probes. The token domain here —
      // first token char, <= 36 keys per lang — sits under the capacity,
      // so the Misra-Gries summaries are EXACT whatever the batch split
      // or merge order, and EVERY column of the view replays bitwise in
      // DuckDB, guaranteed flag included (est > n/(cap+1) on exact
      // counts). The sketch-regime guarantees at real vocabulary scale
      // stay pinned by hh_stream_state
      val cap = 64
      val toks = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .select(col("lang"), col("doc_id"), substring(col("tok"), 1, 1).as("token"))
      val stateDir = scratchDir("graft_hhdash") + "/state"
      Seq((0, 0L), (1, 1L)).foreach { case (m, id) =>
        graft.streaming.HeavyHittersState.mergeBatch(
          toks.filter(pmod(col("doc_id"), lit(2)) === m).drop("doc_id"),
          stateDir, "lang", "token", cap, batchId = id): Unit
      }
      graft.streaming.HeavyHittersState.topK(s, stateDir, k = 5, capacity = cap)
        .select(col("group").as("lang"), col("token"), col("est"), col("rank"),
          col("n_tokens"), col("threshold"),
          col("guaranteed").cast("long").as("guaranteed"))
    }),

    "dp_census" -> ((s, dir) => {
      // seeded ε-DP census release (ε = ln 2): per-class counts carry
      // two-sided geometric noise (Ghosh et al. STOC'09 — the
      // utility-optimal mechanism for sensitivity-1 integer counts;
      // disjoint classes compose in parallel, so the whole table is ε-DP).
      // The noise is a pure function of (classId, salt) via unitHash, and
      // its inverse CDF uses only IEEE-exact arithmetic — so DuckDB
      // replays every noisy count BITWISE while outsiders without the
      // salt face calibrated geometric noise
      import graft.operators.{Anonymity, Privacy}
      val cust = Tables.customer(s, dir)
        .select(col("c_nationkey").cast("long").as("c_nationkey"),
          Anonymity.band(col("c_acctbal"), 2000.0).cast("long").as("bal_band"))
      // injective over classes: bands span ±10k, far under the 1M spacing
      val classId = col("c_nationkey") * lit(1000000L) + col("bal_band") + lit(500000L)
      Privacy.dpCensus(cust, Seq("c_nationkey", "bal_band"), classId,
        salt = 1009L, j = 1)
    }),

    "dp_revenue" -> ((s, dir) => {
      // the ε-DP SUM release beside dp_census's count: per-line-number
      // revenue with each row clipped to [0, 60k] (bounding one order
      // line's influence), quantized to 100-currency units, and the class
      // sum BUCKETED by the per-row max (600 units ≈ clipHi) so one row
      // moves the release by at most one noise step — ε = ln 2, like the
      // census, not ln2·600. The same seeded geometric noise and the same
      // IEEE-exact algebra (clip/divide/floor are correctly rounded) make
      // the release DuckDB-replayable bitwise
      import graft.operators.Privacy
      val li = Tables.lineitem(s, dir)
        .select(col("l_linenumber").cast("long").as("line_no"),
          col("l_extendedprice"))
      Privacy.dpSum(li, Seq("line_no"), "l_extendedprice", clipHi = 60000.0,
        classIdOf = col("line_no"), salt = 2027L, j = 1, unit = 100.0)
    }),

    "dp_median" -> ((s, dir) => {
      // the ε-DP MEDIAN beside dp_census/dp_revenue — a different
      // mechanism CLASS: medians have unbounded output-perturbation
      // sensitivity, so the EXPONENTIAL mechanism samples a grid bin with
      // probability exponential in its rank-error utility (ε = 2·ln2).
      // Every arithmetic step is IEEE-exact or sequentially-ordered
      // (powers of two, ordered prefix sums), so DuckDB replays the
      // sampled bin bitwise — a seeded exponential mechanism, not just
      // seeded noise addition
      import graft.operators.Privacy
      val cust = Tables.customer(s, dir)
        .select(col("c_nationkey").cast("long").as("c_nationkey"),
          col("c_acctbal"))
      Privacy.dpMedian(cust, Seq("c_nationkey"), "c_acctbal",
        lo = -1000.0, hi = 10000.0, bins = 110,
        classIdOf = col("c_nationkey"), salt = 40961L, j = 1)
    }),

    "dp_p90" -> ((s, dir) => {
      // the exponential mechanism at an ARBITRARY rational rank: dp_median
      // generalized to q = 9/10 via the b-scaled integer utility
      // -|10*below + 9*h - 9*n| (sensitivity max(a, b-a) = 9, so this
      // release pays eps = 18*j*ln2 — the honest price of an extreme
      // quantile, stated rather than hidden behind a quantized q). The
      // same bitwise ladder as dp_median: integer utilities, exact
      // power-of-two weights, ordered prefix sums, one seeded uniform
      import graft.operators.Privacy
      val cust = Tables.customer(s, dir)
        .select(col("c_nationkey").cast("long").as("c_nationkey"),
          col("c_acctbal"))
      Privacy.dpQuantile(cust, Seq("c_nationkey"), "c_acctbal", a = 9, b = 10,
        lo = -1000.0, hi = 10000.0, bins = 110,
        classIdOf = col("c_nationkey"), salt = 52501L, j = 1)
    }),

    "k_anonymity" -> ((s, dir) => {
      // release-side anonymity census: class size (k-anonymity) and
      // banded-sensitive diversity (l-diversity) per quasi-identifier
      // class. One groupBy, classes-sized output; the companion
      // suppressBelowK transform is one window-count shuffle end to end
      // (AnonymitySpec pins their parity)
      import graft.operators.Anonymity
      Anonymity.census(Tables.customer(s, dir),
          Seq("c_nationkey", "c_mktsegment"),
          Anonymity.band(col("c_acctbal"), 2000.0).cast("long"))
        .select(col("c_nationkey").cast("long").as("c_nationkey"),
          col("c_mktsegment"), col("class_size"), col("l_diversity"),
          when(col("class_size") >= 10, lit(1L)).otherwise(lit(0L))
            .as("releasable_k10"))
    }),

    "leakage_safe_split" -> ((s, dir) => {
      // decontamination-grade train/holdout split: the side is decided by
      // the unit hash of each doc's DUPLICATE-CLUSTER representative
      // (md5-exact clusters, min doc_id), so no cluster ever spans both
      // sides — a row-level split would leak a training doc's duplicate
      // into the holdout and measure memorization. Assignment is RNG-free
      // and DuckDB-replayed bit-for-bit (sqlUnitHash mirror)
      import graft.operators.Sampling
      val h = Tables.documents(s, dir).select(col("doc_id"), md5(col("text")).as("__h"))
      val reps = h.groupBy(col("__h")).agg(min(col("doc_id")).as("rep"))
      Sampling.groupSplit(h.join(reps, Seq("__h")), "rep",
          holdoutFrac = 0.2, salt = 7L)
        .select(col("doc_id"), col("rep"), col("split"))
    }),

    "kmv_matrix" -> ((s, dir) => {
      // the audience MATRIX: pairwise user overlap across S value-band
      // segments from one grouped scan — S sketches of k longs self-crossed
      // (S²-bounded, never data-sized), where the exact answer pays a
      // co-shuffle per pair. Envelope calibration (KmvProbe/MatrixProbe):
      // this fixture's user-id hash draw sits ~2.7σ high, so the flags
      // state 30% for union (observed ≤17%) and 40% for intersection
      // (observed ≤26.5%) — deterministic for fixed data, headroom for a
      // regenerated fixture
      import graft.operators.Sketches
      val k = 128
      // the band gate rides the RAW column (value < 250 ⟺ floor(value/50)
      // <= 4 for every double), so it pushes into the parquet scan
      val segs = Tables.events(s, dir)
        .filter(col("value") < 250)
        .select(floor(col("value") / lit(50.0)).cast("long").as("seg"), col("user_id"))
      val m = Sketches.overlapMatrix(
        Sketches.sketch(segs, "seg", "user_id", k), "seg", k)
      val du = segs.distinct()
      val sizes = du.groupBy(col("seg")).agg(count(lit(1)).as("sz"))
      val exact = du.as("x").join(du.as("y"), "user_id")
        .filter(col("x.seg") < col("y.seg"))
        .groupBy(col("x.seg").as("seg_a"), col("y.seg").as("seg_b"))
        .agg(count(lit(1)).as("exact_common"))
        .join(sizes.select(col("seg").as("seg_a"), col("sz").as("sz_a")), Seq("seg_a"))
        .join(sizes.select(col("seg").as("seg_b"), col("sz").as("sz_b")), Seq("seg_b"))
      m.join(exact, Seq("seg_a", "seg_b"))
        .select(col("seg_a"), col("seg_b"), col("exact_common"),
          when(abs(col("est_union") - (col("sz_a") + col("sz_b") - col("exact_common")))
            <= lit(0.30) * (col("sz_a") + col("sz_b") - col("exact_common")), lit(1L))
            .otherwise(lit(0L)).as("union_within_30pct"),
          when(abs(col("est_intersect") - col("exact_common"))
            <= lit(0.40) * col("exact_common"), lit(1L))
            .otherwise(lit(0L)).as("intersect_within_40pct"))
    }),

    "unpivot_metrics" -> ((s, dir) =>
      // wide→long melt: the schema-reshape primitive feature pipelines use
      // before per-metric aggregation; stays a narrow 1→3 projection
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          variableColumnName = "metric",
          valueColumnName = "value")),

    "null_safe_join" -> ((s, dir) => {
      // <=> join: null keys MATCH each other (IS NOT DISTINCT FROM), the
      // semantics plain = joins silently drop
      val ev = Sources.events(s, dir)
      val l = ev.select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      val counts = l.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .withColumnRenamed("k", "k2")
      l.join(counts, col("k") <=> col("k2"))
        .select(col("event_id"), col("k"), col("cnt"))
    }),

    "explode_outer_tokens" -> ((s, dir) =>
      // generator with OUTER semantics: a doc with zero tokens still yields
      // one (null-token) row instead of vanishing from the output
      Tables.documents(s, dir)
        .select(col("doc_id"), explode_outer(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"))
        .agg(count(col("token")).as("n_tokens"), count(lit(1)).as("n_rows"))),

    "curation_pipeline" -> ((s, dir) => {
      // the end-to-end training-data curation shape, composed from the
      // operator library: quality gate -> language gate -> exact dedup ->
      // per-language stratified top-k — one lazy plan, oracle-exact
      val docs = Tables.documents(s, dir)
      val quality = docs
        .select(col("doc_id"), col("lang"), col("text"),
          TextAnalysis.qualityFeatures(col("text")).as("q"))
        .filter(col("q.n_tokens") >= 10 && col("q.stopword_ratio") >= 0.05)
        .filter(col("lang").isin("en", "es", "de"))
      val deduped = Dedup.exact(quality, "doc_id", Seq("text"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("q.stopword_ratio").desc, col("doc_id"))
      deduped
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 50)
        .select(col("doc_id"), col("lang"), col("rnk"))
    }),

    "curation_pipeline_v2" -> ((s, dir) => {
      // the round-6 curation shape: model-based gates (classifier margin +
      // corpus-bigram LM score over the FULL-corpus model) -> segment-level
      // dedup across survivors -> greedy sequence packing of the deduped
      // text into 256-token bins. The gated survivors CHECKPOINT once:
      // segment dedup consumes its input on both sides of the doc-rebuild
      // join, and lazily composed that re-executed the classifier pass and
      // the corpus-bigram LM census per consumer (the "LM counts x2" the
      // old exchange pin documented) — at 100 TB those are full-corpus
      // scans, so materialize-after-gates is the right plan at any scale
      val docs = Tables.documents(s, dir)
      val cls = TextAnalysis.classifierScore(docs)
        .filter(col("margin") > 0.0).select("doc_id")
      val lm = TextAnalysis.bigramLmScore(docs)
        .filter(col("avg_bigram_p") >= 0.033).select("doc_id")
      val gated = docs.join(cls, Seq("doc_id"), "left_semi")
        .join(lm, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"), col("lang"))
        .transform(Checkpointing.materialize)
      val deduped = Dedup.segmentDedup(gated, "doc_id", "text", segTokens = 10)
        .filter(col("n_kept") >= 2)
      val withLang = deduped.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      operators.Packing.packGreedy(withLang, "lang", "doc_id",
        TextAnalysis.tokenCount(col("dedup_text")), budget = 256)
        .withColumnsRenamed(Map("group" -> "lang", "id" -> "doc_id"))
    }),

    "curation_pipeline_v3" -> ((s, dir) => {
      // v2 with the dedup stage upgraded from segment dedup to true
      // substring-span excision (removeDuplicateSpans): model gates over the
      // full corpus -> duplicated 8-token windows excised keep-first across
      // the gated survivors -> greedy packing of the cleaned token counts.
      // Gates checkpoint once (below), then excision + packing compose lazily.
      val docs = Tables.documents(s, dir)
      val cls = TextAnalysis.classifierScore(docs)
        .filter(col("margin") > 0.0).select("doc_id")
      val lm = TextAnalysis.bigramLmScore(docs)
        .filter(col("avg_bigram_p") >= 0.033).select("doc_id")
      // the gated survivors checkpoint once (same rationale as v2: the
      // span excision consumes its input on both sides of the rebuild
      // join, and a lazy composition re-executed classifier + LM census
      // per consumer — full-corpus scans at scale)
      val gated = docs.join(cls, Seq("doc_id"), "left_semi")
        .join(lm, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"), col("lang"))
        .transform(Checkpointing.materialize)
      // lang rides THROUGH the span excision (carryCols) instead of being
      // re-joined from docs afterwards — a re-join would add a third
      // consumer of the gated frame
      val cleaned = Dedup.removeDuplicateSpans(gated, "doc_id", "text", k = 8,
        carryCols = Seq("lang"))
        .filter(col("n_tokens") - col("removed_tokens") >= 2)
      operators.Packing.packGreedy(cleaned, "lang", "doc_id",
        TextAnalysis.tokenCount(col("clean_text")), budget = 256)
        .withColumnsRenamed(Map("group" -> "lang", "id" -> "doc_id"))
    }),

    "curation_pipeline_v4" -> ((s, dir) => {
      // the governance pipeline END-TO-END, DECLARED through PipelineConfig
      // (every stage a config section, assembled into ONE lazy plan):
      // classifier + LM gates -> PII scrub -> pseudonymize(source) ->
      // segment dedup over the SCRUBBED text -> greedy packing by the
      // pseudonymized source token. The scrub and pseudonymize steps are
      // pure projections that FUSE into the gate joins' output stage (no
      // exchange of their own — plan-pinned); the gated+scrubbed frame
      // materializes once (gates.materialize) because segment dedup
      // consumes it on both sides of its resolution join. Deterministic
      // synthetic PII is seeded first (the fixture text has none), exposed
      // to the pipeline as a catalog view — both engines replay the
      // injection exactly, and the scrub turns it into shared boilerplate
      // the segment dedup then strips keep-first: the stages genuinely
      // interact, which is what the composed oracle certifies.
      val seeded = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com ssn 123-45-67"),
          (pmod(col("doc_id"), lit(90L)) + lit(10L)).cast("string")).as("text"))
      seeded.createOrReplaceTempView("graft_v4_docs")
      val cfg = """{
        "source": {"type": "view", "name": "graft_v4_docs"},
        "gates": {"classifierMinMargin": 0.0, "lmMinAvgBigramP": 0.033,
                  "materialize": true},
        "scrub": {"textCol": "text", "phase": "beforeDedup"},
        "pseudonymize": {"cols": ["source"], "salt": "r12", "phase": "beforeDedup"},
        "dedup": {"strategy": "segment", "id": "doc_id", "text": "text",
                  "segTokens": 10, "carry": ["source"]},
        "packing": {"group": "source", "id": "doc_id",
                    "tokensFrom": "dedup_text", "budget": 256}
      }"""
      pipeline.PipelineConfig.fromJson(s, cfg).plan(s).get
        .select(col("source").as("src_token"), col("doc_id"),
          col("n_tokens"), col("bin_id"))
    }),

    "json_sink_roundtrip" -> ((s, dir) => {
      // C3 write half: rows pass through the NDJSON sink and come back
      // bit-identical (doubles survive via shortest-round-trip formatting);
      // the oracle is the pre-sink relation, so the round-trip is the check.
      // Run-scoped dir: a fixed path would let two concurrent runs (local
      // verify loop + the driver's gate) clobber each other mid-read
      val out = scratchDir("graft_json_roundtrip") + "/out"
      Sinks.writeJson(
        Sources.events(s, dir).filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("value")),
        out)
      s.read.schema("event_id BIGINT, user_id BIGINT, value DOUBLE").json(out)
    }),

    "orc_sink_roundtrip" -> ((s, dir) => {
      // second columnar container: rows pass through the ORC sink and come
      // back identical (ORC preserves exact int64/float64 — no formatting
      // hop like the NDJSON path). Oracle is the pre-sink relation.
      val out = scratchDir("graft_orc_roundtrip") + "/out"
      Sinks.writeOrc(
        Sources.events(s, dir).filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("value")),
        out)
      s.read.orc(out)
    }),

    "binary_ingest" -> ((s, dir) => {
      // data-lake drop-zone ingestion: loose media files → Spark's
      // binaryFile source (path/length/content come from the source, not a
      // custom reader) → real image decode. Files are materialized by the
      // EXECUTORS (foreachPartition), not a driver loop — on a cluster the
      // same code targets a shared filesystem. media_id rides in the file
      // name and is recovered by regexp on `path` — the standard pattern for
      // id-in-filename lakes.
      val root = scratchDir("graft_binary_ingest")
      Multimodal.mediaFromDocuments(s, dir)
        .filter(col("modality") === "image")
        .select(col("media_id"), col("payload"))
        .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(root, s"media_${r.getLong(0)}.img"),
              r.getAs[Array[Byte]](1))
          }
        }
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.img").load(root)
        .select(
          regexp_extract(col("path"), "media_(\\d+)\\.img", 1)
            .cast("long").as("media_id"),
          lit("image").as("modality"),
          col("content").as("payload"))
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
    }),

    "unicode_fold" -> ((s, dir) =>
      // canonicalization fold (NFC + strip accents + lowercase) as a native
      // codegen'd expression — the pre-dedup normalization pass every text
      // pipeline runs; a UDF here would break the scan stage's codegen
      Tables.documents(s, dir).select(
        col("doc_id"),
        graft.functions.StringNormalize.unicodeFold(col("text")).as("folded"))),

    "approx_quantile_check" -> ((s, dir) => {
      import s.implicits._
      // quantile sketch (Greenwald-Khanna) completes the sketch family
      // (HLL distinct, bloom membership, count-min frequency): exact
      // percentiles need a global sort; the sketch is one aggregation with
      // a provable rank-error bound. The oracle pins the exact row count
      // and asserts each sketch value's rank lands inside the eps envelope
      // — the sketch's actual guarantee, so any broken merge fails the gate.
      // The extra count jobs are check-harness cost, not operator cost.
      val li = Tables.lineitem(s, dir).select(col("l_quantity").cast("double").as("q"))
      val eps = 0.01
      val qs = li.stat.approxQuantile("q", Array(0.5, 0.95), eps)
      val n = li.count()
      val checks = Seq(0.5 -> qs(0), 0.95 -> qs(1)).map { case (p, v) =>
        val below = li.filter(col("q") < v).count() // ranks covered by v:
        val atOrBelow = li.filter(col("q") <= v).count() // [below+1, atOrBelow]
        val lo = math.floor((p - eps) * n).toLong
        val hi = math.ceil((p + eps) * n).toLong
        // intersection of [below+1, atOrBelow] with [lo, hi] is non-empty
        // iff atOrBelow >= lo AND below+1 <= hi — `below < hi`, not `<=`,
        // else a value whose lowest covered rank is hi+1 (just outside the
        // eps envelope) would pass
        s"p${(p * 100).toInt}_within_eps" ->
          (if (atOrBelow >= lo && below < hi) 1L else 0L)
      }
      (Seq("total_rows" -> n) ++ checks).toDF("chk", "n")
    }),

    "funnel_conversion" -> ((s, dir) => {
      // ordered, time-bounded funnel (first view → click within a day →
      // purchase within a day of that click): three sequentially-dependent
      // per-user milestones. All three are whole-partition window mins over
      // the SAME user_id partitioning, so the plan pays ONE shuffle and
      // three WindowExec passes — not three self-joins. Stage counts reduce
      // to 4 rows at the end.
      val day = expr("INTERVAL 1 DAY")
      val w = Window.partitionBy("user_id")
      Sources.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("v", min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("c", min(when(col("event_type") === "click"
          && col("ts") >= col("v") && col("ts") <= col("v") + day, col("ts"))).over(w))
        .withColumn("p", min(when(col("event_type") === "purchase"
          && col("ts") >= col("c") && col("ts") <= col("c") + day, col("ts"))).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("v")).as("v"), max(col("c")).as("c"), max(col("p")).as("p"))
        .agg(count(lit(1)).as("t"), count(col("v")).as("rv"),
          count(col("c")).as("rc"), count(col("p")).as("rp"))
        .selectExpr(
          """stack(4,
            | 'users_total', t,
            | 'reached_view', rv,
            | 'reached_click', rc,
            | 'reached_purchase', rp
            |) AS (stage, n)""".stripMargin)
    }),

    "retention_cohorts" -> ((s, dir) => {
      // cohort retention matrix (day of first activity × day offset →
      // distinct active users): the first-touch date is a window min over
      // user_id; the matrix is one distinct-aggregation on (cohort, offset).
      val w = Window.partitionBy("user_id")
      Sources.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .withColumn("cohort", min(col("d")).over(w))
        .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
          datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    "doc_triangles" -> ((s, dir) => {
      // triangle counts + local clustering coefficient over the same rare-
      // shingle co-occurrence graph pageRank reads: a high-clustering
      // neighborhood is a boilerplate clique, triangle density separates it
      // from a hub that merely links many unrelated near-dups
      val docs = Tables.documents(s, dir)
      val edges = operators.Dedup.rareShinglePairs(docs, "doc_id", "text",
        n = 5, maxShingleDf = 100)
      operators.Graph.triangleCounts(edges, docs.select(col("doc_id").as("id")))
        .select(col("id").as("doc_id"), col("triangles"), col("degree"), col("clustering"))
    }),

    "doc_pagerank" -> ((s, dir) => {
      // centrality over the near-duplication structure: documents sharing
      // rare shingles link; 5 fixed-point PageRank iterations rank each
      // document's embeddedness in the co-occurrence graph — the
      // boilerplate-neighborhood signal no single pairwise threshold shows
      val docs = Tables.documents(s, dir)
      val edges = operators.Dedup.rareShinglePairs(docs, "doc_id", "text",
        n = 5, maxShingleDf = 100)
      operators.Graph.pageRank(edges, docs.select(col("doc_id").as("id")), iters = 5)
        .select(col("id").as("doc_id"), col("rank"))
    }),

    "compression_quality" -> ((s, dir) => {
      // deflate-ratio quality signal (RedPajama/Gopher-line gate): DuckDB
      // ships no deflate, so the query emits provable invariants — every
      // ratio positive, long docs never expand past the stored-block
      // overhead, and appending an exact copy of a doc to itself MUST
      // compress better (the back-reference test: a broken kernel that
      // ignored its window would fail it on every doc)
      val docs = Tables.documents(s, dir)
      val base = TextAnalysis.compressionRatio(docs, "doc_id", "text")
      val doubled = TextAnalysis.compressionRatio(
        docs.select(col("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text")),
        "doc_id", "text")
        .select(col("doc_id"), col("ratio").as("ratio2"))
      base.join(doubled, Seq("doc_id"))
        .agg(
          count(lit(1)).as("total"),
          sum(when(col("ratio") <= 0.0, 1L).otherwise(0L)).as("nonpos"),
          sum(when(col("n_bytes") >= 100 && col("ratio2") >= col("ratio"), 1L)
            .otherwise(0L)).as("dbl"),
          sum(when(col("n_bytes") >= 100 && col("ratio") > 1.1, 1L)
            .otherwise(0L)).as("expand"))
        .selectExpr(
          """stack(4,
            | 'total_docs', CAST(total AS BIGINT),
            | 'nonpositive_ratio', CAST(nonpos AS BIGINT),
            | 'doubled_not_better_ge100', CAST(dbl AS BIGINT),
            | 'expansion_over_1p1_ge100', CAST(expand AS BIGINT)
            |) AS (chk, n)""".stripMargin)
    }),

    "resample_daily" -> ((s, dir) => {
      // time-series gap fill: every user's value stream resampled to a
      // daily grid with forward fill (sample-and-hold) — grid bounds from
      // one agg, the fill IS the engine's as-of join. ~150 users × ≤30
      // days at this sf; at corpus scale output = keys × span/step, by
      // construction
      val day = 86400000000L
      val ev = Sources.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("value"))
        .select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"),
          col("event_id"), col("value"))
      operators.Ops.resampleForward(ev, Seq("user_id"), "ts_us",
        Seq("value"), "event_id", day)
    }),

    "semantic_contamination" -> ((s, dir) => {
      // embedding-space benchmark decontamination: paraphrased eval items
      // the shingle check can't see. The eval set is a mod-23 slice of the
      // corpus RE-EMBEDDED with one dimension's sign flipped (a
      // deterministic paraphrase stand-in — cosine stays near 1); each eval
      // item must surface its corpus source. One row per eval item,
      // zero-hit items kept; 8-bit bands buy the recall a contamination
      // gate needs at this radius
      val emb = Tables.embeddings(s, dir)
      val evalSet = emb.filter(pmod(col("vec_id"), lit(23)) === 0)
        .select((col("vec_id") + lit(100000L)).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, -x).otherwise(x)).as("embedding"))
      Dedup.semanticContamination(emb, evalSet,
        "vec_id", "embedding", dim = 64, threshold = 0.9, bandBits = 8)
    }),

    "drift_report" -> ((s, dir) => {
      // distribution-drift gate between the standing corpus and an incoming
      // crawl slice (the same mod-7 split the ingestion gates use): per-lang
      // counts/shares + total-variation distance, accumulated in fixed
      // point so the drift number is bitwise deterministic and replayable
      val docs = Tables.documents(s, dir)
      operators.DataChecks.distributionDrift(
        docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(7)) === 0),
        col("lang"))
    }),

    "data_quality_report" -> ((s, dir) => {
      // declarative expectations over orders, ALL counted in one
      // aggregation over one scan (the reference's data-warning checks as
      // a single-pass report; adding a check never adds a pass)
      import operators.DataChecks.Expectation
      operators.DataChecks.expectationReport(Tables.orders(s, dir), Seq(
        Expectation("totalprice_positive", col("o_totalprice") > 0),
        Expectation("orderdate_present", col("o_orderdate").isNotNull),
        Expectation("status_known", col("o_orderstatus").isin("O", "F", "P")),
        Expectation("custkey_positive", col("o_custkey") > 0),
        Expectation("priority_nonempty", length(col("o_orderpriority")) > 0)))
        .withColumnRenamed("check", "check_name")
    }),

    "value_outliers" -> ((s, dir) =>
      // robust per-group outlier profile: exact median + MAD (rank-picked
      // middle rows, not an interpolated sketch — mirrorable to the bit),
      // outlier = deviation beyond 3×MAD; survives the heavy tail that
      // inflates stddev until nothing is an outlier
      operators.DataChecks.robustOutliers(
        Sources.events(s, dir).select(col("event_type"), col("value")),
        "event_type", "value", k = 3.0)),

    "merge_schema_scan" -> ((s, dir) => {
      // on-disk schema evolution: a v1 batch (no `value` column) and a v2
      // batch (with it) under one dataset; mergeSchema unifies the footers
      // at planning time — the lake reality where producers add columns
      // over time. union_byname_mixed covers the DataFrame-level analog;
      // this one proves the SCAN path (schema reconciliation in the reader).
      val root = scratchDir("graft_schema_evo")
      val ev = Sources.events(s, dir)
      ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"))
        .write.parquet(s"$root/v1")
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
        .write.parquet(s"$root/v2")
      s.read.option("mergeSchema", "true").parquet(s"$root/v1", s"$root/v2")
    }),

    "bm25_topk" -> ((s, dir) => {
      // batch keyword retrieval: BM25 top-10 per query over the document
      // corpus. The corpus-side work is one tokenize+explode semi-joined
      // to the broadcast query-term dictionary before any shuffle; scoring
      // uses the log-free rational idf so the DuckDB oracle matches to the
      // bit (see Retrieval Scaladoc)
      import s.implicits._
      val queries = Seq(
        (0L, "spark join performance"),
        (1L, "window agg order"),
        (2L, "hash table scan")).toDF("query_id", "qtext")
      operators.Retrieval.bm25TopK(
        Tables.documents(s, dir), "doc_id", "text", queries, k = 10)
    }),

    "bm25_index_topk" -> ((s, dir) => {
      // the PERSISTED form of bm25_topk: the corpus is tokenized once at
      // ingest into a term-sharded postings table + batches-sized stats
      // sidecar; the query then reads postings pruned to its own terms
      // (shard-directory pruning + pushed term IN filter) and never the
      // corpus. Ingested here in two batches to exercise the incremental
      // path; scoring shares bm25_topk's Column shapes, so the result —
      // and the oracle — are bitwise THE SAME
      import s.implicits._
      val idx = scratchDir("graft_bm25idx") + "/index"
      val docs = Tables.documents(s, dir)
      streaming.Bm25Index.ingestBatch(
        docs.filter(col("doc_id") % 2 === 0), idx, "doc_id", "text", batchId = 0L)
      streaming.Bm25Index.ingestBatch(
        docs.filter(col("doc_id") % 2 === 1), idx, "doc_id", "text", batchId = 1L)
      val queries = Seq(
        (0L, "spark join performance"),
        (1L, "window agg order"),
        (2L, "hash table scan")).toDF("query_id", "qtext")
      streaming.Bm25Index.topK(s, idx, queries, k = 10)
    }),

    "bm25_index_purge" -> ((s, dir) => {
      // GDPR for the retrieval index: purging the CORPUS alone leaves a
      // doc's postings probeable forever. Bm25Index.purge writes one
      // atomic (doc_id, dl) tombstone sidecar — no postings rewrite — and
      // topK is compliant immediately: masked postings plus corrected
      // constants score BITWISE like an index never holding the purged
      // docs, which is exactly the oracle (ad-hoc BM25 over the filtered
      // corpus). The deferred vacuum then removes the rows physically;
      // the per-row flag pins that not one bit moves across it
      import s.implicits._
      val idx = scratchDir("graft_bm25prg") + "/index"
      val docs = Tables.documents(s, dir)
      // data-derived shards (bytes-per-shard rule), not a hand-tuned
      // constant: shard count never touches scores (spec-pinned), and this
      // query's cost should be the purge/vacuum semantics, not file
      // fan-out over a test corpus (bm25_index_topk keeps the 64 default
      // under bench coverage); the second batch ingests under the meta
      streaming.Bm25Index.ingestBatch(
        docs.filter(col("doc_id") % 2 === 0), idx, "doc_id", "text", batchId = 0L,
        nShards = streaming.Bm25Index.AutoShards)
      streaming.Bm25Index.ingestBatch(
        docs.filter(col("doc_id") % 2 === 1), idx, "doc_id", "text", batchId = 1L,
        nShards = streaming.Bm25Index.AutoShards)
      streaming.Bm25Index.purge(s, idx,
        docs.select(col("doc_id")).filter(pmod(col("doc_id"), lit(9)) === 0),
        "doc_id"): Unit
      val queries = Seq(
        (0L, "spark join performance"),
        (1L, "window agg order"),
        (2L, "hash table scan")).toDF("query_id", "qtext")
      val logical = Checkpointing.materialize(
        streaming.Bm25Index.topK(s, idx, queries, k = 10))
      streaming.Bm25Index.vacuum(s, idx): Unit
      val physical = streaming.Bm25Index.topK(s, idx, queries, k = 10)
        .withColumnsRenamed(Map("rank" -> "__r2", "score" -> "__s2"))
      logical.join(physical, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"), col("rank"), col("score"),
          when(col("rank") === col("__r2") && col("score") === col("__s2"), lit(1L))
            .otherwise(lit(0L)).as("vacuum_matches"))
    }),

    "hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval: BM25 keyword ranks fused with brute-force cosine
      // ranks by reciprocal-rank fusion (1/(60+rank) each side). Both
      // inputs are k-sized ranked lists, so the fusion join is trivially
      // broadcast at any corpus scale; doc 7's own text+embedding is the
      // query, so both rails share one ground truth
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val qtext = docs.filter(col("doc_id") === 7)
        .select(col("text")).head().getString(0)
      val bm = operators.Retrieval.bm25TopK(
          docs, "doc_id", "text",
          Seq((0L, qtext)).toDF("query_id", "qtext"), k = 30)
        .select(col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter(col("vec_id") === 7)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val cos = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, k = 30)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("rank"))
      operators.Retrieval.rrfFuse(bm, cos)
        .select(col("doc_id"),
          coalesce(col("rank_a"), lit(0L)).cast("long").as("bm25_rank"),
          coalesce(col("rank_b"), lit(0L)).cast("long").as("cos_rank"),
          col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    })
  )

  // ---- SQL fragments mirroring the native vector kernels -----------------
  // DuckDB's list_sum over DOUBLE accumulates sequentially (verified bitwise
  // identical to the Java loops in VectorExpressions), so dot/cosine oracles
  // compare EXACTLY — no rounding tolerance needed.

  private def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def sqlNorm2(a: String): String =
    s"list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

  private def sqlCos(a: String, b: String): String =
    s"""(CASE WHEN ${sqlNorm2(a)} = 0 OR ${sqlNorm2(b)} = 0 THEN 0.0
       | ELSE ${sqlDot(a, b)} / sqrt(${sqlNorm2(a)} * ${sqlNorm2(b)}) END)""".stripMargin

  /** The sign-LSH hyperplanes as a DuckDB VALUES literal — same deterministic
    * [[Dedup.hyperplanes]] codebook the Spark side uses (float-to-double is
    * exact, and Double.toString round-trips, so the SQL literal is the same
    * 64-bit value the codegen kernel sees).
    */
  private def sqlPlanes(numPlanes: Int, dim: Int): String =
    operators.Dedup.hyperplanes(numPlanes, dim).zipWithIndex.map { case (p, i) =>
      "(" + i + ", [" + p.map(_.toDouble.toString).mkString(",") + "]::DOUBLE[])"
    }.mkString(",\n  ")

  /** Word-token list, mirroring [[TextAnalysis.tokens]]. */
  private val sqlToks: String =
    "regexp_extract_all(lower(text), '[a-z0-9]+')"

  /** BM25 CTE chain mirroring [[operators.Retrieval.bm25TopK]] shape for
    * shape (rational idf, k1=1.2, b=0.75): yields `ranked(query_id, doc_id,
    * score, rank)`. `qSource` must be a CTE body producing
    * `(query_id, qtext)`. Every double op (sub/add/mul/div) appears in the
    * same association order as the Spark expression, and the per-(query,
    * doc) term sum is `list_sum(list(s ORDER BY term))` — the sequential
    * fold the Spark side replays via `aggregate(sort_array(...))`.
    */
  private def sqlBm25(qSource: String, docSource: String = "documents"): String =
    s"""q AS ($qSource),
       |btoks AS (SELECT doc_id, $sqlToks AS t FROM $docSource),
       |blens AS (SELECT doc_id, len(t) AS dl FROM btoks),
       |bn AS (SELECT count(*) AS n_docs,
       |  CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl FROM btoks),
       |bqt AS (SELECT DISTINCT query_id,
       |  unnest(regexp_extract_all(lower(qtext), '[a-z0-9]+')) AS term FROM q),
       |bpost AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(t) AS term FROM btoks) p
       |  JOIN (SELECT DISTINCT term FROM bqt) d USING (term)
       |  GROUP BY doc_id, term),
       |bdfs AS (SELECT term, count(*) AS df FROM bpost GROUP BY term),
       |bscored AS (
       |  SELECT bqt.query_id, bpost.doc_id, bpost.term,
       |    ((CAST(bn.n_docs - bdfs.df AS DOUBLE) + 0.5) /
       |      (CAST(bdfs.df AS DOUBLE) + 0.5)) *
       |    ((CAST(bpost.tf AS DOUBLE) * (1.2 + 1.0)) /
       |      (CAST(bpost.tf AS DOUBLE) +
       |        1.2 * (1.0 - 0.75 + 0.75 * (CAST(blens.dl AS DOUBLE) / bn.avgdl)))) AS s
       |  FROM bpost JOIN bqt USING (term) JOIN bdfs USING (term)
       |    JOIN blens USING (doc_id), bn),
       |bsummed AS (SELECT query_id, doc_id,
       |  list_sum(list(s ORDER BY term)) AS score FROM bscored GROUP BY 1, 2),
       |ranked AS (SELECT query_id, doc_id, score,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS rank FROM bsummed)""".stripMargin

  /** Shared rare-shingle candidate space (mirrors
    * [[operators.Dedup]]'s `rareShinglePostings`): 5-token shingles with
    * document frequency ≤ 100, as `kept(doc_id, s)` — the prefix of the
    * containment and pagerank oracles.
    */
  private lazy val sqlRareKept: String =
    s"""toks AS (
       |  SELECT doc_id, $sqlToks AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
       |    THEN list_distinct(list_transform(range(0, len(t) - 4),
       |      i -> array_to_string(t[i+1:i+5], ' ')))
       |    ELSE []::VARCHAR[] END) AS s
       |  FROM toks),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
       |kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s))""".stripMargin

  /** SQL mirror of [[operators.Bpe.learnMerges]]: word counts, bracket-form
    * char segmentation, then per step k the pair explode, the (count desc,
    * pair asc) argmax as 1-row CTE `b{k}`, and the literal bracket replace
    * producing `v{k}`. The bracket encoding makes DuckDB's left-to-right
    * non-overlapping `replace` exactly the engine's greedy merge.
    */
  private def sqlBpeSteps(steps: Int): String = {
    // AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // step references its predecessor ~4 times — inlining would expand the
    // chain 4^steps-fold (observed as "too many open files" at steps=8)
    def one(k: Int): String =
      s"""p$k AS MATERIALIZED (
         |  SELECT c, unnest(list_transform(range(0, greatest(len(s) - 1, 0)),
         |    i -> s[i+1] || ' ' || s[i+2])) AS pair
         |  FROM (SELECT c, regexp_extract_all(form, '\\(([a-z0-9]+)\\)', 1) AS s
         |        FROM v${k - 1})),
         |b$k AS MATERIALIZED (SELECT $k AS step, pair, CAST(sum(c) AS BIGINT) AS cnt
         |  FROM p$k GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
         |v$k AS MATERIALIZED (SELECT c, replace(form,
         |    '(' || split_part(b$k.pair, ' ', 1) || ')(' ||
         |      split_part(b$k.pair, ' ', 2) || ')',
         |    '(' || replace(b$k.pair, ' ', '') || ')') AS form
         |  FROM v${k - 1} CROSS JOIN b$k)""".stripMargin
    s"""w0 AS MATERIALIZED (
       |  SELECT w, count(*) AS c
       |  FROM (SELECT unnest($sqlToks) AS w FROM documents) GROUP BY w),
       |v0 AS MATERIALIZED (SELECT c, regexp_replace(w, '(.)', '(\\1)', 'g') AS form FROM w0),
       |${(1 to steps).map(one).mkString(",\n")}""".stripMargin
  }

  /** SQL mirror of [[Sampling.unitHash]]: Knuth multiplicative hash scaled
    * to [0, 1). Plain Int64 arithmetic + one IEEE divide by a power of two,
    * so DuckDB reproduces the Spark value bit-for-bit — which is the whole
    * reason the sampling family hashes with this instead of xxhash64.
    */
  private def sqlUnitHash(id: String, salt: Long): String =
    // the % 2147483648 fold mirrors unitHash exactly: without it DuckDB
    // raises on Int64 overflow for ids above ~3.4e9 while Spark would wrap
    s"(CAST((((($id % 2147483648) + $salt) % 2147483648) * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0)"

  // ---- k-means mirror (Similarity.trainCodebook) -------------------------
  // Shared by the ivf_topk and semantic_dedup oracles: assignment is argmax
  // cosine with lowest-index ties; the centroid update accumulates per-dim
  // FIXED-POINT sums (floor(x*2^20) as BIGINT — IEEE-exact and order-free,
  // which is why the Spark side is bitwise deterministic at any parallelism
  // and this mirror needs no accumulation-order tricks), divides back in
  // double, keeps the previous centroid for empty clusters, and rounds each
  // iteration's centroids to REAL (round-to-nearest-even, same as the JVM).

  private def sqlKmAssign(out: String, src: String, cents: String): String =
    s"""$out AS (
       |  SELECT vec_id, embedding, cidx FROM (
       |    SELECT s.vec_id, s.embedding, c.cidx,
       |      row_number() OVER (PARTITION BY s.vec_id
       |        ORDER BY ${sqlCos("s.embedding", "c.cv")} DESC, c.cidx) AS rn
       |    FROM $src s, $cents c) x WHERE rn = 1)""".stripMargin

  private def sqlKmUpdate(out: String, assigned: String, prev: String): String =
    s"""$out AS (
       |  SELECT p.cidx, COALESCE(m.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN (
       |    SELECT cidx, list(CAST(CAST(mval AS REAL) AS DOUBLE) ORDER BY d) AS cv FROM (
       |      SELECT a.cidx, d.d AS d,
       |        (CAST(sum(CAST(floor(CAST(a.embedding[d.d] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE) / count(*)) / 1048576.0 AS mval
       |      FROM $assigned a, range(1, 65) d(d)
       |      GROUP BY a.cidx, d.d) g
       |    GROUP BY cidx) m ON m.cidx = p.cidx)""".stripMargin

  // ---- product-quantization mirror (Similarity.pqTrain/pqEncode/pqTopK) --
  // Same Lloyd construction as the k-means mirror above, but per SUBSPACE:
  // each of the 8 subspaces runs its own seed → assign → update ×2 → final
  // assign over the 8-dim slices. The ADC lookup values and the final
  // per-vector sum both accumulate sequentially (driver loop / left-assoc
  // add chain on the Spark side; DuckDB's sequential list_sum here), so the
  // scores compare bitwise.

  private def sqlPqAssign(out: String, src: String, cents: String): String =
    s"""$out AS (
       |  SELECT vec_id, sv, cidx FROM (
       |    SELECT t.vec_id, t.sv, c.cidx,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${sqlCos("t.sv", "c.cv")} DESC, c.cidx) AS rn
       |    FROM $src t, $cents c) x WHERE rn = 1)""".stripMargin

  private def sqlPqUpdate(out: String, assigned: String, prev: String, subDim: Int): String =
    s"""$out AS (
       |  SELECT p.cidx, COALESCE(u.cv, p.cv) AS cv
       |  FROM $prev p LEFT JOIN (
       |    SELECT cidx, list(CAST(CAST(mval AS REAL) AS DOUBLE) ORDER BY d) AS cv FROM (
       |      SELECT a.cidx, d.d AS d,
       |        (CAST(sum(CAST(floor(CAST(a.sv[d.d] AS DOUBLE) * 1048576.0) AS BIGINT)) AS DOUBLE) / count(*)) / 1048576.0 AS mval
       |      FROM $assigned a, range(1, ${subDim + 1}) d(d)
       |      GROUP BY a.cidx, d.d) g
       |    GROUP BY cidx) u ON u.cidx = p.cidx)""".stripMargin

  /** The full PQ replay: per-subspace codebooks (2 Lloyd iterations from
    * first-16-by-id slice seeding), final assignments `af{s}`, the ADC
    * lookup table `lut(s, cid, v)` against vec 0's query slices, and the
    * top-10 by sequential lookup-sum.
    */
  /** The PQ replay's CTE chain (everything through `adc(vec_id,
    * adc_score)`), shared by the pq_ann_* and ivfpq oracles.
    */
  private def sqlPqCtes(m: Int = 8, subDim: Int = 8, k: Int = 16,
      trainFraction: Double = 1.0, sampleSalt: Long = 0L): String = {
    // trainFraction < 1 mirrors pqTrain's deterministic training sample:
    // the svt (training) views filter by the same unit hash the Scala side
    // uses, while the final af assignment still covers every vector
    val trainWhere =
      if (trainFraction >= 1.0) ""
      else s" WHERE ${sqlUnitHash("vec_id", sampleSalt)} < $trainFraction"
    val perSub = (0 until m).map { s =>
      val lo = s * subDim + 1; val hi = (s + 1) * subDim
      s"""sv$s AS (SELECT vec_id, embedding[$lo:$hi] AS sv FROM embeddings),
         |svt$s AS (SELECT vec_id, embedding[$lo:$hi] AS sv FROM embeddings$trainWhere),
         |init$s AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx,
         |         list_transform(sv, x -> CAST(x AS DOUBLE)) AS cv
         |  FROM svt$s ORDER BY vec_id LIMIT $k),
         |${sqlPqAssign(s"a1_$s", s"svt$s", s"init$s")},
         |${sqlPqUpdate(s"c1_$s", s"a1_$s", s"init$s", subDim)},
         |${sqlPqAssign(s"a2_$s", s"svt$s", s"c1_$s")},
         |${sqlPqUpdate(s"c2_$s", s"a2_$s", s"c1_$s", subDim)},
         |${sqlPqAssign(s"af$s", s"sv$s", s"c2_$s")}""".stripMargin
    }.mkString(",\n")
    val lut = (0 until m).map { s =>
      val lo = s * subDim + 1; val hi = (s + 1) * subDim
      s"""  SELECT $s AS s, c.cidx AS cid, ${sqlDot(s"(q.qv[$lo:$hi])", "c.cv")} AS v
         |  FROM c2_$s c, q""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val assigns = (0 until m).map(s =>
      s"  SELECT vec_id, $s AS s, cidx FROM af$s").mkString("\n  UNION ALL\n")
    s"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |$perSub,
       |lut AS (
       |$lut),
       |assigns AS (
       |$assigns),
       |scored AS (
       |  SELECT a.vec_id, a.s, l.v
       |  FROM assigns a JOIN lut l ON l.s = a.s AND l.cid = a.cidx),
       |adc AS (
       |  SELECT vec_id, list_sum(list(v ORDER BY s)) AS adc_score
       |  FROM scored GROUP BY vec_id)""".stripMargin
  }

  private def sqlPqOracle(refine: Boolean = false,
      trainFraction: Double = 1.0, sampleSalt: Long = 0L): String = {
    s"""WITH ${sqlPqCtes(trainFraction = trainFraction, sampleSalt = sampleSalt)}
       |${
         if (refine)
           s""", short AS (
              |  SELECT vec_id FROM adc ORDER BY adc_score DESC, vec_id LIMIT 50)
              |SELECT e.vec_id, ${sqlDot("e.embedding", "q.qv")} AS score
              |FROM embeddings e JOIN short USING (vec_id), q
              |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin
         else
           """SELECT vec_id, adc_score FROM adc
             |ORDER BY adc_score DESC, vec_id LIMIT 10""".stripMargin
       }""".stripMargin
  }

  /** The composed IVF-PQ replay: the coarse k-means chain (ends `afull` +
    * `c2`) and the PQ chain (ends `adc`) share only `q`; the probe set
    * ranks coarse centroids exactly as `IvfModel.nearestLists`, and the
    * final top-10 is ADC over the probed lists only.
    */
  private def sqlIvfPqOracle(nprobe: Int = 4,
      trainFraction: Double = 1.0, sampleSalt: Long = 0L): String = {
    val trainWhere =
      if (trainFraction >= 1.0) ""
      else s" WHERE ${sqlUnitHash("vec_id", sampleSalt)} < $trainFraction"
    s"""WITH ${sqlPqCtes(trainFraction = trainFraction, sampleSalt = sampleSalt)},
       |${sqlKmeansAssignAll(trainWhere)},
       |probes AS (
       |  SELECT cidx FROM (
       |    SELECT c.cidx, row_number() OVER (
       |      ORDER BY ${sqlCos("q.qv", "c.cv")} DESC, c.cidx) AS rn
       |    FROM c2 c, q) p WHERE rn <= $nprobe)
       |SELECT a.vec_id, adc.adc_score
       |FROM afull a JOIN adc ON adc.vec_id = a.vec_id
       |WHERE a.cidx IN (SELECT cidx FROM probes)
       |ORDER BY adc_score DESC, a.vec_id LIMIT 10""".stripMargin
  }

  /** Two Lloyd iterations from first-16-by-id seeding + full-corpus
    * assignment — the exact [[operators.Similarity.trainCodebook]] mirror;
    * ends with `afull(vec_id, embedding, cidx)` over every vector.
    * `trainWhere` (a " WHERE ..." suffix or "") restricts SEEDING and
    * TRAINING to the deterministic sample, mirroring the Scala
    * `trainSampleFraction` knob; the final assignment always covers the
    * whole corpus.
    */
  private def sqlKmeansAssignAll(trainWhere: String = ""): String =
    s"""trainkm AS (SELECT vec_id, embedding FROM embeddings$trainWhere),
       |init AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM trainkm ORDER BY vec_id LIMIT 16),
       |${sqlKmAssign("a1", "trainkm", "init")},
       |${sqlKmUpdate("c1", "a1", "init")},
       |${sqlKmAssign("a2", "trainkm", "c1")},
       |${sqlKmUpdate("c2", "a2", "c1")},
       |${sqlKmAssign("afull", "embeddings", "c2")}""".stripMargin

  private val langMarkersSql: Seq[(String, String)] = Seq(
    "en" -> "['the','and','of','to','in','is','that','it','for','with']",
    "es" -> "['el','la','de','que','y','en','un','por','con','los']",
    "de" -> "['der','die','und','das','ist','nicht','von','mit','den','ein']",
    "fr" -> "['le','la','et','les','des','est','dans','que','pour','une']",
    "it" -> "['il','di','che','la','per','con','del','una','sono','non']")

  /** DuckDB oracle SQL per query key — EVERY query has one. Where DuckDB
    * cannot run a kernel (the xxhash64 LSH family, the pure-JVM media
    * codecs in [[graft.operators.MediaCodecs]]), the query emits provable
    * invariants instead ([[dedupInvariants]]; exact per-row feature values
    * recomputed from the deterministic fixtures for the multimodal
    * queries) and the oracle states the expected values, so violations
    * still break the hash gate.
    */
  def oracleSql: Map[String, String] = Map(
    "flagship_events" ->
      """SELECT event_id, user_id, value,
        | strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS datetime,
        | CAST(((epoch_us(CAST(ts AS TIMESTAMP)) % 1000000) + 1000000) % 1000000 AS INT) AS time_mcs,
        | strftime(date_trunc('month', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS month_,
        | 'v1' AS version_
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |  AND event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "events_query_model" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_type = 'signup' ORDER BY event_id""".stripMargin,

    "events_scan_v2" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_type = 'signup' ORDER BY event_id""".stripMargin,

    "zonemap_skipping" ->
      """SELECT event_id, user_id, event_type, value, TRUE AS zm_pruned_ok
        |FROM events WHERE event_id >= 100 AND event_id < 160""".stripMargin,

    "metadata_agg" ->
      """SELECT count(*) AS n_rows, min(event_id) AS min_id, max(event_id) AS max_id,
        |  min(event_type) AS min_type, max(event_type) AS max_type,
        |  count(value) AS n_value, TRUE AS meta_only FROM events""".stripMargin,

    "dpp_join" ->
      """SELECT e.event_id, e.user_id, e.value, TRUE AS dpp_fired
        |FROM events e
        |JOIN (SELECT event_id AS k FROM events
        |      WHERE event_id >= 100 AND event_id < 160) d
        |  ON e.event_id = d.k""".stripMargin,

    "optimize_roundtrip" ->
      """SELECT event_id, user_id, event_type, value, TRUE AS opt_ok
        |FROM events WHERE event_id >= 100 AND event_id < 160""".stripMargin,

    "stream_table_ingest" ->
      """SELECT event_id, user_id, value, TRUE AS dedup_ok FROM events""",

    "table_time_travel" ->
      // sign-safe modulo, matching the engine side's pmod: SQL % returns
      // negative remainders for negative ids, pmod never does
      """SELECT event_id, user_id, value, TRUE AS tt_ok
        |FROM events WHERE ((event_id % 3) + 3) % 3 < 2""".stripMargin,

    "time_travel_across_optimize" ->
      """SELECT event_id, user_id, event_type, value, TRUE AS ttx_ok
        |FROM events""".stripMargin,

    "schema_evolution_log" ->
      """SELECT event_id, user_id, value,
        |  CASE WHEN ((event_id % 2) + 2) % 2 = 1 THEN event_type ELSE NULL END AS event_type,
        |  TRUE AS evo_ok
        |FROM events""".stripMargin,

    "pipeline_asof_replay" ->
      """SELECT event_id, user_id, value, TRUE AS replay_ok
        |FROM events WHERE ((event_id % 3) + 3) % 3 < 2""".stripMargin,

    "table_delete_where" ->
      // // is DuckDB integer division, matching the Scala Long arithmetic
      """SELECT event_id, user_id, value, TRUE AS del_ok
        |FROM events
        |WHERE event_id >= (SELECT (max(event_id) * 3) // 10 FROM events)""".stripMargin,

    "concurrent_ingest" ->
      """SELECT event_id, user_id, value, TRUE AS cc_ok FROM events""",

    "sharded_log_fold" ->
      """SELECT event_id, user_id, value, TRUE AS shard_ok FROM events""",

    "table_widening_evolution" ->
      """SELECT CASE WHEN ((event_id % 2) + 2) % 2 = 1 THEN event_id + 5000000000
        |            ELSE event_id END AS event_id,
        |  user_id,
        |  CASE WHEN ((event_id % 2) + 2) % 2 = 0 THEN CAST(CAST(value AS REAL) AS DOUBLE)
        |       ELSE value END AS value,
        |  TRUE AS wid_ok
        |FROM events
        |WHERE ((event_id % 2) + 2) % 2 = 1 OR event_id <= 2147483647""".stripMargin,

    "table_update_where" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_id < (SELECT (max(event_id) * 3) // 10 FROM events)
        |       THEN value * 2 ELSE value END AS value,
        |  TRUE AS upd_ok
        |FROM events""".stripMargin,

    "table_merge_upsert" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey <= (SELECT max(o_orderkey) // 5 FROM orders)
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders) AS o_orderkey,
        |         o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey <= (SELECT max(o_orderkey) // 10 FROM orders))
        |SELECT o_orderkey, o_custkey, o_totalprice, TRUE AS mrg_ok FROM src
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, TRUE AS mrg_ok
        |FROM orders
        |WHERE o_orderkey > (SELECT max(o_orderkey) // 5 FROM orders)""".stripMargin,

    "dedup_keep_first" ->
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,

    "cast_rename" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS custkey, c_name AS name,
        | c_acctbal AS balance, TRY_CAST(c_mktsegment AS INT) AS seg
        |FROM customer""".stripMargin,

    "enrich_fn_iso" ->
      """SELECT event_id,
        | strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS datetime,
        | CAST(((epoch_us(CAST(ts AS TIMESTAMP)) % 1000000) + 1000000) % 1000000 AS INT) AS time_mcs,
        | strftime(date_trunc('month', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS month_
        |FROM events""".stripMargin,

    "notnull_projection" ->
      """SELECT COALESCE(CAST(event_id AS VARCHAR), 'NULL') AS id,
        | COALESCE(event_type, 'NULL') AS etype,
        | COALESCE(props, 'NULL') AS props_raw
        |FROM events""".stripMargin,

    "union_all" ->
      """SELECT event_id, event_type FROM events WHERE event_type = 'signup'
        |UNION ALL
        |SELECT event_id, event_type FROM events WHERE event_type = 'error'""".stripMargin,

    "intersect_except" ->
      """(SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        | INTERSECT
        | SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin,

    "upsert_orders" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,

    "scd2_history" ->
      // same derivation: lag-collapse no-change rows, lead-close intervals,
      // elide zero-length versions (same-instant replacement)
      """WITH c AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    lag(o_orderstatus) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |v AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey FROM c
        |  WHERE prev IS NULL OR prev <> o_orderstatus),
        |i AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
        |    lead(o_orderdate) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
        |  FROM v)
        |SELECT o_custkey, o_orderstatus, valid_from, valid_to,
        |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM i WHERE valid_to IS NULL OR valid_to <> valid_from""".stripMargin,

    "pit_status_lookup" ->
      // the scd2_history derivation inlined, then the interval-containment
      // join: ts >= valid_from AND (valid_to IS NULL OR ts < valid_to)
      """WITH c AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        |    lag(o_orderstatus) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |v AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey FROM c
        |  WHERE prev IS NULL OR prev <> o_orderstatus),
        |i AS (
        |  SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
        |    lead(o_orderdate) OVER
        |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
        |  FROM v),
        |h AS (
        |  SELECT o_custkey, o_orderstatus AS status_at, valid_from, valid_to
        |  FROM i WHERE valid_to IS NULL OR valid_to <> valid_from)
        |SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, h.status_at, h.valid_from
        |FROM orders o JOIN h ON o.o_custkey = h.o_custkey
        |  AND o.o_orderdate >= h.valid_from
        |  AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)""".stripMargin,

    "incremental_window" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day, count(*) AS cnt
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-08 00:00:00'
        |GROUP BY 1""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_topk_join" ->
      """SELECT o_orderkey,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | strftime(o_orderdate, '%Y-%m-%d') AS orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q5_region_volume" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150.0)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  o_totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate >= o3.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,

    "q22_idle_balance" ->
      """SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |                          / count(*)
        |                   FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |GROUP BY c_nationkey""".stripMargin,

    "q11_value_share" ->
      """SELECT l_partkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS value
        |FROM lineitem
        |GROUP BY l_partkey
        |HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) >
        |  (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                   * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * 0.0007
        |   FROM lineitem)
        |ORDER BY value DESC, l_partkey LIMIT 50""".stripMargin,

    "not_in_null_aware" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderstatus = 'P')""".stripMargin,

    "q4_exists_late" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate >= o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,

    "q17_small_quantity" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |         AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_size < 15
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q20_nested_in_suppliers" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l1.l_suppkey FROM lineitem l1
        |  WHERE l1.l_partkey IN (SELECT p_partkey FROM part
        |                         WHERE p_name LIKE 'large%')
        |    AND l1.l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l1.l_shipdate < TIMESTAMP '1998-01-01'
        |    AND l1.l_quantity > (SELECT 0.5 * avg(l2.l_quantity)
        |                         FROM lineitem l2
        |                         WHERE l2.l_partkey = l1.l_partkey
        |                           AND l2.l_suppkey = l1.l_suppkey))""".stripMargin,

    "q19_disjunctive_revenue" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE
        |  (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |     AND l_quantity BETWEEN 1 AND 20 AND l_returnflag = 'N')
        |  OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
        |     AND l_quantity BETWEEN 10 AND 30 AND l_linestatus = 'O')
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35
        |     AND l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q13_order_distribution" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count""".stripMargin,

    "q2_min_cost_shipment" ->
      """SELECT p_partkey, p_name, l.l_suppkey, l.l_extendedprice AS min_price
        |FROM part
        |JOIN lineitem l ON p_partkey = l.l_partkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE p_size < 10 AND o.o_orderstatus = 'F'
        |  AND l.l_extendedprice = (
        |    SELECT min(l2.l_extendedprice)
        |    FROM lineitem l2
        |    JOIN orders o2 ON o2.o_orderkey = l2.l_orderkey
        |    WHERE l2.l_partkey = p_partkey AND o2.o_orderstatus = 'F')""".stripMargin,

    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin,

    "q14_promo_share" ->
      """SELECT
        |  CAST(100 AS DOUBLE)
        |    * CAST(sum(CASE WHEN p_type = 'PROMO'
        |          THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |               * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS promo_share,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-03-01'""".stripMargin,

    "q7_volume_pairs" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(vol) AS DOUBLE) AS revenue, count(*) AS n_items
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INT) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS vol
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        |) pairs
        |GROUP BY supp_nation, cust_nation, l_year""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q8_market_share" ->
      """SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN vol
        |           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(sum(vol) AS DOUBLE) AS mkt_share,
        |  count(*) AS n_items
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS vol,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |) shares
        |GROUP BY o_year""".stripMargin,

    "q9_profit_by_nation" ->
      """SELECT nation, o_year,
        |  CAST(sum(profit) AS DOUBLE) AS sum_profit, count(*) AS n_items
        |FROM (
        |  SELECT n_name AS nation,
        |    CAST(year(l_shipdate) AS INT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |    - CAST(p_retailprice AS DECIMAL(12,2))
        |      * CAST(l_quantity AS DECIMAL(12,2))
        |      * CAST(0.1 AS DECIMAL(2,1)) AS profit
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%widget%'
        |) profits
        |GROUP BY nation, o_year""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue,
        |  c_acctbal, n_name, count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q12_priority_lines" ->
      """SELECT l_returnflag,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 END) AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag""".stripMargin,

    "q16_supplier_relation" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#21'
        |  AND p_type NOT LIKE 'SMALL%'
        |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_name LIKE '%3%')
        |GROUP BY p_brand, p_type, p_size""".stripMargin,

    "multi_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin,

    "broadcast_join_agg" ->
      """SELECT r_name, count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin,

    "window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t WHERE rnk <= 3""".stripMargin,

    "window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |   PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem""".stripMargin,

    "window_lag" ->
      """SELECT o_custkey, o_orderkey,
        | o_totalprice - lag(o_totalprice, 1) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS delta
        |FROM orders""".stripMargin,

    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "rollup_multi_distinct" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  count(DISTINCT o_custkey) AS n_cust,
        |  count(DISTINCT o_totalprice) AS n_prices,
        |  count(*) AS n_orders
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    "topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "events_window_agg" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour,
        | event_type, count(*) AS cnt,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "asof_join_native" ->
      """SELECT e.event_id, e.user_id, p.purchase_event_id, p.purchase_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts2 FROM events) e
        |ASOF JOIN (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2,
        |         event_id AS purchase_event_id, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts2 >= p.ts2""".stripMargin,

    "asof_join" ->
      """SELECT e.event_id, e.user_id, p.purchase_event_id, p.purchase_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts2 FROM events) e
        |ASOF JOIN (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2,
        |         event_id AS purchase_event_id, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts2 >= p.ts2""".stripMargin,

    "asof_join_forward_native" ->
      """SELECT e.event_id, e.user_id, p.next_purchase_id, p.next_purchase_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts2 FROM events) e
        |ASOF JOIN (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2,
        |         event_id AS next_purchase_id, value AS next_purchase_value
        |  FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts2 <= p.ts2""".stripMargin,

    "asof_join_forward" ->
      """SELECT e.event_id, e.user_id, p.next_purchase_id, p.next_purchase_value
        |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts2 FROM events) e
        |ASOF JOIN (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2,
        |         event_id AS next_purchase_id, value AS next_purchase_value
        |  FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts2 <= p.ts2""".stripMargin,

    "window_fill_forward" ->
      """SELECT event_id, user_id,
        | last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
        |FROM events""".stripMargin,

    "range_join" ->
      """SELECT p.purchase_id, count(*) AS n_follow,
        | CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
        |      FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2, value FROM events) e
        |  ON e.user_id = p.user_id AND e.ts2 >= p.p_ts
        | AND e.ts2 < p.p_ts + INTERVAL 30 MINUTE
        |GROUP BY p.purchase_id""".stripMargin,

    "interval_overlap_join" ->
      """WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s AS (
        |  SELECT user_id, min(ts) AS s_start, max(ts) + INTERVAL 1 MINUTE AS s_end
        |  FROM ev WHERE user_id < 500 GROUP BY user_id, CAST(ts AS DATE)),
        |w AS (
        |  SELECT event_type, min(ts) AS w_start, max(ts) + INTERVAL 1 MINUTE AS w_end
        |  FROM ev GROUP BY event_type, CAST(ts AS DATE))
        |SELECT s.user_id, w.event_type, s.s_start, w.w_start,
        |  least(epoch_us(s.s_end), epoch_us(w.w_end))
        |    - greatest(epoch_us(s.s_start), epoch_us(w.w_start)) AS overlap_us
        |FROM s JOIN w ON s.s_start < w.w_end AND w.w_start < s.s_end""".stripMargin,

    "collect_groups" ->
      """SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        | array_to_string(list_sort(list(event_id)), ',') AS ids, count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,

    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    "count_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events""".stripMargin,

    "window_ntile" ->
      """SELECT o_orderkey, o_orderstatus,
        | ntile(4) OVER w AS quartile,
        | percent_rank() OVER w AS pr,
        | first_value(o_orderkey) OVER w AS top_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,

    "pivot_agg" ->
      """SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        | count(*) FILTER (event_type = 'click') AS click,
        | count(*) FILTER (event_type = 'view') AS view,
        | count(*) FILTER (event_type = 'purchase') AS purchase,
        | count(*) FILTER (event_type = 'signup') AS signup,
        | count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY 1""".stripMargin,

    "string_funcs" ->
      """SELECT doc_id,
        | upper(substr(text, 1, 10)) AS head_uc,
        | replace(source, 'src', 'origin-') AS origin,
        | CAST(levenshtein(lang, 'en') AS INT) AS lev,
        | CAST(length(trim(text)) AS INT) AS trim_len
        |FROM documents""".stripMargin,

    "date_funcs" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INT) AS y,
        | CAST(month(o_orderdate) AS INT) AS m,
        | CAST(day(o_orderdate) AS INT) AS d,
        | CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
        | strftime(CAST(o_orderdate + INTERVAL 7 DAY AS DATE), '%Y-%m-%d') AS week_later
        |FROM orders""".stripMargin,

    "scalar_math" ->
      """SELECT l_orderkey, l_linenumber,
        | sqrt(l_quantity) AS sq,
        | CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        | CAST(ceiling(l_extendedprice) AS BIGINT) AS ce,
        | abs(l_discount - 0.05) AS ad,
        | pow(l_discount, 2) AS p2
        |FROM lineitem""".stripMargin,

    "session_window" ->
      """SELECT user_id,
        | strftime(min(ts2), '%Y-%m-%d %H:%M:%S') AS session_start,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT user_id, ts2, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts2
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM (
        |    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts2, value,
        |      CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) IS NULL
        |             OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) >= INTERVAL 30 MINUTE
        |           THEN 1 ELSE 0 END AS is_new
        |    FROM events) t1) t2
        |GROUP BY user_id, sess""".stripMargin,

    "text_stats" ->
      """SELECT doc_id,
        | CAST(length(text) AS INT) AS n_chars,
        | CAST(len(tokens) AS INT) AS n_tokens,
        | CASE WHEN len(tokens) > 0 THEN CAST(length(text) AS DOUBLE) / len(tokens) ELSE 0.0 END AS avg_token_len,
        | CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS punct_ratio,
        | CASE WHEN len(tokens) > 0 THEN CAST(len(list_filter(tokens, t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','by','at','from','it','this','that'], t))) AS DOUBLE) / len(tokens) ELSE 0.0 END AS stopword_ratio
        |FROM (SELECT doc_id, text,
        |        regexp_extract_all(lower(text), '[a-z0-9]+') AS tokens
        |      FROM documents) t""".stripMargin,

    // trigram strings rebuilt exactly as the native shingle kernel emits
    // them (space-joined tokens); duplicate fraction = integer subtraction
    // then one IEEE divide
    "repetition_quality" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |g AS (SELECT doc_id, list_transform(range(0, greatest(len(toks) - 2, 0)),
         |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS grams FROM t)
         |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_trigrams,
         | CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
         | CASE WHEN len(grams) > 0 THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)/len(grams) ELSE 0.0 END AS dup_frac
         |FROM g""".stripMargin,

    "top_ngram_share" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 2),
         |        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS gram
         |      FROM t WHERE len(toks) >= 3),
         |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
         |SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_cnt,
         | CAST(sum(cnt) AS BIGINT) AS n_ngrams,
         | CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top_share
         |FROM c GROUP BY doc_id""".stripMargin,

    // distinct trigram sets per doc, eval vocabulary = union over the
    // doc_id % 97 = 0 docs; overlap counts are integers, one IEEE divide
    "contamination_check" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(toks) - 2, 0)),
         |    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS grams
         |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)),
         |e AS (SELECT DISTINCT unnest(grams) AS g FROM t WHERE doc_id % 97 = 0),
         |d AS (SELECT doc_id, unnest(grams) AS g FROM t WHERE doc_id % 97 <> 0),
         |o AS (SELECT d.doc_id, count(*) AS n_overlap FROM d JOIN e USING (g) GROUP BY d.doc_id)
         |SELECT t.doc_id, CAST(len(grams) AS BIGINT) AS n_shingles,
         | CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
         | CASE WHEN len(grams) > 0 THEN CAST(COALESCE(o.n_overlap, 0) AS DOUBLE)/len(grams) ELSE 0.0 END AS overlap_frac
         |FROM t LEFT JOIN o ON t.doc_id = o.doc_id WHERE t.doc_id % 97 <> 0""".stripMargin,

    "lang_distribution" ->
      "SELECT lang, count(*) AS cnt FROM documents GROUP BY lang",

    // exact probe counts are oracle-exact; the count-min estimates enter
    // only through their provable one-sided properties (see the query)
    "freq_sketch_check" ->
      s"""WITH t AS (SELECT unnest($sqlToks) AS tok FROM documents)
         |SELECT 'total_occurrences' AS chk, CAST(count(*) AS BIGINT) AS n FROM t
         |UNION ALL SELECT 'exact_the', CAST(count(*) AS BIGINT) FROM t WHERE tok = 'the'
         |UNION ALL SELECT 'exact_table', CAST(count(*) AS BIGINT) FROM t WHERE tok = 'table'
         |UNION ALL SELECT 'exact_value', CAST(count(*) AS BIGINT) FROM t WHERE tok = 'value'
         |UNION ALL SELECT 'exact_row', CAST(count(*) AS BIGINT) FROM t WHERE tok = 'row'
         |UNION ALL SELECT 'exact_data', CAST(count(*) AS BIGINT) FROM t WHERE tok = 'data'
         |UNION ALL SELECT 'sketch_underestimates', 0
         |UNION ALL SELECT 'sketch_over_envelope', 0""".stripMargin,

    // the guaranteed-heavy-hitter set and its exact counts replayed; the
    // sketch's order-independent guarantees are the stated flags
    "heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($sqlToks) AS tok FROM documents),
         |n AS (SELECT count(*) AS n FROM t),
         |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok)
         |SELECT tok AS token, CAST(cnt AS BIGINT) AS exact_cnt,
         |  CAST(1 AS BIGINT) AS in_sketch,
         |  CAST(1 AS BIGINT) AS underest_within_bound
         |FROM c WHERE cnt > (SELECT n FROM n) / 65.0""".stripMargin,

    // exact byte masses replayed; the weighted MG guarantee flags are the
    // stated invariant (W = total bytes; tokens are [a-z0-9]+ so Spark
    // length == DuckDB len, both in characters == bytes here)
    "heavy_tokens_by_bytes" ->
      s"""WITH t AS (SELECT unnest($sqlToks) AS tok FROM documents),
         |m AS (SELECT tok, CAST(sum(len(tok)) AS BIGINT) AS mass
         |      FROM t GROUP BY tok),
         |w AS (SELECT CAST(sum(mass) AS DOUBLE) AS wtot FROM m)
         |SELECT tok AS token, mass,
         |  CAST(1 AS BIGINT) AS in_sketch,
         |  CAST(1 AS BIGINT) AS underest_within_bound
         |FROM m, w WHERE mass > wtot / 65.0""".stripMargin,

    "heavy_hitters_by_lang" ->
      s"""WITH t AS (SELECT lang, unnest($sqlToks) AS tok FROM documents),
         |n AS (SELECT lang, count(*) AS n FROM t GROUP BY lang),
         |c AS (SELECT lang, tok, count(*) AS cnt FROM t GROUP BY lang, tok)
         |SELECT c.lang, tok AS token, CAST(cnt AS BIGINT) AS exact_cnt,
         |  CAST(1 AS BIGINT) AS in_sketch,
         |  CAST(1 AS BIGINT) AS underest_within_bound
         |FROM c JOIN n USING (lang) WHERE cnt > n / 33.0""".stripMargin,

    // exact segment cardinalities replayed; the KMV envelope flags are the
    // stated invariant (k=128 → rse ≈ 8.9%, 30% is a >3-sigma bound)
    "kmv_overlap" ->
      """WITH seg AS (
        |  SELECT DISTINCT event_type AS seg, user_id FROM events
        |  WHERE event_type IN ('purchase', 'view') AND value > 120),
        |x AS (SELECT
        |  count(DISTINCT CASE WHEN seg = 'purchase' THEN user_id END) AS a,
        |  count(DISTINCT CASE WHEN seg = 'view' THEN user_id END) AS b,
        |  (SELECT count(*) FROM (
        |     SELECT user_id FROM seg GROUP BY user_id HAVING count(DISTINCT seg) = 2)) AS i
        |  FROM seg)
        |SELECT 'exact_purchase' AS chk, CAST(a AS BIGINT) AS n FROM x
        |UNION ALL SELECT 'exact_view', CAST(b AS BIGINT) FROM x
        |UNION ALL SELECT 'exact_overlap', CAST(i AS BIGINT) FROM x
        |UNION ALL SELECT 'purchase_within_30pct', 1
        |UNION ALL SELECT 'view_within_30pct', 1
        |UNION ALL SELECT 'union_within_30pct', 1
        |UNION ALL SELECT 'overlap_within_30pct', 1""".stripMargin,

    // the additive metrics replay EXACTLY (order-free decimal sums); only
    // the HLL estimate is an envelope flag
    "incremental_rollup" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(1 AS BIGINT) AS hll_within_5pct
        |FROM events GROUP BY event_type""".stripMargin,

    // exact per-segment distincts replayed; the bitwise state-vs-batch
    // equality and the envelope are the stated invariants
    "kmv_stream_state" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(floor(value/50) AS BIGINT) AS seg, user_id
        |  FROM events WHERE value < 250)
        |SELECT seg, CAST(count(*) AS BIGINT) AS exact_users,
        |  CAST(1 AS BIGINT) AS state_matches_batch_build,
        |  CAST(1 AS BIGINT) AS est_within_30pct
        |FROM du GROUP BY seg""".stripMargin,

    // exact counts replayed; the MG guarantee flags and the exactly-once
    // n_tokens equality are the stated invariants of the maintainer
    "hh_stream_state" ->
      s"""WITH t AS (SELECT lang, unnest($sqlToks) AS tok FROM documents),
         |n AS (SELECT lang, count(*) AS n FROM t GROUP BY lang),
         |c AS (SELECT lang, tok, count(*) AS cnt FROM t GROUP BY lang, tok)
         |SELECT c.lang, tok AS token, CAST(cnt AS BIGINT) AS exact_cnt,
         |  CAST(1 AS BIGINT) AS in_sketch,
         |  CAST(1 AS BIGINT) AS underest_within_bound,
         |  CAST(1 AS BIGINT) AS n_matches_exact
         |FROM c JOIN n USING (lang) WHERE cnt > n / 33.0""".stripMargin,

    // the topK view replays FULLY: the first-char domain keeps the MG
    // summaries exact, so est/rank/threshold/guaranteed are all plain
    // exact-count arithmetic (IEEE divides, row_number with the same
    // est-desc token-asc order)
    "hh_dashboard" ->
      s"""WITH t0 AS (SELECT lang, unnest($sqlToks) AS tok FROM documents),
         |t AS (SELECT lang, substr(tok, 1, 1) AS token FROM t0),
         |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS est
         |  FROM t GROUP BY 1, 2),
         |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens
         |  FROM t GROUP BY lang),
         |r AS (SELECT c.lang, token, est,
         |  CAST(row_number() OVER (PARTITION BY c.lang
         |    ORDER BY est DESC, token) AS BIGINT) AS rank, n_tokens
         |  FROM c JOIN n USING (lang))
         |SELECT lang, token, est, rank, n_tokens,
         |  CAST(n_tokens AS DOUBLE) / 65.0 AS threshold,
         |  CAST(CASE WHEN CAST(est AS DOUBLE) > CAST(n_tokens AS DOUBLE) / 65.0
         |    THEN 1 ELSE 0 END AS BIGINT) AS guaranteed
         |FROM r WHERE rank <= 5""".stripMargin,

    // the seeded geometric mechanism replays EXACTLY: unitHash mirrors
    // bitwise (sqlUnitHash) and every CDF boundary below is the identical
    // double (shortest-roundtrip literals of Privacy.magnitudeBoundaries —
    // only IEEE-exact ops on both sides, no transcendentals)
    "dp_census" -> {
      val mag = graft.operators.Privacy.magnitudeBoundaries(1, 48)
        .map(c => s"(CASE WHEN w >= $c THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH g AS (SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
         |  CAST(floor(c_acctbal/2000)*2000 AS BIGINT) AS bal_band, count(*) AS n
         |  FROM customer GROUP BY 1, 2),
         |u AS (SELECT *,
         |  ${sqlUnitHash("(c_nationkey*1000000 + bal_band + 500000)", 1009L)} AS u
         |  FROM g),
         |wt AS (SELECT *, abs(u*2.0 - 1.0) AS w FROM u)
         |SELECT c_nationkey, bal_band,
         |  CAST(n + (CASE WHEN u >= 0.5 THEN 1 ELSE -1 END) * ($mag) AS BIGINT)
         |    AS noisy_count
         |FROM wt""".stripMargin
    },

    // same seeded replay as dp_census: clip/divide/floor are IEEE-exact in
    // both engines, the boundaries are the identical doubles
    "dp_revenue" -> {
      val mag = graft.operators.Privacy.magnitudeBoundaries(1, 48)
        .map(c => s"(CASE WHEN w >= $c THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH g AS (SELECT CAST(l_linenumber AS BIGINT) AS line_no,
         |  CAST(floor(CAST(sum(CAST(floor(least(greatest(l_extendedprice, 0.0),
         |    60000.0) / 100.0) AS BIGINT)) AS DOUBLE) / 600.0) AS BIGINT) AS n
         |  FROM lineitem GROUP BY 1),
         |u AS (SELECT *, ${sqlUnitHash("line_no", 2027L)} AS u FROM g),
         |wt AS (SELECT *, abs(u*2.0 - 1.0) AS w FROM u)
         |SELECT line_no,
         |  CAST(n + (CASE WHEN u >= 0.5 THEN 1 ELSE -1 END) * ($mag) AS BIGINT)
         |    AS noisy_sum
         |FROM wt""".stripMargin
    },

    // the exponential mechanism replays bitwise: integer rank errors,
    // exact power-of-two weights (per-class min subtracted — a constant
    // factor), SEQUENTIAL prefix sums via ordered list_sum slices (DuckDB
    // window sums use a segment tree whose addition order differs), and
    // the same seeded uniform scaled by the last prefix
    "dp_median" ->
      s"""WITH src AS (SELECT CAST(c_nationkey AS BIGINT) AS k, c_acctbal AS v
         |  FROM customer),
         |cls AS (SELECT DISTINCT k FROM src),
         |grid AS (SELECT k, b FROM cls
         |  CROSS JOIN (SELECT unnest(range(0, 110)) AS b)),
         |h AS (SELECT k,
         |  CAST(least(greatest(floor((v - (-1000.0)) / 100.0), 0.0), 109.0)
         |    AS BIGINT) AS b,
         |  count(*) AS h FROM src GROUP BY 1, 2),
         |f AS (SELECT grid.k, grid.b, COALESCE(h.h, 0) AS h
         |  FROM grid LEFT JOIN h ON grid.k = h.k AND grid.b = h.b),
         |mm AS (SELECT k, b, h,
         |  COALESCE(sum(h) OVER (PARTITION BY k ORDER BY b
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         |  sum(h) OVER (PARTITION BY k) AS n FROM f),
         |me AS (SELECT k, b, abs(2*below + h - n) AS m FROM mm),
         |w AS (SELECT k, b,
         |  pow(2.0, CAST(-(m - min(m) OVER (PARTITION BY k)) AS DOUBLE)) AS w
         |  FROM me),
         |lw AS (SELECT k, list(w ORDER BY b) AS ws FROM w GROUP BY k),
         |p AS (SELECT k, ws, list_sum(ws) AS tot,
         |  ${sqlUnitHash("k", 40961L)} AS u FROM lw),
         |e AS (SELECT k, u, tot, unnest(range(1, 111)) AS i, ws FROM p),
         |pp AS (SELECT k, i, list_sum(ws[1:CAST(i AS INT)]) AS cum, u, tot FROM e),
         |sel AS (SELECT k, min(i) - 1 AS mb FROM pp
         |  WHERE cum > u * tot GROUP BY k)
         |SELECT k AS c_nationkey, CAST(mb AS BIGINT) AS median_bin,
         |  -1000.0 + (CAST(mb AS DOUBLE) + 0.5) * 100.0 AS dp_median
         |FROM sel""".stripMargin,

    // dp_median's replay at q = 9/10: the only changes are the b-scaled
    // integer utility (10*below + 9*h - 9*n — still exact integers) and
    // the release's own salt; the power-of-two weights, ordered list_sum
    // prefixes and seeded-uniform pick are identical
    "dp_p90" ->
      s"""WITH src AS (SELECT CAST(c_nationkey AS BIGINT) AS k, c_acctbal AS v
         |  FROM customer),
         |cls AS (SELECT DISTINCT k FROM src),
         |grid AS (SELECT k, b FROM cls
         |  CROSS JOIN (SELECT unnest(range(0, 110)) AS b)),
         |h AS (SELECT k,
         |  CAST(least(greatest(floor((v - (-1000.0)) / 100.0), 0.0), 109.0)
         |    AS BIGINT) AS b,
         |  count(*) AS h FROM src GROUP BY 1, 2),
         |f AS (SELECT grid.k, grid.b, COALESCE(h.h, 0) AS h
         |  FROM grid LEFT JOIN h ON grid.k = h.k AND grid.b = h.b),
         |mm AS (SELECT k, b, h,
         |  COALESCE(sum(h) OVER (PARTITION BY k ORDER BY b
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         |  sum(h) OVER (PARTITION BY k) AS n FROM f),
         |me AS (SELECT k, b, abs(10*below + 9*h - 9*n) AS m FROM mm),
         |w AS (SELECT k, b,
         |  pow(2.0, CAST(-(m - min(m) OVER (PARTITION BY k)) AS DOUBLE)) AS w
         |  FROM me),
         |lw AS (SELECT k, list(w ORDER BY b) AS ws FROM w GROUP BY k),
         |p AS (SELECT k, ws, list_sum(ws) AS tot,
         |  ${sqlUnitHash("k", 52501L)} AS u FROM lw),
         |e AS (SELECT k, u, tot, unnest(range(1, 111)) AS i, ws FROM p),
         |pp AS (SELECT k, i, list_sum(ws[1:CAST(i AS INT)]) AS cum, u, tot FROM e),
         |sel AS (SELECT k, min(i) - 1 AS mb FROM pp
         |  WHERE cum > u * tot GROUP BY k)
         |SELECT k AS c_nationkey, CAST(mb AS BIGINT) AS quantile_bin,
         |  -1000.0 + (CAST(mb AS DOUBLE) + 0.5) * 100.0 AS dp_quantile
         |FROM sel""".stripMargin,

    "k_anonymity" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal/2000)*2000 AS BIGINT)) AS BIGINT) AS l_diversity,
        |  CAST(CASE WHEN count(*) >= 10 THEN 1 ELSE 0 END AS BIGINT) AS releasable_k10
        |FROM customer GROUP BY 1, 2""".stripMargin,

    "leakage_safe_split" ->
      s"""WITH h AS (SELECT doc_id, md5(text) AS hh FROM documents),
         |r AS (SELECT hh, min(doc_id) AS rep FROM h GROUP BY hh)
         |SELECT h.doc_id, r.rep,
         |  CASE WHEN ${sqlUnitHash("r.rep", 7L)} < 0.2
         |    THEN 'holdout' ELSE 'train' END AS split
         |FROM h JOIN r USING (hh)""".stripMargin,

    // exact pairwise overlaps replayed; the per-pair envelope flags are the
    // stated invariant (see the query's calibration comment)
    "kmv_matrix" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(floor(value/50) AS BIGINT) AS seg, user_id
        |  FROM events WHERE value < 250),
        |sz AS (SELECT seg, count(*) AS sz FROM du GROUP BY seg),
        |p AS (SELECT a.seg AS seg_a, b.seg AS seg_b, count(*) AS exact_common
        |      FROM du a JOIN du b USING (user_id) WHERE a.seg < b.seg GROUP BY 1, 2)
        |SELECT seg_a, seg_b, CAST(exact_common AS BIGINT) AS exact_common,
        |  CAST(1 AS BIGINT) AS union_within_30pct,
        |  CAST(1 AS BIGINT) AS intersect_within_40pct
        |FROM p""".stripMargin,

    "exact_dedup_docs" ->
      "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)",

    // 10-token segments (trailing partial included; >= 1 segment per doc,
    // mirroring the chunk kernel), keep-first by (doc_id, position), rebuild
    // in position order. DuckDB list slices clamp at the list end.
    "segment_dedup" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |e AS (
         |  SELECT doc_id, CAST(u['i'] AS INT) AS seg_idx, u['seg'] AS seg FROM (
         |    SELECT doc_id, unnest(list_transform(range(0, greatest(1, (len(toks)+9)//10)),
         |      i -> {'i': i, 'seg': array_to_string(toks[i*10+1 : i*10+10], ' ')})) AS u
         |    FROM t) t1),
         |k AS (
         |  SELECT doc_id, seg_idx, seg,
         |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
         |  FROM e),
         |r AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(seg, ' ' ORDER BY seg_idx) AS dedup_text
         |  FROM k WHERE rn = 1 GROUP BY doc_id)
         |SELECT t.doc_id,
         | CAST(greatest(1, (len(toks)+9)//10) AS BIGINT) AS n_segs,
         | CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
         | COALESCE(r.dedup_text, '') AS dedup_text
         |FROM t LEFT JOIN r ON t.doc_id = r.doc_id""".stripMargin,

    // 8-token rolling windows fingerprinted with the same \x01-joined md5;
    // a fingerprint occurring >1 times corpus-wide marks its window
    // duplicated; covered tokens = interval union via the running-max-end
    // frontier (identical gaps-and-islands formulation on both sides)
    "duplicate_spans" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |win AS (
         |  SELECT doc_id, i, md5(array_to_string(toks[i:i+7], chr(1))) AS h
         |  FROM t, LATERAL unnest(generate_series(1, greatest(len(toks)-7, 0))) AS u(i)),
         |dup AS (SELECT h FROM win GROUP BY h HAVING count(*) > 1),
         |dw AS (SELECT doc_id, i AS pos, i+8 AS e FROM win
         |       WHERE h IN (SELECT h FROM dup)),
         |cov AS (
         |  SELECT doc_id, pos, e,
         |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |  FROM dw),
         |p AS (
         |  SELECT doc_id, count(*) AS n_dup_windows,
         |    sum(greatest(0, e - greatest(coalesce(pm, pos), pos))) AS dup_tokens
         |  FROM cov GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  CAST(greatest(len(t.toks)-7, 0) AS BIGINT) AS n_windows,
         |  CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
         |  CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  CASE WHEN len(t.toks) = 0 THEN 0.0
         |       ELSE CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / len(t.toks) END
         |    AS dup_frac
         |FROM t LEFT JOIN p ON t.doc_id = p.doc_id""".stripMargin,

    // the transform mirror of duplicate_spans: same \x01-joined md5 window
    // fingerprints, keep-first per fingerprint by (doc_id, pos), later
    // occurrences' [pos, pos+8) token ranges excised, text rebuilt from the
    // position-sorted survivors
    "remove_duplicate_spans" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |win AS (
         |  SELECT doc_id, i, md5(array_to_string(toks[i:i+7], chr(1))) AS h
         |  FROM t, LATERAL unnest(generate_series(1, greatest(len(toks)-7, 0))) AS u(i)),
         |dup AS (SELECT h FROM win GROUP BY h HAVING count(*) > 1),
         |rk AS (
         |  SELECT doc_id, i AS pos,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
         |  FROM win WHERE h IN (SELECT h FROM dup)),
         |iv AS (SELECT doc_id, pos AS s, pos + 8 AS e FROM rk WHERE rn > 1),
         |tok AS (
         |  SELECT t.doc_id, u.i, t.toks[u.i] AS tok
         |  FROM t, LATERAL unnest(generate_series(1, len(t.toks))) AS u(i)),
         |keep AS (
         |  SELECT tok.doc_id, tok.i, tok.tok FROM tok
         |  WHERE NOT EXISTS (SELECT 1 FROM iv
         |    WHERE iv.doc_id = tok.doc_id AND tok.i >= iv.s AND tok.i < iv.e)),
         |c AS (
         |  SELECT doc_id, count(*) AS n_clean,
         |    string_agg(tok, ' ' ORDER BY i) AS clean_text
         |  FROM keep GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  CAST(len(t.toks) - coalesce(c.n_clean, 0) AS BIGINT) AS removed_tokens,
         |  coalesce(c.clean_text, '') AS clean_text
         |FROM t LEFT JOIN c ON t.doc_id = c.doc_id""".stripMargin,

    // top-50 vocabulary coverage: the cumulative-sum window runs over the
    // aggregated vocab, full (cnt DESC, token) tiebreak everywhere
    "vocab_coverage" ->
      s"""WITH c AS (
         |  SELECT t.t AS token, count(*) AS cnt
         |  FROM (SELECT unnest($sqlToks) AS t FROM documents) t GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS tot FROM c),
         |r AS (
         |  SELECT token, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, token) AS rank,
         |    sum(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM c)
         |SELECT CAST(rank AS BIGINT) AS rank, token, CAST(cnt AS BIGINT) AS cnt,
         | CAST(cum AS DOUBLE) / tot AS cum_frac
         |FROM r, tot WHERE rank <= 50""".stripMargin,

    // the full v2 pipeline replay: classifier + LM gates (models over ALL
    // documents), segment dedup over the gated subset, greedy packing of
    // the deduped token counts — each stage the same mirror as its
    // standalone oracle, composed
    "curation_pipeline_v2" ->
      s"""WITH RECURSIVE
         |ce AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
         |cw AS (
         |  SELECT doc_id,
         |    CAST(floor((((('0x' || substr(md5(tok), 1, 8))::BIGINT % 1001) - 500) / 500.0) * 1048576.0) AS BIGINT) AS qw
         |  FROM ce),
         |cs AS (SELECT doc_id, count(*) AS n, sum(qw) AS q FROM cw GROUP BY doc_id),
         |cls AS (SELECT doc_id FROM cs WHERE (CAST(q AS DOUBLE) / n) / 1048576.0 + 0.0 > 0.0),
         |lt AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS g
         |  FROM lt),
         |c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY g),
         |c1 AS (SELECT split_part(g, ' ', 1) AS w, count(*) AS c1 FROM bg GROUP BY 1),
         |lp AS (
         |  SELECT b.doc_id, CAST(floor((CAST(c2.c2 AS DOUBLE) / c1.c1) * 1048576.0) AS BIGINT) AS q
         |  FROM bg b JOIN c2 ON b.g = c2.g JOIN c1 ON split_part(b.g, ' ', 1) = c1.w),
         |ls AS (SELECT doc_id, count(*) AS n, sum(q) AS qs FROM lp GROUP BY doc_id),
         |lmv AS (SELECT doc_id FROM ls WHERE (CAST(qs AS DOUBLE) / n) / 1048576.0 >= 0.033),
         |gated AS (
         |  SELECT d.doc_id, d.lang, d.text FROM documents d
         |  JOIN cls ON d.doc_id = cls.doc_id JOIN lmv ON d.doc_id = lmv.doc_id),
         |gt AS (SELECT doc_id, $sqlToks AS toks FROM gated),
         |ge AS (
         |  SELECT doc_id, CAST(u['i'] AS INT) AS seg_idx, u['seg'] AS seg FROM (
         |    SELECT doc_id, unnest(list_transform(range(0, greatest(1, (len(toks)+9)//10)),
         |      i -> {'i': i, 'seg': array_to_string(toks[i*10+1 : i*10+10], ' ')})) AS u
         |    FROM gt) t1),
         |gk AS (
         |  SELECT doc_id, seg_idx, seg,
         |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
         |  FROM ge),
         |gr AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(seg, ' ' ORDER BY seg_idx) AS dedup_text
         |  FROM gk WHERE rn = 1 GROUP BY doc_id),
         |surv AS (
         |  SELECT g.lang, gr.doc_id,
         |    CAST(len(regexp_extract_all(lower(gr.dedup_text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
         |  FROM gr JOIN gated g ON gr.doc_id = g.doc_id WHERE gr.n_kept >= 2),
         |d2 AS (
         |  SELECT lang, doc_id, n_tokens,
         |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         |  FROM surv),
         |p(lang, rn, doc_id, n_tokens, bin_id, acc) AS (
         |  SELECT lang, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
         |  FROM d2 WHERE rn = 1
         |  UNION ALL
         |  SELECT d2.lang, d2.rn, d2.doc_id, d2.n_tokens,
         |    CASE WHEN p.acc > 0 AND p.acc + d2.n_tokens > 256 THEN p.bin_id + 1 ELSE p.bin_id END,
         |    CASE WHEN p.acc > 0 AND p.acc + d2.n_tokens > 256 THEN d2.n_tokens ELSE p.acc + d2.n_tokens END
         |  FROM p JOIN d2 ON d2.lang = p.lang AND d2.rn = p.rn + 1)
         |SELECT lang, doc_id, n_tokens, bin_id FROM p""".stripMargin,

    // v3 replay: v2's model-gate CTEs verbatim, then the
    // remove_duplicate_spans mirror over the GATED subset (fingerprints are
    // censused among survivors only, same as the Spark plan), then the same
    // recursive greedy packing over the kept-token counts
    "curation_pipeline_v3" ->
      s"""WITH RECURSIVE
         |ce AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
         |cw AS (
         |  SELECT doc_id,
         |    CAST(floor((((('0x' || substr(md5(tok), 1, 8))::BIGINT % 1001) - 500) / 500.0) * 1048576.0) AS BIGINT) AS qw
         |  FROM ce),
         |cs AS (SELECT doc_id, count(*) AS n, sum(qw) AS q FROM cw GROUP BY doc_id),
         |cls AS (SELECT doc_id FROM cs WHERE (CAST(q AS DOUBLE) / n) / 1048576.0 + 0.0 > 0.0),
         |lt AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS g
         |  FROM lt),
         |c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY g),
         |c1 AS (SELECT split_part(g, ' ', 1) AS w, count(*) AS c1 FROM bg GROUP BY 1),
         |lp AS (
         |  SELECT b.doc_id, CAST(floor((CAST(c2.c2 AS DOUBLE) / c1.c1) * 1048576.0) AS BIGINT) AS q
         |  FROM bg b JOIN c2 ON b.g = c2.g JOIN c1 ON split_part(b.g, ' ', 1) = c1.w),
         |ls AS (SELECT doc_id, count(*) AS n, sum(q) AS qs FROM lp GROUP BY doc_id),
         |lmv AS (SELECT doc_id FROM ls WHERE (CAST(qs AS DOUBLE) / n) / 1048576.0 >= 0.033),
         |gated AS (
         |  SELECT d.doc_id, d.lang, d.text FROM documents d
         |  JOIN cls ON d.doc_id = cls.doc_id JOIN lmv ON d.doc_id = lmv.doc_id),
         |gt AS (SELECT doc_id, $sqlToks AS toks FROM gated),
         |win AS (
         |  SELECT doc_id, i, md5(array_to_string(toks[i:i+7], chr(1))) AS h
         |  FROM gt, LATERAL unnest(generate_series(1, greatest(len(toks)-7, 0))) AS u(i)),
         |dup AS (SELECT h FROM win GROUP BY h HAVING count(*) > 1),
         |rk AS (
         |  SELECT doc_id, i AS pos,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
         |  FROM win WHERE h IN (SELECT h FROM dup)),
         |iv AS (SELECT doc_id, pos AS s, pos + 8 AS e FROM rk WHERE rn > 1),
         |tok AS (
         |  SELECT gt.doc_id, u.i
         |  FROM gt, LATERAL unnest(generate_series(1, len(gt.toks))) AS u(i)),
         |keepc AS (
         |  SELECT tok.doc_id, count(*) AS n_clean FROM tok
         |  WHERE NOT EXISTS (SELECT 1 FROM iv
         |    WHERE iv.doc_id = tok.doc_id AND tok.i >= iv.s AND tok.i < iv.e)
         |  GROUP BY tok.doc_id),
         |surv AS (
         |  SELECT g.lang, k.doc_id, CAST(k.n_clean AS BIGINT) AS n_tokens
         |  FROM keepc k JOIN gated g ON k.doc_id = g.doc_id WHERE k.n_clean >= 2),
         |d2 AS (
         |  SELECT lang, doc_id, n_tokens,
         |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         |  FROM surv),
         |p(lang, rn, doc_id, n_tokens, bin_id, acc) AS (
         |  SELECT lang, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
         |  FROM d2 WHERE rn = 1
         |  UNION ALL
         |  SELECT d2.lang, d2.rn, d2.doc_id, d2.n_tokens,
         |    CASE WHEN p.acc > 0 AND p.acc + d2.n_tokens > 256 THEN p.bin_id + 1 ELSE p.bin_id END,
         |    CASE WHEN p.acc > 0 AND p.acc + d2.n_tokens > 256 THEN d2.n_tokens ELSE p.acc + d2.n_tokens END
         |  FROM p JOIN d2 ON d2.lang = p.lang AND d2.rn = p.rn + 1)
         |SELECT lang, doc_id, n_tokens, bin_id FROM p""".stripMargin,

    // v4 replay, the full declared-pipeline composition: the seeded PII
    // injection, the classifier gate over the SEEDED text, the LM census
    // over the classifier-gated subset (the declared pipeline gates
    // sequentially — each census sees only prior survivors), the ordered
    // 4-pattern scrub, the pseudonymized source token, segment dedup over
    // the SCRUBBED tokens, and the greedy packing recursion by src_token
    "curation_pipeline_v4" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val ssn = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
      val phone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
      s"""WITH RECURSIVE
         |seeded AS (
         |  SELECT doc_id, source,
         |    text || ' contact user' || doc_id || '@mail.example.com ssn 123-45-67'
         |         || (doc_id % 90 + 10) AS text
         |  FROM documents),
         |ce AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
         |       FROM seeded),
         |cw AS (
         |  SELECT doc_id,
         |    CAST(floor((((('0x' || substr(md5(tok), 1, 8))::BIGINT % 1001) - 500) / 500.0) * 1048576.0) AS BIGINT) AS qw
         |  FROM ce),
         |cs AS (SELECT doc_id, count(*) AS n, sum(qw) AS q FROM cw GROUP BY doc_id),
         |cls AS (SELECT doc_id FROM cs WHERE (CAST(q AS DOUBLE) / n) / 1048576.0 + 0.0 > 0.0),
         |lt AS (SELECT s.doc_id, regexp_extract_all(lower(s.text), '[a-z0-9]+') AS toks
         |       FROM seeded s JOIN cls ON s.doc_id = cls.doc_id),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS g
         |  FROM lt),
         |c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY g),
         |c1 AS (SELECT split_part(g, ' ', 1) AS w, count(*) AS c1 FROM bg GROUP BY 1),
         |lp AS (
         |  SELECT b.doc_id, CAST(floor((CAST(c2.c2 AS DOUBLE) / c1.c1) * 1048576.0) AS BIGINT) AS q
         |  FROM bg b JOIN c2 ON b.g = c2.g JOIN c1 ON split_part(b.g, ' ', 1) = c1.w),
         |ls AS (SELECT doc_id, count(*) AS n, sum(q) AS qs FROM lp GROUP BY doc_id),
         |lmv AS (SELECT doc_id FROM ls WHERE (CAST(qs AS DOUBLE) / n) / 1048576.0 >= 0.033),
         |gated AS (
         |  SELECT s.doc_id, substr(md5(s.source || 'r12'), 1, 16) AS src_token,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      s.text, '$email', '[PII]', 'g'), '$ipv4', '[PII]', 'g'),
         |      '$ssn', '[PII]', 'g'), '$phone', '[PII]', 'g') AS scrubbed
         |  FROM seeded s JOIN cls ON s.doc_id = cls.doc_id
         |  JOIN lmv ON s.doc_id = lmv.doc_id),
         |gt AS (SELECT doc_id, regexp_extract_all(lower(scrubbed), '[a-z0-9]+') AS toks
         |       FROM gated),
         |ge AS (
         |  SELECT doc_id, CAST(u['i'] AS INT) AS seg_idx, u['seg'] AS seg FROM (
         |    SELECT doc_id, unnest(list_transform(range(0, greatest(1, (len(toks)+9)//10)),
         |      i -> {'i': i, 'seg': array_to_string(toks[i*10+1 : i*10+10], ' ')})) AS u
         |    FROM gt) t1),
         |gk AS (
         |  SELECT doc_id, seg_idx, seg,
         |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
         |  FROM ge),
         |gr AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(seg, ' ' ORDER BY seg_idx) AS dedup_text
         |  FROM gk WHERE rn = 1 GROUP BY doc_id),
         |surv AS (
         |  SELECT g.src_token, g.doc_id,
         |    CAST(len(regexp_extract_all(lower(COALESCE(gr.dedup_text, '')), '[a-z0-9]+')) AS BIGINT) AS n_tokens
         |  FROM gated g LEFT JOIN gr ON g.doc_id = gr.doc_id),
         |d2 AS (
         |  SELECT src_token, doc_id, n_tokens,
         |    row_number() OVER (PARTITION BY src_token ORDER BY doc_id) AS rn
         |  FROM surv),
         |p(src_token, rn, doc_id, n_tokens, bin_id, acc) AS (
         |  SELECT src_token, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
         |  FROM d2 WHERE rn = 1
         |  UNION ALL
         |  SELECT d2.src_token, d2.rn, d2.doc_id, d2.n_tokens,
         |    CASE WHEN p.acc > 0 AND p.acc + d2.n_tokens > 256 THEN p.bin_id + 1 ELSE p.bin_id END,
         |    CASE WHEN p.acc > 0 AND p.acc + d2.n_tokens > 256 THEN d2.n_tokens ELSE p.acc + d2.n_tokens END
         |  FROM p JOIN d2 ON d2.src_token = p.src_token AND d2.rn = p.rn + 1)
         |SELECT src_token, doc_id, n_tokens, bin_id FROM p""".stripMargin
    },

    // batch-perceptron iteration replay (3 unrolled iterations): integer
    // weights, exact integer margins, batch-synchronous updates — w1 is the
    // closed-form first step (w=0 ⇒ every margin 0 ⇒ every doc a miss)
    "classifier_train" ->
      s"""$perceptronReplayCtes
         |SELECT CAST(b AS BIGINT) AS bucket, CAST(w AS BIGINT) AS weight
         |FROM w3 WHERE w <> 0""".stripMargin,

    // the trained table scoring the corpus: same replay CTEs, then one
    // integer dot product per document (zero-weight buckets contribute 0,
    // so the unfiltered w3 scores identically to the emitted table)
    "trained_classifier_filter" ->
      s"""$perceptronReplayCtes,
         |fx AS (
         |  SELECT d, b, count(*) AS x FROM (
         |    SELECT doc_id AS d,
         |      ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b
         |    FROM (SELECT doc_id, unnest($sqlToks) AS tok FROM documents) q0) q1
         |  GROUP BY d, b),
         |sc AS (
         |  SELECT fx.d, sum(coalesce(w3.w, 0) * fx.x) AS score
         |  FROM fx LEFT JOIN w3 ON fx.b = w3.b GROUP BY fx.d)
         |SELECT dd.doc_id, CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
         |  CAST(CASE WHEN coalesce(sc.score, 0) > 0 THEN 1 ELSE -1 END AS BIGINT) AS predicted
         |FROM documents dd LEFT JOIN sc ON dd.doc_id = sc.d""".stripMargin,

    // hashed weight mirror: first 8 md5 hex chars parse to the same BIGINT in
    // both engines; the margin replays the fixed-point sum (floor(w*2^20) as
    // BIGINT — order-free) and the identical final double arithmetic
    "classifier_filter" ->
      s"""WITH e AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
         |w AS (
         |  SELECT doc_id,
         |    CAST(floor((((('0x' || substr(md5(tok), 1, 8))::BIGINT % 1001) - 500) / 500.0) * 1048576.0) AS BIGINT) AS qw
         |  FROM e),
         |s AS (SELECT doc_id, count(*) AS n_tokens, sum(qw) AS qsum FROM w GROUP BY doc_id)
         |SELECT d.doc_id,
         | CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
         | COALESCE((CAST(s.qsum AS DOUBLE) / s.n_tokens) / 1048576.0 + 0.0, 0.0) AS margin,
         | CAST(CASE WHEN COALESCE((CAST(s.qsum AS DOUBLE) / s.n_tokens) / 1048576.0 + 0.0, 0.0) > 0.0
         |      THEN 1 ELSE 0 END AS BIGINT) AS pass
         |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin,

    // bigram LM replay: the model (C2/C1 counts) and the per-doc mean
    // probability are integer counts + one divide, fixed-point-summed
    "lm_score" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS g
         |  FROM t),
         |c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY g),
         |c1 AS (SELECT split_part(g, ' ', 1) AS w, count(*) AS c1 FROM bg GROUP BY 1),
         |p AS (
         |  SELECT b.doc_id,
         |    CAST(floor((CAST(c2.c2 AS DOUBLE) / c1.c1) * 1048576.0) AS BIGINT) AS q
         |  FROM bg b JOIN c2 ON b.g = c2.g JOIN c1 ON split_part(b.g, ' ', 1) = c1.w),
         |s AS (SELECT doc_id, count(*) AS n_bigrams, sum(q) AS qs FROM p GROUP BY doc_id)
         |SELECT t.doc_id,
         | CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         | CASE WHEN s.n_bigrams > 0 THEN (CAST(s.qs AS DOUBLE) / s.n_bigrams) / 1048576.0
         |      ELSE 0.0 END AS avg_bigram_p
         |FROM t LEFT JOIN s ON t.doc_id = s.doc_id""".stripMargin,

    // the lm_score replay feeding ntile(3) per language; bucket profiles
    // sum exact longs (fixed-point floor(avg*2^30) — the avg is one
    // deterministic IEEE divide, identical in both engines)
    "ccnet_buckets" ->
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
         |    i -> toks[i+1] || ' ' || toks[i+2])) AS g
         |  FROM t),
         |c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY g),
         |c1 AS (SELECT split_part(g, ' ', 1) AS w, count(*) AS c1 FROM bg GROUP BY 1),
         |p AS (
         |  SELECT b.doc_id,
         |    CAST(floor((CAST(c2.c2 AS DOUBLE) / c1.c1) * 1048576.0) AS BIGINT) AS q
         |  FROM bg b JOIN c2 ON b.g = c2.g JOIN c1 ON split_part(b.g, ' ', 1) = c1.w),
         |s AS (SELECT doc_id, count(*) AS n_bigrams, sum(q) AS qs FROM p GROUP BY doc_id),
         |sc AS (
         |  SELECT d.doc_id, d.lang,
         |    CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |    CASE WHEN s.n_bigrams > 0 THEN (CAST(s.qs AS DOUBLE) / s.n_bigrams) / 1048576.0
         |         ELSE 0.0 END AS avg_bigram_p
         |  FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id),
         |b AS (
         |  SELECT lang, n_bigrams, avg_bigram_p,
         |    ntile(3) OVER (PARTITION BY lang ORDER BY avg_bigram_p DESC, doc_id) AS t
         |  FROM sc)
         |SELECT lang,
         |  CASE WHEN t = 1 THEN 'head' WHEN t = 2 THEN 'middle' ELSE 'tail' END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
         |  CAST(sum(CAST(floor(avg_bigram_p * 1073741824.0) AS BIGINT)) AS BIGINT) AS fp_score_sum
         |FROM b GROUP BY 1, 2""".stripMargin,

    // the bloom filter only PRUNES; the exact confirm makes the result equal
    // to the plain batch-minus-corpus anti-join this oracle states
    "incremental_dedup" ->
      """WITH batch AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 7 = 0),
        |keep AS (SELECT min(doc_id) AS doc_id FROM batch GROUP BY md5(text))
        |SELECT b.doc_id, b.lang FROM batch b JOIN keep k ON b.doc_id = k.doc_id
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 7 <> 0 AND md5(c.text) = md5(b.text))""".stripMargin,

    // identical admissions through the exact key-table probe (the table
    // only selects which rows pay the confirm join), so the oracle is the
    // same batch-minus-corpus anti-join
    "incremental_dedup_table" ->
      """WITH batch AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 7 = 0),
        |keep AS (SELECT min(doc_id) AS doc_id FROM batch GROUP BY md5(text))
        |SELECT b.doc_id, b.lang FROM batch b JOIN keep k ON b.doc_id = k.doc_id
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 7 <> 0 AND md5(c.text) = md5(b.text))""".stripMargin,

    // gated admission (keep-first per content) minus the tombstones — the
    // purge's manifest rewrite, key deletion and re-stamp all collapse to
    // this set difference
    "corpus_purge_roundtrip" ->
      """WITH batch AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 7 = 0),
        |keep AS (SELECT min(doc_id) AS doc_id FROM batch GROUP BY md5(text))
        |SELECT b.doc_id, b.lang FROM batch b JOIN keep k ON b.doc_id = k.doc_id
        |WHERE b.doc_id % 14 <> 0""".stripMargin,

    // the tombstone-log path: per-lang compliant counts are gated
    // admission minus the UNION of the two pending requests (same set
    // algebra as corpus_purge_roundtrip); the queue-contract flags
    // (below-threshold hold, one-rewrite flush, log retire) are
    // engine-verified and stated as literals
    "gdpr_tombstone_log" ->
      """WITH batch AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
        |keep AS (SELECT min(doc_id) AS doc_id FROM batch GROUP BY md5(text))
        |SELECT b.lang, CAST(count(*) AS BIGINT) AS n_compliant,
        |  CAST(1 AS BIGINT) AS held_below_threshold,
        |  CAST(1 AS BIGINT) AS post_purge_matches,
        |  CAST(1 AS BIGINT) AS log_retired
        |FROM batch b JOIN keep k ON b.doc_id = k.doc_id
        |WHERE NOT (b.doc_id % 15 = 0 OR b.doc_id % 20 = 0)
        |GROUP BY b.lang""".stripMargin,

    // a healthy index's report is all-true flags with exact per-batch doc
    // counts — the torn shapes are spec territory (StreamingSpec), the
    // healthy contract is the oracle's
    "bm25_fsck" ->
      """SELECT CAST(0 AS BIGINT) AS batch_id, CAST(1 AS BIGINT) AS committed,
        |  CAST(1 AS BIGINT) AS in_postings, CAST(1 AS BIGINT) AS in_stats,
        |  CAST(1 AS BIGINT) AS in_doclens,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 10 = 0)
        |    AS n_docs,
        |  CAST(1 AS BIGINT) AS ok
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        |  CAST(1 AS BIGINT), CAST(1 AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 10 = 5),
        |  CAST(1 AS BIGINT)""".stripMargin,

    // the composed flush: both sides restate from the same surviving set —
    // gated admission minus the requests' union. The corpus rows are the
    // per-lang set algebra; the topk rows are the plain BM25 mirror over
    // that set (the purged index is bitwise an index never holding the
    // docs); the queue/composition flags are engine-verified literals
    "gdpr_composed_flush" ->
      s"""WITH batch AS (
         |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 6 = 0),
         |keep AS (SELECT min(doc_id) AS doc_id FROM batch GROUP BY md5(text)),
         |adm AS (SELECT b.doc_id, b.lang, b.text
         |  FROM batch b JOIN keep k ON b.doc_id = k.doc_id),
         |surv AS (SELECT * FROM adm
         |  WHERE NOT (doc_id % 12 = 0 OR doc_id % 18 = 0)),
         |${sqlBm25(
             """SELECT * FROM (VALUES (0, 'spark join performance'),
               |  (1, 'window agg order'), (2, 'hash table scan'))
               |  AS v(query_id, qtext)""".stripMargin,
             "surv")}
         |SELECT 'corpus' AS kind, lang, CAST(count(*) AS BIGINT) AS n_compliant,
         |  CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS doc_id,
         |  CAST(NULL AS BIGINT) AS rank, CAST(NULL AS DOUBLE) AS score,
         |  CAST(1 AS BIGINT) AS log_retired, CAST(1 AS BIGINT) AS both_sides_forgot
         |FROM surv GROUP BY lang
         |UNION ALL
         |SELECT 'topk', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
         |  CAST(query_id AS BIGINT), doc_id, CAST(rank AS BIGINT), score,
         |  CAST(1 AS BIGINT), CAST(1 AS BIGINT)
         |FROM ranked WHERE rank <= 10""".stripMargin,

    // near-dup gate invariants: the LSH pruning uses xxhash kernels DuckDB
    // cannot replay, so the oracle states each check's guaranteed value as
    // a literal while Spark computes it by an independent exact method
    // (content digests, full gram-hash inverted index)
    "incremental_minhash_dedup" ->
      """SELECT 'total_batch' AS chk,
        |  CAST((SELECT count(*) FROM documents WHERE doc_id % 7 = 0) AS BIGINT) AS n
        |UNION ALL SELECT 'admitted_not_in_batch', 0
        |UNION ALL SELECT 'exact_clone_admitted', 0
        |UNION ALL SELECT 'within_admitted_exact_dupes', 0
        |UNION ALL SELECT 'near_clone_admitted', 0
        |UNION ALL SELECT 'rejected_ge_exact_clones', 1""".stripMargin,

    // greedy sequential packing replayed row-by-row per language: the
    // recursive CTE threads (bin, acc) through the id order — a new bin
    // opens exactly when the next doc does not fit (first doc always bin 0)
    "pack_sequences" ->
      s"""WITH RECURSIVE d AS (
         |  SELECT lang, doc_id, CAST(len($sqlToks) AS BIGINT) AS n_tokens,
         |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         |  FROM documents),
         |p(lang, rn, doc_id, n_tokens, bin_id, acc) AS (
         |  SELECT lang, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.lang, d.rn, d.doc_id, d.n_tokens,
         |    CASE WHEN p.acc > 0 AND p.acc + d.n_tokens > 256 THEN p.bin_id + 1 ELSE p.bin_id END,
         |    CASE WHEN p.acc > 0 AND p.acc + d.n_tokens > 256 THEN d.n_tokens ELSE p.acc + d.n_tokens END
         |  FROM p JOIN d ON d.lang = p.lang AND d.rn = p.rn + 1)
         |SELECT lang, doc_id, n_tokens, bin_id FROM p""".stripMargin,

    // the sampling family's decisions are pure Int64 hash arithmetic
    // (sqlUnitHash), so DuckDB replays every membership bit-for-bit
    "mixture_sample" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE ${sqlUnitHash("doc_id", 0)} <
         |  CASE WHEN source = 'src0' THEN CAST(1.0 AS DOUBLE)
         |       WHEN source = 'src1' THEN CAST(0.5 AS DOUBLE)
         |       WHEN source = 'src2' THEN CAST(0.25 AS DOUBLE)
         |       ELSE CAST(0.1 AS DOUBLE) END""".stripMargin,

    "dsir_select" ->
      // full replay of the DSIR surrogate: md5-hashed bigram buckets,
      // add-1-smoothed target/raw ratio (fixed IEEE op order), quantized
      // mean score, priority = score / ((hash+1)/2^32), top-60
      s"""WITH t AS (SELECT doc_id, lang, $sqlToks AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, lang = 'en' AS tgt,
         |    unnest(list_transform(range(0, greatest(len(toks) - 1, 0)),
         |      i -> toks[i+1] || ' ' || toks[i+2])) AS g
         |  FROM t),
         |occ AS (
         |  SELECT doc_id, tgt, ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS b
         |  FROM bg),
         |counts AS (
         |  SELECT b, count(*) AS rc, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tc
         |  FROM occ GROUP BY b),
         |tot AS (SELECT sum(rc) AS rtot, sum(tc) AS ttot FROM counts),
         |ratios AS (
         |  SELECT b, CAST(floor(
         |    ((CAST(tc + 1 AS DOUBLE) / CAST(ttot + 1024 AS DOUBLE)) /
         |     (CAST(rc + 1 AS DOUBLE) / CAST(rtot + 1024 AS DOUBLE))) * 1048576.0)
         |    AS BIGINT) AS qr
         |  FROM counts CROSS JOIN tot),
         |s AS (
         |  SELECT occ.doc_id, count(*) AS n_bigrams, sum(qr) AS qs
         |  FROM occ JOIN ratios USING (b) GROUP BY occ.doc_id),
         |f AS (
         |  SELECT d.doc_id,
         |    CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |    COALESCE((CAST(s.qs AS DOUBLE) / s.n_bigrams) / 1048576.0, 1.0) AS score
         |  FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id)
         |SELECT doc_id, n_bigrams, score,
         |  score / (CAST(((((doc_id % 2147483648) + 11) % 2147483648) * 2654435761) % 4294967296 + 1 AS DOUBLE)
         |           / 4294967296.0) AS priority
         |FROM f ORDER BY priority DESC, doc_id LIMIT 60""".stripMargin,

    "epoch_upsample" ->
      s"""WITH e AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN lang = 'de' THEN CAST(0.5 AS DOUBLE)
         |         WHEN lang = 'en' THEN CAST(2.3 AS DOUBLE)
         |         ELSE CAST(1.0 AS DOUBLE) END AS ep
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang,
         |    CAST(floor(ep) AS BIGINT) +
         |    CASE WHEN ${sqlUnitHash("doc_id", 7)} < ep - floor(ep)
         |         THEN 1 ELSE 0 END AS copies
         |  FROM e)
         |SELECT c.doc_id, c.lang, g.range AS epoch
         |FROM c, range(0, 3) g WHERE g.range < c.copies""".stripMargin,

    "uniform_stratum_sample" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang ORDER BY ${sqlUnitHash("doc_id", 3)}, doc_id) AS rn
         |  FROM documents) t WHERE rn <= 20""".stripMargin,

    // the two-phase salted window is exact, so the oracle is the classic
    // single-window per-source top-n it replaces
    "domain_cap" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars, row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) t WHERE rn <= 10""".stripMargin,

    "token_budget_select" ->
      s"""SELECT doc_id, lang, n_chars FROM (
         |  SELECT doc_id, lang, n_chars, sum(CAST(len($sqlToks) AS BIGINT)) OVER (
         |    PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM documents) t WHERE cum <= 2000""".stripMargin,

    "quantile_gate" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    cume_dist() OVER (PARTITION BY lang ORDER BY n_chars ASC) AS cd
        |  FROM documents) t WHERE cd > 0.25""".stripMargin,

    "train_order" ->
      s"""SELECT doc_id, ${sqlUnitHash("doc_id", 11)} AS shuffle_key
         |FROM documents ORDER BY shuffle_key, doc_id LIMIT 100""".stripMargin,

    // mirrors Multimodal's adapter contract closed-form: WAV = 44-byte header
    // + 2 bytes/sample; BMP = 54 + h*rowstride(4-padded); PPM = "P6\n{w} {h}\n
    // 255\n" + 3wh; AVI = 224-byte canonical headers + n*(8 + h*rowstride)
    // frames. RMS/means/duration = integer sums then one IEEE divide (+sqrt)
    // — exact in both engines. Video color stats come from frame 0 (f*101
    // term vanishes).
    "multimodal_features" ->
      """WITH m AS (
        |  SELECT doc_id, doc_id % 3 AS md,
        |    4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h,
        |    8000 + 4000 * (doc_id % 4) AS rate, 64 + doc_id % 97 AS ns,
        |    (doc_id // 3) % 2 = 0 AS is_bmp,
        |    3 + doc_id % 7 AS vn, 4 + doc_id % 6 AS vw, 4 + doc_id % 5 AS vh,
        |    33000 + 1000 * (doc_id % 8) AS uspf
        |  FROM documents)
        |SELECT doc_id AS media_id,
        | CASE md WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        | CAST(CASE
        |   WHEN md = 1 THEN 44 + 2 * ns
        |   WHEN md = 0 AND is_bmp THEN 54 + h * (((3 * w + 3) // 4) * 4)
        |   WHEN md = 0 THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3 * w * h
        |   ELSE 224 + vn * (8 + vh * (((3 * vw + 3) // 4) * 4)) END AS BIGINT) AS n_bytes,
        | CAST(CASE WHEN md = 1 THEN rate END AS BIGINT) AS sample_rate,
        | CASE WHEN md = 1 THEN CAST(ns AS DOUBLE) / rate
        |      WHEN md = 2 THEN CAST(vn * uspf AS DOUBLE) / 1000000.0 END AS duration_s,
        | CASE WHEN md = 1 THEN sqrt(CAST(list_sum(list_transform(range(0, ns),
        |   i -> ((doc_id*7919 + i*104729) % 4001 - 2000) * ((doc_id*7919 + i*104729) % 4001 - 2000))) AS DOUBLE) / ns) END AS rms,
        | CAST(CASE WHEN md = 0 THEN w WHEN md = 2 THEN vw END AS BIGINT) AS width,
        | CAST(CASE WHEN md = 0 THEN h WHEN md = 2 THEN vh END AS BIGINT) AS height,
        | CAST(CASE WHEN md = 2 THEN vn END AS BIGINT) AS n_frames,
        | CASE WHEN md = 0 THEN CAST(list_sum(list_transform(range(0, w*h), p -> (doc_id*31 + (p*3+0)*17) % 256)) AS DOUBLE)/(w*h)
        |      WHEN md = 2 THEN CAST(list_sum(list_transform(range(0, vw*vh), p -> (doc_id*31 + (p*3+0)*17) % 256)) AS DOUBLE)/(vw*vh) END AS mean_r,
        | CASE WHEN md = 0 THEN CAST(list_sum(list_transform(range(0, w*h), p -> (doc_id*31 + (p*3+1)*17) % 256)) AS DOUBLE)/(w*h)
        |      WHEN md = 2 THEN CAST(list_sum(list_transform(range(0, vw*vh), p -> (doc_id*31 + (p*3+1)*17) % 256)) AS DOUBLE)/(vw*vh) END AS mean_g,
        | CASE WHEN md = 0 THEN CAST(list_sum(list_transform(range(0, w*h), p -> (doc_id*31 + (p*3+2)*17) % 256)) AS DOUBLE)/(w*h)
        |      WHEN md = 2 THEN CAST(list_sum(list_transform(range(0, vw*vh), p -> (doc_id*31 + (p*3+2)*17) % 256)) AS DOUBLE)/(vw*vh) END AS mean_b,
        | CAST(1 AS BIGINT) AS decoded,
        | CAST(1 AS BIGINT) AS entropy_ok, CAST(1 AS BIGINT) AS hash_ok
        |FROM m""".stripMargin,

    // replays the AVI sampling mapping: src = (j*n)//3 (floor), then each
    // sampled frame's pixel function (doc_id*31 + src*101 + k*17) % 256
    "frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id, 3 + doc_id % 7 AS n, 4 + doc_id % 6 AS w, 4 + doc_id % 5 AS h
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT doc_id AS media_id, CAST(j.j AS BIGINT) AS frame_idx,
        | CAST((j.j * n) // 3 AS BIGINT) AS src_frame,
        | CAST(list_sum(list_transform(range(0, w*h), p -> (doc_id*31 + ((j.j*n)//3)*101 + (p*3+0)*17) % 256)) AS DOUBLE)/(w*h) AS mean_r,
        | CAST(list_sum(list_transform(range(0, w*h), p -> (doc_id*31 + ((j.j*n)//3)*101 + (p*3+1)*17) % 256)) AS DOUBLE)/(w*h) AS mean_g,
        | CAST(list_sum(list_transform(range(0, w*h), p -> (doc_id*31 + ((j.j*n)//3)*101 + (p*3+2)*17) % 256)) AS DOUBLE)/(w*h) AS mean_b
        |FROM v, (VALUES (0), (1), (2)) j(j)""".stripMargin,

    // replays WAV decode → 65-window energy partition → sign-of-difference
    // bits arithmetically (sample closed form, exact integer energies)
    "audio_fingerprint" -> {
      val bandCols = (0 until 8).map(k =>
        s" CAST(COALESCE(SUM(CASE WHEN j // 8 = $k THEN bit << (j % 8) END), 0) AS BIGINT) AS b$k")
        .mkString(",\n")
      s"""WITH a AS (
         |  SELECT doc_id, 64 + doc_id % 97 AS n FROM documents WHERE doc_id % 3 = 1),
         |e AS (
         |  SELECT doc_id, w.w AS w,
         |    COALESCE(list_sum(list_transform(range(w.w*n//65, (w.w+1)*n//65),
         |      i -> ((doc_id*7919 + i*104729) % 4001 - 2000) * ((doc_id*7919 + i*104729) % 4001 - 2000))), 0) AS en
         |  FROM a, range(0, 65) w(w)),
         |b AS (
         |  SELECT l.doc_id, l.w AS j, CASE WHEN r.en > l.en THEN 1 ELSE 0 END AS bit
         |  FROM e l JOIN e r ON r.doc_id = l.doc_id AND r.w = l.w + 1
         |  WHERE l.w < 64)
         |SELECT doc_id AS media_id,
         |$bandCols
         |FROM b GROUP BY doc_id""".stripMargin
    },

    // replays frame sampling (src = j·n/3) → per-frame dHash bits →
    // per-bit majority vote, all from the frame-pixel closed form
    "video_fingerprint" -> {
      val bandCols = (0 until 8).map(k =>
        s" CAST(COALESCE(SUM(CASE WHEN y = $k THEN bit << x END), 0) AS BIGINT) AS b$k")
        .mkString(",\n")
      s"""WITH m AS (
         |  SELECT doc_id, 3 + doc_id % 7 AS n, 4 + doc_id % 6 AS w, 4 + doc_id % 5 AS h
         |  FROM documents WHERE doc_id % 3 = 2),
         |g AS (
         |  SELECT doc_id, j.j AS j, x.x AS x, y.y AS y,
         |    list_sum(list_transform(range(0, 3), ch ->
         |      (doc_id*31 + ((j.j*n)//3)*101 + (((y.y*h//8)*w + (x.x*w//9))*3 + ch)*17) % 256)) AS gray
         |  FROM m, (VALUES (0), (1), (2)) j(j), range(0, 9) x(x), range(0, 8) y(y)),
         |b AS (
         |  SELECT l.doc_id, l.j AS j, l.x AS x, l.y AS y,
         |    CASE WHEN r.gray > l.gray THEN 1 ELSE 0 END AS bit
         |  FROM g l JOIN g r ON r.doc_id = l.doc_id AND r.j = l.j AND r.y = l.y AND r.x = l.x + 1
         |  WHERE l.x < 8),
         |v AS (
         |  SELECT doc_id, x, y, CASE WHEN SUM(bit) * 2 > 3 THEN 1 ELSE 0 END AS bit
         |  FROM b GROUP BY doc_id, x, y)
         |SELECT doc_id AS media_id,
         |$bandCols
         |FROM v GROUP BY doc_id""".stripMargin
    },

    // replays decode → 9×8 NN resample → grayscale → gradient-sign bits
    // arithmetically, so the whole perceptual-hash path is hash-checked
    "image_dhash" ->
      s"""WITH $dHashOracleCtes
         |SELECT media_id, b0, b1, b2, b3, b4, b5, b6, b7 FROM hs""".stripMargin,

    // replays the full near-dup pass: hashes, the 1-bit-perturbed variants,
    // the hamming<=2 pair set (all-pairs here — sound because the Spark
    // side's pigeonhole banding provably generates a superset of these
    // candidates), and the drop-larger-id keep rule
    "image_dedup" -> {
      val flipped = (0 until 8).map(k =>
        s"    CASE WHEN (media_id % 64) // 8 = $k THEN xor(b$k, 1 << (media_id % 8)) ELSE b$k END AS b$k")
        .mkString(",\n")
      val hamming = (0 until 8).map(k => s"bit_count(xor(aa.b$k, bb.b$k))").mkString(" + ")
      s"""WITH $dHashOracleCtes,
         |allh AS (
         |  SELECT media_id, b0, b1, b2, b3, b4, b5, b6, b7 FROM hs
         |  UNION ALL
         |  SELECT media_id + 1000000000 AS media_id,
         |$flipped
         |  FROM hs),
         |drops AS (
         |  SELECT DISTINCT bb.media_id AS media_id
         |  FROM allh aa JOIN allh bb ON aa.media_id < bb.media_id
         |  WHERE $hamming <= 2)
         |SELECT media_id FROM allh
         |WHERE media_id NOT IN (SELECT media_id FROM drops)""".stripMargin
    },

    // the LSH family runs xxhash64 kernels DuckDB doesn't ship; their
    // queries emit provable invariants of a correct run (see
    // SparkEntry.dedupInvariants) whose expected values the oracle states
    "minhash_dedup_docs" -> dedupInvariantsOracle,
    "simhash_dedup_docs" -> dedupInvariantsOracle,
    "ngram_jaccard_dedup_docs" -> dedupInvariantsOracle,

    "token_fingerprint" ->
      """SELECT 'total_docs' AS chk, CAST(count(*) AS BIGINT) AS n FROM documents
        |UNION ALL SELECT 'null_fingerprints', 0
        |UNION ALL SELECT 'inconsistent_groups', 0
        |UNION ALL SELECT 'fp_exceeds_texts', 0""".stripMargin,

    "embedding_norms" ->
      """SELECT vec_id,
        | sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |FROM embeddings""".stripMargin,

    "lang_id" ->
      s"""SELECT doc_id,
         | CASE ${langMarkersSql.map { case (l, m) => s"WHEN best > 0 AND s_$l = best THEN '$l'" }.mkString(" ")}
         |      ELSE 'und' END AS lang_pred
         |FROM (
         |  SELECT doc_id, greatest(${langMarkersSql.map("s_" + _._1).mkString(", ")}) AS best,
         |         ${langMarkersSql.map("s_" + _._1).mkString(", ")}
         |  FROM (
         |    SELECT doc_id,
         |      ${langMarkersSql.map { case (l, m) =>
               s"len(list_filter(toks, t -> list_contains($m, t))) AS s_$l"
             }.mkString(",\n      ")}
         |    FROM (
         |      SELECT doc_id,
         |        list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS toks
         |      FROM documents) t0) t1) t2""".stripMargin,

    "ann_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, ${sqlCos("e.embedding", "q.qv")} AS score
         |FROM embeddings e, q
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,

    "ann_topk_join" ->
      s"""WITH qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5)
         |SELECT query_id, vec_id, score FROM (
         |  SELECT query_id, vec_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
         |  FROM (
         |    SELECT q.query_id, e.vec_id, ${sqlCos("e.embedding", "q.qv")} AS score
         |    FROM embeddings e, qs q) s) t
         |WHERE rn <= 5""".stripMargin,

    // replays the symmetric int8 quantization (floor(x*127/max|x|), clamp to
    // [-127,127], zero vector -> zeros), the exact integer dot, and the
    // identical double rescale sequence (idot * s_corpus) * s_query
    "quantized_ann" ->
      s"""WITH m AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
         |  FROM embeddings),
         |q8 AS (
         |  SELECT vec_id, ma / 127.0 AS s,
         |    list_transform(embedding, x ->
         |      CASE WHEN ma = 0 THEN 0
         |           ELSE greatest(-127, least(127, CAST(floor(CAST(x AS DOUBLE) * 127.0 / ma) AS BIGINT))) END) AS q
         |  FROM m),
         |qv AS (SELECT q AS qq, s AS qs FROM q8 WHERE vec_id = 0)
         |SELECT c.vec_id,
         | (CAST(list_sum(list_transform(range(1, len(c.q)+1), i -> c.q[i] * qv.qq[i])) AS DOUBLE) * c.s) * qv.qs AS qscore
         |FROM q8 c, qv
         |ORDER BY qscore DESC, c.vec_id LIMIT 10""".stripMargin,

    // replays the deterministic JL sign matrix: sign(i,j) = top bit of the
    // LCG over the flat index (1103515245*(i*D+j) + 12345) mod 2^31, inner
    // sum sequential over j — DuckDB's list_sum over a DOUBLE list is a
    // sequential fold, so the projection doubles match bit-for-bit
    "jl_project_check" ->
      s"""WITH proj AS (
         |  SELECT vec_id, list_transform(range(0, 8), i ->
         |    list_sum(list_transform(range(0, len(embedding)), j ->
         |      CASE WHEN ((1103515245 * (i * len(embedding) + j) + 12345) % 2147483648) >= 1073741824
         |           THEN CAST(embedding[j+1] AS DOUBLE)
         |           ELSE -CAST(embedding[j+1] AS DOUBLE) END))) AS p
         |  FROM embeddings)
         |SELECT vec_id, p[1] AS p0, p[2] AS p1, p[3] AS p2, p[4] AS p3,
         |       p[5] AS p4, p[6] AS p5, p[7] AS p6, p[8] AS p7
         |FROM proj""".stripMargin,

    "jl_ann_topk" ->
      s"""WITH proj AS (
         |  SELECT vec_id, list_transform(range(0, 8), i ->
         |    list_sum(list_transform(range(0, len(embedding)), j ->
         |      CASE WHEN ((1103515245 * (i * len(embedding) + j) + 12345) % 2147483648) >= 1073741824
         |           THEN CAST(embedding[j+1] AS DOUBLE)
         |           ELSE -CAST(embedding[j+1] AS DOUBLE) END))) AS p
         |  FROM embeddings),
         |qv AS (SELECT p AS q FROM proj WHERE vec_id = 0)
         |SELECT proj.vec_id,
         |  list_sum(list_transform(range(1, 9), i ->
         |    (proj.p[i] - qv.q[i]) * (proj.p[i] - qv.q[i]))) AS pdist
         |FROM proj, qv
         |ORDER BY pdist ASC, proj.vec_id ASC LIMIT 10""".stripMargin,

    // the full PQ lifecycle replay: 8 per-subspace Lloyd codebooks, final
    // slice assignments, driver-identical ADC lookup table, sequential sum
    "pq_ann_topk" -> sqlPqOracle(trainFraction = 0.5),
    // the same replay continued through the refine: ADC top-50 shortlist,
    // exact float-dot rerank over only the shortlisted vectors
    "pq_ann_refined" -> sqlPqOracle(refine = true, trainFraction = 0.5),
    // coarse chain + PQ chain composed; probes ranked as IvfModel.nearestLists
    "ivfpq_topk" -> sqlIvfPqOracle(trainFraction = 0.5),

    "ivf_topk" ->
      // mirrors the DISTRIBUTED k-means codebook build EXACTLY (Similarity
      // .trainCodebook): first-nlist-by-id seeding (no count() pre-pass),
      // two Lloyd iterations over the FULL corpus where assignment is argmax
      // cosine with lowest-index ties and per-dimension sums accumulate in
      // FIXED-POINT — floor(x*2^20) as BIGINT is IEEE-exact and the integer
      // sum is order-free, which is exactly why the Spark side is bitwise
      // deterministic at any parallelism and this mirror needs no
      // accumulation-order tricks. Means divide back in double, empty
      // clusters keep the previous centroid, each iteration's centroids
      // round to REAL; then assignment over the full table + nprobe probe
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |${sqlKmeansAssignAll()},
         |probes AS (
         |  SELECT cidx FROM (
         |    SELECT c.cidx, row_number() OVER (
         |      ORDER BY ${sqlCos("q.qv", "c.cv")} DESC, c.cidx) AS rn
         |    FROM c2 c, q) p WHERE rn <= 4)
         |SELECT a.vec_id, ${sqlCos("a.embedding", "q.qv")} AS score
         |FROM afull a, q
         |WHERE a.cidx IN (SELECT cidx FROM probes)
         |ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin,

    // the purged layout read back must be the Lloyd replay minus the
    // tombstoned ids — the whole maintenance path (discovery, pruned
    // rewrite, metadata swap) collapses to this set difference
    "index_purge_roundtrip" ->
      s"""WITH ${sqlKmeansAssignAll()}
         |SELECT vec_id, CAST(cidx AS BIGINT) AS centroid_id
         |FROM afull WHERE vec_id % 13 <> 0""".stripMargin,

    "semantic_dedup" ->
      // replay the distributed k-means (see sqlKmeansAssignAll) then prune
      // WITHIN clusters only: any vector cosine-similar (>= 0.95) to a
      // smaller id in its own cluster drops — SemDeDup's candidate scoping
      s"""WITH ${sqlKmeansAssignAll()},
         |drops AS (
         |  SELECT DISTINCT r.vec_id
         |  FROM afull l JOIN afull r
         |    ON l.cidx = r.cidx AND l.vec_id < r.vec_id
         |  WHERE ${sqlCos("l.embedding", "r.embedding")} >= 0.95)
         |SELECT a.vec_id, CAST(a.cidx AS BIGINT) AS centroid_id
         |FROM afull a
         |WHERE a.vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin,

    "kmeans_clusters" ->
      // replay the distributed Lloyd (sqlKmeansAssignAll), then profile each
      // cluster: the mean cosine accumulates the same fixed-point longs as
      // the Spark side, so the profile compares bitwise
      s"""WITH ${sqlKmeansAssignAll()}
         |SELECT CAST(a.cidx AS BIGINT) AS centroid_id,
         |  count(*) AS n_vectors,
         |  (CAST(sum(CAST(floor(${sqlCos("a.embedding", "c.cv")} * 1048576.0) AS BIGINT)) AS DOUBLE)
         |    / count(*)) / 1048576.0 AS mean_cos
         |FROM afull a JOIN c2 c ON c.cidx = a.cidx
         |GROUP BY a.cidx""".stripMargin,

    "cluster_balanced_sample" ->
      s"""WITH ${sqlKmeansAssignAll()}
         |SELECT vec_id, CAST(cidx AS BIGINT) AS centroid_id FROM (
         |  SELECT vec_id, cidx,
         |    row_number() OVER (PARTITION BY cidx
         |      ORDER BY ${sqlUnitHash("vec_id", 0L)} ASC, vec_id) AS rn
         |  FROM afull) t
         |WHERE rn <= 8""".stripMargin,

    "knn_classify" ->
      s"""WITH qs AS (
         |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.query_id, e.vec_id, e.label,
         |    ${sqlCos("e.embedding", "q.qv")} AS score
         |  FROM embeddings e, qs q WHERE e.vec_id >= 5),
         |top10 AS (
         |  SELECT query_id, label FROM (
         |    SELECT query_id, label,
         |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
         |    FROM scored) s WHERE rn <= 10),
         |votes AS (
         |  SELECT query_id, label, count(*) AS votes FROM top10 GROUP BY query_id, label)
         |SELECT query_id, CAST(label AS BIGINT) AS predicted_label, votes FROM (
         |  SELECT query_id, label, votes,
         |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
         |  FROM votes) v
         |WHERE rn = 1""".stripMargin,

    "containment_dedup" ->
      // rare-shingle containment: same 5-token shingles, same df<=100 cut,
      // same integer-ratio arithmetic as Dedup.containmentScores
      s"""WITH $sqlRareKept,
         |denom AS (SELECT doc_id, count(*) AS n_rare FROM kept GROUP BY doc_id),
         |pairs AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
         |  FROM kept l JOIN kept r ON l.s = r.s AND l.doc_id <> r.doc_id
         |  GROUP BY l.doc_id, r.doc_id),
         |best AS (
         |  SELECT p.a AS doc_id, max(CAST(p.common AS DOUBLE) / d.n_rare) AS best_c
         |  FROM pairs p JOIN denom d ON d.doc_id = p.a
         |  GROUP BY p.a)
         |SELECT d.doc_id,
         |  CAST(COALESCE(n.n_rare, 0) AS BIGINT) AS n_rare_shingles,
         |  COALESCE(b.best_c, 0.0) AS best_containment,
         |  CAST(CASE WHEN COALESCE(b.best_c, 0.0) >= 0.9 THEN 1 ELSE 0 END AS BIGINT) AS contained
         |FROM documents d
         |LEFT JOIN denom n ON n.doc_id = d.doc_id
         |LEFT JOIN best b ON b.doc_id = d.doc_id""".stripMargin,

    "embed_dedup" ->
      s"""WITH planes(pid, pv) AS (VALUES
         |  ${sqlPlanes(32, 64)}),
         |sig AS (
         |  SELECT e.vec_id, e.embedding,
         |    sum(CASE WHEN ${sqlDot("e.embedding", "p.pv")} >= 0
         |             THEN 1::BIGINT << p.pid ELSE 0 END)::BIGINT AS sign
         |  FROM embeddings e, planes p GROUP BY e.vec_id, e.embedding),
         |banded AS (
         |  SELECT vec_id, embedding, b.band, (sign >> (b.band * 16)) & 65535 AS bucket
         |  FROM sig, (VALUES (0), (1)) b(band)),
         |drops AS (
         |  SELECT DISTINCT r.vec_id
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id
         |  WHERE ${sqlCos("l.embedding", "r.embedding")} >= 0.95)
         |SELECT e.vec_id FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin,

    "embed_dedup_cc" ->
      // same LSH pair generation as embed_dedup, then transitive closure via
      // a recursive CTE: walk(id, lab) enumerates reachable nodes, min per
      // id is the component representative
      s"""WITH RECURSIVE planes(pid, pv) AS (VALUES
         |  ${sqlPlanes(32, 64)}),
         |sig AS (
         |  SELECT e.vec_id, e.embedding,
         |    sum(CASE WHEN ${sqlDot("e.embedding", "p.pv")} >= 0
         |             THEN 1::BIGINT << p.pid ELSE 0 END)::BIGINT AS sign
         |  FROM embeddings e, planes p GROUP BY e.vec_id, e.embedding),
         |banded AS (
         |  SELECT vec_id, embedding, b.band, (sign >> (b.band * 16)) & 65535 AS bucket
         |  FROM sig, (VALUES (0), (1)) b(band)),
         |edges AS (
         |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id
         |  WHERE ${sqlCos("l.embedding", "r.embedding")} >= 0.95),
         |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
         |nodes AS (SELECT DISTINCT a AS id FROM sym),
         |walk(id, lab) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT w.id, s.b FROM walk w JOIN sym s ON s.a = w.lab),
         |comp AS (SELECT id, min(lab) AS label FROM walk GROUP BY id)
         |SELECT e.vec_id FROM embeddings e
         |WHERE e.vec_id NOT IN (SELECT id FROM comp WHERE label <> id)""".stripMargin,

    "dup_cluster_sizes" ->
      // same LSH pair generation + recursive-CTE transitive closure as
      // embed_dedup_cc, aggregated to the cluster-size histogram
      s"""WITH RECURSIVE planes(pid, pv) AS (VALUES
         |  ${sqlPlanes(32, 64)}),
         |sig AS (
         |  SELECT e.vec_id, e.embedding,
         |    sum(CASE WHEN ${sqlDot("e.embedding", "p.pv")} >= 0
         |             THEN 1::BIGINT << p.pid ELSE 0 END)::BIGINT AS sign
         |  FROM embeddings e, planes p GROUP BY e.vec_id, e.embedding),
         |banded AS (
         |  SELECT vec_id, embedding, b.band, (sign >> (b.band * 16)) & 65535 AS bucket
         |  FROM sig, (VALUES (0), (1)) b(band)),
         |edges AS (
         |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         |  FROM banded l JOIN banded r
         |    ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id
         |  WHERE ${sqlCos("l.embedding", "r.embedding")} >= 0.95),
         |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
         |nodes AS (SELECT DISTINCT a AS id FROM sym),
         |walk(id, lab) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT w.id, s.b FROM walk w JOIN sym s ON s.a = w.lab),
         |comp AS (SELECT id, min(lab) AS label FROM walk GROUP BY id),
         |all_sizes AS (
         |  SELECT cluster_size FROM (
         |    SELECT label, count(*) AS cluster_size FROM comp GROUP BY label) s
         |  UNION ALL
         |  SELECT 1 AS cluster_size FROM embeddings
         |  WHERE vec_id NOT IN (SELECT id FROM comp))
         |SELECT cluster_size, count(*) AS n_clusters FROM all_sizes GROUP BY cluster_size""".stripMargin,

    "entity_resolution" ->
      // same blocking + levenshtein edges, transitive closure via the
      // recursive-CTE walk, unmatched records resolve to themselves
      """WITH RECURSIVE c AS (
        |  SELECT c_custkey AS k, c_name AS nm,
        |    substr(c_name, 1, length(c_name) - 2) AS blk
        |  FROM customer),
        |e AS (
        |  SELECT a.k AS a, b.k AS b FROM c a JOIN c b
        |  ON a.blk = b.blk AND a.k < b.k AND levenshtein(a.nm, b.nm) <= 1),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |nodes AS (SELECT DISTINCT a AS id FROM sym),
        |walk(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT w.id, s.b FROM walk w JOIN sym s ON s.a = w.lab),
        |comp AS (SELECT id, min(lab) AS label FROM walk GROUP BY id),
        |asg AS (
        |  SELECT c.k AS c_custkey, coalesce(comp.label, c.k) AS entity_id
        |  FROM c LEFT JOIN comp ON c.k = comp.id)
        |SELECT c_custkey, entity_id,
        |  count(*) OVER (PARTITION BY entity_id) AS entity_size
        |FROM asg""".stripMargin,

    "stats_moments" ->
      """SELECT l_returnflag, n,
        | sx / nd AS mean_qty,
        | (nd * sx2 - sx * sx) / (nd * (nd - 1.0)) AS var_qty,
        | sqrt((nd * sx2 - sx * sx) / (nd * (nd - 1.0))) AS std_qty,
        | (nd * sxy - sx * sy) /
        |   (sqrt(nd * sx2 - sx * sx) * sqrt(nd * sy2 - sy * sy)) AS corr_qty_price
        |FROM (
        |  SELECT l_returnflag, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx_d AS DOUBLE) AS sx, CAST(sx2_d AS DOUBLE) AS sx2,
        |    CAST(sy_d AS DOUBLE) AS sy, CAST(sy2_d AS DOUBLE) AS sy2, CAST(sxy_d AS DOUBLE) AS sxy
        |  FROM (
        |    SELECT l_returnflag, count(*) AS n,
        |      sum(x) AS sx_d, sum(x * x) AS sx2_d,
        |      sum(y) AS sy_d, sum(y * y) AS sy2_d, sum(x * y) AS sxy_d
        |    FROM (SELECT l_returnflag,
        |            CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |            CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |          FROM lineitem) t0
        |    GROUP BY l_returnflag) t1) t2""".stripMargin,

    "percentile_qty" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.25) AS p25,
        | quantile_cont(l_quantity, 0.5) AS p50,
        | quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "histogram_price" ->
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
        | count(*) AS cnt, min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders GROUP BY 1""".stripMargin,

    "token_counts_topk" ->
      s"""SELECT token, count(*) AS cnt
         |FROM (SELECT unnest($sqlToks) AS token FROM documents) t
         |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    "top_bigrams" ->
      s"""SELECT bigram, count(*) AS cnt
         |FROM (
         |  SELECT unnest(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
         |                ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |                END) AS bigram
         |  FROM (SELECT $sqlToks AS toks FROM documents) t0) t1
         |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin,

    "pseudonymize_users" ->
      """SELECT substr(md5(user_id || 'r11'), 1, 16) AS user_token,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,

    // the round-trip's fixed point: what went to the text files must come
    // back, byte-identical — no file access needed in the oracle
    "text_corpus_roundtrip" ->
      "SELECT doc_id, text FROM documents WHERE doc_id < 40",

    // replays the seeded injection and the ordered redaction chain; the
    // patterns are the RE2-safe subset where Java regex and DuckDB match
    // span-for-span, and counts run on the pre-redaction text
    "pii_census" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val ssn = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
      val phone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id || '@mail.example.com ip 10.0.'
         |         || (doc_id % 256) || '.' || (doc_id % 250)
         |         || ' ssn 123-45-67' || (doc_id % 90 + 10)
         |         || ' tel 555-867-5309' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS pii_email,
         |  CAST(len(regexp_extract_all(text, '$ipv4')) AS BIGINT) AS pii_ipv4,
         |  CAST(len(regexp_extract_all(text, '$ssn')) AS BIGINT) AS pii_ssn,
         |  CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS pii_phone,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    text, '$email', '[PII]', 'g'), '$ipv4', '[PII]', 'g'),
         |    '$ssn', '[PII]', 'g'), '$phone', '[PII]', 'g') AS scrubbed
         |FROM seeded""".stripMargin
    },
    "quality_filter" ->
      s"""SELECT doc_id, n_tokens, stopword_ratio FROM (
         |  SELECT doc_id,
         |    CAST(len(toks) AS INT) AS n_tokens,
         |    CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS punct_ratio,
         |    CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','by','at','from','it','this','that'], t))) AS DOUBLE) / len(toks) ELSE 0.0 END AS stopword_ratio
         |  FROM (SELECT doc_id, text, $sqlToks AS toks FROM documents) t0) t1
         |WHERE n_tokens >= 10 AND punct_ratio <= 0.1 AND stopword_ratio >= 0.05""".stripMargin,

    "pii_scrub" ->
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |     'https?://[^ ]+', '<URL>', 'g'),
        |   '[0-9]+', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin,

    "salted_join_agg" ->
      """SELECT o_custkey, count(*) AS n_items,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_custkey""".stripMargin,

    "trailing_window_sum" ->
      """SELECT o_orderkey, o_custkey, days,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY days
        |   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trail30
        |FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS days
        |  FROM orders) t""".stripMargin,

    "array_funcs_docs" ->
      s"""SELECT doc_id,
         | CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
         | array_to_string(toks[1:3], ' ') AS first3,
         | list_contains(toks, 'the') AS has_the
         |FROM (SELECT doc_id, $sqlToks AS toks FROM documents) t""".stripMargin,

    "null_cond_funcs" ->
      """SELECT o_orderkey,
        | greatest(o_totalprice, 100000.0) AS g,
        | least(o_totalprice, 100000.0) AS l,
        | CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS nn,
        | coalesce(CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END, -1.0) AS co
        |FROM orders""".stripMargin,

    "distinct_pairs" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |WHERE event_type IN ('signup', 'error')""".stripMargin,

    "union_byname_mixed" ->
      """SELECT event_id, user_id, NULL AS value FROM events WHERE event_type = 'signup'
        |UNION ALL BY NAME
        |SELECT event_id, user_id, value FROM events WHERE event_type = 'error'""".stripMargin,

    "collect_set_sorted" ->
      """SELECT user_id,
        | array_to_string(list_sort(list(DISTINCT event_id)), ',') AS event_ids,
        | count(*) AS cnt
        |FROM events WHERE event_type = 'purchase' GROUP BY user_id""".stripMargin,

    "doc_chunks" ->
      s"""SELECT doc_id, CAST(c['idx'] AS INT) AS chunk_idx, c['chunk'] AS chunk FROM (
         |  SELECT doc_id, unnest(list_transform(range(0, nch),
         |    i -> {'idx': i, 'chunk': array_to_string(toks[i*40+1 : i*40+50], ' ')})) AS c
         |  FROM (SELECT doc_id, toks,
         |          greatest(0, CAST(ceil((len(toks) - 50) / 40.0) AS BIGINT)) + 1 AS nch
         |        FROM (SELECT doc_id, $sqlToks AS toks FROM documents) t0
         |        WHERE len(toks) > 0) t1) t2""".stripMargin,

    "stratified_sample" ->
      s"""SELECT doc_id, lang, stopword_ratio, rnk FROM (
         |  SELECT doc_id, lang, stopword_ratio,
         |    row_number() OVER (PARTITION BY lang ORDER BY stopword_ratio DESC, doc_id) AS rnk
         |  FROM (
         |    SELECT doc_id, lang,
         |      CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','by','at','from','it','this','that'], t))) AS DOUBLE) / len(toks) ELSE 0.0 END AS stopword_ratio
         |    FROM (SELECT doc_id, lang, $sqlToks AS toks FROM documents) t0) t1) t2
         |WHERE rnk <= 20""".stripMargin,

    // resized 8x6: n_bytes closed-form per container (BMP 54+6*24=198,
    // PPM 9+1+1+144=155); means replay the nearest-neighbor mapping
    // src = ((r*h)//6, (c*w)//8) over the doc_id-parameterized pixel function
    "resize_meta" ->
      """WITH m AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h,
        |    (doc_id // 3) % 2 = 0 AS is_bmp
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id AS media_id,
        | CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
        | CAST(CASE WHEN is_bmp THEN 198 ELSE 155 END AS BIGINT) AS n_bytes,
        | CAST(list_sum(list_transform(range(0, 48),
        |   k -> (doc_id*31 + (((((k // 8) * h) // 6) * w + ((k % 8) * w) // 8) * 3 + 0) * 17) % 256)) AS DOUBLE)/48 AS mean_r,
        | CAST(list_sum(list_transform(range(0, 48),
        |   k -> (doc_id*31 + (((((k // 8) * h) // 6) * w + ((k % 8) * w) // 8) * 3 + 1) * 17) % 256)) AS DOUBLE)/48 AS mean_g,
        | CAST(list_sum(list_transform(range(0, 48),
        |   k -> (doc_id*31 + (((((k // 8) * h) // 6) * w + ((k % 8) * w) // 8) * 3 + 2) * 17) % 256)) AS DOUBLE)/48 AS mean_b
        |FROM m""".stripMargin,

    "subword_counts" ->
      s"""SELECT doc_id,
         | CAST(CASE WHEN len(toks) = 0 THEN 0
         |      ELSE list_sum(list_transform(toks,
         |             t -> greatest(1, CAST(ceil(length(t) / 4.0) AS BIGINT)))) END AS BIGINT) AS n_subwords
         |FROM (SELECT doc_id, $sqlToks AS toks FROM documents) t""".stripMargin,

    "bpe_merges" ->
      s"""WITH ${sqlBpeSteps(8)}
         |${(1 to 8).map(k => s"SELECT step, pair, cnt FROM b$k").mkString("\n UNION ALL ")}""".stripMargin,

    "bpe_segment" -> {
      // replay the 8 learned merges per word: wrap chars, then the literal
      // bracket-form replace chain (same greedy semantics as the engine —
      // see Bpe.scala's encoding argument), then re-extract symbols
      val chain = (1 to 8).foldLeft("regexp_replace(w, '(.)', '(\\1)', 'g')") { (acc, k) =>
        s"replace($acc, '(' || split_part(m$k, ' ', 1) || ')(' || " +
          s"split_part(m$k, ' ', 2) || ')', '(' || replace(m$k, ' ', '') || ')')"
      }
      s"""WITH ${sqlBpeSteps(8)},
         |m AS (SELECT ${(1 to 8).map(k =>
        // COALESCE('') guards early exhaustion: an empty b_k would make the
        // scalar subselect NULL and NULL the whole replace chain, while the
        // engine replays only the merges actually learned. '' turns the
        // replace into a no-op ('()()' can never occur — symbols are
        // nonempty [a-z0-9]+), matching the engine's behavior exactly.
        s"coalesce((SELECT pair FROM b$k), '') AS m$k").mkString(", ")}),
         |t AS (SELECT doc_id, $sqlToks AS toks FROM documents)
         |SELECT doc_id, array_to_string(sw, ' ') AS subwords,
         |  CAST(len(sw) AS BIGINT) AS n_subwords
         |FROM (
         |  SELECT doc_id, flatten(list_transform(toks,
         |    w -> regexp_extract_all($chain, '\\(([a-z0-9]+)\\)', 1))) AS sw
         |  FROM t CROSS JOIN m)""".stripMargin
    },

    "sql_surface_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1)
         |SELECT e.vec_id, ${sqlCos("e.embedding", "q.qv")} AS score
         |FROM embeddings e, q
         |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin,

    "weighted_mix" ->
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id % 10 < CASE lang WHEN 'en' THEN 2 WHEN 'es' THEN 5
        |  WHEN 'de' THEN 5 WHEN 'fr' THEN 8 WHEN 'zh' THEN 8 ELSE 0 END""".stripMargin,

    "json_sink_roundtrip" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase'""".stripMargin,

    "null_safe_join" ->
      """WITH l AS (SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events),
        |counts AS (SELECT k, count(*) AS cnt FROM l GROUP BY k)
        |SELECT l.event_id, l.k, c.cnt
        |FROM l JOIN counts c ON l.k IS NOT DISTINCT FROM c.k""".stripMargin,

    // COALESCE(len, 0): regexp_extract_all(NULL) is NULL in DuckDB, while the
    // Spark side's explode_outer + count(token) yields 0 with one row — a
    // NULL text document must not diverge the hash gate
    "explode_outer_tokens" ->
      s"""SELECT doc_id,
         | CAST(COALESCE(len(toks), 0) AS BIGINT) AS n_tokens,
         | CAST(greatest(1, COALESCE(len(toks), 0)) AS BIGINT) AS n_rows
         |FROM (SELECT doc_id, $sqlToks AS toks FROM documents) t""".stripMargin,

    "curation_pipeline" ->
      s"""WITH quality AS (
         |  SELECT doc_id, lang, text, stopword_ratio FROM (
         |    SELECT doc_id, lang, text,
         |      CAST(len(toks) AS INT) AS n_tokens,
         |      CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','by','at','from','it','this','that'], t))) AS DOUBLE) / len(toks) ELSE 0.0 END AS stopword_ratio
         |    FROM (SELECT doc_id, lang, text, $sqlToks AS toks FROM documents) t0) t1
         |  WHERE n_tokens >= 10 AND stopword_ratio >= 0.05
         |    AND lang IN ('en', 'es', 'de')),
         |deduped AS (
         |  SELECT doc_id, lang, stopword_ratio FROM (
         |    SELECT doc_id, lang, stopword_ratio,
         |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dd
         |    FROM quality) t WHERE dd = 1)
         |SELECT doc_id, lang, rnk FROM (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY stopword_ratio DESC, doc_id) AS rnk
         |  FROM deduped) t
         |WHERE rnk <= 50""".stripMargin,

    "tfidf_top_terms" ->
      s"""WITH toks AS (SELECT doc_id, unnest($sqlToks) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT doc_id, token, score FROM (
         |  SELECT tf.doc_id, tf.token,
         |    CAST(tf.tf AS DOUBLE) * n.n / df.df AS score,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY CAST(tf.tf AS DOUBLE) * n.n / df.df DESC, tf.token) AS rn
         |  FROM tf JOIN df USING (token), n) t
         |WHERE rn <= 3""".stripMargin,

    "approx_distinct" ->
      """SELECT 'exact_custkeys' AS chk, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n FROM orders
        |UNION ALL SELECT 'approx_within_5pct', 1""".stripMargin,

    // the exact rolling distinct is replayed on the same day grid; the HLL
    // union's envelope is the stated invariant (lgK=14 ≈ 0.8% rse — 5% is
    // a >6-sigma bound)
    "rolling_distinct_users" ->
      """WITH days AS (
        |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
        |e AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS eday, user_id FROM events)
        |SELECT CAST(d.day AS VARCHAR) AS day,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS exact_users,
        |  CAST(1 AS BIGINT) AS within_5pct
        |FROM days d JOIN e ON e.eday BETWEEN d.day - INTERVAL 6 DAY AND d.day
        |GROUP BY d.day""".stripMargin,

    "bloom_prune_check" ->
      """SELECT 'orders_total' AS chk, CAST(count(*) AS BIGINT) AS n FROM orders
        |UNION ALL SELECT 'building_orders', CAST((
        |  SELECT count(*) FROM orders o
        |  JOIN (SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') c
        |    ON o.o_custkey = c.c_custkey) AS BIGINT)
        |UNION ALL SELECT 'bloom_false_negatives', 0
        |UNION ALL SELECT 'bloom_prunes_nonmatches', 1""".stripMargin,

    "unpivot_metrics" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""".stripMargin,

    "orc_sink_roundtrip" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'click'""".stripMargin,

    // image branch of the media closed form (multimodal_features): the
    // payloads round-trip through loose files and the binaryFile source, so
    // a correct run reproduces the same decoded features
    "binary_ingest" ->
      """WITH m AS (
        |  SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 7 AS h,
        |    (doc_id // 3) % 2 = 0 AS is_bmp
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id AS media_id,
        | CAST(CASE WHEN is_bmp THEN 54 + h * (((3 * w + 3) // 4) * 4)
        |   ELSE 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3 * w * h
        |   END AS BIGINT) AS n_bytes,
        | CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        | CAST(list_sum(list_transform(range(0, w*h), p -> (doc_id*31 + (p*3+0)*17) % 256)) AS DOUBLE)/(w*h) AS mean_r,
        | CAST(list_sum(list_transform(range(0, w*h), p -> (doc_id*31 + (p*3+1)*17) % 256)) AS DOUBLE)/(w*h) AS mean_g,
        | CAST(list_sum(list_transform(range(0, w*h), p -> (doc_id*31 + (p*3+2)*17) % 256)) AS DOUBLE)/(w*h) AS mean_b
        |FROM m""".stripMargin,

    "unicode_fold" ->
      """SELECT doc_id, lower(strip_accents(nfc_normalize(text))) AS folded
        |FROM documents""".stripMargin,

    "approx_quantile_check" ->
      """SELECT 'total_rows' AS chk, CAST(count(*) AS BIGINT) AS n FROM lineitem
        |UNION ALL SELECT 'p50_within_eps', 1
        |UNION ALL SELECT 'p95_within_eps', 1""".stripMargin,

    "merge_schema_scan" ->
      """SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value FROM events
        |WHERE event_type = 'view'
        |UNION ALL
        |SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase'""".stripMargin,

    // sequentially-dependent, day-bounded milestones: each stage's min-ts
    // conditions on the previous stage's. µs truncation (CAST) matches the
    // Spark side; interval arithmetic is exact in both engines.
    "funnel_conversion" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |s1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS v
        |       FROM e GROUP BY 1),
        |s2 AS (SELECT e.user_id, any_value(s1.v) AS v,
        |         min(CASE WHEN e.event_type = 'click' AND e.ts >= s1.v
        |             AND e.ts <= s1.v + INTERVAL 1 DAY THEN e.ts END) AS c
        |       FROM e JOIN s1 USING (user_id) GROUP BY 1),
        |s3 AS (SELECT e.user_id, any_value(s2.v) AS v, any_value(s2.c) AS c,
        |         min(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.c
        |             AND e.ts <= s2.c + INTERVAL 1 DAY THEN e.ts END) AS p
        |       FROM e JOIN s2 USING (user_id) GROUP BY 1)
        |SELECT 'users_total' AS stage, CAST(count(*) AS BIGINT) AS n FROM s3
        |UNION ALL SELECT 'reached_view', CAST(count(v) AS BIGINT) FROM s3
        |UNION ALL SELECT 'reached_click', CAST(count(c) AS BIGINT) FROM s3
        |UNION ALL SELECT 'reached_purchase', CAST(count(p) AS BIGINT) FROM s3""".stripMargin,

    "retention_cohorts" ->
      """WITH f AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |    min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) OVER (PARTITION BY user_id) AS cohort
        |  FROM events)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |  CAST(d - cohort AS BIGINT) AS day_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM f GROUP BY 1, 2""".stripMargin,

    // same rare-shingle edge derivation as doc_pagerank, then the degree-
    // oriented triangle enumeration replayed literally: edges directed
    // low→high (degree, id), wedges from out-edges with ord-sorted spokes,
    // closed against the directed list — each triangle found exactly once
    "doc_triangles" ->
      s"""WITH $sqlRareKept,
         |e AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM kept l JOIN kept r ON l.s = r.s AND l.doc_id <> r.doc_id),
         |und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM e),
         |deg AS (
         |  SELECT id, count(*) AS d FROM (
         |    SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
         |  GROUP BY id),
         |dir AS (
         |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS x,
         |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS y
         |  FROM und JOIN deg du ON du.id = u JOIN deg dv ON dv.id = v),
         |dird AS (SELECT dir.x, dir.y, deg.d AS dy FROM dir JOIN deg ON deg.id = dir.y),
         |tri AS (
         |  SELECT w1.x AS x, w1.y AS y, w2.y AS z
         |  FROM dird w1 JOIN dird w2 ON w1.x = w2.x
         |    AND (w1.dy < w2.dy OR (w1.dy = w2.dy AND w1.y < w2.y))
         |  JOIN dir c ON c.x = w1.y AND c.y = w2.y),
         |pern AS (
         |  SELECT id, count(*) AS t FROM (
         |    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
         |  GROUP BY id)
         |SELECT d.doc_id,
         |  COALESCE(pern.t, 0) AS triangles,
         |  COALESCE(deg.d, 0) AS degree,
         |  CASE WHEN COALESCE(deg.d, 0) >= 2
         |       THEN (2.0::DOUBLE * COALESCE(pern.t, 0)) / (deg.d * (deg.d - 1))
         |       ELSE 0.0::DOUBLE END AS clustering
         |FROM documents d
         |LEFT JOIN deg ON deg.id = d.doc_id
         |LEFT JOIN pern ON pern.id = d.doc_id""".stripMargin,

    "doc_pagerank" -> {
      // replay the 5 fixed-point iterations exactly: contributions quantize
      // to floor(rank/deg * 2^40) BIGINTs (order-free sums), teleport mass
      // is (1.0 - 0.85)/N with the same IEEE operation order as the engine
      // ::DOUBLE on every numeric literal: DuckDB parses bare decimals as
      // exact DECIMALs ((1.0-0.85)/500 = 0.0003 exactly), while the engine
      // computes the same expression in IEEE doubles (3.0000000000000003e-4)
      def iter(k: Int): String =
        s"""r$k AS (
           |  SELECT nd.id,
           |    (1.0::DOUBLE - 0.85::DOUBLE) / nn.n
           |      + 0.85::DOUBLE * (CAST(COALESCE(c.qs, 0) AS DOUBLE) / 1099511627776.0::DOUBLE) AS rank
           |  FROM nodes nd CROSS JOIN nn
           |  LEFT JOIN (
           |    SELECT e.b, sum(CAST(floor(p.rank / d.deg * 1099511627776.0::DOUBLE) AS BIGINT)) AS qs
           |    FROM edges e JOIN r${k - 1} p ON p.id = e.a JOIN deg d ON d.a = e.a
           |    GROUP BY e.b) c ON c.b = nd.id)""".stripMargin
      s"""WITH $sqlRareKept,
         |edges AS (
         |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |  FROM kept l JOIN kept r ON l.s = r.s AND l.doc_id <> r.doc_id),
         |deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY a),
         |nodes AS (SELECT doc_id AS id FROM documents),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT nd.id, 1.0::DOUBLE / nn.n AS rank FROM nodes nd CROSS JOIN nn),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)},
         |${iter(4)},
         |${iter(5)}
         |SELECT id AS doc_id, rank FROM r5""".stripMargin
    },

    // deflate runs no place in DuckDB: the invariants state the provable
    // expected values (see the query comment for why each must hold)
    "compression_quality" ->
      """SELECT 'total_docs' AS chk, CAST(count(*) AS BIGINT) AS n FROM documents
        |UNION ALL SELECT 'nonpositive_ratio', 0
        |UNION ALL SELECT 'doubled_not_better_ge100', 0
        |UNION ALL SELECT 'expansion_over_1p1_ge100', 0""".stripMargin,

    // replays the per-key grid derivation (first multiple of a day ≥ min,
    // last ≤ max) and the forward fill via DuckDB's own ASOF join, with the
    // same keep-first same-instant tiebreak
    "resample_daily" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id, value
        |  FROM events),
        |b AS (SELECT user_id, min(ts_us) AS mn, max(ts_us) AS mx FROM e GROUP BY user_id),
        |g AS (
        |  SELECT user_id, unnest(range(
        |    ((mn + 86399999999) // 86400000000) * 86400000000,
        |    mx + 1, 86400000000)) AS ts_us
        |  FROM b),
        |d AS (
        |  SELECT user_id, ts_us, value FROM (
        |    SELECT user_id, ts_us, value,
        |      row_number() OVER (PARTITION BY user_id, ts_us ORDER BY event_id) AS rn
        |    FROM e) x WHERE rn = 1)
        |SELECT g.user_id, g.ts_us, d.value
        |FROM g ASOF JOIN d ON g.user_id = d.user_id AND g.ts_us >= d.ts_us""".stripMargin,

    // replays the cross-table sign-LSH banding (same hyperplane literal as
    // the embedding dedup family) + exact cosine confirm + per-eval rollup
    "semantic_contamination" ->
      s"""WITH planes(pid, pv) AS (VALUES
         |  ${sqlPlanes(32, 64)}),
         |ev AS (
         |  SELECT vec_id + 100000 AS vec_id,
         |    list_transform(range(1, len(embedding)+1),
         |      i -> CASE WHEN i = 1 THEN -embedding[i] ELSE embedding[i] END) AS embedding
         |  FROM embeddings WHERE vec_id % 23 = 0),
         |esig AS (
         |  SELECT e.vec_id, e.embedding,
         |    sum(CASE WHEN ${sqlDot("e.embedding", "p.pv")} >= 0
         |             THEN 1::BIGINT << p.pid ELSE 0 END)::BIGINT AS sign
         |  FROM ev e, planes p GROUP BY e.vec_id, e.embedding),
         |csig AS (
         |  SELECT c.vec_id, c.embedding,
         |    sum(CASE WHEN ${sqlDot("c.embedding", "p.pv")} >= 0
         |             THEN 1::BIGINT << p.pid ELSE 0 END)::BIGINT AS sign
         |  FROM embeddings c, planes p GROUP BY c.vec_id, c.embedding),
         |eb AS (
         |  SELECT vec_id, embedding, b.band, (sign >> (b.band * 8)) & 255 AS bucket
         |  FROM esig, (VALUES (0), (1), (2), (3)) b(band)),
         |cb AS (
         |  SELECT vec_id, embedding, b.band, (sign >> (b.band * 8)) & 255 AS bucket
         |  FROM csig, (VALUES (0), (1), (2), (3)) b(band)),
         |pairs AS (
         |  SELECT DISTINCT e.vec_id AS eid, c.vec_id AS cid,
         |    ${sqlCos("e.embedding", "c.embedding")} AS cs
         |  FROM eb e JOIN cb c ON e.band = c.band AND e.bucket = c.bucket
         |  WHERE ${sqlCos("e.embedding", "c.embedding")} >= 0.9),
         |hits AS (
         |  SELECT eid, count(*) AS n, max(cs) AS mx FROM pairs GROUP BY eid)
         |SELECT ev.vec_id AS eval_id,
         |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_corpus_hits,
         |  h.mx AS max_cos
         |FROM ev LEFT JOIN hits h ON h.eid = ev.vec_id""".stripMargin,

    // replays the tagged-union histogram, the share divides, and the
    // fixed-point TVD accumulation (floor(|Δ|·2^30) longs — order-free)
    "drift_report" ->
      """WITH c AS (
        |  SELECT lang AS bucket,
        |    SUM(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS count_a,
        |    SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS count_b
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT SUM(count_a) AS ta, SUM(count_b) AS tb FROM c),
        |p AS (
        |  SELECT bucket, count_a, count_b,
        |    CAST(count_a AS DOUBLE) / ta AS share_a,
        |    CAST(count_b AS DOUBLE) / tb AS share_b
        |  FROM c, tot),
        |s AS (
        |  SELECT SUM(CAST(floor(abs(share_a - share_b) * 1073741824.0) AS BIGINT)) AS q
        |  FROM p)
        |SELECT bucket, CAST(count_a AS BIGINT) AS count_a,
        |  CAST(count_b AS BIGINT) AS count_b, share_a, share_b,
        |  0.5 * (CAST(q AS DOUBLE) / 1073741824.0) AS tvd
        |FROM p, s""".stripMargin,

    "data_quality_report" ->
      // same one-pass posture: every violation count from one WITH frame
      """WITH t AS (SELECT
        |  CAST(count(*) AS BIGINT) AS total,
        |  CAST(sum(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |  CAST(sum(CASE WHEN NOT COALESCE(o_orderdate IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |  CAST(sum(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |  CAST(sum(CASE WHEN NOT COALESCE(o_custkey > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v4,
        |  CAST(sum(CASE WHEN NOT COALESCE(length(o_orderpriority) > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v5
        |  FROM orders)
        |SELECT check_name, violations, total,
        |  CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
        |FROM (
        |  SELECT 'totalprice_positive' AS check_name, v1 AS violations, total FROM t
        |  UNION ALL SELECT 'orderdate_present', v2, total FROM t
        |  UNION ALL SELECT 'status_known', v3, total FROM t
        |  UNION ALL SELECT 'custkey_positive', v4, total FROM t
        |  UNION ALL SELECT 'priority_nonempty', v5, total FROM t) u""".stripMargin,

    "value_outliers" ->
      // exact median/MAD replay: rank-picked middle rows (integer-division
      // positions, `//` = Spark's floor-of-double-divide for positive
      // counts), two-element average, raw 3×MAD gate — bit-identical math
      """WITH vals AS (
        |  SELECT event_type AS g, value AS v FROM events WHERE value IS NOT NULL),
        |r1 AS (
        |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY g) AS cnt FROM vals),
        |med AS (
        |  SELECT g, avg(v) AS med FROM r1
        |  WHERE rn = (cnt+1)//2 OR rn = (cnt+2)//2 GROUP BY g),
        |dev AS (
        |  SELECT a.g, a.v, m.med, abs(a.v - m.med) AS dv
        |  FROM vals a JOIN med m ON m.g = a.g),
        |r2 AS (
        |  SELECT g, dv, row_number() OVER (PARTITION BY g ORDER BY dv) AS rn,
        |    count(*) OVER (PARTITION BY g) AS cnt FROM dev),
        |mad AS (
        |  SELECT g, avg(dv) AS mad FROM r2
        |  WHERE rn = (cnt+1)//2 OR rn = (cnt+2)//2 GROUP BY g)
        |SELECT d.g AS event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(d.med) AS med,
        |  min(m.mad) AS mad,
        |  CAST(sum(CASE WHEN d.dv > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m ON m.g = d.g
        |GROUP BY d.g""".stripMargin,

    "bm25_topk" ->
      s"""WITH ${sqlBm25(
             """SELECT * FROM (VALUES (0, 'spark join performance'),
               |  (1, 'window agg order'), (2, 'hash table scan'))
               |  AS v(query_id, qtext)""".stripMargin)}
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |  CAST(rank AS BIGINT) AS rank, score
         |FROM ranked WHERE rank <= 10""".stripMargin,

    // the persisted-index path scores with the same Column shapes as
    // bm25_topk, so the SAME oracle applies bitwise
    "bm25_index_topk" ->
      s"""WITH ${sqlBm25(
             """SELECT * FROM (VALUES (0, 'spark join performance'),
               |  (1, 'window agg order'), (2, 'hash table scan'))
               |  AS v(query_id, qtext)""".stripMargin)}
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |  CAST(rank AS BIGINT) AS rank, score
         |FROM ranked WHERE rank <= 10""".stripMargin,

    // the logical purge is bitwise a rebuild without the docs, so the
    // oracle is the plain BM25 mirror over the FILTERED corpus; the
    // vacuum-parity flag is the stated invariant
    "bm25_index_purge" ->
      s"""WITH ${sqlBm25(
             """SELECT * FROM (VALUES (0, 'spark join performance'),
               |  (1, 'window agg order'), (2, 'hash table scan'))
               |  AS v(query_id, qtext)""".stripMargin,
             "(SELECT * FROM documents WHERE doc_id % 9 != 0)")}
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
         |  CAST(rank AS BIGINT) AS rank, score,
         |  CAST(1 AS BIGINT) AS vacuum_matches
         |FROM ranked WHERE rank <= 10""".stripMargin,

    "hybrid_rrf" ->
      s"""WITH ${sqlBm25(
             "SELECT 0 AS query_id, text AS qtext FROM documents WHERE doc_id = 7")},
         |bmr AS (SELECT doc_id, rank FROM ranked WHERE rank <= 30),
         |qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 7),
         |cosr AS (
         |  SELECT vec_id AS doc_id,
         |    row_number() OVER (ORDER BY score DESC, vec_id) AS rank
         |  FROM (SELECT e.vec_id, ${sqlCos("e.embedding", "qv.v")} AS score
         |        FROM embeddings e, qv
         |        ORDER BY score DESC, e.vec_id LIMIT 30) t)
         |SELECT COALESCE(bmr.doc_id, cosr.doc_id) AS doc_id,
         |  CAST(COALESCE(bmr.rank, 0) AS BIGINT) AS bm25_rank,
         |  CAST(COALESCE(cosr.rank, 0) AS BIGINT) AS cos_rank,
         |  COALESCE(1.0 / (60.0 + CAST(bmr.rank AS DOUBLE)), 0.0) +
         |    COALESCE(1.0 / (60.0 + CAST(cosr.rank AS DOUBLE)), 0.0) AS rrf
         |FROM bmr FULL OUTER JOIN cosr ON bmr.doc_id = cosr.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
  )
}
