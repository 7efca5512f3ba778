package graft

import graft.sources.ParquetRead

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, prints one JSON line with per-query wall seconds.
  *
  * Methodology: warm, then two full interleaved passes. A warm pass pays
  * one-time whole-stage-codegen (janino) compilation and JIT warmup that a
  * long-lived cluster amortizes across thousands of runs; then the whole
  * suite is measured TWICE, round-robin, and each query reports the min of
  * its two passes. Round-robin matters: the rig shows multi-minute slow
  * windows, and back-to-back samples of one query share the window while
  * suite-separated samples give each query one clean shot — per-query min
  * recovers the honest floor. Scans are warmed once up front (file listing
  * + parquet footer cache).
  *
  * Rig calibration: a fixed CPU-bound probe (no IO, no shuffle) runs at
  * start, middle, and end; its three timings land in the JSON
  * (`calibration` / `cal`). Cross-round comparisons divide per-query times
  * by the rounds' calibration medians, so rig drift is a measured ratio,
  * not a narrative.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args = query names: time only those (iteration aid). A
    // filtered run writes BENCH_PARTIAL.json so the committed full-suite
    // artifact is never clobbered by a partial measurement.
    val only: Option[Set[String]] = if (args.nonEmpty) Some(args.toSet) else None
    val detailFile = if (only.isDefined) "BENCH_PARTIAL.json" else "BENCH_DETAIL.json"
    val spark = GraftSession.get("graft-bench")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try ParquetRead(spark, s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    // a failed run returns the -1.0 sentinel, NOT its elapsed time — a broken
    // query must be visible in the JSON, not disguised as a fast timing
    def once(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 } catch {
        case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
      }
    }
    def combine(a: Double, b: Double): Double =
      if (a < 0 || b < 0) -1.0 else math.min(a, b)
    // CPU-bound calibration probe: fixed size, no IO, no shuffle — one
    // codegen'd hash+sum over the session's local threads. Sampled at
    // bench start/middle/end so cross-round per-query comparisons can be
    // stated as measured calibration ratios (rig fast/slow TODAY) instead
    // of attributing uniform drift to the rig by narrative. The hash sum
    // is cast to double before aggregating (ANSI mode would error on
    // 64-bit overflow of a raw long sum).
    def calibrate(): Double = {
      import org.apache.spark.sql.functions._
      def one(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 1000L * 1000 * 1000, 1L, 32)
          .select(sum(xxhash64(col("id")).cast("double"))).head()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(one(), one()) // min-of-two: a sample is a floor, not a draw
    }
    calibrate() // pay the probe's own codegen + JIT before the first sample
    val calStart = calibrate()
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // warm pass: codegen compile + JIT for every plan
    qs.foreach { case (name, fn) => once(name, fn) }
    // two full INTERLEAVED measured passes, round-robin across the suite,
    // min per query across passes. Back-to-back samples of the same query
    // share any multi-minute rig-slow window (r10 recorded the whole suite
    // ~16% slow that way); separating the samples by a full suite pass
    // makes a slow window cost each query at most ONE of its two samples,
    // so the per-query min recovers the honest floor.
    val passA = qs.map { case (name, fn) => name -> once(name, fn) }
    val calMid = calibrate()
    val passB = qs.map { case (name, fn) => name -> once(name, fn) }
    val firstPass = passA.zip(passB).map { case ((name, a), (_, b)) =>
      name -> combine(a, b)
    }
    // outlier re-measurement: a noise burst can span BOTH measured runs
    // (r3 recorded 13.45s for a 0.5s plan). Any query slower than 3x the
    // suite median gets a fresh min-of-two after the burst has passed;
    // keep the overall min. Median is robust: bursts can't drag it.
    val positives = firstPass.map(_._2).filter(_ >= 0).sorted
    val median = if (positives.isEmpty) 0.0 else positives(positives.size / 2)
    val results = firstPass.map { case (name, t) =>
      if (t > 3 * median && median > 0) {
        val again = combine(once(name, SparkEntry.queries(name)), once(name, SparkEntry.queries(name)))
        name -> (if (again < 0) t else math.min(t, again))
      } else name -> t
    }
    // The total is the elapsed time of the queries that SUCCEEDED — the -1.0
    // failure sentinels must never be summed in (they'd make a broken run
    // read as a speedup). Failures are counted explicitly and fail the
    // process, so a round artifact can't record a partial run as rc:0.
    val calEnd = calibrate()
    val ok = results.filter(_._2 >= 0)
    val nFailed = results.size - ok.size
    val total = ok.map(_._2).sum
    val cal = s"""{"start":$calStart,"mid":$calMid,"end":$calEnd}"""
    // Full precision, every query → BENCH_DETAIL.json (committed artifact).
    // The harness keeps only the last ~2000 chars of stdout, which a
    // ~95-query map overflows, so the stdout line carries the suite total
    // plus as many per-query times as fit (slowest first — the ones worth
    // auditing) and points at the detail file for the rest.
    val detail = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(detailFile),
      s"""{"metric":"total","value":$total,"unit":"sec","n_ok":${ok.size},"n_failed":$nFailed,"calibration":$cal,"queries":$detail,"sf":"$sfDir"}""".getBytes("UTF-8"))
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","detail":"$detailFile","n":${results.size},"n_ok":${ok.size},"n_failed":$nFailed,"cal":[${fmt(calStart)},${fmt(calMid)},${fmt(calEnd)}],"sf":"$sfDir","queries":{"""
    val tailStr = "}}"
    val budget = 1900 - head.length - tailStr.length
    val entries = results.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    val shown = new StringBuilder
    var used = 0
    entries.foreach { e =>
      val cost = e.length + (if (used > 0) 1 else 0)
      if (used + cost <= budget) { if (used > 0) shown.append(','); shown.append(e); used += cost }
    }
    val line = head + shown + tailStr
    spark.stop()
    println(line)
    // A bench with ANY failed query is a failed bench: nonzero rc so the
    // round ledger can't stamp it clean (round-8 lesson).
    if (nFailed > 0) {
      System.err.println(s"[bench] $nFailed of ${results.size} queries FAILED")
      sys.exit(1)
    }
  }
}
