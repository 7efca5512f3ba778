package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Bridge

import scala.collection.mutable

/** One benchmark JVM: set up (session, workload state, warm passes), run
  * passes for about `--seconds` (with `--trace 1` every second one traced),
  * and write everything measured to `--out` as JSON.
  *
  *   perfbench.Main --workload <name> --data <dir> --work <dir> --out <file>
  *     --seed <n> --seconds <s> --trace <0|1> [--inject-wrong <op>]
  */
object Main {

  /** Wall time of one warmed-up pass on a 4-core VM, which sets how many
    * passes a run of `--seconds` makes.
    */
  val nominalPassS: Map[String, Double] = Map("etl_batch" -> 3.3, "table_lifecycle" -> 9.0)

  /** Timed passes a run makes at least: `pass_s` is their median, and a
    * median of two is their mean, which one slow pass moves.
    */
  val minTimedPasses = 3

  /** Untimed passes before the timed ones. The first pays class loading,
    * codegen and the first JIT tiers; `etl_batch`'s next pass is still a
    * tenth to a fifth slower than the ones after it, so it warms up twice.
    */
  val warmPasses: Map[String, Int] = Map("etl_batch" -> 2, "table_lifecycle" -> 1)

  final case class OpRec(id: Int, pass: Int, name: String, wallNs: Long,
      cpuNs: Long, var ok: Boolean, error: String)

  private val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuNs(): Long = cpuBean.getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val dataDir = opt("data")
    val workDir = opt("work")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val injectWrong = opt.get("inject-wrong")

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s")
    mark("main")
    val spark = GraftSession.get("perfbench")
    val sc = spark.sparkContext
    mark("session")
    val tracer = new Tracer(false)
    val workload: Workload = workloadName match {
      case "etl_batch" => new EtlBatch(spark, dataDir, s"$workDir/out", seed, tracer)
      case "table_lifecycle" => new TableLifecycle(spark, dataDir, s"$workDir/life", seed, tracer,
        injectWrong.isDefined)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Double)]
    var nextOp = 0

    /** Runs one pass; its wall time is the sum of its operations'. */
    def runPass(pass: Int, tracing: Boolean): Unit = {
      val recs = workload.ops(pass).map { op =>
        op.before()
        val id = nextOp
        nextOp += 1
        // tags the operation's Spark jobs, so the trace keeps them apart
        // from the untimed checks' jobs
        sc.setLocalProperty(StageRecorder.OpProperty, id.toString)
        val c0 = cpuNs()
        val t0 = System.nanoTime()
        val err = try { tracer.inOp(id)(tracer.span(op.name, "op")(op.run())); "" }
          catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        val wall = System.nanoTime() - t0
        val cpu = cpuNs() - c0
        sc.setLocalProperty(StageRecorder.OpProperty, null)
        val ok = err.isEmpty && (try op.after() catch { case _: Throwable => false })
        OpRec(id, pass, op.name, wall, cpu, ok, err.take(300))
      }
      val badChecks = workload.afterPass(pass)
      recs.foreach(r => if (badChecks.contains(r.name)) r.ok = false)
      ops ++= recs
      passes += ((pass, tracing, recs.map(_.wallNs).sum / 1e9, recs.map(_.cpuNs).sum / 1e9))
    }

    // a fixed number of passes for the time given, from the workload's
    // nominal pass time: every run does the same work, so its medians sit at
    // the same point of the JIT warm-up curve
    val nPasses = math.max(minTimedPasses,
      math.round(seconds / nominalPassS(workloadName)).toInt)

    workload.prepare()
    mark("prepared")
    // the warm passes, numbered up to 0: codegen, JIT, file listings
    (1 - warmPasses(workloadName) to 0).foreach(runPass(_, tracing = false))
    mark("warm")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val extra = mutable.LinkedHashMap.empty[String, String]
    // at a fixed point, the end of the warm passes, so that the figure does
    // not depend on how many passes fit in the run
    extra("space_amp") = Json.num(workload.spaceAmp())
    calibrate(spark) // the probe's own codegen and JIT, before its first sample
    val calStart = calibrate(spark)
    // closed loop, passes back to back; a traced run traces every second
    // pass, so traced and untraced passes sit at the same point of the
    // warm-up curve and their difference is the tracing overhead
    val rec = new StageRecorder
    val clock = Trace.clock()
    (1 to math.max(nPasses, if (traced) 2 else 1)).foreach { pass =>
      val tracing = traced && pass % 2 == 0
      if (tracing) {
        sc.addSparkListener(rec)
        tracer.enabled = true
      }
      runPass(pass, tracing)
      if (tracing) {
        tracer.enabled = false
        Bridge.drainListeners(sc)
        sc.removeSparkListener(rec)
      }
    }
    if (traced) {
      val traceFile = s"$workDir/trace.json"
      java.nio.file.Files.write(java.nio.file.Paths.get(traceFile),
        Trace.json(tracer, rec, clock).getBytes("UTF-8"))
      extra("trace_file") = Json.str(traceFile)
      extra("counters") = workload.counters()
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    }
    workload.dumpOutputs(s"$workDir/check", injectWrong)
    val calEnd = calibrate(spark)
    extra("calibration") = s"""{"start":${Json.num(calStart)},"end":${Json.num(calEnd)}}"""

    val opsJson = ops.map { o =>
      s"""{"id":${o.id},"pass":${o.pass},"name":${Json.str(o.name)},""" +
        s""""wall_s":${Json.num(o.wallNs / 1e9)},"cpu_s":${Json.num(o.cpuNs / 1e9)},""" +
        s""""ok":${o.ok},"error":${Json.str(o.error)}}"""
    }
    val passJson = passes.map { case (p, t, w, c) =>
      s"""{"pass":$p,"traced":$t,"wall_s":${Json.num(w)},"cpu_s":${Json.num(c)}}"""
    }
    val fields = Seq(
      "setup_s" -> Json.num(setupS),
      "cores" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_cores" -> Json.str(GraftSession.cpus),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory() / 1048576.0),
      "peak_rss_mb" -> Json.num(vmHwmMb()),
      "passes" -> passJson.mkString("[", ",", "]"),
      "ops" -> opsJson.mkString("[", ",", "]")) ++ extra.toSeq
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
      fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}").getBytes("UTF-8"))
    spark.stop()
  }

  /** Bench's CPU calibration probe (a fixed codegen'd hash + sum over the
    * session's local threads, no IO, no shuffle), one sample.
    */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0L, 1000L * 1000 * 1000, 1L, 32)
      .select(sum(xxhash64(col("id")).cast("double"))).head()
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
