package graft

import graft.sources.ParquetRead

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.mutable

/** Per-job timeline for ONE query: `runMain graft.ProfileJobs2 <query>`.
  * Prints every Spark job the measured run launches — duration, callsite —
  * plus the driver-side GAP before it (FS metadata work, planning, commit
  * protocol). Splits a slow lifecycle query's wall time into "inside jobs"
  * vs "between jobs", which decides whether to cut actions or cut FS ops.
  */
object ProfileJobs2 {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = args.headOption.getOrElse("bm25_index_purge")
    val spark = GraftSession.get("graft-profile-jobs2")
    case class J(id: Int, start: Long, var end: Long, site: String, execId: String)
    val jobs = mutable.ArrayBuffer.empty[J]
    val byId = mutable.Map.empty[Int, J]
    val execDesc = mutable.Map.empty[String, String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            synchronized {
              execDesc(s.executionId.toString) =
                s.physicalPlanDescription.linesIterator
                  .filter(_.nonEmpty).take(40).mkString(" ~ ").take(400)
            }
          case _ => ()
        }
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val cs = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .filter(_.nonEmpty)
        val execId = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("-")
        val stages = e.stageInfos.map(si => s"nt=${si.numTasks}").mkString(",")
        val site = cs.getOrElse("?") + "  [" + stages.take(120) + "]"
        val j = J(e.jobId, System.nanoTime(), 0L, site, execId)
        jobs += j; byId(e.jobId) = j
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        byId.get(e.jobId).foreach(_.end = System.nanoTime())
      }
    })
    val fn = SparkEntry.queries(name)
    ParquetRead(spark, s"$sfDir/documents.parquet").count()
    fn(spark, sfDir).count() // warm
    jobs.clear(); byId.clear()
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300)
    var prevEnd = t0
    var inJobs = 0.0
    jobs.sortBy(_.start).foreach { j =>
      val gap = (j.start - prevEnd) / 1e9
      val dur = if (j.end > 0) (j.end - j.start) / 1e9 else -1.0
      if (dur > 0) inJobs += dur
      val desc = execDesc.getOrElse(j.execId, "")
      println(f"[job] id=${j.id}%4d gap=${gap}%7.3f dur=${dur}%7.3f exec=${j.execId}%s  ${j.site}  ## $desc")
      prevEnd = math.max(prevEnd, if (j.end > 0) j.end else j.start)
    }
    println(f"[summary] $name wall=${wall}%.2f s  nJobs=${jobs.size}  inJobs=${inJobs}%.2f s  gaps=${wall - inJobs}%.2f s")
    spark.stop()
  }
}
