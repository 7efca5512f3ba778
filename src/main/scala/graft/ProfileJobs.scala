package graft

import graft.sources.ParquetRead

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Ad-hoc per-query overhead profile: `runMain graft.ProfileJobs [query...]`
  * runs each named SparkEntry query (warm once, then measure) with a
  * listener counting Spark jobs, stages and tasks. On a 17 MB sf0.1 rig the
  * wall time of the slow queries is fixed scheduling/IO overhead, so
  * job/stage counts are the thing to minimize — this main turns "this query
  * feels slow" into "this query launches 83 jobs / 210 stages".
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get("graft-profile-jobs")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shuffleRead = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffleRead.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    })
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "bm25_index_purge", "gdpr_composed_flush", "gdpr_tombstone_log",
      "index_purge_roundtrip", "incremental_minhash_dedup",
      "corpus_purge_roundtrip", "bm25_index_topk", "entity_resolution",
      "curation_pipeline_v4", "table_merge_upsert", "optimize_roundtrip",
      "time_travel_across_optimize", "hybrid_rrf", "dpp_join")
    Seq("documents", "embeddings", "events", "lineitem", "orders").foreach { t =>
      try ParquetRead(spark, s"$sfDir/$t.parquet").count()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      fn(spark, sfDir).count() // warm: codegen + JIT
      jobs.set(0); stages.set(0); tasks.set(0); shuffleRead.set(0L)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      // tiny settle so async listener events drain before reading counters
      Thread.sleep(200)
      println(f"[profile] $n%-28s ${secs}%6.2f s  jobs=${jobs.get()}%4d stages=${stages.get()}%4d tasks=${tasks.get()}%5d shufRead=${shuffleRead.get() / 1024}%8d KiB")
    }
    spark.stop()
  }
}
