package graft

import graft.sources.Sources
import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("windowedCounts over a file stream matches the batch plan (unified engine)") {
    // Streaming parquet source can't read the NANOS column; stage a µs copy.
    val staged = java.nio.file.Files.createTempDirectory("graft-stream").toString + "/events"
    val ev = Sources.events(spark, sfDir).drop("ts_ns")
    ev.write.parquet(staged)

    val batch = Streaming.windowedCounts(spark.read.parquet(staged))
      .select("window_start", "event_type", "cnt")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet

    val q = Streaming.runFileStream(
      spark, staged, ev.schema, Streaming.windowedCounts(_),
      queryName = "win_counts", outputMode = OutputMode.Update())
    try {
      val streamed = spark.table("win_counts")
        .select("window_start", "event_type", "cnt")
        .as[(java.sql.Timestamp, String, Long)].collect()
        // Update mode may emit a window several times; the final emission
        // per (window, type) must equal the batch result.
        .groupBy(t => (t._1, t._2)).map { case (_, vs) => vs.maxBy(_._3) }.toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("stateful userStats accumulates per-key state across micro-batches") {
    val staged = java.nio.file.Files.createTempDirectory("graft-stream2").toString + "/events"
    val ev = Sources.events(spark, sfDir)
      .select($"user_id", $"event_type", $"value", unix_micros($"ts").as("tsMicros"))
    ev.write.parquet(staged)

    val expected = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), max("tsMicros").as("last"))
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2, t._3)).toSet

    val stream = spark.readStream.schema(ev.schema).parquet(staged)
      .as[Streaming.UserEvent]
    val q = Streaming.userStats(stream).writeStream
      .outputMode(OutputMode.Update())
      .format("memory").queryName("user_stats").start()
    try {
      q.processAllAvailable()
      val got = spark.table("user_stats")
        .groupBy("user_id")
        .agg(max("n_events").as("n"), max("last_ts_micros").as("last"))
        .as[(Long, Long, Long)].collect().map(t => (t._1, t._2, t._3)).toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("sessionize emits closed sessions and carries open sessions across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val minute = 60L * 1000000
    val input = MemoryStream[Streaming.SessionEvent]
    val q = Streaming.sessionize(input.toDS(), gapMicros = 30 * minute)
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    try {
      input.addData(
        Streaming.SessionEvent(1, 0, 1.0), Streaming.SessionEvent(1, 10 * minute, 2.0),
        Streaming.SessionEvent(2, 0, 5.0))
      q.processAllAvailable()
      // nothing closed yet: both users' sessions are open, held in state
      assert(spark.table("sessions").count() == 0)
      input.addData(Streaming.SessionEvent(1, 120 * minute, 3.0)) // 110 min gap -> closes user 1
      q.processAllAvailable()
      val got = spark.table("sessions").as[Streaming.Session].collect().toSet
      assert(got == Set(Streaming.Session(1, 0, 10 * minute, 2, 3.0)))
    } finally q.stop()
  }

  test("sessionizeTws (transformWithState) matches sessionize row for row") {
    // the new arbitrary-stateful-processing API must agree with the
    // flatMapGroupsWithState form on the same stream — shared merge kernel,
    // different state plumbing (typed ValueState, RocksDB-only)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val minute = 60L * 1000000
    val input = MemoryStream[Streaming.SessionEvent]
    val q = Streaming.sessionizeTws(input.toDS(), gapMicros = 30 * minute)
      .writeStream.outputMode("append").format("memory").queryName("tws_sessions").start()
    try {
      input.addData(
        Streaming.SessionEvent(1, 0, 1.0), Streaming.SessionEvent(1, 10 * minute, 2.0),
        Streaming.SessionEvent(2, 0, 5.0))
      q.processAllAvailable()
      assert(spark.table("tws_sessions").count() == 0, "open sessions live in typed state")
      // batch 2: user 1 closes; a LATE user-2 event inside the open span widens it
      input.addData(
        Streaming.SessionEvent(1, 120 * minute, 3.0),
        Streaming.SessionEvent(2, 5 * minute, 1.0))
      q.processAllAvailable()
      // batch 3: user 2 closes
      input.addData(Streaming.SessionEvent(2, 200 * minute, 9.0))
      q.processAllAvailable()
      val got = spark.table("tws_sessions").as[Streaming.Session].collect().toSet
      assert(got == Set(
        Streaming.Session(1, 0, 10 * minute, 2, 3.0),
        Streaming.Session(2, 0, 5 * minute, 2, 6.0)),
        s"transformWithState sessionization diverged: $got")
    } finally {
      q.stop()
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("custom-state operators run on the RocksDB state store with identical results") {
    // the state backend a long-running 100 TB deployment actually uses:
    // the default HDFS-backed store caps keyed state at executor memory,
    // RocksDB spills it to local disk. The custom flatMapGroupsWithState
    // ladder (sessionize here, the as-of enrichment by extension) must
    // produce byte-identical output on it — state (de)serialization,
    // timeouts and eviction all route through the provider.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val minute = 60L * 1000000
    val input = MemoryStream[Streaming.SessionEvent]
    val q = Streaming.sessionize(input.toDS(), gapMicros = 30 * minute)
      .writeStream.outputMode("append").format("memory").queryName("rocks_sessions").start()
    try {
      input.addData(
        Streaming.SessionEvent(1, 0, 1.0), Streaming.SessionEvent(1, 10 * minute, 2.0),
        Streaming.SessionEvent(2, 0, 5.0))
      q.processAllAvailable()
      assert(spark.table("rocks_sessions").count() == 0, "open sessions stay in RocksDB state")
      input.addData(Streaming.SessionEvent(1, 120 * minute, 3.0))
      q.processAllAvailable()
      val got = spark.table("rocks_sessions").as[Streaming.Session].collect().toSet
      assert(got == Set(Streaming.Session(1, 0, 10 * minute, 2, 3.0)),
        "RocksDB-backed run must match the default-store run row for row")
      // the provider actually engaged (not silently fallen back)
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally {
      q.stop()
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("upsertStream merges each micro-batch into the parquet target (ON CONFLICT DO UPDATE)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString + "/target"
    val q = Streaming.upsertStream(input.toDF().toDF("id", "v"), dir, Seq("id"))
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((2L, "b-updated"), (3L, "c"))
      q.processAllAvailable()
      val got = spark.read.parquet(dir).as[(Long, String)].collect().toMap
      assert(got == Map(1L -> "a", 2L -> "b-updated", 3L -> "c"))
    } finally q.stop()
  }

  test("partition-scoped upsert rewrites only the partitions a batch touches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pupsert").toString + "/target"
    val b1 = Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p3")).toDF("id", "v", "part")
    Streaming.mergeBatch(b1, dir, Seq("id"), partitionCol = Some("part"))
    def dataFiles(p: String): Set[String] = {
      val d = new java.io.File(s"$dir/part=$p")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName + "@" + f.lastModified()).toSet
    }
    val (p1Before, p2Before, p3Before) = (dataFiles("p1"), dataFiles("p2"), dataFiles("p3"))
    // batch 2 touches p1 (update) and p4 (new) — p2/p3 must not be rewritten
    val b2 = Seq((1L, "a2", "p1"), (9L, "z", "p4")).toDF("id", "v", "part")
    Streaming.mergeBatch(b2, dir, Seq("id"), partitionCol = Some("part"))
    assert(dataFiles("p2") == p2Before, "untouched partition p2 was rewritten")
    assert(dataFiles("p3") == p3Before, "untouched partition p3 was rewritten")
    assert(dataFiles("p1") != p1Before, "affected partition p1 must be rewritten")
    assert(dataFiles("p4").nonEmpty)
    val got = spark.read.parquet(dir).select("id", "v").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a2", 2L -> "b", 3L -> "c", 9L -> "z"))
  }

  test("partition-scoped merge compacts: file count per partition stays bounded over 10 batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/target"
    // every batch touches the same hot partition plus one stable cold one
    (1 to 10).foreach { i =>
      val b = Seq((i.toLong, s"v$i", "hot"), (1000L + i, "w", "hot"), (5000L, "cold", "cold"))
        .toDF("id", "v", "part")
      Streaming.mergeBatch(b, dir, Seq("id"), partitionCol = Some("part"))
    }
    def parquetFiles(p: String): Int =
      new java.io.File(s"$dir/part=$p").listFiles().count(_.getName.endsWith(".parquet"))
    // each merge rewrites a touched directory as ONE clustered file — without
    // the repartition this is O(shuffle.partitions) files per rewrite
    assert(parquetFiles("hot") == 1, s"hot partition fragmented: ${parquetFiles("hot")} files")
    assert(parquetFiles("cold") == 1, s"cold partition fragmented: ${parquetFiles("cold")} files")
    // and the 10 merges kept every key exactly once
    val got = spark.read.parquet(dir)
    assert(got.count() == got.select("id").distinct().count())
    assert(got.filter($"part" === "hot").count() == 20L) // 10 iota keys + 10 "1000+i" keys
  }

  test("partition-scoped merge preserves existing rows in the NULL partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nullpart").toString + "/target"
    val b1 = Seq((1L, "a", Some("p1")), (2L, "b", None), (3L, "c", None))
      .toDF("id", "v", "part")
    Streaming.mergeBatch(b1, dir, Seq("id"), partitionCol = Some("part"))
    // batch 2 touches ONLY the null partition; rows 2 and 3 must survive
    val b2 = Seq((4L, "d", None: Option[String])).toDF("id", "v", "part")
    Streaming.mergeBatch(b2, dir, Seq("id"), partitionCol = Some("part"))
    val got = spark.read.parquet(dir).select("id", "v").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"),
      "null-partition rows must merge, not be replaced by the batch")
  }

  test("first micro-batch collapses intra-batch duplicate keys like every later batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-firstdup").toString + "/target"
    val b1 = Seq((1L, "a", 10L), (1L, "b", 20L), (2L, "c", 5L)).toDF("id", "v", "seq")
    Streaming.mergeBatch(b1, dir, Seq("id"))
    val got = spark.read.parquet(dir).select("id").as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 2L), s"one row per key even on the first write, got $got")
  }

  test("sessionize: an event more than a gap BEFORE the open session forms its own session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val minute = 60L * 1000000
    val input = MemoryStream[Streaming.SessionEvent]
    val q = Streaming.sessionize(input.toDS(), gapMicros = 30 * minute)
      .writeStream.outputMode("append").format("memory").queryName("prestart_sessions").start()
    try {
      input.addData(Streaming.SessionEvent(1, 100 * minute, 1.0), Streaming.SessionEvent(1, 120 * minute, 2.0))
      q.processAllAvailable()
      // t=5min is 95 min before the open session's start: must NOT absorb
      // into [100,120] (which would fabricate a span with an hour of silence)
      input.addData(Streaming.SessionEvent(1, 5 * minute, 8.0))
      q.processAllAvailable()
      input.addData(Streaming.SessionEvent(1, 300 * minute, 0.0)) // closes [100,120]
      q.processAllAvailable()
      val got = spark.table("prestart_sessions").as[Streaming.Session].collect().toSet
      assert(got == Set(
        Streaming.Session(1, 5 * minute, 5 * minute, 1, 8.0),
        Streaming.Session(1, 100 * minute, 120 * minute, 2, 3.0)))
    } finally q.stop()
  }

  test("whole-table merge recovers from a crash that left only the staging copy") {
    val base = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val dir = base + "/target"
    Streaming.mergeBatch(Seq((1L, "a")).toDF("id", "v"), dir, Seq("id"))
    // simulate a crash between target→.old and staging→target: the merged
    // staging copy (complete, with _SUCCESS) exists, target does not
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(dir).write.parquet(dir + ".staging")
    fs.rename(new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.fs.Path(dir + ".old"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))
    // next batch must recover the staging copy, then merge on top of it
    Streaming.mergeBatch(Seq((2L, "b")).toDF("id", "v"), dir, Seq("id"))
    val got = spark.read.parquet(dir).as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a", 2L -> "b"), "previously merged data was lost in the swap")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".old")))
  }

  test("sessionize: a late in-gap event cannot move the session span backwards") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val minute = 60L * 1000000
    val input = MemoryStream[Streaming.SessionEvent]
    val q = Streaming.sessionize(input.toDS(), gapMicros = 30 * minute)
      .writeStream.outputMode("append").format("memory").queryName("late_sessions").start()
    try {
      input.addData(
        Streaming.SessionEvent(1, 10 * minute, 1.0), Streaming.SessionEvent(1, 20 * minute, 2.0))
      q.processAllAvailable()
      // late arrival INSIDE the open span (and one before its start)
      input.addData(
        Streaming.SessionEvent(1, 15 * minute, 4.0), Streaming.SessionEvent(1, 5 * minute, 8.0))
      q.processAllAvailable()
      input.addData(Streaming.SessionEvent(1, 120 * minute, 0.0)) // closes the session
      q.processAllAvailable()
      val got = spark.table("late_sessions").as[Streaming.Session].collect().toSet
      assert(got == Set(Streaming.Session(1, 5 * minute, 20 * minute, 4, 15.0)),
        "span must be [min,max] over all in-gap events, never shrink")
    } finally q.stop()
  }

  test("sessionize with a processing-time timeout flushes the trailing open session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val minute = 60L * 1000000
    val input = MemoryStream[Streaming.SessionEvent]
    val q = Streaming.sessionize(input.toDS(), gapMicros = 30 * minute, flushAfterMs = Some(1L))
      .writeStream.outputMode("append").format("memory").queryName("flush_sessions").start()
    try {
      input.addData(Streaming.SessionEvent(7, 0, 1.0))
      // processAllAvailable() cannot be used here: with ProcessingTimeTimeout
      // the engine keeps constructing timer micro-batches (shouldRunAnotherBatch
      // is always true), so its no-new-data signal never fires — poll the sink
      val want = Streaming.Session(7, 0, 0, 1, 1.0)
      val deadline = System.currentTimeMillis() + 60000
      var flushed = Set.empty[Streaming.Session]
      while (System.currentTimeMillis() < deadline && !flushed.contains(want)) {
        Thread.sleep(100)
        flushed = spark.table("flush_sessions").as[Streaming.Session].collect().toSet
      }
      assert(flushed.contains(want),
        "quiet key 7's open session must be flushed by the timeout")
    } finally q.stop()
  }

  test("watermarked stream-stream join attributes purchases to preceding clicks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // NOT epoch-based: the initial global watermark is epoch 0 and rows at
    // or below the watermark are dropped as late
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(minute: Long) = new java.sql.Timestamp(base + minute * 60000L)
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = Streaming.clickToPurchase(
        clicks.toDF().toDF("event_id", "user_id", "ts"),
        purchases.toDF().toDF("event_id", "user_id", "ts"),
        windowMinutes = 30)
      .writeStream.outputMode("append").format("memory").queryName("attrib").start()
    try {
      clicks.addData((1L, 7L, ts(0)), (2L, 7L, ts(100)), (3L, 8L, ts(0)))
      purchases.addData((10L, 7L, ts(20)), (11L, 8L, ts(200)))
      q.processAllAvailable()
      // a second trigger: micro-batch scheduling may land the two sources'
      // first batches in separate triggers, matching via state on the next
      clicks.addData((4L, 9L, ts(500)))
      purchases.addData((12L, 9L, ts(999)))
      q.processAllAvailable()
      val got = spark.table("attrib")
        .select("user_id", "click_id", "purchase_id")
        .as[(Long, Long, Long)].collect().toSet
      // user 7: purchase 10 at t=20 follows click 1 at t=0 within 30 min;
      // click 2 (t=100) is AFTER the purchase, user 8's purchase (t=200) is
      // 200 min after their click — both outside the window
      assert(got == Set((7L, 1L, 10L)))
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch from a broadcast dimension") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Long)]
    val q = Streaming.enrichWithStatic(input.toDF().toDF("event_id", "user_id"), dim, Seq("user_id"))
      .writeStream.outputMode("append").format("memory").queryName("enriched").start()
    try {
      input.addData((10L, 1L), (11L, 2L), (12L, 3L))
      q.processAllAvailable()
      val got = spark.table("enriched")
        .select("event_id", "tier").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(got == Set((10L, Some("gold")), (11L, Some("silver")), (12L, None)),
        "left join: unmatched stream rows survive with a null tier")
    } finally q.stop()
  }

  test("clickToPurchase runs identically in batch mode (unified engine)") {
    def ts(minute: Long) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + minute * 60000L)
    val clicks = Seq((1L, 7L, ts(0)), (2L, 7L, ts(100)), (3L, 8L, ts(0)))
      .toDF("event_id", "user_id", "ts")
    val purchases = Seq((10L, 7L, ts(20)), (11L, 8L, ts(200)))
      .toDF("event_id", "user_id", "ts")
    val got = Streaming.clickToPurchase(clicks, purchases)
      .select("user_id", "click_id", "purchase_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((7L, 1L, 10L)))
  }

  test("ingestDedupStream grows a content-unique corpus across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = java.nio.file.Files.createTempDirectory("graft-ingest").toString + "/corpus"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.ingestDedupStream(
      input.toDS().toDF("doc_id", "text"), corpus, "doc_id", Seq("text"))
    try {
      input.addData((1L, "x"), (2L, "x"), (3L, "y")) // within-batch dup
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).as[(Long, String)].collect().toSet ==
        Set((1L, "x"), (3L, "y")))
      input.addData((4L, "x"), (5L, "z")) // cross-batch dup + new content
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).as[(Long, String)].collect().toSet ==
        Set((1L, "x"), (3L, "y"), (5L, "z")))
    } finally q.stop()
  }

  test("ingestBatch is content-idempotent under an at-least-once replay") {
    val corpus = java.nio.file.Files.createTempDirectory("graft-ingest2").toString + "/corpus"
    val batch = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    Streaming.ingestBatch(batch, corpus, "doc_id", Seq("text"))
    // the retry sees a corpus already holding its own first attempt
    Streaming.ingestBatch(batch, corpus, "doc_id", Seq("text"))
    val got = spark.read.parquet(corpus).as[(Long, String)].collect().toSeq
    assert(got.sorted == Seq((1L, "a"), (2L, "b")), s"replay must admit nothing: $got")
  }

  test("ingestBatch never rescans the corpus in the steady state (flat per-batch cost)") {
    val corpus = java.nio.file.Files.createTempDirectory("graft-ingest3").toString + "/corpus"
    def batch(lo: Long, n: Long) =
      spark.range(lo, lo + n).select(col("id").as("doc_id"),
        concat(lit("doc-"), col("id")).as("text"))
    val first = Streaming.ingestBatch(batch(0, 50), corpus, "doc_id", Seq("text"))
    assert(first.admitted == 50 && first.corpusScans == 0)
    // five all-new batches against a growing corpus: the persisted sidecar
    // must absorb each batch's keys, so NO batch pays a corpus-sized scan —
    // the cost model the in-line bloom rebuild violated (it scanned the
    // whole corpus every batch)
    val steady = (1 to 5).map { i =>
      Streaming.ingestBatch(batch(i * 50L, 50), corpus, "doc_id", Seq("text"))
    }
    assert(steady.forall(_.admitted == 50), s"all-new batches must all land: $steady")
    assert(steady.forall(s => s.corpusScans == 0 && !s.rebuiltBloom),
      s"steady-state batches paid corpus scans: $steady")
    // a replayed (all-duplicate) batch: the bloom flags every row, the exact
    // confirm join reads the corpus ONCE, and nothing is admitted
    val replay = Streaming.ingestBatch(batch(100, 50), corpus, "doc_id", Seq("text"))
    assert(replay.admitted == 0 && replay.corpusScans == 1, s"replay: $replay")
    // a deleted sidecar (migration / crash mid-swap) degrades to ONE rebuild
    // scan, then the next batch is back to zero
    val fs = new org.apache.hadoop.fs.Path(corpus)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(graft.streaming.BloomSidecar.path(new org.apache.hadoop.fs.Path(corpus)), false)
    val rebuilt = Streaming.ingestBatch(batch(300, 50), corpus, "doc_id", Seq("text"))
    assert(rebuilt.admitted == 50 && rebuilt.rebuiltBloom && rebuilt.corpusScans == 1,
      s"rebuild: $rebuilt")
    val after = Streaming.ingestBatch(batch(400, 50), corpus, "doc_id", Seq("text"))
    assert(after.corpusScans == 0 && !after.rebuiltBloom, s"after rebuild: $after")
    assert(spark.read.parquet(corpus).count() == 400)
  }

  test("ingestNearDupBatch gates re-crawls, stays idempotent, and keeps the flat cost model") {
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val corpus = java.nio.file.Files.createTempDirectory("graft-ingest-nd").toString + "/corpus"
    val first = Seq((1L, words("a", 40)), (2L, words("b", 40))).toDF("doc_id", "text")
    val s1 = Streaming.ingestNearDupBatch(first, corpus, "doc_id", "text")
    assert(s1.admitted == 2 && s1.corpusScans == 0)
    // at-least-once replay: every row is a Jaccard-1 clone of what the first
    // attempt appended — the retry admits nothing and the corpus stays unique
    val s2 = Streaming.ingestNearDupBatch(first, corpus, "doc_id", "text")
    assert(s2.admitted == 0, s"replay must admit nothing: $s2")
    // the re-crawl hole, closed: one changed token is an exact-gate miss but
    // a banded-collision + Jaccard-0.854 hit
    val reCrawl = Seq((3L, words("a", 39) + " zz")).toDF("doc_id", "text")
    val s3 = Streaming.ingestNearDupBatch(reCrawl, corpus, "doc_id", "text")
    assert(s3.admitted == 0 && s3.corpusScans == 1, s"re-crawl must be rejected: $s3")
    // a genuinely fresh doc: the band sidecar prunes it in the scan stage —
    // admitted without any corpus read (steady-state cost)
    val s4 = Streaming.ingestNearDupBatch(
      Seq((4L, words("c", 40))).toDF("doc_id", "text"), corpus, "doc_id", "text")
    assert(s4.admitted == 1 && s4.corpusScans == 0 && !s4.rebuiltBloom, s"fresh: $s4")
    // a deleted band sidecar degrades to ONE rebuild scan, then recovers
    val fs = new org.apache.hadoop.fs.Path(corpus)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(graft.streaming.BloomSidecar.path(
      new org.apache.hadoop.fs.Path(corpus), graft.streaming.BloomSidecar.BandName), false)
    val s5 = Streaming.ingestNearDupBatch(
      Seq((5L, words("d", 40))).toDF("doc_id", "text"), corpus, "doc_id", "text")
    assert(s5.admitted == 1 && s5.rebuiltBloom && s5.corpusScans == 1, s"rebuild: $s5")
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 4L, 5L))
  }

  test("ingestBatch table sidecar: the exact gate past the bloom's byte budget") {
    import graft.streaming.{BloomSidecar, KeyTableSidecar}
    val corpus = java.nio.file.Files.createTempDirectory("graft-ingest-ct").toString + "/corpus"
    val target = new org.apache.hadoop.fs.Path(corpus)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tiny = 0L // every bloom is over budget -> content-key table form
    val first = Seq((1L, "seen one"), (2L, "seen two")).toDF("doc_id", "text")
    val s1 = Streaming.ingestBatch(first, corpus, "doc_id", Seq("text"),
      sidecarMaxBytes = tiny)
    assert(s1.admitted == 2 && s1.corpusScans == 0)
    assert(KeyTableSidecar.readMeta(fs, target, KeyTableSidecar.ContentName).exists(
      _.filesStamp == BloomSidecar.filesStamp(fs, target)))
    assert(BloomSidecar.read(fs, target).isEmpty, "bloom never written")
    // replay: exact clones collide in the key table, the digest confirm
    // rejects them — nothing lands twice
    val s2 = Streaming.ingestBatch(first, corpus, "doc_id", Seq("text"),
      sidecarMaxBytes = tiny)
    assert(s2.admitted == 0 && s2.corpusScans == 1, s"replay: $s2")
    // fresh content: the exact key probe flags nothing -> zero corpus reads
    val s3 = Streaming.ingestBatch(
      Seq((3L, "brand new")).toDF("doc_id", "text"), corpus, "doc_id", Seq("text"),
      sidecarMaxBytes = tiny)
    assert(s3.admitted == 1 && s3.corpusScans == 0 && !s3.rebuiltBloom, s"fresh: $s3")
    // stale table degrades to ONE rebuild scan, then recovers
    KeyTableSidecar.delete(fs, target, KeyTableSidecar.ContentName)
    val s4 = Streaming.ingestBatch(
      Seq((4L, "newer still")).toDF("doc_id", "text"), corpus, "doc_id", Seq("text"),
      sidecarMaxBytes = tiny)
    assert(s4.admitted == 1 && s4.rebuiltBloom && s4.corpusScans == 1, s"rebuild: $s4")
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L))
  }

  test("purgeCorpus forgets tombstoned docs and keeps the table gate live across the purge") {
    import graft.streaming.{BloomSidecar, KeyTableSidecar}
    val corpus = java.nio.file.Files.createTempDirectory("graft-gdpr").toString + "/corpus"
    val tiny = 0L // content-key table form from batch one
    Streaming.ingestBatch(
      Seq((1L, "erase me"), (2L, "keep me"), (3L, "shared text")).toDF("doc_id", "text"),
      corpus, "doc_id", Seq("text"), sidecarMaxBytes = tiny): Unit
    Streaming.ingestBatch(Seq((4L, "also stays")).toDF("doc_id", "text"),
      corpus, "doc_id", Seq("text"), sidecarMaxBytes = tiny): Unit
    val stats = Streaming.purgeCorpus(spark, corpus,
      Seq(1L, 3L).toDF("doc_id"), "doc_id", Seq("text"))
    assert(stats.rowsRemoved == 2 && stats.keysDeleted == 2 && !stats.bloomRetired, s"$stats")
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(2L, 4L))
    // the shard-pruned key purge + meta re-stamp kept the gate LIVE: the
    // next batch pays no rebuild scan
    val s3 = Streaming.ingestBatch(Seq((5L, "fresh thing")).toDF("doc_id", "text"),
      corpus, "doc_id", Seq("text"), sidecarMaxBytes = tiny)
    assert(s3.admitted == 1 && s3.corpusScans == 0 && !s3.rebuiltBloom, s"live gate: $s3")
    // the GDPR property: forgotten content is re-admittable...
    val s4 = Streaming.ingestBatch(Seq((6L, "erase me")).toDF("doc_id", "text"),
      corpus, "doc_id", Seq("text"), sidecarMaxBytes = tiny)
    assert(s4.admitted == 1, s"forgotten content must re-admit: $s4")
    // ...while surviving content still gates
    val s5 = Streaming.ingestBatch(Seq((7L, "keep me")).toDF("doc_id", "text"),
      corpus, "doc_id", Seq("text"), sidecarMaxBytes = tiny)
    assert(s5.admitted == 0, s"surviving content must still gate: $s5")
    // purging ids that are not there is a no-op
    val noop = Streaming.purgeCorpus(spark, corpus,
      Seq(99L).toDF("doc_id"), "doc_id", Seq("text"))
    assert(noop == Streaming.CorpusPurgeStats(0L, 0L, bloomRetired = false))

    // bloom-mode corpus: blooms cannot delete, so the purge retires the
    // sidecar and the next batch rebuilds from the purged corpus
    val corpus2 = java.nio.file.Files.createTempDirectory("graft-gdpr-b").toString + "/corpus"
    Streaming.ingestBatch(
      Seq((1L, "erase me"), (2L, "keep me")).toDF("doc_id", "text"),
      corpus2, "doc_id", Seq("text")): Unit
    val target2 = new org.apache.hadoop.fs.Path(corpus2)
    val fs2 = target2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(BloomSidecar.read(fs2, target2, BloomSidecar.ContentName).isDefined)
    val stats2 = Streaming.purgeCorpus(spark, corpus2,
      Seq(1L).toDF("doc_id"), "doc_id", Seq("text"))
    assert(stats2 == Streaming.CorpusPurgeStats(1L, 0L, bloomRetired = true), s"$stats2")
    val r1 = Streaming.ingestBatch(Seq((3L, "erase me")).toDF("doc_id", "text"),
      corpus2, "doc_id", Seq("text"))
    assert(r1.admitted == 1 && r1.rebuiltBloom && r1.corpusScans == 1,
      s"bloom mode degrades to one rebuild scan then re-admits: $r1")
    assert(spark.read.parquet(corpus2).select("doc_id").as[Long].collect().toSet ==
      Set(2L, 3L))

    // ungated corpus (plain parquet, no sidecar): only rows leave, no key
    // derivation runs, and a repeated tombstone id removes its row once
    val corpus3 = java.nio.file.Files.createTempDirectory("graft-gdpr-p").toString + "/corpus"
    Seq((1L, "erase me"), (2L, "keep me"), (3L, "erase me")).toDF("doc_id", "text")
      .write.parquet(corpus3)
    val stats3 = Streaming.purgeCorpus(spark, corpus3,
      Seq(1L, 3L, 3L).toDF("doc_id"), "doc_id", Seq("text"))
    assert(stats3 == Streaming.CorpusPurgeStats(2L, 0L, bloomRetired = false), s"$stats3")
    assert(spark.read.parquet(corpus3).select("doc_id").as[Long].collect().toSet == Set(2L))
    val target3 = new org.apache.hadoop.fs.Path(corpus3)
    val fs3 = target3.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(KeyTableSidecar.readMeta(fs3, target3, KeyTableSidecar.ContentName).isEmpty &&
      BloomSidecar.read(fs3, target3, BloomSidecar.ContentName).isEmpty,
      "a purge must not create a gate sidecar")
  }

  test("ingestNearDupBatch table sidecar: same gate past the bloom's byte budget, replay-idempotent") {
    import graft.streaming.{BloomSidecar, KeyTableSidecar}
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val corpus = java.nio.file.Files.createTempDirectory("graft-ingest-ndt").toString + "/corpus"
    val target = new org.apache.hadoop.fs.Path(corpus)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tiny = 0L // every bloom is over budget -> table form from batch one
    val first = Seq((1L, words("a", 40)), (2L, words("b", 40))).toDF("doc_id", "text")
    val s1 = Streaming.ingestNearDupBatch(first, corpus, "doc_id", "text",
      sidecarMaxBytes = tiny)
    assert(s1.admitted == 2 && s1.corpusScans == 0)
    // the table sidecar exists (fresh stamp), the bloom was never written
    assert(KeyTableSidecar.readMeta(fs, target).exists(
      _.filesStamp == BloomSidecar.filesStamp(fs, target)))
    assert(BloomSidecar.read(fs, target, BloomSidecar.BandName).isEmpty)
    // at-least-once replay: nothing lands twice, no corpus read needed for
    // the decision beyond the confirm join the exact clones trigger
    val s2 = Streaming.ingestNearDupBatch(first, corpus, "doc_id", "text",
      sidecarMaxBytes = tiny)
    assert(s2.admitted == 0, s"replay must admit nothing: $s2")
    // near-dup re-crawl rejected: exactly one confirm scan
    val s3 = Streaming.ingestNearDupBatch(
      Seq((3L, words("a", 39) + " zz")).toDF("doc_id", "text"), corpus, "doc_id", "text",
      sidecarMaxBytes = tiny)
    assert(s3.admitted == 0 && s3.corpusScans == 1, s"re-crawl must be rejected: $s3")
    // fresh doc: the key-table probe flags nothing -> admitted with ZERO
    // corpus reads (the steady-state cost model, same as the bloom's)
    val s4 = Streaming.ingestNearDupBatch(
      Seq((4L, words("c", 40))).toDF("doc_id", "text"), corpus, "doc_id", "text",
      sidecarMaxBytes = tiny)
    assert(s4.admitted == 1 && s4.corpusScans == 0 && !s4.rebuiltBloom, s"fresh: $s4")
    // a deleted table sidecar degrades to ONE rebuild scan, then recovers
    KeyTableSidecar.delete(fs, target)
    val s5 = Streaming.ingestNearDupBatch(
      Seq((5L, words("d", 40))).toDF("doc_id", "text"), corpus, "doc_id", "text",
      sidecarMaxBytes = tiny)
    assert(s5.admitted == 1 && s5.rebuiltBloom && s5.corpusScans == 1, s"rebuild: $s5")
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 4L, 5L))
  }

  test("KeyTableSidecar compaction bounds per-shard files and never loses a key") {
    import graft.streaming.KeyTableSidecar
    val corpus = java.nio.file.Files.createTempDirectory("graft-ktc").toString + "/corpus"
    val target = new org.apache.hadoop.fs.Path(corpus)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(target)
    // 20 appends of 8 keys each over 4 shards: every shard accretes ~20
    // tiny part files (one per append)
    (0 until 20).foreach { i =>
      KeyTableSidecar.appendKeys(
        spark.range(i * 8L, i * 8L + 8L).select(col("id").as("__k")),
        target, nShards = 4)
    }
    val before = KeyTableSidecar.load(spark, target)
      .select("__k").as[Long].collect().sorted.toSeq
    assert(before == (0L until 160L).toSeq)
    def shardFiles(): Map[String, Int] = fs
      .listStatus(KeyTableSidecar.dir(target))
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(sh => sh.getPath.getName -> fs.listStatus(sh.getPath).count { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }).toMap
    assert(shardFiles().values.max > 4, "premise: appends accrete files")
    KeyTableSidecar.compact(spark, fs, target, maxFilesPerShard = 2)
    assert(shardFiles().values.max <= 2,
      s"compaction must bound per-shard files: ${shardFiles()}")
    val after = KeyTableSidecar.load(spark, target)
      .select("__k").as[Long].collect().sorted.toSeq
    assert(after == before, "compaction is content-preserving")
    // duplicate keys (the crash-mid-compaction residue) survive compaction
    // as duplicates — the probe's distinct absorbs them; nothing is lost
    KeyTableSidecar.appendKeys(
      spark.range(0L, 8L).select(col("id").as("__k")), target, nShards = 4)
    KeyTableSidecar.compact(spark, fs, target, maxFilesPerShard = 1)
    val withDups = KeyTableSidecar.load(spark, target)
      .select("__k").as[Long].collect().sorted.toSeq
    assert(withDups.distinct == (0L until 160L).toSeq)
    assert(withDups.size == 168)
  }

  test("compact merges every over-bound shard in ONE job pass, size-tiered") {
    import graft.streaming.KeyTableSidecar
    val corpus = java.nio.file.Files.createTempDirectory("graft-ktc1p").toString + "/corpus"
    val target = new org.apache.hadoop.fs.Path(corpus)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(target)
    // 12 appends of 800 keys over 8 shards: EVERY shard goes over-bound
    // (~12 files), and each shard's merged tier (~1200 keys) will dwarf a
    // later per-append file (~4 keys) — a clear size-tier separation
    (0 until 12).foreach { i =>
      KeyTableSidecar.appendKeys(
        spark.range(i * 800L, i * 800L + 800L).select(col("id").as("__k")),
        target, nShards = 8)
    }
    val d = KeyTableSidecar.dir(target)
    def shardFiles(): Map[String, Seq[org.apache.hadoop.fs.FileStatus]] = fs
      .listStatus(d)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(sh => sh.getPath.getName -> fs.listStatus(sh.getPath).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }).toMap
    assert(shardFiles().size == 8 && shardFiles().values.forall(_.length > 4),
      "premise: all 8 shards over-bound")
    // count Spark jobs across the whole compaction: the previous
    // implementation ran one coalesce(1) job PER SHARD (8 here, plus
    // their listings); the one-pass form is one read+write over every
    // over-bound shard's small tier (+ a parallel-listing job and AQE's
    // stage materialization at most)
    spark.sparkContext.setJobGroup("ktc-compact-1p", "one-pass compaction")
    try KeyTableSidecar.compact(spark, fs, target, maxFilesPerShard = 4)
    finally spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("ktc-compact-1p").length
    assert(jobs <= 4,
      s"compaction must be one pass over all shards, ran $jobs jobs for 8 shards")
    assert(shardFiles().values.forall(_.length == 1),
      s"merged: ${shardFiles().view.mapValues(_.length).toMap}")
    assert(KeyTableSidecar.load(spark, target).select("__k").as[Long]
      .collect().sorted.toSeq == (0L until 9600L).toSeq)
    // SIZE TIER: the merged files are now the large tier — pick tierBytes
    // at their size so further compactions must leave them alone
    val tier = shardFiles().values.flatten.map(_.getLen).min
    val largeBefore = shardFiles().values.flatten
      .map(st => st.getPath.toString -> st.getModificationTime).toMap
    (0 until 6).foreach { i =>
      KeyTableSidecar.appendKeys(
        spark.range(10000L + i * 32L, 10000L + i * 32L + 32L).select(col("id").as("__k")),
        target, nShards = 8)
    }
    KeyTableSidecar.compact(spark, fs, target, maxFilesPerShard = 4, tierBytes = tier)
    val afterTier = shardFiles()
    assert(afterTier.values.forall(_.length == 2),
      s"small tier merges to one file, large tier untouched: ${afterTier.view.mapValues(_.length).toMap}")
    largeBefore.foreach { case (p, mtime) =>
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(p))
      assert(st.getModificationTime == mtime, s"large-tier file rewritten: $p")
    }
    // CRASH WINDOW: replay the add phase without the delete (the crash) —
    // every key must still be present (duplicated, never lost), and the
    // next compact converges back to the bound
    val small = shardFiles().values.flatten.filter(_.getLen < tier).toSeq
    assert(small.nonEmpty)
    spark.read.option("basePath", d.toString)
      .parquet(small.map(_.getPath.toString): _*)
      .write.mode("append").partitionBy("__shard").parquet(d.toString)
    val crashed = KeyTableSidecar.load(spark, target).select("__k").as[Long].collect().toSeq
    val want = ((0L until 9600L) ++ (10000L until 10192L)).toSet
    assert(crashed.toSet == want, "crash window must never lose a key")
    assert(crashed.size > want.size, "premise: the crash left duplicates")
    KeyTableSidecar.compact(spark, fs, target, maxFilesPerShard = 2, tierBytes = tier)
    assert(KeyTableSidecar.load(spark, target).select("__k").as[Long]
      .collect().toSet == want)
    assert(shardFiles().values.forall(_.length <= 2))
  }

  test("compact sizes each shard's rewrite from its OWN small tier (skew-proof)") {
    import graft.streaming.KeyTableSidecar
    // hot shard 0 accumulates real bytes (needs several output files);
    // cold shard 1 accumulates many TINY files. A global file budget
    // derived from the hot shard would salt the cold shard's rewrite
    // across that many files — it could come out of compaction with MORE
    // files than it went in with and never converge below the bound. The
    // per-shard modulus merges the cold shard to exactly ONE file.
    val corpus = java.nio.file.Files.createTempDirectory("graft-ktcskew").toString + "/corpus"
    val target = new org.apache.hadoop.fs.Path(corpus)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(target)
    (0 until 17).foreach { i =>
      val hot = spark.range(2000L).select((col("id") * 2 + i * 4000L).as("__k"))
      val cold = spark.range(4L).select((col("id") * 2 + i * 8L + 1L).as("__k"))
      KeyTableSidecar.appendKeys(hot.union(cold), target, nShards = 2)
    }
    val d = KeyTableSidecar.dir(target)
    def files(shard: Int): Seq[org.apache.hadoop.fs.FileStatus] = fs
      .listStatus(new org.apache.hadoop.fs.Path(d, s"__shard=$shard")).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    assert(files(0).length == 17 && files(1).length == 17, "premise: both over-bound")
    // tierBytes between one hot file and the hot total: the hot shard's
    // own budget is ~4 output files, the cold shard's (tiny bytes) is 1
    val hotBytes = files(0).map(_.getLen).sum
    val tier = hotBytes / 4
    assert(files(0).forall(_.getLen < tier) && files(1).map(_.getLen).sum < tier,
      "premise: everything is small-tier and the cold shard fits one file")
    val before = KeyTableSidecar.load(spark, target).select("__k").as[Long].collect().toSet
    // AQE off for the pin: at test size it coalesces every post-shuffle
    // partition into one task regardless of the salt, masking exactly the
    // budget split this test exists to observe (at real scale its 64MB
    // advisory target aligns with tierBytes and preserves the split)
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      KeyTableSidecar.compact(spark, fs, target, maxFilesPerShard = 8, tierBytes = tier)
    } finally spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
    assert(files(1).length == 1,
      s"cold shard must merge to ONE file, got ${files(1).length}")
    val hotAfter = files(0).length
    assert(hotAfter >= 2 && hotAfter <= 6,
      s"hot shard rewrites across its own ~4-file budget, got $hotAfter")
    assert(KeyTableSidecar.load(spark, target).select("__k").as[Long]
      .collect().toSet == before, "compaction is content-preserving")
    // a NON-numeric partition dir (a null-keyed append's
    // __HIVE_DEFAULT_PARTITION__, or a foreign tree) must not crash the
    // per-shard budget parse — it is skipped, healthy shards still compact
    val alien = new org.apache.hadoop.fs.Path(d, "__shard=__HIVE_DEFAULT_PARTITION__")
    fs.mkdirs(alien)
    (0 until 9).foreach { i =>
      val f = fs.create(new org.apache.hadoop.fs.Path(alien, s"junk-$i.parquet"), true)
      f.write(1); f.close()
    }
    (0 until 9).foreach { i => // push the cold shard back over the bound
      KeyTableSidecar.appendKeys(
        spark.range(1L).select(lit(100001L + i * 2).as("__k")), target, nShards = 2)
    }
    KeyTableSidecar.compact(spark, fs, target, maxFilesPerShard = 8, tierBytes = tier)
    assert(files(1).length <= 2,
      s"healthy shards must still compact beside an alien dir, got ${files(1).length}")
    assert(fs.listStatus(alien).length == 9, "the alien dir is left untouched")
  }

  test("ingestNearDupBatch migrates bloom -> table when saturation outgrows the byte budget") {
    import graft.streaming.{BloomSidecar, KeyTableSidecar}
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val corpus = java.nio.file.Files.createTempDirectory("graft-ingest-ndm").toString + "/corpus"
    val target = new org.apache.hadoop.fs.Path(corpus)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // capacity 64 keys = 2 docs x 16 bands x 2: the bloom form fits at
    // first, saturates on the third admitted pair
    def ingest(docs: Seq[(Long, String)], budget: Long) =
      Streaming.ingestNearDupBatch(docs.toDF("doc_id", "text"), corpus, "doc_id", "text",
        expectedCorpusBandKeys = 64L, sidecarMaxBytes = budget)
    val big = 64L * 1024 * 1024
    ingest(Seq((1L, words("a", 40)), (2L, words("b", 40))), big)
    assert(BloomSidecar.read(fs, target, BloomSidecar.BandName).isDefined, "bloom form first")
    ingest(Seq((3L, words("c", 40)), (4L, words("d", 40))), big) // merged = capacity, no switch
    assert(BloomSidecar.read(fs, target, BloomSidecar.BandName).isDefined)
    assert(KeyTableSidecar.readMeta(fs, target).isEmpty)
    // third pair saturates; the tiny budget blocks the doubled bloom -> switch
    val s = ingest(Seq((5L, words("e", 40)), (6L, words("f", 40))), 10L)
    assert(s.admitted == 2 && s.saturatedRebuild, s"switch batch: $s")
    assert(BloomSidecar.read(fs, target, BloomSidecar.BandName).isEmpty, "bloom retired")
    val meta = KeyTableSidecar.readMeta(fs, target)
    assert(meta.exists(_.filesStamp == BloomSidecar.filesStamp(fs, target)), s"table fresh: $meta")
    // the migrated table gates exactly like the bloom did: clone rejected,
    // fresh admitted with zero corpus reads
    val s2 = ingest(Seq((7L, words("a", 40)), (8L, words("g", 40))), 10L)
    assert(s2.admitted == 1 && !s2.rebuiltBloom, s"post-switch gate: $s2")
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L, 4L, 5L, 6L, 8L))
  }

  test("ingestNearDupStream grows a near-dup-free corpus across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val corpus = java.nio.file.Files.createTempDirectory("graft-ingest-nds").toString + "/corpus"
    val input = MemoryStream[(Long, String)]
    val q = Streaming.ingestNearDupStream(
      input.toDS().toDF("doc_id", "text"), corpus, "doc_id", "text")
    try {
      input.addData((1L, words("a", 40)), (2L, words("a", 39) + " zz")) // within-batch near-dup
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet == Set(1L))
      input.addData((3L, words("a", 38) + " y1 y2"), (4L, words("e", 40))) // cross-batch near-dup + new
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    } finally q.stop()
  }

  test("ingestBatch compaction bounds the corpus file count across 12 batches") {
    val corpus = java.nio.file.Files.createTempDirectory("graft-ingest5").toString + "/corpus"
    def batch(lo: Long, n: Long) =
      spark.range(lo, lo + n).select(col("id").as("doc_id"),
        concat(lit("doc-"), col("id")).as("text"))
    // each 20-row range batch writes ~20 part files; without compaction the
    // corpus would hold ~240 files after 12 batches
    val stats = (0 until 12).map { i =>
      Streaming.ingestBatch(batch(i * 20L, 20), corpus, "doc_id", Seq("text"),
        maxSmallFiles = 4)
    }
    assert(stats.forall(_.admitted == 20))
    val fs = new org.apache.hadoop.fs.Path(corpus)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(corpus)).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    assert(dataFiles.length <= 5, s"file count unbounded: ${dataFiles.length}")
    // compaction preserved content exactly and kept the sidecar stamp fresh
    assert(spark.read.parquet(corpus).select("doc_id").distinct().count() == 240)
    assert(stats.tail.forall(s => !s.rebuiltBloom && s.corpusScans == 0),
      s"compaction broke the steady-state cost model: $stats")
    val replay = Streaming.ingestBatch(batch(0, 240), corpus, "doc_id", Seq("text"),
      maxSmallFiles = 4)
    assert(replay.admitted == 0, s"dedup lost keys across compactions: $replay")
  }

  test("compaction recovery completes an interrupted commit without loss or duplication") {
    val corpus = java.nio.file.Files.createTempDirectory("graft-ingest6").toString + "/corpus"
    def batch(lo: Long, n: Long) =
      spark.range(lo, lo + n).select(col("id").as("doc_id"),
        concat(lit("doc-"), col("id")).as("text"))
    Streaming.ingestBatch(batch(0, 20), corpus, "doc_id", Seq("text"))
    // stage exactly the state a crash leaves AFTER the commit point (data +
    // manifest written) but BEFORE any retire/move ran
    val fs = new org.apache.hadoop.fs.Path(corpus)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(corpus)).collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") => st.getPath.getName
    }
    spark.read.parquet(corpus).coalesce(1)
      .write.parquet(s"$corpus/_compact/data")
    val man = fs.create(new org.apache.hadoop.fs.Path(s"$corpus/_compact/manifest"), true)
    try man.write(names.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally man.close()
    // the next batch must roll the commit forward before gating — retired
    // rows exist only in staging at this point
    val next = Streaming.ingestBatch(batch(20, 20), corpus, "doc_id", Seq("text"))
    assert(next.admitted == 20)
    assert(next.rebuiltBloom, "post-crash file count must invalidate the sidecar stamp")
    assert(spark.read.parquet(corpus).select("doc_id").distinct().count() == 40)
    assert(spark.read.parquet(corpus).count() == 40, "recovery duplicated rows")
    val replay = Streaming.ingestBatch(batch(0, 40), corpus, "doc_id", Seq("text"))
    assert(replay.admitted == 0, s"recovery lost rows: $replay")
  }

  test("ingestBatch rebuilds a saturated bloom at doubled capacity and stays correct") {
    val corpus = java.nio.file.Files.createTempDirectory("graft-ingest4").toString + "/corpus"
    def batch(lo: Long, n: Long) =
      spark.range(lo, lo + n).select(col("id").as("doc_id"),
        concat(lit("doc-"), col("id")).as("text"))
    // tiny capacity: 40 keys saturate after the first two 16-row batches
    Streaming.ingestBatch(batch(0, 16), corpus, "doc_id", Seq("text"), expectedCorpusItems = 40)
    Streaming.ingestBatch(batch(16, 16), corpus, "doc_id", Seq("text"), expectedCorpusItems = 40)
    val sat = Streaming.ingestBatch(batch(32, 16), corpus, "doc_id", Seq("text"),
      expectedCorpusItems = 40)
    assert(sat.saturatedRebuild, s"expected saturation at 48 > 40 keys: $sat")
    // post-saturation: duplicates still rejected, new content still admitted
    val dup = Streaming.ingestBatch(batch(0, 48), corpus, "doc_id", Seq("text"),
      expectedCorpusItems = 40)
    assert(dup.admitted == 0, s"saturation rebuild lost keys: $dup")
    val more = Streaming.ingestBatch(batch(48, 16), corpus, "doc_id", Seq("text"),
      expectedCorpusItems = 40)
    assert(more.admitted == 16)
    assert(spark.read.parquet(corpus).count() == 64)
  }

  test("IvfIngest bootstraps a codebook then appends batches without retraining") {
    import graft.streaming.IvfIngest
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/index"
    val emb = Tables.embeddings(spark, sfDir)
    val b1 = emb.filter($"vec_id" < 100)
    val b2 = emb.filter($"vec_id" >= 100 && $"vec_id" < 200)
    val s1 = IvfIngest.ingestBatch(b1, dir, "vec_id", "embedding", nlist = 8)
    assert(s1.trainedCodebook && s1.appended == b1.count())
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cb1 = IvfIngest.readCodebook(fs, new org.apache.hadoop.fs.Path(dir)).get
    val s2 = IvfIngest.ingestBatch(b2, dir, "vec_id", "embedding", nlist = 8)
    assert(!s2.trainedCodebook, "later batches must reuse the persisted codebook")
    val cb2 = IvfIngest.readCodebook(fs, new org.apache.hadoop.fs.Path(dir)).get
    assert(cb1.centroids.map(_.toSeq).toSeq == cb2.centroids.map(_.toSeq).toSeq,
      "codebook is bitwise stable across appends")
    assert(spark.read.parquet(dir).count() == b1.count() + b2.count())
    // the layout is the partition-pruned IVF shape: one dir per list
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .exists(_.getPath.getName.startsWith("centroid_id=")))
    // a probe through the sidecar finds a vector ingested in batch 2
    val q = emb.filter($"vec_id" === 150).select("embedding").head().getSeq[Float](0).toArray
    val top = IvfIngest.probe(spark, dir, "vec_id", "embedding", q, k = 5, nprobe = 8)
    assert(top.collect().map(_.getLong(0)).contains(150L))
  }

  test("ingestPqBatch accretes bitwise the IVF-PQ index a batch build produces") {
    import graft.streaming.IvfIngest
    import graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-ing").toString + "/index"
    val emb = Tables.embeddings(spark, sfDir)
    val b1 = emb.filter($"vec_id" < 200)
    val b2 = emb.filter($"vec_id" >= 200 && $"vec_id" < 350)
    val b3 = emb.filter($"vec_id" >= 350)
    val s1 = IvfIngest.ingestPqBatch(b1, dir, "vec_id", "embedding", dim = 64)
    assert(s1.trainedCodebook && s1.appended == b1.count())
    val s2 = IvfIngest.ingestPqBatch(b2, dir, "vec_id", "embedding", dim = 64)
    val s3 = IvfIngest.ingestPqBatch(b3, dir, "vec_id", "embedding", dim = 64)
    assert(!s2.trainedCodebook && !s3.trainedCodebook,
      "later batches must encode against the persisted codebooks")
    // reference: a batch build whose models come from the SAME training
    // corpus the bootstrap saw (b1), encoding the full vector set — the
    // accreted index must match it row-for-row (12-byte rows, no floats)
    val (_, ivf, pq) = Similarity.ivfPqIndex(b1, "vec_id", "embedding", dim = 64)
    val ref = Similarity.ivfPqEncode(emb, "vec_id", "embedding", ivf, pq)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = spark.read.parquet(dir)
      .select($"vec_id", $"centroid_id".cast("int"), $"pq_code")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == ref, "accreted index must equal the batch-built index bitwise")
    // and the probe through the persisted sidecars equals the in-memory one
    val q = emb.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0).toArray
    val want = Similarity.ivfPqTopK(
      Similarity.ivfPqEncode(emb, "vec_id", "embedding", ivf, pq),
      ivf, pq, "vec_id", q, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probed = IvfIngest.probePq(spark, dir, "vec_id", q, kTop = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probed == want)
    // codebook rot: refreshPq retrains from the RAW vectors (codes are
    // lossy) and the swapped index equals a full-corpus batch build
    IvfIngest.refreshPq(spark, dir, emb, "vec_id", "embedding", dim = 64)
    val (fullIdx, fIvf, fPq) = Similarity.ivfPqIndex(emb, "vec_id", "embedding", dim = 64)
    val wantFull = Similarity.ivfPqTopK(fullIdx, fIvf, fPq, "vec_id", q, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val gotFull = IvfIngest.probePq(spark, dir, "vec_id", q, kTop = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotFull == wantFull, "refreshed index must equal the full batch build")
  }

  test("ingest refuses to retrain over a foreign index (data without codebooks)") {
    import graft.streaming.IvfIngest
    import graft.operators.Similarity
    // a batch-built IVF index has assigned centroid_id= data but NO
    // codebook sidecars; both ingest paths must fail fast rather than
    // retrain a new quantizer over rows assigned under another one
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-foreign").toString + "/index"
    val emb = Tables.embeddings(spark, sfDir).filter($"vec_id" < 100)
    val (assignments, _) = Similarity.ivfIndex(emb, "vec_id", "embedding", nlist = 4)
    Similarity.writeIvfIndex(assignments, dir)
    intercept[graft.GraftDataError] {
      IvfIngest.ingestBatch(emb, dir, "vec_id", "embedding", nlist = 4)
    }
    intercept[graft.GraftDataError] {
      IvfIngest.ingestPqBatch(emb, dir, "vec_id", "embedding", dim = 64)
    }
  }

  test("ingestBatch refuses an IVF-PQ index (would mix float rows into pq_code lists)") {
    import graft.streaming.IvfIngest
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-mixed").toString + "/index"
    val emb = Tables.embeddings(spark, sfDir).filter($"vec_id" < 200)
    IvfIngest.ingestPqBatch(emb, dir, "vec_id", "embedding", dim = 64): Unit
    // the PQ index shares the `_codebook` sidecar, so without the guard
    // ingestBatch would happily append (id, vec, centroid_id) float rows
    // among the 12-byte pq_code rows — the exact corruption ingestPqBatch's
    // own foreign-index error warns about, silently, at write time
    val e = intercept[graft.GraftDataError] {
      IvfIngest.ingestBatch(emb, dir, "vec_id", "embedding", nlist = 4)
    }
    assert(e.getMessage.contains("IVF-PQ"))
    // and nothing was appended: the index still holds only pq_code rows
    assert(spark.read.parquet(dir).columns.toSet == Set("vec_id", "pq_code", "centroid_id"))
    // the MIRROR image: refreshPq pointed at a plain-IVF index would
    // rewrite its float-vector lists as pq_codes — the same corruption
    // from the maintenance side. Both the direct call and the stale-check
    // auto form must refuse, leaving the index untouched.
    val plainDir = java.nio.file.Files.createTempDirectory("graft-ivf-plain").toString + "/index"
    IvfIngest.ingestBatch(emb, plainDir, "vec_id", "embedding", nlist = 4): Unit
    val e2 = intercept[graft.GraftDataError] {
      IvfIngest.refreshPq(spark, plainDir, emb, "vec_id", "embedding", dim = 64)
    }
    assert(e2.getMessage.contains("plain-IVF"))
    intercept[graft.GraftDataError] {
      // growthRatio 0.5 makes the unchanged index count as stale, proving
      // the refusal comes from the format guard, not a lucky fresh census
      IvfIngest.refreshPqIfStale(spark, plainDir, emb, "vec_id", "embedding",
        dim = 64, growthRatio = 0.5)
    }
    assert(spark.read.parquet(plainDir).columns.toSet ==
      Set("vec_id", "embedding", "centroid_id"))
  }

  test("ingest refuses to bootstrap from an unrepresentative first micro-batch") {
    import graft.streaming.IvfIngest
    val emb = Tables.embeddings(spark, sfDir)
    // default gate: 8×nlist rows — a 20-row first batch with nlist=16 must
    // raise the typed error instead of fixing a noise-fitted codebook for
    // the index's whole life
    val d1 = java.nio.file.Files.createTempDirectory("graft-ivf-boot").toString + "/index"
    val tiny = emb.filter($"vec_id" < 20)
    val e = intercept[graft.GraftDataError] {
      IvfIngest.ingestBatch(tiny, d1, "vec_id", "embedding", nlist = 16)
    }
    assert(e.getMessage.contains("refusing to bootstrap"))
    // the refusal is clean: no codebook, no data — the next (bigger) batch
    // bootstraps normally
    val fs = new org.apache.hadoop.fs.Path(d1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(IvfIngest.readCodebook(fs, new org.apache.hadoop.fs.Path(d1)).isEmpty)
    val ok = IvfIngest.ingestBatch(emb.filter($"vec_id" < 200), d1,
      "vec_id", "embedding", nlist = 16)
    assert(ok.trainedCodebook)
    // PQ path gates identically; an explicit bound overrides the default
    val d2 = java.nio.file.Files.createTempDirectory("graft-pq-boot").toString + "/index"
    intercept[graft.GraftDataError] {
      IvfIngest.ingestPqBatch(tiny, d2, "vec_id", "embedding", dim = 64)
    }
    IvfIngest.ingestPqBatch(tiny, d2, "vec_id", "embedding", dim = 64,
      nlist = 16, minBootstrapRows = 16): Unit
    // but never below nlist — k-means cannot seed 16 centroids from 8 rows
    val d3 = java.nio.file.Files.createTempDirectory("graft-pq-boot2").toString + "/index"
    intercept[graft.GraftDataError] {
      IvfIngest.ingestPqBatch(emb.filter($"vec_id" < 8), d3, "vec_id", "embedding",
        dim = 64, nlist = 16, minBootstrapRows = 1)
    }
  }

  test("KmvSegments: any batch split and any redelivery converge to the one-shot state") {
    import graft.streaming.KmvSegments
    import graft.operators.Sketches
    val k = 32
    val data = Seq.tabulate(600)(i => (s"s${i % 4}", i.toLong % 97)).toDF("seg", "uid")
    val whole = Sketches.sketch(data, "seg", "uid", k)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    def runSplits(dir: String,
        splits: Seq[org.apache.spark.sql.DataFrame]): Map[String, Seq[Long]] = {
      splits.zipWithIndex.foreach { case (b, i) =>
        KmvSegments.mergeBatch(b, dir, "seg", "uid", k, i.toLong): Unit
      }
      KmvSegments.state(spark, dir).get
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    }
    val d1 = java.nio.file.Files.createTempDirectory("graft-kmv1").toString + "/st"
    val byMod = Seq(0L, 1L, 2L).map(m => data.filter($"uid" % 3 === m))
    assert(runSplits(d1, byMod) == whole, "mod-3 split must equal the one-shot build")
    val d2 = java.nio.file.Files.createTempDirectory("graft-kmv2").toString + "/st"
    val byHalf = Seq(data.filter($"uid" < 50), data.filter($"uid" >= 50))
    // redeliver BOTH batches on top: idempotent merges, same state
    assert(runSplits(d2, byHalf ++ byHalf) == whole,
      "range split + full redelivery must equal the one-shot build")
    // superseded versions sweep, EXCEPT the one-merge reader grace window
    val fs = new org.apache.hadoop.fs.Path(d2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = fs.listStatus(new org.apache.hadoop.fs.Path(d2))
      .map(_.getPath.getName).filter(_.startsWith("v")).sorted
    assert(vs.toSeq == Seq("v2", "v3"), s"expected live + grace, got: ${vs.mkString(",")}")
  }

  test("KmvSegments: committed-batchId redelivery skips; a mid-swap crash recovers") {
    import graft.streaming.KmvSegments
    import org.apache.hadoop.fs.Path
    val dirS = java.nio.file.Files.createTempDirectory("graft-kmvcrash").toString + "/st"
    val b0 = Seq(("a", 1L), ("a", 2L), ("b", 9L)).toDF("seg", "uid")
    KmvSegments.mergeBatch(b0, dirS, "seg", "uid", 16, batchId = 0L): Unit
    val s0 = KmvSegments.state(spark, dirS).get
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // SAME batchId redelivered: the pointer is its commit record — the
    // merge skips (no read-and-overwrite of its own version path) and the
    // state is untouched, even for a DIFFERENT payload
    KmvSegments.mergeBatch(Seq(("c", 5L)).toDF("seg", "uid"),
      dirS, "seg", "uid", 16, batchId = 0L): Unit
    val s0b = KmvSegments.state(spark, dirS).get
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(s0b == s0, "a committed batchId must merge as a no-op")
    // crash inside the pointer swap window (pointer deleted, rename never
    // ran): state() falls back to the highest complete version, and the
    // next merge rebuilds the pointer on top of it
    val fs = new Path(dirS).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(dirS, "current"), false))
    val recovered = KmvSegments.state(spark, dirS).get
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(recovered == s0, "pointer loss must fall back, not reset the state")
    KmvSegments.mergeBatch(Seq(("b", 10L)).toDF("seg", "uid"),
      dirS, "seg", "uid", 16, batchId = 1L): Unit
    val s1 = KmvSegments.state(spark, dirS).get
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(s1("a") == s0("a") && s1("b").size == 2,
      "post-recovery merge must extend the recovered state")
  }

  test("KmvSegments.stream maintains live state across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.KmvSegments
    import graft.operators.Sketches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-kmvstream").toString + "/st"
    val input = MemoryStream[(String, Long)]
    val q = KmvSegments.stream(
      input.toDF().toDF("seg", "uid"), dir, "seg", "uid", k = 16)
    try {
      input.addData(Seq.tabulate(40)(i => (s"g${i % 2}", i.toLong)): _*)
      q.processAllAvailable()
      val afterOne = KmvSegments.state(spark, dir).get.count()
      assert(afterOne == 2L)
      input.addData(Seq.tabulate(40)(i => (s"g${i % 4}", 1000L + i)): _*)
      q.processAllAvailable()
      val st = KmvSegments.state(spark, dir).get
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(st.keySet == Set("g0", "g1", "g2", "g3"))
      // g0 saw 20 + 10 distinct uids across the two batches, sketch bounded at k
      assert(st("g0").size == 16)
      assert(st("g2").size == 10, "g2 only exists in batch two (10 distinct uids)")
    } finally q.stop()
  }

  test("RollupState merges to the one-shot aggregate; a redelivered batchId cannot double-count") {
    import graft.streaming.RollupState
    val df = Seq(
      ("a", 10.0, 1L), ("a", 2.5, 2L), ("a", 2.5, 1L),
      ("b", -3.0, 3L), ("b", 7.0, 3L), ("c", 0.0, 4L)
    ).toDF("k", "v", "u")
    val dirS = java.nio.file.Files.createTempDirectory("graft-rollup").toString + "/st"
    // two batches split by user, then batch 1 REDELIVERED under its own id
    Seq((Seq(1L, 2L), 0L), (Seq(3L, 4L), 1L), (Seq(3L, 4L), 1L)).foreach { case (us, id) =>
      RollupState.mergeBatch(df.filter($"u".isin(us: _*)), dirS,
        Seq("k"), "v", "u", batchId = id): Unit
    }
    val got = RollupState.state(spark, dirS).get
      .select($"k", $"cnt", $"sum_v".cast("double"), $"min_v", $"max_v",
        hll_sketch_estimate($"distinct_hll").as("du"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    val want = df.groupBy($"k").agg(
        count(lit(1)), sum($"v".cast("decimal(18,2)")).cast("double"),
        min($"v"), max($"v"), countDistinct($"u"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    // cnt/sum/min/max order-free exact; HLL exact at these cardinalities
    assert(got == want, s"got $got, want $want")
  }

  test("Bm25Index: batch-ingested topK equals the ad-hoc BM25 bitwise") {
    import graft.streaming.Bm25Index
    import graft.operators.Retrieval
    val docs = Seq(
      (1L, "spark spark spark join"), (2L, "spark join join window"),
      (3L, "window order order order"), (4L, "spark"),
      (5L, "the quick brown fox")).toDF("doc_id", "text")
    val queries = Seq((0L, "spark join"), (1L, "order fox")).toDF("query_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val adHoc = rows(Retrieval.bm25TopK(docs, "doc_id", "text", queries, k = 10))
    val root = java.nio.file.Files.createTempDirectory("graft-bm25idx").toString
    val idx = root + "/idx"
    // three increments must converge to the one-shot corpus, score-bitwise
    Bm25Index.ingestBatch(docs.filter($"doc_id" <= 2), idx, "doc_id", "text", batchId = 0L)
    Bm25Index.ingestBatch(docs.filter($"doc_id" === 3), idx, "doc_id", "text", batchId = 1L)
    Bm25Index.ingestBatch(docs.filter($"doc_id" >= 4), idx, "doc_id", "text", batchId = 2L)
    assert(rows(Bm25Index.topK(spark, idx, queries, k = 10)) == adHoc,
      "incremental index must score bitwise like the ad-hoc two-pass form")
    // committed-batchId redelivery skips outright — even a different payload
    Bm25Index.ingestBatch(Seq((99L, "spark noise")).toDF("doc_id", "text"),
      idx, "doc_id", "text", batchId = 1L)
    assert(rows(Bm25Index.topK(spark, idx, queries, k = 10)) == adHoc)
    // crash-torn append: the marker never landed, the batch redelivers and
    // re-appends bitwise-duplicate rows — the query-side distinct absorbs
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(idx, "_batches/b2"), false))
    Bm25Index.ingestBatch(docs.filter($"doc_id" >= 4), idx, "doc_id", "text", batchId = 2L)
    assert(rows(Bm25Index.topK(spark, idx, queries, k = 10)) == adHoc,
      "redelivered rows must dedupe read-side, not double tf/df")
    // one-shot build, same answer; modulus is fixed at creation
    val idx2 = root + "/idx2"
    Bm25Index.build(docs, idx2, "doc_id", "text", nShards = Sizing.Fixed(8))
    assert(rows(Bm25Index.topK(spark, idx2, queries, k = 10)) == adHoc)
    intercept[graft.GraftDataError] {
      Bm25Index.ingestBatch(docs, idx2, "doc_id", "text", batchId = 9L,
        nShards = Sizing.Fixed(16))
    }
    // an explicit modulus equal to the default is no less explicit: 64
    // against the meta's 8 must fail too, not silently ingest mod 8
    intercept[graft.GraftDataError] {
      Bm25Index.ingestBatch(docs, idx2, "doc_id", "text", batchId = 9L,
        nShards = Sizing.Fixed(Bm25Index.DefaultShards))
    }
    // no index / no matching terms degrade typed or empty, never NPE
    intercept[graft.GraftDataError] { Bm25Index.topK(spark, root + "/nope", queries, 5) }
    assert(Bm25Index.topK(spark, idx,
      Seq((0L, "zzz qqq")).toDF("query_id", "qtext"), 5).count() == 0L)
  }

  test("Bm25Index.AutoShards derives the modulus from data, fixes it at the meta, scores unchanged") {
    import graft.streaming.Bm25Index
    import graft.operators.Retrieval
    val docs = Seq(
      (1L, "spark spark spark join"), (2L, "spark join join window"),
      (3L, "window order order order"), (4L, "spark"),
      (5L, "the quick brown fox")).toDF("doc_id", "text")
    val queries = Seq((0L, "spark join"), (1L, "order fox")).toDF("query_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val adHoc = rows(Retrieval.bm25TopK(docs, "doc_id", "text", queries, k = 10))
    val root = java.nio.file.Files.createTempDirectory("graft-bm25auto").toString
    // default 16 GiB/shard: a KB-scale frame derives ONE shard
    val idx = root + "/auto"
    Bm25Index.ingestBatch(docs.filter($"doc_id" <= 2), idx, "doc_id", "text",
      batchId = 0L, nShards = Bm25Index.AutoShards)
    // a later AutoShards batch must accept whatever the meta fixed
    Bm25Index.ingestBatch(docs.filter($"doc_id" > 2), idx, "doc_id", "text",
      batchId = 1L, nShards = Bm25Index.AutoShards)
    assert(rows(Bm25Index.topK(spark, idx, queries, k = 10)) == adHoc,
      "auto-sharded index must score bitwise like the ad-hoc form")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shardDirs = fs.listStatus(new org.apache.hadoop.fs.Path(idx, "postings"))
      .filter(_.getPath.getName.startsWith("__tshard=")).length
    assert(shardDirs == 1, s"KB-scale frame must derive 1 shard, got $shardDirs")
    // shard count never touches scores; an explicit mismatch fails fast
    val idx2 = root + "/fixed7"
    Bm25Index.ingestBatch(docs, idx2, "doc_id", "text", batchId = 0L,
      nShards = Sizing.Fixed(7))
    val shards2 = fs.listStatus(new org.apache.hadoop.fs.Path(idx2, "postings"))
      .filter(_.getPath.getName.startsWith("__tshard=")).length
    assert(shards2 > 1, s"7 shards over 5 docs must touch >1 shard dir, got $shards2")
    assert(rows(Bm25Index.topK(spark, idx2, queries, k = 10)) == adHoc,
      "shard count never touches scores")
    intercept[graft.GraftDataError] {
      Bm25Index.ingestBatch(docs, idx2, "doc_id", "text", batchId = 9L,
        nShards = Sizing.Fixed(9))
    }
    // an EMPTY first Auto batch (0-byte estimate) sizes by the same rule
    // (1 shard); the real batch after it ingests under that meta and the
    // index still scores bitwise like the ad-hoc form
    val idx3 = root + "/emptyfirst"
    assert(Sizing.estimate(docs.limit(0)) == 0)
    Bm25Index.ingestBatch(docs.limit(0), idx3, "doc_id", "text", batchId = 0L,
      nShards = Bm25Index.AutoShards)
    Bm25Index.ingestBatch(docs, idx3, "doc_id", "text", batchId = 1L,
      nShards = Bm25Index.AutoShards)
    val shards3 = fs.listStatus(new org.apache.hadoop.fs.Path(idx3, "postings"))
      .filter(_.getPath.getName.startsWith("__tshard=")).length
    assert(shards3 == 1, s"a 0-byte first batch must derive 1 shard, got $shards3")
    assert(rows(Bm25Index.topK(spark, idx3, queries, k = 10)) == adHoc,
      "an empty first batch must not skew the index")
  }

  test("Bm25Index.compact folds stats to O(1) dirs and merges postings tiers, results unchanged") {
    import graft.streaming.Bm25Index
    import org.apache.hadoop.fs.Path
    val idx = java.nio.file.Files.createTempDirectory("graft-bm25cpt").toString + "/idx"
    val docs = (0L until 24L).map(i => (i, s"tok${i % 5} tok${i % 7} common word"))
    docs.grouped(2).zipWithIndex.foreach { case (g, b) =>
      Bm25Index.ingestBatch(g.toDF("doc_id", "text"), idx, "doc_id", "text",
        batchId = b.toLong, nShards = Sizing.Fixed(4))
    }
    val queries = Seq((0L, "tok1 common"), (1L, "tok3 word")).toDF("query_id", "qtext")
    def rows() = Bm25Index.topK(spark, idx, queries, k = 24).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3, t._2)).toSeq
    val before = rows()
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def statsDirs() = fs.listStatus(new Path(idx, "_stats")).count(_.isDirectory)
    def shardFiles() = fs.listStatus(new Path(idx, "postings")).toSeq
      .filter(_.getPath.getName.startsWith("__tshard="))
      .map(sh => fs.listStatus(sh.getPath)
        .count(st => st.isFile && !st.getPath.getName.startsWith("_")))
    assert(statsDirs() == 12, "one stats dir per batch before the fold")
    assert(shardFiles().exists(_ >= 12), "per-batch appends accrete shard files")
    Bm25Index.compact(spark, idx, maxStatsDirs = 4, maxFilesPerShard = 2)
    assert(statsDirs() == 1, s"stats must fold to ONE dir, got ${statsDirs()}")
    assert(shardFiles().forall(_ <= 2),
      s"small tiers must merge to the byte budget, got ${shardFiles()}")
    assert(rows() == before, "compaction must not change any score")
    // crash window between fold and sweep: a leftover source dir only
    // duplicates __b-stamped rows bitwise — the read-side distinct absorbs
    val cDir = fs.listStatus(new Path(idx, "_stats"))
      .filter(_.isDirectory).map(_.getPath).head
    org.apache.hadoop.fs.FileUtil.copy(fs, cDir, fs,
      new Path(idx, "_stats/b0"), false, spark.sparkContext.hadoopConfiguration)
    assert(rows() == before, "duplicate stats rows must dedupe read-side")
    // idempotent: a re-run under the same thresholds is a no-op
    Bm25Index.compact(spark, idx, maxStatsDirs = 4, maxFilesPerShard = 2)
    assert(rows() == before)
  }

  test("Bm25Index purge fails fast when committed batches have no doclens sidecar") {
    // the compliance-critical path must never silently no-op: an index
    // with committed batches but no complete _doclens dirs (pre-sidecar
    // build, or doclens torn in the crash window) cannot size the
    // tombstones — purge throws "rebuild", mirroring the stats __b guard,
    // instead of returning 0 while the postings stay probeable
    import graft.streaming.Bm25Index
    import org.apache.hadoop.fs.Path
    val docs = Seq((1L, "spark join"), (2L, "window order")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-bm25nodl").toString + "/idx"
    Bm25Index.ingestBatch(docs, idx, "doc_id", "text", batchId = 0L, nShards = Sizing.Fixed(4))
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(idx, "_doclens"), true))
    val e = intercept[graft.GraftDataError] {
      Bm25Index.purge(spark, idx, Seq(1L).toDF("doc_id"), "doc_id")
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    // PARTIAL coverage is the sneakier hole: one covered batch must not
    // vouch for the uncovered ones — the pre-sidecar batch's docs would
    // silently escape the purge while its caller retires the request
    val more = Seq((3L, "quick brown fox"), (4L, "lazy dog sleeps")).toDF("doc_id", "text")
    Bm25Index.ingestBatch(more, idx, "doc_id", "text", batchId = 1L, nShards = Sizing.Fixed(4))
    val e2 = intercept[graft.GraftDataError] {
      Bm25Index.purge(spark, idx, Seq(1L).toDF("doc_id"), "doc_id")
    }
    assert(e2.getMessage.contains("cover") && e2.getMessage.contains("0"), e2.getMessage)
    // an EMPTY committed batch leaves no doclens rows by design and must
    // NOT trip the coverage check: rebuild covered, append an empty batch,
    // purge proceeds
    val idx2 = java.nio.file.Files.createTempDirectory("graft-bm25cov").toString + "/idx"
    Bm25Index.ingestBatch(docs, idx2, "doc_id", "text", batchId = 0L, nShards = Sizing.Fixed(4))
    Bm25Index.ingestBatch(docs.filter($"doc_id" < 0L), idx2, "doc_id", "text",
      batchId = 1L, nShards = Sizing.Fixed(4))
    assert(Bm25Index.purge(spark, idx2, Seq(1L).toDF("doc_id"), "doc_id") == 1L)
  }

  test("Bm25Index fsck reports every torn shape the purge guard cannot see") {
    // the maintenance-time postings-__b scan: healthy batches (including
    // a committed EMPTY one) report ok; a lost doclens sidecar and an
    // uncommitted postings-only batch (stats+doclens+marker gone — the
    // abandoned mid-crash stream) both surface as non-ok rows naming
    // exactly where the batch was and wasn't seen
    import graft.streaming.Bm25Index
    import org.apache.hadoop.fs.Path
    val docs = Seq((1L, "spark join"), (2L, "window order")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-bm25fsck").toString + "/idx"
    Bm25Index.ingestBatch(docs, idx, "doc_id", "text", batchId = 0L, nShards = Sizing.Fixed(4))
    Bm25Index.ingestBatch(docs.filter($"doc_id" < 0L), idx, "doc_id", "text",
      batchId = 1L, nShards = Sizing.Fixed(4)) // committed empty batch
    def report() = Bm25Index.fsck(spark, idx).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getLong(5), r.getBoolean(6)))).toMap
    val healthy = report()
    assert(healthy(0L) == ((true, true, true, true, 2L, true)), healthy.toString)
    assert(healthy(1L) == ((true, false, true, false, 0L, true)),
      "a committed empty batch is healthy with no postings or doclens rows")
    // lost doclens: batch 0 flips to non-ok, seen everywhere but there
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(idx, "_doclens"), true))
    val torn = report()
    assert(torn(0L) == ((true, true, true, false, 2L, false)), torn.toString)
    // abandoned mid-crash stream: postings landed, nothing else — fsck is
    // the ONLY component that can see this shape (purge's guard cannot)
    assert(fs.delete(new Path(idx, "_stats/b0"), true))
    assert(fs.delete(new Path(idx, "_batches/b0"), true))
    val orphan = report()
    assert(orphan(0L) == ((false, true, false, false, -1L, false)), orphan.toString)
  }

  test("Bm25Index fsck: legitimate postings absence is healthy; real damage is not") {
    // the verdict a maintainer acts on must not cry wolf: a batch whose
    // postings are PROVABLY absent for a reason — every doc purged (and
    // vacuumed away) or tokenless — is ok; a batch with live docs and no
    // postings is damage. And the documented remedy for committed-but-
    // damaged batches (drop the marker, redeliver) actually heals.
    import graft.streaming.Bm25Index
    import org.apache.hadoop.fs.Path
    val idx = java.nio.file.Files.createTempDirectory("graft-bm25fsck2").toString + "/idx"
    def okOf() = Bm25Index.fsck(spark, idx).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    // batch 0: normal docs; batch 1: all docs tokenless (no postings ever)
    Bm25Index.ingestBatch(Seq((1L, "spark join"), (2L, "fox")).toDF("doc_id", "text"),
      idx, "doc_id", "text", batchId = 0L, nShards = Sizing.Fixed(4))
    Bm25Index.ingestBatch(Seq((3L, ""), (4L, "   ")).toDF("doc_id", "text"),
      idx, "doc_id", "text", batchId = 1L, nShards = Sizing.Fixed(4))
    assert(okOf() == Map(0L -> true, 1L -> true),
      "a committed all-tokenless batch is healthy with zero postings rows")
    // purge ALL of batch 0 and vacuum: its postings vanish physically,
    // but the tombstones explain the absence — still healthy
    assert(Bm25Index.purge(spark, idx, Seq(1L, 2L).toDF("doc_id"), "doc_id") == 2L)
    assert(Bm25Index.vacuum(spark, idx) == 2L)
    assert(okOf() == Map(0L -> true, 1L -> true),
      "a fully purged-and-vacuumed batch is healthy, not torn")
    // REAL damage: a third batch with live docs whose postings are lost
    Bm25Index.ingestBatch(Seq((9L, "window order")).toDF("doc_id", "text"),
      idx, "doc_id", "text", batchId = 2L, nShards = Sizing.Fixed(4))
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // batches 0/1 hold no postings rows anymore (vacuumed / tokenless), so
    // deleting the postings tree is exactly "batch 2's postings lost"
    assert(fs.delete(new Path(idx, "postings"), true))
    assert(okOf()(2L) == false, "live docs with no postings must stay non-ok")
    assert(okOf()(0L) && okOf()(1L),
      "the explained-absence batches must stay healthy through the damage")
    // the documented remedy: drop the marker, redeliver the SAME batch
    assert(fs.delete(new Path(idx, "_batches/b2"), false))
    Bm25Index.ingestBatch(Seq((9L, "window order")).toDF("doc_id", "text"),
      idx, "doc_id", "text", batchId = 2L, nShards = Sizing.Fixed(4))
    assert(okOf()(2L) == true, "marker-drop + redelivery must heal the batch")
  }

  test("Bm25Index purge: immediate compliance, bitwise-filtered scores, incremental vacuum") {
    import graft.streaming.Bm25Index
    import graft.operators.Retrieval
    import org.apache.hadoop.fs.Path
    val docs = Seq(
      (1L, "spark spark spark join"), (2L, "spark join join window"),
      (3L, "window order order order"), (4L, "spark"),
      (5L, "the quick brown fox")).toDF("doc_id", "text")
    val queries = Seq((0L, "spark join"), (1L, "order fox")).toDF("query_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3, t._2)).toSeq
    val idx = java.nio.file.Files.createTempDirectory("graft-bm25prg").toString + "/idx"
    Bm25Index.ingestBatch(docs.filter($"doc_id" <= 3), idx, "doc_id", "text",
      batchId = 0L, nShards = Sizing.Fixed(8))
    Bm25Index.ingestBatch(docs.filter($"doc_id" >= 4), idx, "doc_id", "text",
      batchId = 1L, nShards = Sizing.Fixed(8))
    // purge docs 1 and 3 (id 99 is absent -> skipped): the logical delete
    // must make every score BITWISE the ad-hoc BM25 over the corpus that
    // never held them — df, n_docs and avgdl all corrected
    assert(Bm25Index.purge(spark, idx,
      Seq(1L, 3L, 99L).toDF("doc_id"), "doc_id") == 2L)
    val want = rows(Retrieval.bm25TopK(
      docs.filter(!$"doc_id".isin(1L, 3L)), "doc_id", "text", queries, k = 10))
    assert(rows(Bm25Index.topK(spark, idx, queries, k = 10)) == want,
      "purged index must score bitwise like a rebuild without the docs")
    assert(!rows(Bm25Index.topK(spark, idx, queries, 10)).exists(
      r => r._2 == 1L || r._2 == 3L), "purged docs must never be returned")
    // a re-purge is a no-op, never a double correction
    assert(Bm25Index.purge(spark, idx, Seq(1L, 3L).toDF("doc_id"), "doc_id") == 0L)
    assert(rows(Bm25Index.topK(spark, idx, queries, k = 10)) == want)
    // vacuum physically removes the masked postings, scores unchanged; the
    // tombstones are permanent (they carry the constants correction)
    assert(Bm25Index.vacuum(spark, idx) == 2L)
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val physical = spark.read
      .schema("term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, __b BIGINT, __tshard INT")
      .parquet(s"$idx/postings")
    assert(physical.filter($"doc_id".isin(1L, 3L)).count() == 0L,
      "vacuum must remove every purged posting physically")
    assert(fs.exists(new Path(idx, "_deleted")), "tombstones are permanent")
    assert(rows(Bm25Index.topK(spark, idx, queries, k = 10)) == want)
    // incremental: with nothing newly purged, a re-vacuum holds (no rewrite)
    val filesBefore = physical.inputFiles.toSet
    assert(Bm25Index.vacuum(spark, idx) == 0L)
    assert(spark.read.schema(physical.schema).parquet(s"$idx/postings")
      .inputFiles.toSet == filesBefore, "held vacuum must not rewrite")
    // ...and the next purge+vacuum only counts the new tombstones
    assert(Bm25Index.purge(spark, idx, Seq(4L).toDF("doc_id"), "doc_id") == 1L)
    assert(rows(Bm25Index.topK(spark, idx, queries, k = 10)) ==
      rows(Retrieval.bm25TopK(
        docs.filter(!$"doc_id".isin(1L, 3L, 4L)), "doc_id", "text", queries, k = 10)))
    assert(Bm25Index.vacuum(spark, idx) == 1L)
    // compaction folds the tombstone dirs too, results unchanged
    Bm25Index.purge(spark, idx, Seq(5L).toDF("doc_id"), "doc_id"): Unit
    Bm25Index.compact(spark, idx, maxStatsDirs = 1)
    assert(fs.listStatus(new Path(idx, "_deleted"))
      .count(_.isDirectory) == 1, "tombstone dirs must fold")
    assert(rows(Bm25Index.topK(spark, idx, queries, k = 10)) ==
      rows(Retrieval.bm25TopK(
        docs.filter($"doc_id" === 2L), "doc_id", "text", queries, k = 10)))
    // PURGE-COST PIN: purge reads only the docs-count-sized _doclens
    // sidecar, never the corpus-scale postings. Poison the postings with a
    // garbage parquet — any postings read would throw
    val idx2 = java.nio.file.Files.createTempDirectory("graft-bm25blind").toString + "/idx"
    Bm25Index.ingestBatch(docs.filter($"doc_id" <= 2), idx2, "doc_id", "text",
      batchId = 0L, nShards = Sizing.Fixed(4))
    val someShard = new java.io.File(s"$idx2/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__tshard=")).head
    java.nio.file.Files.write(
      new java.io.File(someShard, "zzz_poison.parquet").toPath,
      "not parquet".getBytes)
    assert(Bm25Index.purge(spark, idx2, Seq(1L).toDF("doc_id"), "doc_id") == 1L,
      "purge must be postings-blind")
  }

  test("Bm25Index.topK with tombstones: one planning collect, within its job budget, bitwise") {
    import graft.streaming.Bm25Index
    import graft.operators.Retrieval
    val docs = Seq(
      (1L, "spark spark spark join"), (2L, "spark join join window"),
      (3L, "window order order order"), (4L, "spark"),
      (5L, "the quick brown fox")).toDF("doc_id", "text")
    val queries = Seq((0L, "spark join"), (1L, "order fox"), (2L, "spark spark"))
      .toDF("query_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3, t._2)).toSeq
    val idx = java.nio.file.Files.createTempDirectory("graft-bm25jobs").toString + "/idx"
    Bm25Index.ingestBatch(docs, idx, "doc_id", "text", batchId = 0L, nShards = Sizing.Fixed(4))
    assert(Bm25Index.purge(spark, idx, Seq(1L, 3L).toDF("doc_id"), "doc_id") == 2L)
    val (got, jobs) = org.apache.spark.JobCounter.count(spark.sparkContext)(
      rows(Bm25Index.topK(spark, idx, queries, k = 10)))
    assert(got == rows(Retrieval.bm25TopK(
      docs.filter(!$"doc_id".isin(1L, 3L)), "doc_id", "text", queries, k = 10)))
    // the stats rows, the query terms and the tombstones are read ONCE, in
    // the planning collect (the corpus constants sum on the driver, with no
    // shuffle), and scoring reads the terms and tombstones back as local
    // relations
    assert(jobs <= 8, s"topK with tombstones ran $jobs jobs")
  }

  test("Bm25Index build/stream refuse the marker collisions that would drop batches") {
    import graft.streaming.Bm25Index
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = java.nio.file.Files.createTempDirectory("graft-bm25grd").toString
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    // build commits under the reserved -1: stream ids never collide, and
    // ingestBatch(0) is a NEW batch, not a skipped redelivery of the build
    val idx = root + "/idx"
    Bm25Index.build(docs, idx, "doc_id", "text", nShards = Sizing.Fixed(4))
    Bm25Index.ingestBatch(Seq((3L, "gamma delta")).toDF("doc_id", "text"),
      idx, "doc_id", "text", batchId = 0L, nShards = Sizing.Fixed(4))
    val q = Seq((0L, "gamma")).toDF("query_id", "qtext")
    assert(Bm25Index.topK(spark, idx, q, 10).count() == 2L,
      "the post-build batch 0 must ingest, not skip against the build marker")
    // one-shot: a second build refuses instead of double-counting
    intercept[graft.GraftDataError] {
      Bm25Index.build(docs, idx, "doc_id", "text", Sizing.Fixed(4))
    }
    // no checkpoint + committed stream batches -> batchIds restart at 0
    // and the marker skip would swallow micro-batches: refuse
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF().toDF("doc_id", "text")
    intercept[graft.GraftDataError] {
      Bm25Index.stream(streamDf, idx, "doc_id", "text", nShards = Sizing.Fixed(4))
    }
    // fresh checkpoint against committed stream markers: same trap, refused
    intercept[graft.GraftDataError] {
      Bm25Index.stream(streamDf, idx, "doc_id", "text", nShards = Sizing.Fixed(4),
        checkpointDir = Some(root + "/cp-fresh"))
    }
    // a build-only index is safe to stream onto (reserved -1 never collides)
    val idx2 = root + "/idx2"
    Bm25Index.build(docs, idx2, "doc_id", "text", nShards = Sizing.Fixed(4))
    val sq = Bm25Index.stream(streamDf, idx2, "doc_id", "text", nShards = Sizing.Fixed(4),
      checkpointDir = Some(root + "/cp2"))
    try {
      mem.addData((3L, "gamma delta"))
      sq.processAllAvailable()
      assert(Bm25Index.topK(spark, idx2, q, 10).count() == 2L)
    } finally sq.stop()
    // resuming the SAME checkpoint is the supported restart path
    val sq2 = Bm25Index.stream(streamDf, idx2, "doc_id", "text", nShards = Sizing.Fixed(4),
      checkpointDir = Some(root + "/cp2"))
    try {
      mem.addData((4L, "epsilon zeta"))
      sq2.processAllAvailable()
      assert(Bm25Index.topK(spark, idx2,
        Seq((0L, "epsilon")).toDF("query_id", "qtext"), 10).count() == 1L)
    } finally sq2.stop()
  }

  test("maintainers merge a NULL key into ONE state row, like any other group") {
    import graft.streaming.{KmvSegments, RollupState}
    // groupBy emits a null-key group; a plain USING merge join would
    // re-append it un-merged every batch (EqualTo never matches NULL)
    val dirR = java.nio.file.Files.createTempDirectory("graft-rollnull").toString + "/st"
    RollupState.mergeBatch(Seq((Some("a"), 1.0, 1L), (None, 2.0, 2L)).toDF("k", "v", "u"),
      dirR, Seq("k"), "v", "u", batchId = 0L): Unit
    RollupState.mergeBatch(Seq((Option.empty[String], 3.0, 3L)).toDF("k", "v", "u"),
      dirR, Seq("k"), "v", "u", batchId = 1L): Unit
    val rows = RollupState.state(spark, dirR).get
      .select($"k", $"cnt", $"sum_v".cast("double"), $"min_v", $"max_v").collect()
    assert(rows.length == 2, s"one row per key INCLUDING null, got ${rows.toSeq}")
    val nullRow = rows.find(_.isNullAt(0)).get
    assert((nullRow.getLong(1), nullRow.getDouble(2), nullRow.getDouble(3),
      nullRow.getDouble(4)) == ((2L, 5.0, 2.0, 3.0)))
    val dirK = java.nio.file.Files.createTempDirectory("graft-kmvnull").toString + "/st"
    KmvSegments.mergeBatch(Seq((Some("s"), 1L), (None, 2L)).toDF("seg", "uid"),
      dirK, "seg", "uid", 16, batchId = 0L): Unit
    KmvSegments.mergeBatch(Seq((Option.empty[String], 9L)).toDF("seg", "uid"),
      dirK, "seg", "uid", 16, batchId = 1L): Unit
    val segs = KmvSegments.state(spark, dirK).get.collect()
      .map(r => Option(r.getString(0)) -> r.getSeq[Long](1)).toMap
    assert(segs.size == 2 && segs(None).size == 2,
      s"null segment must keep ONE merged sketch: $segs")
  }

  test("crash fallback recovers CONTENT recency, not version-number order") {
    import graft.streaming.KmvSegments
    import org.apache.hadoop.fs.Path
    val dirS = java.nio.file.Files.createTempDirectory("graft-vsregress").toString + "/st"
    // an earlier run's numbering reached batchId 7...
    KmvSegments.mergeBatch(Seq(("a", 1L)).toDF("seg", "uid"),
      dirS, "seg", "uid", 16, batchId = 7L): Unit
    // ...then a restart WITHOUT a checkpoint regresses the numbering to 0;
    // the content extends (idempotent merge), the version NAME goes down
    KmvSegments.mergeBatch(Seq(("a", 2L), ("b", 3L)).toDF("seg", "uid"),
      dirS, "seg", "uid", 16, batchId = 0L): Unit
    // crash inside the pointer-swap window: v0 (live content) and v7 (the
    // grace version) are both on disk and v7 has the HIGHER number
    val fs = new Path(dirS).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(dirS, "current"), false))
    val rec = KmvSegments.state(spark, dirS).get.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(rec.keySet == Set("a", "b") && rec("a").size == 2,
      s"fallback must pick the most recently WRITTEN version, got $rec")
    // the one-granule trap: force BOTH _SUCCESS mtimes equal — inside one
    // timestamp granule the mtime tie-break would fall to the batchId,
    // which after the regression points at the content-OLDER v7. The
    // monotonic _seq stamp must still order v0 (content-newer) on top
    val t = System.currentTimeMillis()
    for (v <- Seq("v0", "v7"))
      fs.setTimes(new Path(dirS, s"$v/_SUCCESS"), t, -1)
    val rec2 = KmvSegments.state(spark, dirS).get.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(rec2 == rec,
      s"equal-mtime regression must recover by the _seq stamp, got $rec2")
    // a version whose crash closed between _SUCCESS and _seq falls back to
    // (mtime, batchId) only among the unstamped — an existing stamp wins
    assert(fs.delete(new Path(dirS, "v0/_seq"), false))
    val rec3 = KmvSegments.state(spark, dirS).get.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(rec3("a").size == 1,
      "the stamped base must win over the seq-less in-flight version")
  }

  test("purgeKeys invalidates the gate meta before touching shard dirs") {
    import graft.streaming.{KeyTableMeta, KeyTableSidecar}
    val corpus = java.nio.file.Files.createTempDirectory("graft-ktpurge").toString + "/corpus"
    val target = new org.apache.hadoop.fs.Path(corpus)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(target)
    KeyTableSidecar.appendKeys(
      spark.range(0L, 16L).select(col("id").as("__k")), target, nShards = 4)
    KeyTableSidecar.writeMeta(fs, target, KeyTableMeta(4, 16L, "stamp-live"))
    val n = KeyTableSidecar.purgeKeys(spark, fs, target,
      Seq(3L, 7L).toDF("__k"), nShards = 4)
    assert(n == 2L)
    // the stamp must be GONE: a crash mid-rewrite may drop a whole shard,
    // and a surviving trusted stamp would admit duplicate content — the
    // caller re-stamps after (purgeCorpus does)
    assert(KeyTableSidecar.readMeta(fs, target).isEmpty,
      "purgeKeys must invalidate the meta itself")
    val left = KeyTableSidecar.load(spark, target)
      .select("__k").as[Long].collect().sorted.toSeq
    assert(left == (0L until 16L).filterNot(Set(3L, 7L)).toSeq)
    // a NO-OP purge (keys absent) must not invalidate a fresh stamp
    KeyTableSidecar.writeMeta(fs, target, KeyTableMeta(4, 14L, "stamp-live2"))
    assert(KeyTableSidecar.purgeKeys(spark, fs, target,
      Seq(999L).toDF("__k"), nShards = 4) == 0L)
    assert(KeyTableSidecar.readMeta(fs, target).exists(_.filesStamp == "stamp-live2"))
  }

  test("purgeCorpus of EVERY doc leaves a live, readable, empty table gate") {
    import graft.streaming.KeyTableSidecar
    val corpus = java.nio.file.Files.createTempDirectory("graft-gdpr-all").toString + "/corpus"
    val tiny = 0L // content-key table form from batch one
    Streaming.ingestBatch(
      Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text"),
      corpus, "doc_id", Seq("text"), sidecarMaxBytes = tiny): Unit
    val stats = Streaming.purgeCorpus(spark, corpus,
      Seq(1L, 2L, 3L).toDF("doc_id"), "doc_id", Seq("text"))
    assert(stats.rowsRemoved == 3 && stats.keysDeleted == 3, s"$stats")
    // the corpus and the key table both read back as EMPTY, not unreadable
    assert(spark.read.parquet(corpus).count() == 0L)
    val target = new org.apache.hadoop.fs.Path(corpus)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(KeyTableSidecar.load(spark, target, KeyTableSidecar.ContentName).count() == 0L)
    // the re-stamped gate is LIVE over the empty table: the next batch is
    // admitted with no rebuild scan, and gating resumes from it
    val s2 = Streaming.ingestBatch(Seq((4L, "one")).toDF("doc_id", "text"),
      corpus, "doc_id", Seq("text"), sidecarMaxBytes = tiny)
    assert(s2.admitted == 1 && s2.corpusScans == 0 && !s2.rebuiltBloom,
      s"gate over the emptied table: $s2")
    val s3 = Streaming.ingestBatch(Seq((5L, "one")).toDF("doc_id", "text"),
      corpus, "doc_id", Seq("text"), sidecarMaxBytes = tiny)
    assert(s3.admitted == 0, s"gating must resume after the full purge: $s3")
  }

  test("IvfIngest.purge of EVERY vector leaves a readable empty index that re-ingests") {
    import graft.streaming.IvfIngest
    val dir = java.nio.file.Files.createTempDirectory("graft-purge-all").toString + "/index"
    val emb = Tables.embeddings(spark, sfDir)
    IvfIngest.ingestBatch(emb.filter($"vec_id" < 200), dir, "vec_id", "embedding",
      nlist = 4): Unit
    val all = spark.read.parquet(dir).select($"vec_id".cast("long")).as[Long].collect().toSet
    val report = IvfIngest.purge(spark, dir, all.toSeq.toDF("vec_id"), "vec_id")
    assert(report.rowsRemoved == all.size.toLong)
    // the index directory survives as a readable, EMPTY index
    assert(spark.read.parquet(dir).count() == 0L)
    val q = emb.filter($"vec_id" === 7).select("embedding").head().getSeq[Float](0).toArray
    assert(IvfIngest.probe(spark, dir, "vec_id", "embedding", q, k = 5, nprobe = 4)
      .collect().isEmpty)
    // and the retained codebook keeps ingesting: the next batch lands and probes
    IvfIngest.ingestBatch(emb.filter($"vec_id" >= 200 && $"vec_id" < 300),
      dir, "vec_id", "embedding", nlist = 4): Unit
    assert(spark.read.parquet(dir).select($"vec_id".cast("long")).as[Long]
      .collect().toSet.forall(id => id >= 200 && id < 300))
    assert(IvfIngest.probe(spark, dir, "vec_id", "embedding", q, k = 5, nprobe = 4)
      .count() == 5L)
  }

  test("purge rewrites only the lists holding tombstones and deletes emptied ones") {
    import graft.streaming.IvfIngest
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-purge").toString + "/index"
    val emb = Tables.embeddings(spark, sfDir)
    IvfIngest.ingestBatch(emb.filter($"vec_id" < 300), dir, "vec_id", "embedding",
      nlist = 8): Unit
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val byList = spark.read.parquet(dir)
      .select($"vec_id".cast("long"), $"centroid_id".cast("long"))
      .as[(Long, Long)].collect().groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toSet }
    val allIds = byList.values.flatten.toSet
    // empty out the smallest list entirely; nibble two ids off another
    val emptiedList = byList.minBy { case (k, v) => (v.size, k) }._1
    val partialList = byList.keys.filter(_ != emptiedList).min
    val tomb = byList(emptiedList) ++ byList(partialList).toSeq.sorted.take(2)
    // snapshot the untouched lists' physical files: purge must not rewrite them
    def snapshot(): Map[String, Seq[(String, Long, Long)]] =
      byList.keys.filterNot(k => k == emptiedList || k == partialList).map { k =>
        val d = new Path(dir, s"centroid_id=$k")
        s"centroid_id=$k" -> fs.listStatus(d).map(st =>
          (st.getPath.getName, st.getLen, st.getModificationTime)).toSeq.sortBy(_._1)
      }.toMap
    val before = snapshot()
    val report = IvfIngest.purge(spark, dir, tomb.toSeq.toDF("vec_id"), "vec_id")
    assert(report.affectedLists.toSet == Set(emptiedList, partialList))
    assert(report.emptiedLists == Seq(emptiedList))
    assert(report.rowsRemoved == tomb.size)
    assert(!fs.exists(new Path(dir, s"centroid_id=$emptiedList")),
      "a fully-tombstoned list's partition directory must disappear")
    assert(snapshot() == before, "unaffected lists must stay bit-identical")
    val left = spark.read.parquet(dir).select($"vec_id".cast("long"))
      .as[Long].collect().toSet
    assert(left == allIds -- tomb)
    // probing with a purged vector's own embedding never returns it
    val victim = tomb.head
    val q = emb.filter($"vec_id" === victim).select("embedding").head().getSeq[Float](0).toArray
    val top = IvfIngest.probe(spark, dir, "vec_id", "embedding", q, k = 10, nprobe = 8)
    assert(!top.collect().map(_.getLong(0)).contains(victim))
    // purge is idempotent: a re-run finds nothing to do
    val again = IvfIngest.purge(spark, dir, tomb.toSeq.toDF("vec_id"), "vec_id")
    assert(again.affectedLists.isEmpty && again.rowsRemoved == 0L)
    // and it refuses nothing on the PQ layout: same id-based path
    val pqDir = java.nio.file.Files.createTempDirectory("graft-purge-pq").toString + "/index"
    IvfIngest.ingestPqBatch(emb.filter($"vec_id" < 200), pqDir, "vec_id", "embedding",
      dim = 64): Unit
    val pqBefore = spark.read.parquet(pqDir).count()
    val pqReport = IvfIngest.purge(spark, pqDir,
      Seq(3L, 77L, 123L).toDF("vec_id"), "vec_id")
    assert(pqReport.rowsRemoved == 3L)
    assert(spark.read.parquet(pqDir).count() == pqBefore - 3)
  }

  test("a crashed purge rolls forward from the marker at the next entry point") {
    import graft.streaming.IvfIngest
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-purge-crash").toString + "/index"
    val emb = Tables.embeddings(spark, sfDir)
    IvfIngest.ingestBatch(emb.filter($"vec_id" < 200), dir, "vec_id", "embedding",
      nlist = 4): Unit
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val index = spark.read.parquet(dir)
    val target = index.select($"centroid_id".cast("long")).as[Long].head()
    val survivors = index.filter($"centroid_id" === target && pmod($"vec_id", lit(2)) === 0)
    val keep = survivors.select($"vec_id".cast("long")).as[Long].collect().toSet
    val others = index.filter($"centroid_id" =!= target)
      .select($"vec_id".cast("long")).as[Long].collect().toSet
    // stage the post-purge copy of record by hand and crash BEFORE the swap:
    // data + marker are durable, the old partition dir still holds every row
    val staging = new Path(dir, "_purge")
    survivors.select(index.columns.map(col).toIndexedSeq: _*)
      .write.partitionBy("centroid_id").parquet(new Path(staging, "data").toString)
    val out = fs.create(new Path(staging, "_PURGE_COMPLETE"), true)
    out.write(target.toString.getBytes("UTF-8")); out.close()
    // any entry point finishes the swap — a probe is enough
    val q = emb.filter($"vec_id" === 10).select("embedding").head().getSeq[Float](0).toArray
    IvfIngest.probe(spark, dir, "vec_id", "embedding", q, k = 3, nprobe = 4): Unit
    assert(!fs.exists(staging), "recovery must consume the staging")
    val after = spark.read.parquet(dir).select($"vec_id".cast("long")).as[Long].collect().toSet
    assert(after == keep ++ others, "the staged survivors replace the listed partition")
  }

  test("growth-ratio staleness trigger fires past the training census and refresh resets it") {
    import graft.streaming.IvfIngest
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-stale").toString + "/index"
    val emb = Tables.embeddings(spark, sfDir)
    val n1 = emb.filter($"vec_id" < 150).count()
    IvfIngest.ingestPqBatch(emb.filter($"vec_id" < 150), dir, "vec_id", "embedding",
      dim = 64): Unit
    // census persisted with the codebook: trained over the bootstrap batch
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val info = IvfIngest.readCodebookInfo(fs, new org.apache.hadoop.fs.Path(dir)).get
    assert(info.rowsAtTraining == n1)
    // fresh right after bootstrap (rowsNow == census)
    assert(IvfIngest.staleness(spark, dir, growthRatio = 2.0).exists(!_.stale))
    // append past 2× the census without retraining → the trigger fires
    IvfIngest.ingestPqBatch(emb.filter($"vec_id" >= 150), dir, "vec_id", "embedding",
      dim = 64): Unit
    val total = emb.count()
    assume(total > 2 * n1, s"fixture must grow past the ratio ($total vs $n1)")
    val rep = IvfIngest.staleness(spark, dir, growthRatio = 2.0).get
    assert(rep.stale && rep.rowsNow == total && rep.rowsAtTraining == n1)
    // ...but not at a lax ratio
    assert(IvfIngest.staleness(spark, dir, growthRatio = 1000.0).exists(!_.stale))
    // auto-maintenance: refreshPqIfStale retrains over the raw vectors,
    // resets the census clock, and the refreshed index answers probes
    val ran = IvfIngest.refreshPqIfStale(spark, dir, emb, "vec_id", "embedding",
      dim = 64, growthRatio = 2.0)
    assert(ran.exists(_.stale))
    val after = IvfIngest.staleness(spark, dir, growthRatio = 2.0).get
    assert(!after.stale && after.rowsAtTraining == total)
    // and a second ifStale call is a no-op (fresh → no rewrite)
    assert(IvfIngest.refreshPqIfStale(spark, dir, emb, "vec_id", "embedding",
      dim = 64, growthRatio = 2.0).exists(!_.stale))
  }

  test("IvfIngest assigns a duplicated vector to the same list in any batch") {
    import graft.streaming.IvfIngest
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf2").toString + "/index"
    val emb = Tables.embeddings(spark, sfDir)
    IvfIngest.ingestBatch(emb.filter($"vec_id" < 50), dir, "vec_id", "embedding", nlist = 4): Unit
    // re-ingest vector 7 under a new id in a later batch
    val clone = emb.filter($"vec_id" === 7)
      .select((lit(90000L)).as("vec_id"), $"embedding", $"label")
    IvfIngest.ingestBatch(clone, dir, "vec_id", "embedding", nlist = 4): Unit
    val lists = spark.read.parquet(dir)
      .filter($"vec_id".isin(7L, 90000L))
      .select("centroid_id").distinct().count()
    assert(lists == 1L, "identical vectors land in the SAME inverted list across batches")
  }

  test("IvfIngest.refresh retrains and rewrites without losing a vector") {
    import graft.streaming.IvfIngest
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf3").toString + "/index"
    val emb = Tables.embeddings(spark, sfDir)
    IvfIngest.ingestBatch(emb.filter($"vec_id" < 120), dir, "vec_id", "embedding", nlist = 4): Unit
    IvfIngest.ingestBatch(
      emb.filter($"vec_id" >= 120 && $"vec_id" < 240), dir, "vec_id", "embedding", nlist = 4): Unit
    val before = spark.read.parquet(dir).select("vec_id").as[Long].collect().toSet
    IvfIngest.refresh(spark, dir, "vec_id", "embedding", nlist = 8)
    val after = spark.read.parquet(dir).select("vec_id").as[Long].collect().toSet
    assert(after == before, "refresh rewrites the layout, never the membership")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val model = IvfIngest.readCodebook(fs, new org.apache.hadoop.fs.Path(dir)).get
    assert(model.centroids.length == 8, "refresh persisted the retrained codebook")
    assert(IvfIngest.listSizes(spark, dir)
      .agg(sum($"n")).head().getLong(0) == before.size.toLong)
    // probes keep working against the refreshed layout + codebook pair
    val q = emb.filter($"vec_id" === 130).select("embedding").head().getSeq[Float](0).toArray
    val top = IvfIngest.probe(spark, dir, "vec_id", "embedding", q, k = 3, nprobe = 8)
    assert(top.collect().map(_.getLong(0)).contains(130L))
  }

  test("IvfIngest recovers a refresh interrupted anywhere after the completion marker") {
    // Reconstructs the crash windows the staged swap must survive: the new
    // state (lists + retrained codebook) is complete inside _refresh and
    // marked, but the process died (1) before touching the old layout,
    // (2) mid-CLEAR with old dirs half-deleted, (3) mid-PROMOTE with some
    // new dirs already moved up and the stale codebook still on top. In
    // every case the next entry point must finish the swap: index contents
    // = the staged lists, codebook = the staged (retrained) one.
    import graft.streaming.IvfIngest
    import org.apache.hadoop.fs.{FileUtil, Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val emb = Tables.embeddings(spark, sfDir).filter($"vec_id" < 200)
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-crash").toString
    // OLD state: nlist=4 index over half the data; NEW state: nlist=8 over all
    val oldDir = s"$base/old"
    IvfIngest.ingestBatch(emb.filter($"vec_id" < 100), oldDir, "vec_id", "embedding", nlist = 4): Unit
    val newDir = s"$base/new"
    IvfIngest.ingestBatch(emb, newDir, "vec_id", "embedding", nlist = 8): Unit
    val fs = new HPath(base).getFileSystem(conf)
    val newIds = spark.read.parquet(newDir).select("vec_id").as[Long].collect().toSet
    val newCb = IvfIngest.readCodebook(fs, new HPath(newDir)).get.centroids.map(_.toSeq).toSeq

    def buildScene(name: String, marker: String, clearTopDirs: Int, promote: Int): String = {
      val scene = s"$base/$name"
      FileUtil.copy(fs, new HPath(oldDir), fs, new HPath(scene), false, conf)
      val staging = new HPath(scene, "_refresh")
      FileUtil.copy(fs, new HPath(newDir), fs, new HPath(staging, "data"), false, conf)
      // the staged codebook sits in _refresh root, as refresh() writes it
      fs.rename(new HPath(staging, "data/_codebook"), new HPath(staging, "_codebook"))
      fs.create(new HPath(staging, marker), true).close()
      // simulate a partial CLEAR: some old list dirs already deleted
      fs.listStatus(new HPath(scene)).filter(_.getPath.getName.startsWith("centroid_id="))
        .take(clearTopDirs).foreach(st => fs.delete(st.getPath, true))
      // simulate a partial PROMOTE: some new dirs already moved up
      fs.listStatus(new HPath(staging, "data"))
        .filter(_.getPath.getName.startsWith("centroid_id="))
        .take(promote).foreach { st =>
          val top = new HPath(scene, st.getPath.getName)
          if (fs.exists(top)) fs.delete(top, true)
          fs.rename(st.getPath, top)
        }
      scene
    }

    val scenes = Seq(
      buildScene("crash_marked", "_REFRESH_COMPLETE", clearTopDirs = 0, promote = 0),
      buildScene("crash_midclear", "_REFRESH_COMPLETE", clearTopDirs = 2, promote = 0),
      buildScene("crash_midpromote", "_REFRESH_CLEARED", clearTopDirs = Int.MaxValue, promote = 2))
    for (scene <- scenes) {
      // any entry point recovers; probe is the cheapest
      val q = emb.filter($"vec_id" === 150).select("embedding").head().getSeq[Float](0).toArray
      val top = IvfIngest.probe(spark, scene, "vec_id", "embedding", q, k = 3, nprobe = 8)
      assert(top.collect().map(_.getLong(0)).contains(150L), s"$scene: probe after recovery")
      assert(spark.read.parquet(scene).select("vec_id").as[Long].collect().toSet == newIds,
        s"$scene: recovered index must hold exactly the staged lists")
      assert(IvfIngest.readCodebook(fs, new HPath(scene)).get.centroids.map(_.toSeq).toSeq == newCb,
        s"$scene: recovered codebook must be the retrained one")
      assert(!fs.exists(new HPath(scene, "_refresh")), s"$scene: staging cleaned up")
    }
  }

  test("IvfIngest discards an unmarked partial refresh and keeps the old index intact") {
    import graft.streaming.IvfIngest
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-dead").toString + "/index"
    val emb = Tables.embeddings(spark, sfDir).filter($"vec_id" < 100)
    IvfIngest.ingestBatch(emb, dir, "vec_id", "embedding", nlist = 4): Unit
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = spark.read.parquet(dir).select("vec_id").as[Long].collect().toSet
    val cbBefore = IvfIngest.readCodebook(fs, new HPath(dir)).get.centroids.map(_.toSeq).toSeq
    // a refresh that died mid-build: partial data, NO completion marker
    fs.mkdirs(new HPath(dir, "_refresh/data/centroid_id=0"))
    fs.create(new HPath(dir, "_refresh/data/centroid_id=0/part-junk.parquet"), true).close()
    val q = emb.filter($"vec_id" === 50).select("embedding").head().getSeq[Float](0).toArray
    IvfIngest.probe(spark, dir, "vec_id", "embedding", q, k = 3, nprobe = 4).collect(): Unit
    assert(spark.read.parquet(dir).select("vec_id").as[Long].collect().toSet == before,
      "old index must be untouched")
    assert(IvfIngest.readCodebook(fs, new HPath(dir)).get.centroids.map(_.toSeq).toSeq == cbBefore,
      "old codebook must be untouched")
    assert(!fs.exists(new HPath(dir, "_refresh")), "dead staging discarded")
  }

  test("dedupStream drops replayed event ids within the watermark horizon") {
    val staged = java.nio.file.Files.createTempDirectory("graft-stream3").toString + "/events"
    val ev = Sources.events(spark, sfDir).drop("ts_ns").limit(100)
    ev.unionAll(ev).write.parquet(staged) // every event twice
    val q = Streaming.runFileStream(
      spark, staged, ev.schema, Streaming.dedupStream(_),
      queryName = "dedup_stream", outputMode = OutputMode.Append())
    try {
      assert(spark.table("dedup_stream").count() == 100)
    } finally q.stop()
  }

  test("dedupStreamWithinWatermark drops a restamped redelivery the classic form misses") {
    // redelivery with a DIFFERENT event time: dropDuplicates(event_id, ts)
    // is defeated (the ts differs), dropDuplicatesWithinWatermark on the
    // id alone is not — as long as the clone lands within the delay
    val staged = java.nio.file.Files.createTempDirectory("graft-stream4").toString + "/events"
    val ev = Sources.events(spark, sfDir).drop("ts_ns").limit(100)
    val restamped = ev.withColumn("ts", col("ts") + expr("INTERVAL 1 MINUTE"))
    ev.unionAll(restamped).write.parquet(staged)
    val q = Streaming.runFileStream(
      spark, staged, ev.schema, Streaming.dedupStreamWithinWatermark(_),
      queryName = "dedup_wm_stream", outputMode = OutputMode.Append())
    try {
      assert(spark.table("dedup_wm_stream").count() == 100,
        "each id must emit once despite the restamped clone")
      // premise: the classic form admits the restamped clones
      val q2 = Streaming.runFileStream(
        spark, staged, ev.schema, Streaming.dedupStream(_),
        queryName = "dedup_classic_stream", outputMode = OutputMode.Append())
      try assert(spark.table("dedup_classic_stream").count() == 200)
      finally q2.stop()
    } finally q.stop()
  }

  test("scd2 stream: versions open and close as change batches arrive") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String, Int, Long)]
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2").toString + "/history"
    val q = Streaming.scd2Stream(
      input.toDF().toDF("k", "status", "ts", "tie"),
      dir, Seq("k"), "ts", "tie", Seq("status"))
    try {
      input.addData((1L, "A", 1, 1L), (2L, "X", 1, 2L))
      q.processAllAvailable()
      input.addData((1L, "B", 5, 3L), (2L, "X", 6, 4L)) // change + no-change
      q.processAllAvailable()
      val hist = spark.read.parquet(dir)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getInt(2), Option(r.get(3)), r.getLong(4))).toSet
      assert(hist == Set(
        (1L, "A", 1, Some(5), 0L),
        (1L, "B", 5, None, 1L),
        (2L, "X", 1, None, 1L)), s"got $hist")
    } finally q.stop()
  }

  test("scd2Batch is idempotent under an at-least-once replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2r").toString + "/history"
    val b1 = Seq((1L, "A", 1, 1L), (1L, "B", 5, 2L)).toDF("k", "status", "ts", "tie")
    val b2 = Seq((1L, "C", 9, 3L), (1L, "C", 9, 4L)).toDF("k", "status", "ts", "tie")
    Streaming.scd2Batch(b1, dir, Seq("k"), "ts", "tie", Seq("status"))
    Streaming.scd2Batch(b2, dir, Seq("k"), "ts", "tie", Seq("status"))
    val once = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    // foreachBatch is at-least-once: the replayed batch must change nothing
    Streaming.scd2Batch(b2, dir, Seq("k"), "ts", "tie", Seq("status"))
    val twice = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    assert(once == twice, "replaying an applied batch must be a no-op")
    assert(twice.map(s => (s(1), s(2), Option(s(3)))) ==
      Set(("A", 1, Some(5)), ("B", 5, Some(9)), ("C", 9, None)))
  }

  test("ingestFingerprintBatch gates multimodal near-dups and replays idempotently") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fp-ingest").toString + "/fps"
    val base = 0x0123456789abcdefL
    // batch 1: base, a 1-bit batch-internal variant (in the radius-2 ball),
    // and an unrelated fingerprint — the family admits ONE representative
    val b1 = Seq((1L, base), (2L, base ^ (1L << 13)), (3L, ~base))
      .toDF("media_id", "fp")
    assert(Streaming.ingestFingerprintBatch(b1, dir, "media_id", "fp") == 2L)
    val afterB1 = spark.read.parquet(dir).as[(Long, Long)].collect().toMap
    assert(afterB1.keySet == Set(1L, 3L))

    // batch 2: a 2-bit near-dup of the corpus (rejected), a fresh clip
    // (admitted), and an exact REPLAY of an admitted row (rejected at
    // distance 0 — at-least-once delivery cannot double-ingest)
    val fresh = 0x5555aaaa5555aaaaL
    val b2 = Seq((10L, base ^ (1L << 3) ^ (1L << 60)), (11L, fresh), (1L, base))
      .toDF("media_id", "fp")
    assert(Streaming.ingestFingerprintBatch(b2, dir, "media_id", "fp") == 1L)
    val afterB2 = spark.read.parquet(dir).as[(Long, Long)].collect().toMap
    assert(afterB2.keySet == Set(1L, 3L, 11L))
    assert(afterB2(11L) == fresh)

    // an empty batch appends nothing (no file accretion)
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(Streaming.ingestFingerprintBatch(
      Seq.empty[(Long, Long)].toDF("media_id", "fp"), dir, "media_id", "fp") == 0L)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == files)

    // an identical-fingerprint flood (one scraped image duplicated 5k
    // times) admits exactly its min id — and the exact-collapse keeps the
    // banded pair join off the quadratic bucket
    val floodDir = java.nio.file.Files.createTempDirectory("graft-fp-flood").toString + "/fps"
    val flood = (0L until 5000L).map(i => (i + 1000L, 0x7777000077770000L)).toDF("media_id", "fp")
    assert(Streaming.ingestFingerprintBatch(flood, floodDir, "media_id", "fp") == 1L)
    assert(spark.read.parquet(floodDir).as[(Long, Long)].collect().toSeq ==
      Seq((1000L, 0x7777000077770000L)))
  }

  test("driftMonitorBatch appends one deterministic TVD row per non-empty batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString + "/metrics"
    val ref = (Seq.fill(6)("en") ++ Seq.fill(2)("de")).zipWithIndex
      .map { case (l, i) => (i.toLong, l) }.toDF("id", "lang")
    // batch 0 mirrors the reference mix exactly -> TVD 0
    val b0 = (Seq.fill(3)("en") ++ Seq.fill(1)("de")).zipWithIndex
      .map { case (l, i) => (i.toLong, l) }.toDF("id", "lang")
    assert(Streaming.driftMonitorBatch(b0, 0L, ref, col("lang"), dir) == Some(0.0))
    // batch 1 is disjoint from the reference -> the whole mass moved:
    // TVD = 0.5*(|0.75-0| + |0.25-0| + |0-1|) = 1.0, exactly
    val b1 = Seq((10L, "fr"), (11L, "fr")).toDF("id", "lang")
    val t1 = Streaming.driftMonitorBatch(b1, 1L, ref, col("lang"), dir)
    assert(t1 == Some(1.0))
    // empty batch: no row appended, no "drift against nothing" page
    assert(Streaming.driftMonitorBatch(
      Seq.empty[(Long, String)].toDF("id", "lang"), 2L, ref, col("lang"), dir).isEmpty)
    val rows = spark.read.parquet(dir).as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(rows.map(r => (r._1, r._2)) == Seq((0L, 4L), (1L, 2L)))
    // replay determinism: the same batch appends the same number
    assert(Streaming.driftMonitorBatch(b1, 3L, ref, col("lang"), dir) == t1)
  }

  test("asOfEnrichStream matches the batch as-of join under out-of-order arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val minute = 60L * 1000000
    val events = MemoryStream[Streaming.AsOfEvent]
    val updates = MemoryStream[Streaming.AsOfUpdate]
    val q = Streaming.asOfEnrichStream(events.toDS(), updates.toDS(), "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("asof_enriched").start()
    try {
      // batch 1: versions and facts interleaved, max event time 10m → the
      // watermark stays at 0 (10m − 10m delay), so nothing may emit yet
      updates.addData(
        Streaming.AsOfUpdate(1, 1 * minute, "v1"),
        Streaming.AsOfUpdate(2, 5 * minute, "w5"))
      events.addData(
        Streaming.AsOfEvent(101, 1, 10 * minute, 1.0),
        Streaming.AsOfEvent(103, 2, 3 * minute, 3.0))
      q.processAllAvailable()
      assert(spark.table("asof_enriched").count() == 0, "watermark has not passed any fact")

      // batch 2: an out-of-order version (t=8m, BEFORE buffered fact 101)
      // arrives within the allowed lateness, alongside later traffic that
      // pushes the watermark to 25m — fact 101 then emits and must pick v8
      // over v1; fact 103 emits with no preceding version; 102 (35m) stays.
      // "a5" is a SAME-INSTANT tie with batch-1's "w5" on key 2, arriving a
      // batch later — fact 104 must enrich with the smallest value ("a5"),
      // the batch as-of keep-first tiebreak, despite "w5" arriving first
      updates.addData(
        Streaming.AsOfUpdate(1, 8 * minute, "v8"),
        Streaming.AsOfUpdate(1, 30 * minute, "v30"),
        Streaming.AsOfUpdate(2, 5 * minute, "a5"))
      events.addData(
        Streaming.AsOfEvent(102, 1, 35 * minute, 2.0),
        Streaming.AsOfEvent(104, 2, 20 * minute, 4.0))
      q.processAllAvailable()
      val mid = spark.table("asof_enriched").as[Streaming.AsOfEnriched].collect().toSet
      assert(mid == Set(
        Streaming.AsOfEnriched(101, 1, 10 * minute, 1.0, Some("v8"), Some(8 * minute)),
        Streaming.AsOfEnriched(104, 2, 20 * minute, 4.0, Some("a5"), Some(5 * minute)),
        Streaming.AsOfEnriched(103, 2, 3 * minute, 3.0, None, None)))

      // batch 3: far-future traffic on an unused key pushes the watermark
      // past fact 102, which flushes with the version history intact
      events.addData(Streaming.AsOfEvent(999, 9, 60 * minute, 0.0))
      q.processAllAvailable()

      val got = spark.table("asof_enriched").as[Streaming.AsOfEnriched]
        .collect().filter(_.key != 9).toSet
      assert(got == Set(
        Streaming.AsOfEnriched(101, 1, 10 * minute, 1.0, Some("v8"), Some(8 * minute)),
        Streaming.AsOfEnriched(102, 1, 35 * minute, 2.0, Some("v30"), Some(30 * minute)),
        Streaming.AsOfEnriched(104, 2, 20 * minute, 4.0, Some("a5"), Some(5 * minute)),
        Streaming.AsOfEnriched(103, 2, 3 * minute, 3.0, None, None)))

      // parity: the matched subset equals the BATCH as-of join over the
      // same rows (inner semantics — batch drops no-version facts),
      // INCLUDING the same-instant version tie on (key 2, t=5m)
      val dimDf = Seq((1L, 1 * minute, "v1"), (1L, 30 * minute, "v30"),
        (2L, 5 * minute, "w5"), (1L, 8 * minute, "v8"), (2L, 5 * minute, "a5"))
        .toDF("key", "dim_ts", "dim_value")
      val evDf = Seq((101L, 1L, 10 * minute, 1.0), (102L, 1L, 35 * minute, 2.0),
        (103L, 2L, 3 * minute, 3.0), (104L, 2L, 20 * minute, 4.0))
        .toDF("event_id", "key", "ev_ts", "payload")
      val batch = graft.operators.Joins.asOfJoin(evDf, dimDf, Seq("key"),
        "ev_ts", "dim_ts", Seq("dim_value"), "dim_value")
        .select("event_id", "dim_value").as[(Long, String)].collect().toMap
      val streamed = got.filter(_.dim_value.isDefined)
        .map(e => e.event_id -> e.dim_value.get).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("asOfEnrichStream stateTtl drops a dead key's retained version") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val minute = 60L * 1000000
    val events = MemoryStream[Streaming.AsOfEvent]
    val updates = MemoryStream[Streaming.AsOfUpdate]
    val q = Streaming.asOfEnrichStream(events.toDS(), updates.toDS(), "10 minutes",
      stateTtlMicros = Some(30 * minute))
      .writeStream.outputMode("append").format("memory").queryName("asof_ttl").start()
    try {
      updates.addData(Streaming.AsOfUpdate(5, 10 * minute, "v"))
      q.processAllAvailable()
      // other-key traffic drives the watermark 40 minutes past the retained
      // version — beyond the 30-minute TTL, so key 5's state drops
      events.addData(Streaming.AsOfEvent(901, 9, 60 * minute, 0.0))
      q.processAllAvailable()
      // a much-later fact for key 5 now finds NO version (without the TTL
      // the quiet-key test above proves it would have matched)
      events.addData(Streaming.AsOfEvent(902, 5, 70 * minute, 1.0))
      q.processAllAvailable()
      events.addData(Streaming.AsOfEvent(903, 9, 200 * minute, 0.0))
      q.processAllAvailable()
      val got = spark.table("asof_ttl").as[Streaming.AsOfEnriched]
        .collect().filter(_.key == 5L).toSeq
      assert(got == Seq(
        Streaming.AsOfEnriched(902, 5, 70 * minute, 1.0, None, None)))
    } finally q.stop()
  }

  test("asOfEnrichStream flushes quiet keys by event-time timeout and emits exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val minute = 60L * 1000000
    val events = MemoryStream[Streaming.AsOfEvent]
    val updates = MemoryStream[Streaming.AsOfUpdate]
    val q = Streaming.asOfEnrichStream(events.toDS(), updates.toDS(), "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("asof_quiet").start()
    try {
      updates.addData(Streaming.AsOfUpdate(7, 90 * minute, "old"))
      events.addData(Streaming.AsOfEvent(201, 7, 100 * minute, 1.0))
      q.processAllAvailable()
      assert(spark.table("asof_quiet").count() == 0)
      // ONLY other-key traffic pushes the watermark past key 7's fact —
      // the event-time timeout must flush it with no new key-7 input
      updates.addData(Streaming.AsOfUpdate(8, 200 * minute, "x"))
      q.processAllAvailable()
      val got = spark.table("asof_quiet").as[Streaming.AsOfEnriched].collect().toSeq
      assert(got == Seq(
        Streaming.AsOfEnriched(201, 7, 100 * minute, 1.0, Some("old"), Some(90 * minute))))
      // replaying more far-future traffic must not re-emit (state removed)
      updates.addData(Streaming.AsOfUpdate(8, 300 * minute, "y"))
      q.processAllAvailable()
      assert(spark.table("asof_quiet").count() == 1)
    } finally q.stop()
  }

  test("heavy-hitters maintainer keeps the MG guarantees across batches and skips redeliveries") {
    import graft.streaming.HeavyHittersState
    val stateDir = java.nio.file.Files.createTempDirectory("graft-hh-state").toString + "/st"
    val cap = 8
    // zipf-ish stream over two named groups plus a NULL group (a group
    // like any other — the null-safe state join must keep merging it)
    val items = (1 to 60).flatMap(i => Seq.fill(1000 / i)(s"t$i"))
    val rows = items.zipWithIndex.map { case (t, i) =>
      (if (i % 5 == 0) null else s"g${i % 2}", t, i % 3)
    }
    val df = rows.toDF("grp", "token", "b")
    (0 to 2).foreach { b =>
      HeavyHittersState.mergeBatch(df.filter($"b" === b).drop("b"),
        stateDir, "grp", "token", cap, b.toLong): Unit
    }
    def snapshot() = HeavyHittersState.state(spark, stateDir).get
      .as[(Option[String], Map[String, Long], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val committed = snapshot()
    // at-least-once: batch 2 redelivered under its own batchId must SKIP —
    // counter addition would otherwise inflate counts and n_tokens
    HeavyHittersState.mergeBatch(df.filter($"b" === 2).drop("b"),
      stateDir, "grp", "token", cap, batchId = 2L): Unit
    assert(snapshot() == committed, "redelivered batch must not re-merge")
    // the three order-independent guarantees, per group, N = group total
    val exact = rows.groupBy(_._1).map { case (g, rs) =>
      Option(g) -> rs.groupBy(_._2).map { case (t, v) => t -> v.size.toLong }
    }
    assert(committed.keySet == exact.keySet)
    exact.foreach { case (g, ex) =>
      val (sk, nTok) = committed(g)
      val n = ex.values.sum
      val bound = n.toDouble / (cap + 1)
      assert(nTok == n, s"group $g n_tokens $nTok != exact $n (exactly-once broken)")
      assert(sk.size <= cap, s"group $g state ${sk.size} > $cap")
      sk.foreach { case (k, est) => assert(est <= ex(k), s"overcount of $k in $g") }
      ex.foreach { case (k, c) =>
        assert((c - sk.getOrElse(k, 0L)).toDouble <= bound, s"$g/$k under by > $bound")
        if (c > bound) assert(sk.contains(k), s"guaranteed HH $g/$k missing")
      }
    }
  }

  test("heavy-hitters topK view ranks deterministically and certifies true heavy hitters") {
    import graft.streaming.HeavyHittersState
    val stateDir = java.nio.file.Files.createTempDirectory("graft-hh-topk").toString + "/st"
    val cap = 8
    val items = (1 to 60).flatMap(i => Seq.fill(1000 / i)(s"t$i"))
    val rows = items.zipWithIndex.map { case (t, i) => (s"g${i % 2}", t, i % 3) }
    (0 to 2).foreach { b =>
      HeavyHittersState.mergeBatch(rows.filter(_._3 == b).toDF("grp", "token", "b")
        .drop("b"), stateDir, "grp", "token", cap, b.toLong): Unit
    }
    val view = HeavyHittersState.topK(spark, stateDir, k = 5, capacity = cap)
      .as[(String, String, Long, Long, Long, Double, Boolean)].collect()
      .groupBy(_._1)
    val stateMaps = HeavyHittersState.state(spark, stateDir).get
      .as[(String, Map[String, Long], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val exact = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.groupBy(_._2).map { case (t, v) => t -> v.size.toLong }
    }
    view.foreach { case (g, vs) =>
      val (sk, n) = stateMaps(g)
      assert(vs.length <= 5 && vs.map(_._4).sorted.toSeq == (1L to vs.length).toSeq,
        s"$g: contiguous ranks")
      // ranks follow (est desc, token) over the state map, estimates verbatim
      val want = sk.toSeq.sortBy { case (t, e) => (-e, t) }.take(5)
      assert(vs.sortBy(_._4).map(v => (v._2, v._3)).toSeq == want, s"$g: order")
      assert(vs.forall(_._5 == n))
      // certification is SOUND: est > threshold implies true > threshold
      // (estimates never overcount), checked against exact counts
      vs.filter(_._7).foreach { v =>
        assert(exact(g)(v._2) > v._6, s"$g/${v._2}: certified but not truly heavy")
      }
      assert(vs.exists(_._7), s"$g: the zipf head must certify")
    }
    intercept[graft.GraftDataError] {
      HeavyHittersState.topK(spark, stateDir + "-nope", 5, cap)
    }
  }

  test("non-idempotent maintainers refuse streams whose batchIds would renumber into state") {
    import graft.streaming.{HeavyHittersState, RollupState}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = java.nio.file.Files.createTempDirectory("graft-vsguard").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val memH = MemoryStream[(String, String)]
    val dfH = memH.toDF().toDF("grp", "token")
    // committed state + renumbering ids (no checkpoint / fresh checkpoint):
    // batch 0 would skip against v0 (data silently dropped) or re-merge —
    // both fail fast instead
    val dirH = root + "/hh"
    HeavyHittersState.mergeBatch(Seq(("en", "a")).toDF("grp", "token"),
      dirH, "grp", "token", 8, batchId = 0L): Unit
    intercept[graft.GraftDataError] {
      HeavyHittersState.stream(dfH, dirH, "grp", "token", 8)
    }
    intercept[graft.GraftDataError] {
      HeavyHittersState.stream(dfH, dirH, "grp", "token", 8,
        checkpointDir = Some(root + "/cp-fresh"))
    }
    val memR = MemoryStream[(String, Double, Long)]
    val dfR = memR.toDF().toDF("k", "v", "u")
    val dirR = root + "/ru"
    RollupState.mergeBatch(Seq(("a", 1.0, 1L)).toDF("k", "v", "u"),
      dirR, Seq("k"), "v", "u", batchId = 0L): Unit
    intercept[graft.GraftDataError] {
      RollupState.stream(dfR, dirR, Seq("k"), "v", "u")
    }
    // empty state starts fine, and resuming the SAME checkpoint is the
    // supported restart path
    val dirH2 = root + "/hh2"
    val cp = root + "/cp"
    val q = HeavyHittersState.stream(dfH, dirH2, "grp", "token", 8,
      checkpointDir = Some(cp))
    try {
      memH.addData(("en", "x"))
      q.processAllAvailable()
    } finally q.stop()
    val q2 = HeavyHittersState.stream(dfH, dirH2, "grp", "token", 8,
      checkpointDir = Some(cp))
    try {
      memH.addData(("en", "x"))
      q2.processAllAvailable()
      val st = HeavyHittersState.state(spark, dirH2).get
        .as[(String, Map[String, Long], Long)].collect()
      assert(st.toSeq == Seq(("en", Map("x" -> 2L), 2L)), s"got ${st.toSeq}")
    } finally q2.stop()
  }

  // ---- TombstoneLog: batched GDPR queue ------------------------------------

  private def tombCorpus(prefix: String, docs: (Long, String)*): String = {
    val corpus = java.nio.file.Files.createTempDirectory(prefix).toString + "/corpus"
    Streaming.ingestBatch(docs.toDF("doc_id", "text"), corpus, "doc_id", Seq("text"),
      sidecarMaxBytes = 0L): Unit
    corpus
  }

  test("tombstone log: append is corpus-blind, torn requests invisible, duplicates purged once") {
    import graft.streaming.TombstoneLog
    val corpus = tombCorpus("graft-tomb1",
      1L -> "erase a", 2L -> "keep b", 3L -> "erase c", 4L -> "keep d")
    // APPEND-COST PIN: requestPurge must never open the corpus. Poison the
    // corpus dir with a garbage .parquet — any corpus read would throw.
    val poison = new java.io.File(corpus, "zzz_poison.parquet")
    java.nio.file.Files.write(poison.toPath, "not parquet".getBytes)
    val n1 = TombstoneLog.requestPurge(corpus, Seq(1L, 3L).toDF("doc_id"), "doc_id")
    val n2 = TombstoneLog.requestPurge(corpus, Seq(3L, 1L).toDF("doc_id"), "doc_id")
    assert(n1 != n2, "entry names must be collision-free")
    assert(poison.delete())
    // a torn request (no _SUCCESS) is invisible to pending and to the flush
    val tornDir = new java.io.File(s"$corpus/${TombstoneLog.DirName}/t999-torn")
    assert(tornDir.mkdirs())
    java.nio.file.Files.write(new java.io.File(tornDir, "part-0.parquet").toPath,
      Array[Byte](1, 2, 3))
    assert(TombstoneLog.pending(spark, corpus, "doc_id")
      .as[Long].collect().toSet == Set(1L, 3L))
    // cross-request duplicate ids purge ONCE: rowsRemoved counts each doc once
    val Some((stats, retired)) =
      TombstoneLog.flushPurge(spark, corpus, "doc_id", Seq("text"))
    assert(stats.rowsRemoved == 2L && retired == 2, s"$stats retired=$retired")
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(2L, 4L))
    // the young torn dir survived the default grace; with grace 0 it sweeps
    assert(tornDir.exists(), "torn dir younger than the grace must survive")
    TombstoneLog.requestPurge(corpus, Seq(2L).toDF("doc_id"), "doc_id"): Unit
    TombstoneLog.flushPurge(spark, corpus, "doc_id", Seq("text"), tornGraceMs = 0L): Unit
    assert(!tornDir.exists(), "aged torn dir sweeps once past the grace")
    assert(TombstoneLog.pending(spark, corpus, "doc_id").count() == 0L)
  }

  test("tombstone log: flushPurge with the index purge on an ungated corpus stays within its job budget") {
    import graft.streaming.{Bm25Index, TombstoneLog}
    val root = java.nio.file.Files.createTempDirectory("graft-tombjobs").toString
    val (corpus, idx) = (s"$root/corpus", s"$root/idx")
    val docs = Seq((1L, "spark join window"), (2L, "spark spark order"),
      (3L, "hash table scan"), (4L, "window agg order"), (5L, "join hash spark"))
      .toDF("doc_id", "text")
    // plain parquet appends: no gate sidecar over the corpus
    docs.write.parquet(corpus)
    Bm25Index.ingestBatch(docs, idx, "doc_id", "text", batchId = 0L, nShards = Sizing.Fixed(4))
    TombstoneLog.requestPurge(corpus, Seq(2L, 4L).toDF("doc_id"), "doc_id"): Unit
    TombstoneLog.requestPurge(corpus, Seq(4L).toDF("doc_id"), "doc_id"): Unit
    var indexPurged = -1L
    val (flushed, jobs) = org.apache.spark.JobCounter.count(spark.sparkContext)(
      TombstoneLog.flushPurge(spark, corpus, "doc_id", Seq("text"),
        alsoPurge = ids => indexPurged = Bm25Index.purge(spark, idx, ids, "doc_id")))
    assert(flushed == Some((Streaming.CorpusPurgeStats(2L, 0L, bloomRetired = false), 2)),
      s"$flushed")
    assert(indexPurged == 2L)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L))
    // no key derivation on an ungated corpus, no shuffle that cannot change
    // the index purge's result
    assert(jobs <= 14, s"flushPurge ran $jobs jobs")
  }

  test("tombstone log: request landing mid-flush survives the retire and stays pending") {
    import graft.streaming.TombstoneLog
    val corpus = tombCorpus("graft-tomb2",
      1L -> "erase a", 2L -> "keep b", 5L -> "late erase")
    TombstoneLog.requestPurge(corpus, Seq(1L).toDF("doc_id"), "doc_id"): Unit
    // the race the retire-set contract exists for: a requester appends
    // BETWEEN the corpus rewrite and the log retire
    val got = TombstoneLog.flushPurgeHooked(spark, corpus, "doc_id", Seq("text"),
      minPending = 1L, maxAgeMs = Long.MaxValue,
      tornGraceMs = TombstoneLog.DefaultTornGraceMs,
      afterPurge = () =>
        TombstoneLog.requestPurge(corpus, Seq(5L).toDF("doc_id"), "doc_id"): Unit)
    assert(got.exists(_._2 == 1), s"only the snapshot request retires: $got")
    // the late request was NOT purged, was NOT retired, and is still pending
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(2L, 5L), "late request's doc must survive the first flush")
    assert(TombstoneLog.pending(spark, corpus, "doc_id")
      .as[Long].collect().toSet == Set(5L), "late request must stay pending")
    // the read-side view hides it immediately; the next flush purges it
    assert(TombstoneLog.readCompliant(spark, corpus, "doc_id")
      .select("doc_id").as[Long].collect().toSet == Set(2L))
    val second = TombstoneLog.flushPurge(spark, corpus, "doc_id", Seq("text"))
    assert(second.exists(t => t._1.rowsRemoved == 1L && t._2 == 1), s"$second")
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(2L))
  }

  test("tombstone log: crash between purge and retire re-flushes idempotently with log intact") {
    import graft.streaming.TombstoneLog
    val corpus = tombCorpus("graft-tomb3", 1L -> "erase a", 2L -> "keep b")
    TombstoneLog.requestPurge(corpus, Seq(1L).toDF("doc_id"), "doc_id"): Unit
    // simulate the crash window: the purge ran, the retire never did
    Streaming.purgeCorpus(spark, corpus,
      TombstoneLog.pending(spark, corpus, "doc_id"), "doc_id", Seq("text")): Unit
    assert(TombstoneLog.pending(spark, corpus, "doc_id").count() == 1L,
      "log must survive a crash after the purge")
    // re-flush: the purge is a no-op (ids already absent), the log retires
    val got = TombstoneLog.flushPurge(spark, corpus, "doc_id", Seq("text"))
    assert(got.exists(t => t._1.rowsRemoved == 0L && t._2 == 1), s"$got")
    assert(TombstoneLog.pending(spark, corpus, "doc_id").count() == 0L)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(2L))
  }

  test("tombstone log: alsoPurge forgets downstream stores in the same crash-safe flush") {
    import graft.streaming.{Bm25Index, TombstoneLog}
    val corpus = tombCorpus("graft-tomb5",
      1L -> "erase alpha", 2L -> "keep beta", 3L -> "erase gamma")
    // a derived retrieval index over the same docs
    val idx = java.nio.file.Files.createTempDirectory("graft-tomb5idx").toString + "/idx"
    Bm25Index.ingestBatch(Seq((1L, "erase alpha"), (2L, "keep beta"),
      (3L, "erase gamma")).toDF("doc_id", "text"), idx, "doc_id", "text",
      batchId = 0L, nShards = Sizing.Fixed(4))
    TombstoneLog.requestPurge(corpus, Seq(1L).toDF("doc_id"), "doc_id"): Unit
    TombstoneLog.requestPurge(corpus, Seq(3L).toDF("doc_id"), "doc_id"): Unit
    // a FAILING downstream purge keeps the log: the re-flush redoes both
    intercept[RuntimeException] {
      TombstoneLog.flushPurge(spark, corpus, "doc_id", Seq("text"),
        alsoPurge = _ => throw new RuntimeException("index store down"))
    }
    assert(TombstoneLog.pending(spark, corpus, "doc_id").count() == 2L,
      "a failed downstream purge must keep the log for the re-flush")
    // the re-flush purges corpus AND index with the SAME batched ids
    var purged = -1L
    val got = TombstoneLog.flushPurge(spark, corpus, "doc_id", Seq("text"),
      alsoPurge = ids => purged = Bm25Index.purge(spark, idx, ids, "doc_id"))
    assert(got.exists(_._2 == 2), s"$got")
    assert(purged == 2L, "the index must forget the same batch")
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect().toSet ==
      Set(2L))
    val q = Seq((0L, "alpha gamma beta")).toDF("query_id", "qtext")
    assert(Bm25Index.topK(spark, idx, q, 10).select("doc_id")
      .as[Long].collect().toSeq == Seq(2L),
      "the index must be compliant after the composed flush")
    assert(TombstoneLog.pending(spark, corpus, "doc_id").count() == 0L)
  }

  test("tombstone log: below-threshold and age triggers") {
    import graft.streaming.TombstoneLog
    val corpus = tombCorpus("graft-tomb4", 1L -> "erase a", 2L -> "keep b")
    TombstoneLog.requestPurge(corpus, Seq(1L).toDF("doc_id"), "doc_id"): Unit
    // neither trigger fires -> None, log untouched
    assert(TombstoneLog.flushPurge(spark, corpus, "doc_id", Seq("text"),
      minPending = 100L).isEmpty)
    assert(TombstoneLog.pending(spark, corpus, "doc_id").count() == 1L)
    // the age trigger alone fires even below the count threshold
    val got = TombstoneLog.flushPurge(spark, corpus, "doc_id", Seq("text"),
      minPending = 100L, maxAgeMs = 0L)
    assert(got.exists(_._2 == 1), s"$got")
  }
}
