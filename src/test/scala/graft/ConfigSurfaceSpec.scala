package graft

import graft.pipeline.PipelineConfig
import graft.sources.{ApiTemplate, FsExplorer}
import graft.sources.ApiTemplate.RequestTemplate
import org.apache.spark.sql.functions.{col, when}
import java.nio.file.Files

/** The reference's config/framework surface: templated API fetch (S4/F6),
  * filesystem exploration (S6), sink registry (K3), JSON-driven pipeline
  * construction (X4/X5).
  */
class ConfigSurfaceSpec extends SparkTestBase {
  import spark.implicits._

  test("template placeholders are extracted recursively and validated strictly") {
    val t = RequestTemplate(
      url = "https://api.example.com/{APP_ID}/installs",
      headers = Map("Authorization" -> "Bearer {TOKEN}"),
      body = Some("""{"from": "{FROM_DATE}"}"""))
    assert(ApiTemplate.extractPlaceholders(t) == Set("APP_ID", "TOKEN", "FROM_DATE"))
    val full = Map("APP_ID" -> "app1", "TOKEN" -> "t", "FROM_DATE" -> "2024-01-01")
    val rendered = ApiTemplate.render(t, full)
    assert(rendered.url == "https://api.example.com/app1/installs")
    assert(rendered.headers("Authorization") == "Bearer t")
    intercept[IllegalArgumentException] { ApiTemplate.render(t, full - "TOKEN") }
    intercept[IllegalArgumentException] { ApiTemplate.render(t, full + ("BOGUS" -> "x")) }
  }

  test("templated fetch parses the JSON response into a DataFrame") {
    val t = RequestTemplate(url = "https://api.example.com/{APP_ID}/installs")
    val df = ApiTemplate.fetchJson(spark, t, Map("APP_ID" -> "app1"),
      transport = r => {
        assert(r.url.endsWith("/app1/installs"))
        """[{"id": 1, "os": "ios"}, {"id": 2, "os": "android"}]"""
      })
    assert(df.count() == 2)
    assert(df.select("os").as[String].collect().sorted.toSeq == Seq("android", "ios"))
  }

  test("fs explorer lists/creates/deletes/copies through the Hadoop FS API") {
    val base = Files.createTempDirectory("graft-fs").toString
    val fx = new FsExplorer(spark)
    assert(fx.createDir(s"$base/a"))
    assert(fx.createDir(s"$base/b"))
    Files.writeString(java.nio.file.Paths.get(s"$base/a/x.txt"), "payload")
    assert(fx.listDirs(base) == Seq("a", "b"))
    assert(fx.listFiles(s"$base/a") == Seq("x.txt"))
    assert(fx.copy(s"$base/a/x.txt", s"$base/b/latest.txt"))
    assert(fx.exists(s"$base/b/latest.txt"))
    assert(fx.deleteDir(s"$base/b", recursive = true))
    assert(!fx.exists(s"$base/b"))
  }

  test("unknown sink names are rejected by the registry (K3 gate)") {
    intercept[GraftConfigError] { PipelineConfig.sink("drop_table") }
  }

  test("registry carries the full sink surface including the jdbc cluster forms") {
    assert(Set("parquet", "tsv", "json", "orc", "versioned", "jdbc", "jdbc_upsert",
      "graft_table").subsetOf(PipelineConfig.sinkRegistry.keySet))
    // the jdbc builders resolve (they are not executable in this env — no
    // database — but the strategy lookup and option plumbing must work)
    assert(PipelineConfig.sink("jdbc") != null)
    assert(PipelineConfig.sink("jdbc_upsert") != null)
  }

  test("graft_table sink: declared appends land in the connector table, marker + clusterBy") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-tablesink").toString
    val srcDir = s"$root/src"
    spark.range(0, 200).select(col("id").as("k"), (col("id") % 7).as("v"))
      .write.parquet(srcDir)
    val table = s"$root/table"
    def cfg(marker: String) =
      s"""{
         |  "source": {"type": "parquet", "path": "$srcDir"},
         |  "sink": {"type": "graft_table",
         |           "options": {"path": "$table", "commitMarker": "$marker",
         |                       "clusterBy": "k"}}
         |}""".stripMargin
    PipelineConfig.fromJson(spark, cfg("run1")).run(spark)
    assert(spark.read.format("graft-parquet").load(table).count() == 200)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the declared marker committed atomically with the data, and the
    // inline OPTIMIZE left a certified table
    assert(graft.sources.v2.GraftParquetWrite.markerExists(
      fs, new org.apache.hadoop.fs.Path(table), "run1"))
    assert(graft.sources.v2.GraftTableOptimize.fsck(spark, table).healthy)
    // a RETRY of the same declared run (same marker) must skip, not append
    PipelineConfig.fromJson(spark, cfg("run1")).run(spark)
    assert(spark.read.format("graft-parquet").load(table).count() == 200,
      "the commitMarker is the dedup key: a scheduler retry must not double rows")
    // a second run with a new marker appends (the append-only contract)
    PipelineConfig.fromJson(spark, cfg("run2")).run(spark)
    assert(spark.read.format("graft-parquet").load(table).count() == 400)
    // the path option is required, typed
    intercept[GraftConfigError] {
      PipelineConfig.sink("graft_table")(
        spark.range(1).toDF("k"), Map("clusterBy" -> "k"))
    }
  }

  test("graft_table source: declared reads resolve the live table or a pinned asOfSeq snapshot") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-tablesrc").toString
    val table = s"$root/table"
    // two ingest batches; the receipt after the first is the snapshot handle
    val receipt = graft.streaming.TableIngest.ingestBatchRecorded(
      spark.range(0, 50).select(col("id"), (col("id") % 3).as("v")).coalesce(1), table, 0L)
    assert(receipt.wrote && receipt.seq.isDefined)
    graft.streaming.TableIngest.ingestBatch(
      spark.range(50, 80).select(col("id"), (col("id") % 3).as("v")).coalesce(1), table, 1L)
    // live declared source sees both batches
    val liveCfg =
      s"""{"source": {"type": "graft_table", "path": "$table"}}"""
    assert(PipelineConfig.fromJson(spark, liveCfg).plan(spark).get.count() == 80)
    // the pinned source replays exactly what batch 0 saw
    val snapCfg =
      s"""{"source": {"type": "graft_table", "path": "$table",
         |            "asOfSeq": ${receipt.seq.get}}}""".stripMargin
    val snap = PipelineConfig.fromJson(spark, snapCfg).plan(spark).get
    assert(snap.count() == 50, "the declared snapshot must read the corpus as of batch 0")
    // a snapshot the table never issued fails loudly through the declared
    // surface too
    val badCfg =
      s"""{"source": {"type": "graft_table", "path": "$table", "asOfSeq": 999}}"""
    val boom = intercept[Exception] {
      PipelineConfig.fromJson(spark, badCfg).plan(spark).get.count()
    }
    assert(boom.getMessage.contains("beyond"), s"got: ${boom.getMessage}")
    // a missing table path gates on the existence probe like every source
    val missingCfg =
      s"""{"source": {"type": "graft_table", "path": "$root/nope"}}"""
    assert(PipelineConfig.fromJson(spark, missingCfg)
      .copy(failOnMissing = false).plan(spark).isEmpty)
  }

  test("F9: malformed query timestamps are a config error at parse time, not a runtime crash") {
    val cfg =
      s"""{
         |  "source": {"type": "parquet", "path": "$sfDir/orders.parquet"},
         |  "query": {"rangeField": "ts", "start": "2024-13-99 00:00:00", "end": "2024-01-02 00:00:00"}
         |}""".stripMargin
    val e = intercept[GraftConfigError] { PipelineConfig.fromJson(spark, cfg) }
    assert(e.getMessage.contains("query.start"))
    // date-like but invalid shapes are rejected too
    intercept[GraftConfigError] {
      PipelineConfig.fromJson(spark, cfg.replace("2024-13-99 00:00:00", "01/02/2024"))
    }
    // well-formed bounds parse fine
    PipelineConfig.fromJson(spark, cfg.replace("2024-13-99 00:00:00", "2024-01-01 00:00:00"))
  }

  test("error taxonomy: config vs data errors are typed (reference app/errors parity)") {
    intercept[GraftConfigError] { graft.functions.Registry("not_whitelisted") }
    intercept[GraftConfigError] {
      graft.operators.Ops.selectColumns(Seq("nope"))(Tables.orders(spark, sfDir))
    }
    val withNull = Tables.orders(spark, sfDir)
      .withColumn("maybe", when(col("o_orderkey") % 2 === 0, col("o_orderkey")))
    intercept[GraftDataError] { graft.operators.Ops.notNullCheck(Seq("maybe"))(withNull) }
  }

  test("a JSON config assembles and runs a full pipeline with checkpoint-last ordering") {
    val out = Files.createTempDirectory("graft-pipecfg").toString
    val cfg =
      s"""{
         |  "source": {"type": "parquet", "path": "$sfDir/orders.parquet"},
         |  "query": {
         |    "filters": {"o_orderstatus": "F"},
         |    "sourceFields": ["o_orderkey", "o_custkey", "o_totalprice"],
         |    "sortBy": [["o_orderkey", "asc"]]
         |  },
         |  "constants": {"version_": "v1"},
         |  "dedup": {"by": ["o_custkey"], "orderBy": ["o_orderkey"]},
         |  "sink": {"type": "parquet", "options": {"path": "$out/data"}},
         |  "checkpoint": {"path": "$out/meta", "values": {"run": "r1"}}
         |}""".stripMargin
    val pipe = PipelineConfig.fromJson(spark, cfg)
    assert(pipe.run(spark).isDefined)
    val data = spark.read.parquet(s"$out/data")
    assert(data.columns.toSet == Set("o_orderkey", "o_custkey", "o_totalprice", "version_"))
    assert(data.select("o_custkey").distinct().count() == data.count(), "dedup by custkey held")
    val meta = spark.read.parquet(s"$out/meta")
    assert(meta.count() == 1 && meta.head().getAs[String]("run") == "r1")
  }

  test("JSON config selects dedup strategies by name, rejecting unknown ones") {
    val docsDir = Files.createTempDirectory("graft-dedupcfg").toString
    Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"),
        (1L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup
        (2L, "totally different content here about query engines"))
      .toDF("doc_id", "text").write.parquet(s"$docsDir/docs")
    val out = Files.createTempDirectory("graft-dedupcfg-out").toString
    def cfg(strategy: String) =
      s"""{
         |  "source": {"type": "parquet", "path": "$docsDir/docs"},
         |  "dedup": {"strategy": "$strategy", "id": "doc_id", "text": "text",
         |            "contentColumns": ["text"]},
         |  "sink": {"type": "parquet", "options": {"path": "$out/$strategy"}}
         |}""".stripMargin
    Seq("exact", "minhash", "ngram_jaccard").foreach { strategy =>
      PipelineConfig.fromJson(spark, cfg(strategy)).run(spark)
      val kept = spark.read.parquet(s"$out/$strategy").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(kept == Seq(0L, 2L), s"$strategy must drop the exact dup, got $kept")
    }
    intercept[GraftConfigError] {
      PipelineConfig.fromJson(spark, cfg("drop_everything"))
    }
  }

  test("template param values containing placeholders are NOT re-substituted (injection)") {
    val t = RequestTemplate(url = "https://api.example.com/{A}/{B}")
    val rendered = ApiTemplate.render(t, Map("A" -> "{B}", "B" -> "secret"))
    assert(rendered.url == "https://api.example.com/{B}/secret",
      "a value that looks like a placeholder must be inert, not expanded")
  }

  test("config misconfigurations fail at parse time as typed errors") {
    val base = s"""{"source": {"type": "parquet", "path": "$sfDir/orders.parquet"}"""
    // sortBy: empty entry / bad direction
    intercept[GraftConfigError] {
      PipelineConfig.fromJson(spark, base + ""","query": {"sortBy": [[]]}}""")
    }
    intercept[GraftConfigError] {
      PipelineConfig.fromJson(spark, base + ""","query": {"sortBy": [["ts", "sideways"]]}}""")
    }
    // uppercase ASC is accepted as ascending, not silently flipped
    PipelineConfig.fromJson(spark, base + ""","query": {"sortBy": [["o_orderkey", "ASC"]]}}""")
    // dedup strategy with missing required field
    intercept[GraftConfigError] {
      PipelineConfig.fromJson(spark, base + ""","dedup": {"strategy": "minhash", "id": "doc_id"}}""")
    }
    // sink with a missing required option fails at the registry, typed
    intercept[GraftConfigError] {
      PipelineConfig.sink("jdbc_upsert")(
        Tables.orders(spark, sfDir).limit(1), Map("url" -> "jdbc:x", "table" -> "t"))
    }
  }

  test("a JSON config with a missing source and failOnMissing=false skips cleanly") {
    val cfg =
      """{
        |  "source": {"type": "parquet", "path": "/tmp/graft/definitely/missing.parquet"},
        |  "failOnMissing": false
        |}""".stripMargin
    assert(PipelineConfig.fromJson(spark, cfg).run(spark).isEmpty)
  }

  test("expectations gate: fail vetoes sink AND checkpoint; warn lands both") {
    val root = Files.createTempDirectory("graft-expect").toString
    Seq((1L, 10.0), (2L, -5.0)).toDF("id", "price").write.parquet(s"$root/src")
    def cfg(mode: String, out: String) =
      s"""{
         |  "source": {"type": "parquet", "path": "$root/src"},
         |  "expectations": {"mode": "$mode", "checks": [
         |    {"name": "price_positive", "expr": "price > 0"}]},
         |  "sink": {"type": "parquet", "options": {"path": "$root/$out"}},
         |  "checkpoint": {"path": "$root/ckpt_$out", "values": {"w": "1"}}
         |}""".stripMargin
    val e = intercept[GraftDataError] {
      PipelineConfig.fromJson(spark, cfg("fail", "out_fail")).run(spark)
    }
    assert(e.getMessage.contains("price_positive") && e.getMessage.contains("1 of 2"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/out_fail")),
      "a failed gate must stop the sink")
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/ckpt_out_fail")),
      "a failed gate must keep the watermark where it was")
    // warn: same data, the run proceeds and both artifacts land
    PipelineConfig.fromJson(spark, cfg("warn", "out_warn")).run(spark)
    assert(spark.read.parquet(s"$root/out_warn").count() == 2)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/ckpt_out_warn")))
  }

  test("fused expectations ride the sink's own job: zero extra scans, verdict before checkpoint") {
    val root = Files.createTempDirectory("graft-fusedgate").toString
    Seq((1L, 10.0), (2L, -5.0)).toDF("id", "price").write.parquet(s"$root/src")
    def cfg(mode: String, scan: String, expr: String, out: String) =
      s"""{
         |  "source": {"type": "parquet", "path": "$root/src"},
         |  "expectations": {"mode": "$mode", "scan": "$scan", "checks": [
         |    {"name": "price_check", "expr": "$expr"}]},
         |  "sink": {"type": "parquet", "options": {"path": "$root/$out"}},
         |  "checkpoint": {"path": "$root/ckpt_$out", "values": {"w": "1"}}
         |}""".stripMargin
    def jobs(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try { body; spark.sparkContext.statusTracker.getJobIdsForGroup(group).length }
      finally spark.sparkContext.clearJobGroup()
    }
    // the fusion pin: a passing fused-gate run spends EXACTLY as many
    // Spark jobs as the same pipeline with no gate at all (the observe
    // metrics ride the sink's job as accumulators); the eager gate pays
    // at least one extra aggregation pass — at corpus scale, a second
    // full scan per run
    val nPlain = jobs("fg-plain") {
      PipelineConfig.fromJson(spark,
        s"""{"source": {"type": "parquet", "path": "$root/src"},
           | "sink": {"type": "parquet", "options": {"path": "$root/out_plain"}},
           | "checkpoint": {"path": "$root/ckpt_plain", "values": {"w": "1"}}}""".stripMargin)
        .run(spark): Unit
    }
    val nFused = jobs("fg-fused") {
      PipelineConfig.fromJson(spark,
        cfg("fail", "fused", "price IS NOT NULL", "out_fused")).run(spark): Unit
    }
    val nEager = jobs("fg-eager") {
      PipelineConfig.fromJson(spark,
        cfg("fail", "pre", "price IS NOT NULL", "out_eager")).run(spark): Unit
    }
    assert(nFused == nPlain, s"fused gate must add zero jobs: $nFused vs $nPlain")
    assert(nEager > nFused, s"the eager gate pays an extra pass: $nEager vs $nFused")
    assert(spark.read.parquet(s"$root/out_fused").count() == 2)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/ckpt_out_fused")))
    // violated + fail: the verdict lands AFTER the sink action (the output
    // exists — the documented trade for the saved scan) but BEFORE the
    // checkpoint, so the watermark never advances past bad data
    val e = intercept[GraftDataError] {
      PipelineConfig.fromJson(spark, cfg("fail", "fused", "price > 0", "out_viol")).run(spark)
    }
    assert(e.getMessage.contains("price_check") && e.getMessage.contains("1 of 2"))
    assert(Files.exists(java.nio.file.Paths.get(s"$root/out_viol")),
      "the fused verdict arrives after the sink by design")
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/ckpt_out_viol")),
      "a fused violation must still hold the watermark")
    // violated + warn: logs and proceeds, checkpoint lands
    PipelineConfig.fromJson(spark, cfg("warn", "fused", "price > 0", "out_warn2")).run(spark)
    assert(Files.exists(java.nio.file.Paths.get(s"$root/ckpt_out_warn2")))
    // unknown scan value is a parse-time config error
    intercept[GraftConfigError] {
      PipelineConfig.fromJson(spark,
        s"""{"source": {"type": "parquet", "path": "/tmp/x"},
           | "expectations": {"scan": "sideways",
           |   "checks": [{"name": "a", "expr": "1=1"}]}}""".stripMargin)
    }
    // fused + VERSIONED closes even the bad-data-visible trade: the sink
    // goes two-phase, so a violating run's directory lands (forensics) but
    // `latest` — the alias readers follow — never repoints at it
    def vcfg(expr: String, runId: String) =
      s"""{
         |  "source": {"type": "parquet", "path": "$root/src"},
         |  "expectations": {"mode": "fail", "scan": "fused", "checks": [
         |    {"name": "price_check", "expr": "$expr"}]},
         |  "sink": {"type": "versioned",
         |    "options": {"path": "$root/ver", "runId": "$runId"}},
         |  "checkpoint": {"path": "$root/ckpt_$runId", "values": {"w": "1"}}
         |}""".stripMargin
    PipelineConfig.fromJson(spark, vcfg("price IS NOT NULL", "run1")).run(spark)
    assert(spark.read.parquet(s"$root/ver/latest").count() == 2)
    def latestFiles(): Set[String] = new java.io.File(s"$root/ver/latest")
      .listFiles().map(_.getName).toSet
    val latestBefore = latestFiles()
    intercept[GraftDataError] {
      PipelineConfig.fromJson(spark, vcfg("price > 0", "run2")).run(spark)
    }
    assert(Files.exists(java.nio.file.Paths.get(s"$root/ver/run2")),
      "the violating run directory still lands, for forensics")
    assert(latestFiles() == latestBefore,
      "latest must not repoint at a violating run — the repoint is post-verdict")
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/ckpt_run2")))
  }

  test("fused drift rides the sink's job with exact fixed-point TVD parity") {
    val root = Files.createTempDirectory("graft-fuseddrift").toString
    (Seq.fill(3)("en") ++ Seq.fill(1)("de")).zipWithIndex
      .map { case (l, i) => (i.toLong, l) }.toDF("id", "lang")
      .write.parquet(s"$root/ref")
    // partial drift: ref 3en/1de vs input 2en/1de/1fr — shares move
    // en .75→.5, de .25→.25, fr 0→.25 → TVD = 0.25, exercising both the
    // per-reference-bucket counters and the unseen-bucket remainder
    Seq((10L, "en"), (11L, "en"), (12L, "de"), (13L, "fr"))
      .toDF("id", "lang").write.parquet(s"$root/src")
    def cfg(scan: String, maxTvd: Double, out: String) =
      s"""{
         |  "source": {"type": "parquet", "path": "$root/src"},
         |  "drift": {"referencePath": "$root/ref", "bucketExpr": "lang",
         |    "maxTvd": $maxTvd, "scan": "$scan"},
         |  "sink": {"type": "parquet", "options": {"path": "$root/$out"}},
         |  "checkpoint": {"path": "$root/ckpt_$out", "values": {"w": "1"}}
         |}""".stripMargin
    def jobs(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try { body; spark.sparkContext.statusTracker.getJobIdsForGroup(group).length }
      finally spark.sparkContext.clearJobGroup()
    }
    // in-bound on both scans: sink + checkpoint land; the fused run pays
    // only the |buckets|-row reference census, never a second pass over
    // the INPUT, so it spends strictly fewer jobs than the eager gate
    val nFused = jobs("fd-fused") {
      PipelineConfig.fromJson(spark, cfg("fused", 0.5, "out_f")).run(spark): Unit
    }
    val nEager = jobs("fd-eager") {
      PipelineConfig.fromJson(spark, cfg("pre", 0.5, "out_e")).run(spark): Unit
    }
    assert(nEager > nFused, s"eager drift re-scans the input: $nEager vs $nFused")
    assert(Files.exists(java.nio.file.Paths.get(s"$root/ckpt_out_f")))
    // violation: BOTH scans must report the IDENTICAL fixed-point TVD —
    // the fused fold replays the eager one bucket for bucket
    def tvdOf(m: String): String = m.split("TVD ")(1).split(" >")(0)
    val eEager = intercept[GraftDataError] {
      PipelineConfig.fromJson(spark, cfg("pre", 0.1, "out_ve")).run(spark)
    }
    val eFused = intercept[GraftDataError] {
      PipelineConfig.fromJson(spark, cfg("fused", 0.1, "out_vf")).run(spark)
    }
    assert(tvdOf(eEager.getMessage) == "0.2500" &&
      tvdOf(eFused.getMessage) == tvdOf(eEager.getMessage),
      s"TVD parity: eager '${eEager.getMessage}' fused '${eFused.getMessage}'")
    // the fused verdict lands after the sink, still before the checkpoint
    assert(Files.exists(java.nio.file.Paths.get(s"$root/out_vf")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/ckpt_out_vf")))
    // a high-cardinality bucket expression is refused, typed, pointing at
    // the eager scan — observe counters are per-task accumulator state
    spark.range(600).selectExpr("id", "cast(id as string) as lang")
      .write.parquet(s"$root/bigref")
    val eBig = intercept[GraftDataError] {
      PipelineConfig.fromJson(spark,
        cfg("fused", 0.5, "out_big").replace(s"$root/ref", s"$root/bigref"))
        .run(spark)
    }
    assert(eBig.getMessage.contains("reference buckets"))
  }

  test("drift gate: fail vetoes the sink past maxTvd; warn and in-bound runs land") {
    val root = Files.createTempDirectory("graft-driftcfg").toString
    // reference mix: 3 en / 1 de — the input collapses to all-fr (TVD 1.0)
    (Seq.fill(3)("en") ++ Seq.fill(1)("de")).zipWithIndex
      .map { case (l, i) => (i.toLong, l) }.toDF("id", "lang")
      .write.parquet(s"$root/ref")
    Seq((10L, "fr"), (11L, "fr")).toDF("id", "lang").write.parquet(s"$root/src")
    def cfg(mode: String, maxTvd: Double, out: String) =
      s"""{
         |  "source": {"type": "parquet", "path": "$root/src"},
         |  "drift": {"referencePath": "$root/ref", "bucketExpr": "lang",
         |            "maxTvd": $maxTvd, "mode": "$mode"},
         |  "sink": {"type": "parquet", "options": {"path": "$root/$out"}}
         |}""".stripMargin
    val e = intercept[GraftDataError] {
      PipelineConfig.fromJson(spark, cfg("fail", 0.2, "out_fail")).run(spark)
    }
    assert(e.getMessage.contains("TVD") && e.getMessage.contains("0.2"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/out_fail")))
    // warn: drifted but the run proceeds
    PipelineConfig.fromJson(spark, cfg("warn", 0.2, "out_warn")).run(spark)
    assert(spark.read.parquet(s"$root/out_warn").count() == 2)
    // in-bound: the same gate passes a tolerant threshold
    PipelineConfig.fromJson(spark, cfg("fail", 1.0, "out_ok")).run(spark)
    assert(spark.read.parquet(s"$root/out_ok").count() == 2)
  }

  test("drift misconfigurations are typed parse-time errors") {
    def base(body: String) =
      s"""{"source": {"type": "parquet", "path": "/tmp/x"}, "drift": $body}"""
    intercept[GraftConfigError] { // missing referencePath
      PipelineConfig.fromJson(spark, base("""{"bucketExpr": "lang", "maxTvd": 0.2}"""))
    }
    intercept[GraftConfigError] { // missing maxTvd
      PipelineConfig.fromJson(spark, base("""{"referencePath": "/tmp/r", "bucketExpr": "lang"}"""))
    }
    intercept[GraftConfigError] { // out-of-range bound
      PipelineConfig.fromJson(spark,
        base("""{"referencePath": "/tmp/r", "bucketExpr": "lang", "maxTvd": 1.5}"""))
    }
    intercept[GraftConfigError] { // unparseable bucket expression
      PipelineConfig.fromJson(spark,
        base("""{"referencePath": "/tmp/r", "bucketExpr": "> > no (", "maxTvd": 0.2}"""))
    }
    intercept[GraftConfigError] { // unknown mode
      PipelineConfig.fromJson(spark,
        base("""{"referencePath": "/tmp/r", "bucketExpr": "lang", "maxTvd": 0.2, "mode": "loud"}"""))
    }
  }

  test("expectations misconfigurations are typed parse-time errors") {
    def base(body: String) =
      s"""{"source": {"type": "parquet", "path": "/tmp/x"}, "expectations": $body}"""
    intercept[GraftConfigError] { // unknown mode
      PipelineConfig.fromJson(spark, base("""{"mode": "loud", "checks": [{"name": "a", "expr": "1=1"}]}"""))
    }
    intercept[GraftConfigError] { // empty checks
      PipelineConfig.fromJson(spark, base("""{"checks": []}"""))
    }
    intercept[GraftConfigError] { // unparseable expression
      PipelineConfig.fromJson(spark, base("""{"checks": [{"name": "a", "expr": "> > nonsense ("}]}"""))
    }
    intercept[GraftConfigError] { // nameless check
      PipelineConfig.fromJson(spark, base("""{"checks": [{"expr": "1=1"}]}"""))
    }
  }

  test("PII scrub is a declared pipeline step, after dedup, misconfig typed") {
    val root = Files.createTempDirectory("graft-scrubcfg").toString
    Seq(
      (1L, "mail a@b.io please"),
      (2L, "mail a@b.io please"), // exact dup of 1 — dedup must see raw bytes
      (3L, "ip 10.0.0.1 here")
    ).toDF("doc_id", "text").write.parquet(s"$root/src")
    val cfg =
      s"""{
         |  "source": {"type": "parquet", "path": "$root/src"},
         |  "dedup": {"strategy": "exact", "id": "doc_id", "contentColumns": ["text"]},
         |  "scrub": {"textCol": "text", "replacement": "<X>"}
         |}""".stripMargin
    val out = PipelineConfig.fromJson(spark, cfg).run(spark).get
      .select("doc_id", "text", "pii_email", "pii_ipv4")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set(1L, 3L), "exact dedup ran on the ORIGINAL text first")
    assert(out(1L) == (("mail <X> please", 1L, 0L)))
    assert(out(3L) == (("ip <X> here", 0L, 1L)))
    intercept[graft.GraftConfigError] {
      PipelineConfig.fromJson(spark,
        s"""{"source": {"type": "parquet", "path": "$root/src"}, "scrub": {}}""")
    }
  }

  test("pseudonymize pipeline step tokenizes ids after dedup; misconfig typed") {
    val root = Files.createTempDirectory("graft-pseucfg").toString
    Seq((7L, "x"), (7L, "x"), (9L, "y")).toDF("uid", "text")
      .write.parquet(s"$root/src")
    val cfg =
      s"""{
         |  "source": {"type": "parquet", "path": "$root/src"},
         |  "dedup": {"strategy": "exact", "id": "uid", "contentColumns": ["text"]},
         |  "pseudonymize": {"cols": ["uid"], "salt": "k1"}
         |}""".stripMargin
    val out = PipelineConfig.fromJson(spark, cfg).run(spark).get
      .select("uid", "text").as[(String, String)].collect().toMap.map(_.swap)
    assert(out.keySet == Set("x", "y"), "dedup ran on raw ids first")
    assert(out("x").length == 16 && out("x") != out("y"))
    Seq("""{"cols": [], "salt": "k"}""", """{"cols": ["uid"], "salt": ""}""",
      """{"cols": ["uid"]}""").foreach { bad =>
      intercept[graft.GraftConfigError] {
        PipelineConfig.fromJson(spark,
          s"""{"source": {"type": "parquet", "path": "$root/src"}, "pseudonymize": $bad}""")
      }
    }
  }

  test("kAnonymity is a declared suppression step after the PII steps; misconfig typed") {
    val root = Files.createTempDirectory("graft-kanoncfg").toString
    // three (lang, domain) classes: sizes 3, 2, 1 — k=2 suppresses the singleton
    Seq(
      (1L, "en", "news"), (2L, "en", "news"), (3L, "en", "news"),
      (4L, "en", "blog"), (5L, "en", "blog"),
      (6L, "fr", "news")
    ).toDF("doc_id", "lang", "domain").write.parquet(s"$root/src")
    val cfg =
      s"""{
         |  "source": {"type": "parquet", "path": "$root/src"},
         |  "pseudonymize": {"cols": ["doc_id"], "salt": "k1"},
         |  "kAnonymity": {"quasiCols": ["lang", "domain"], "k": 2}
         |}""".stripMargin
    val out = PipelineConfig.fromJson(spark, cfg).run(spark).get
      .select("doc_id", "lang", "domain").collect()
    assert(out.length == 5, "the singleton (fr, news) class must be suppressed")
    assert(out.forall(_.getString(0).length == 16), "pseudonymize ran before suppression")
    assert(!out.exists(r => r.getString(1) == "fr"))
    Seq("""{"quasiCols": [], "k": 2}""", """{"quasiCols": ["lang"]}""",
      """{"quasiCols": ["lang"], "k": 0}""").foreach { bad =>
      intercept[graft.GraftConfigError] {
        PipelineConfig.fromJson(spark,
          s"""{"source": {"type": "parquet", "path": "$root/src"}, "kAnonymity": $bad}""")
      }
    }
  }

  test("dpCensus is a declared release step beside kAnonymity; misconfig typed") {
    val root = Files.createTempDirectory("graft-dpcfg").toString
    Seq((1L, 10L, 1L), (2L, 10L, 1L), (3L, 10L, 2L), (4L, 20L, 1L),
      (5L, 20L, 2L), (6L, 30L, 1L))
      .toDF("doc_id", "cls", "grp").write.parquet(s"$root/src")
    val cfg =
      s"""{
         |  "source": {"type": "parquet", "path": "$root/src"},
         |  "dpCensus": {"quasiCols": ["cls"], "classId": "cls", "salt": 42}
         |}""".stripMargin
    val out = PipelineConfig.fromJson(spark, cfg).run(spark).get
    assert(out.columns.toSeq == Seq("cls", "noisy_count"),
      "the frame becomes the noisy census — true counts never released")
    assert(out.count() == 3)
    // replayable: the declared step reruns to the identical release
    val again = PipelineConfig.fromJson(spark, cfg).run(spark).get
    assert(out.collect().toSet == again.collect().toSet)
    // a multi-column QI set declares a composite INJECTIVE id as an
    // expression over the quasi columns (a bare member column would give
    // classes sharing it the same noise draw)
    val cfg2 =
      s"""{
         |  "source": {"type": "parquet", "path": "$root/src"},
         |  "dpCensus": {"quasiCols": ["cls", "grp"],
         |               "classId": "cls*100 + grp", "salt": 42}
         |}""".stripMargin
    val out2 = PipelineConfig.fromJson(spark, cfg2).run(spark).get
    assert(out2.columns.toSeq == Seq("cls", "grp", "noisy_count") && out2.count() == 5)
    Seq("""{"quasiCols": [], "classId": "cls", "salt": 1}""",
      """{"quasiCols": ["cls"], "salt": 1}""",
      """{"quasiCols": ["cls"], "classId": "cls"}""",
      """{"quasiCols": ["cls"], "classId": "doc_id", "salt": 1}""",
      """{"quasiCols": ["cls"], "classId": "cls + doc_id", "salt": 1}""",
      """{"quasiCols": ["cls"], "classId": "(cls", "salt": 1}""",
      """{"quasiCols": ["cls"], "classId": "cls", "salt": 1, "j": 0}""").foreach { bad =>
      intercept[graft.GraftConfigError] {
        PipelineConfig.fromJson(spark,
          s"""{"source": {"type": "parquet", "path": "$root/src"}, "dpCensus": $bad}""")
      }
    }
  }

  test("dpSum and dpMedian are declared release steps; sanity + salt-clash typed") {
    val root = Files.createTempDirectory("graft-dpcfg2").toString
    Seq((1L, 10L, 5.0), (2L, 10L, 7.0), (3L, 20L, 100.0), (4L, 20L, 3.0),
      (5L, 30L, 9.0)).toDF("doc_id", "cls", "v").write.parquet(s"$root/src")
    def src = s""""source": {"type": "parquet", "path": "$root/src"}"""
    val sumOut = PipelineConfig.fromJson(spark,
      s"""{$src, "dpSum": {"quasiCols": ["cls"], "classId": "cls", "salt": 7,
         |  "valueCol": "v", "clipHi": 50.0, "unit": 10.0}}""".stripMargin)
      .run(spark).get
    assert(sumOut.columns.toSeq == Seq("cls", "noisy_sum") && sumOut.count() == 3)
    val medOut = PipelineConfig.fromJson(spark,
      s"""{$src, "dpMedian": {"quasiCols": ["cls"], "classId": "cls", "salt": 8,
         |  "valueCol": "v", "lo": 0.0, "hi": 100.0, "bins": 10}}""".stripMargin)
      .run(spark).get
    assert(medOut.columns.toSeq == Seq("cls", "median_bin", "dp_median") &&
      medOut.count() == 3)
    // census -> sum chaining is DP post-processing: the sum step consumes
    // the census's own released column, each step under its own salt
    val chained = PipelineConfig.fromJson(spark,
      s"""{$src,
         |  "dpCensus": {"quasiCols": ["cls"], "classId": "cls", "salt": 7},
         |  "dpSum": {"quasiCols": ["cls"], "classId": "cls", "salt": 9,
         |    "valueCol": "noisy_count", "clipHi": 10.0}}""".stripMargin)
      .run(spark).get
    assert(chained.columns.toSeq == Seq("cls", "noisy_sum"))
    // the salt-clash rejection: two DP releases sharing a salt share
    // their noise draws — a typed parse-time error, not a Scaladoc caveat
    val eSalt = intercept[graft.GraftConfigError] {
      PipelineConfig.fromJson(spark,
        s"""{$src,
           |  "dpCensus": {"quasiCols": ["cls"], "classId": "cls", "salt": 7},
           |  "dpSum": {"quasiCols": ["cls"], "classId": "cls", "salt": 7,
           |    "valueCol": "noisy_count", "clipHi": 10.0}}""".stripMargin)
    }
    assert(eSalt.getMessage.contains("salt"), eSalt.getMessage)
    // dpQuantile declares a and b so the declared config names the epsilon
    // actually paid (2*max(a,b-a)*j*ln2)
    val qOut = PipelineConfig.fromJson(spark,
      s"""{$src, "dpQuantile": {"quasiCols": ["cls"], "classId": "cls", "salt": 12,
         |  "valueCol": "v", "a": 9, "b": 10, "lo": 0.0, "hi": 100.0,
         |  "bins": 10}}""".stripMargin)
      .run(spark).get
    assert(qOut.columns.toSeq == Seq("cls", "quantile_bin", "dp_quantile") &&
      qOut.count() == 3)
    // per-step sanity gates fire at parse, before anything runs
    Seq(
      s""""dpQuantile": {"quasiCols": ["cls"], "classId": "cls", "salt": 1,
         |  "valueCol": "v", "a": 2, "b": 4, "lo": 0.0, "hi": 10.0,
         |  "bins": 10}""".stripMargin,
      s""""dpQuantile": {"quasiCols": ["cls"], "classId": "cls", "salt": 1,
         |  "valueCol": "v", "a": 3, "b": 2, "lo": 0.0, "hi": 10.0,
         |  "bins": 10}""".stripMargin,
      s""""dpQuantile": {"quasiCols": ["cls"], "classId": "cls", "salt": 1,
         |  "valueCol": "v", "b": 2, "lo": 0.0, "hi": 10.0,
         |  "bins": 10}""".stripMargin,
      s""""dpSum": {"quasiCols": ["cls"], "classId": "cls", "salt": 1,
         |  "valueCol": "v", "clipHi": 0.0}""".stripMargin,
      s""""dpSum": {"quasiCols": ["cls"], "classId": "cls", "salt": 1,
         |  "valueCol": "v", "clipHi": 10.0, "unit": 20.0}""".stripMargin,
      s""""dpSum": {"quasiCols": ["cls"], "classId": "cls", "salt": 1,
         |  "clipHi": 10.0}""".stripMargin,
      s""""dpMedian": {"quasiCols": ["cls"], "classId": "cls", "salt": 1,
         |  "valueCol": "v", "lo": 5.0, "hi": 5.0, "bins": 10}""".stripMargin,
      s""""dpMedian": {"quasiCols": ["cls"], "classId": "cls", "salt": 1,
         |  "valueCol": "v", "lo": 0.0, "hi": 5.0, "bins": 1}""".stripMargin,
      s""""dpMedian": {"quasiCols": ["cls"], "classId": "cls", "salt": 1,
         |  "valueCol": "v", "lo": 0.0, "bins": 10}""".stripMargin,
      s""""dpMedian": {"quasiCols": ["cls"], "classId": "doc_id", "salt": 1,
         |  "valueCol": "v", "lo": 0.0, "hi": 5.0, "bins": 10}""".stripMargin
    ).foreach { bad =>
      intercept[graft.GraftConfigError] {
        PipelineConfig.fromJson(spark, s"{$src, $bad}")
      }
    }
  }

  test("privacyBudget caps the summed epsilon of declared DP steps at parse time") {
    val root = Files.createTempDirectory("graft-dpbudget").toString
    Seq((1L, 10L, 5.0), (2L, 10L, 7.0), (3L, 20L, 3.0))
      .toDF("doc_id", "cls", "v").write.parquet(s"$root/src")
    def src = s""""source": {"type": "parquet", "path": "$root/src"}"""
    def census(salt: Int) =
      s""""dpCensus": {"quasiCols": ["cls"], "classId": "cls", "salt": $salt}"""
    // under budget: census + sum pay 2*ln2 ~ 1.3863
    val ok = PipelineConfig.fromJson(spark,
      s"""{$src, ${census(1)}, "privacyBudget": {"epsilonMax": 1.4},
         |  "dpSum": {"quasiCols": ["cls"], "classId": "cls", "salt": 2,
         |    "valueCol": "noisy_count", "clipHi": 10.0}}""".stripMargin)
      .run(spark).get
    assert(ok.columns.toSeq == Seq("cls", "noisy_sum"))
    // the boundary is inclusive: a budget stated as the exact 2*ln2 double
    // must not be rejected over float summation order
    PipelineConfig.fromJson(spark,
      s"""{$src, ${census(1)}, "privacyBudget": {"epsilonMax": 1.3862943611198906},
         |  "dpSum": {"quasiCols": ["cls"], "classId": "cls", "salt": 2,
         |    "valueCol": "noisy_count", "clipHi": 10.0}}""".stripMargin)
    // over budget: census + median pay 3*ln2 ~ 2.079 > 2.0 — typed, named
    val over = intercept[graft.GraftConfigError] {
      PipelineConfig.fromJson(spark,
        s"""{$src, ${census(1)}, "privacyBudget": {"epsilonMax": 2.0},
           |  "dpMedian": {"quasiCols": ["cls"], "classId": "cls", "salt": 2,
           |    "valueCol": "v", "lo": 0.0, "hi": 10.0, "bins": 10}}""".stripMargin)
    }
    assert(over.getMessage.contains("privacy budget exceeded") &&
      over.getMessage.contains("dpMedian"), over.getMessage)
    // dpQuantile's asymmetric cost is accounted: q=9/10 pays 2*9*ln2 ~ 12.477
    def quant =
      s""""dpQuantile": {"quasiCols": ["cls"], "classId": "cls", "salt": 3,
         |  "valueCol": "v", "a": 9, "b": 10, "lo": 0.0, "hi": 10.0,
         |  "bins": 10}""".stripMargin
    intercept[graft.GraftConfigError] {
      PipelineConfig.fromJson(spark,
        s"""{$src, $quant, "privacyBudget": {"epsilonMax": 12.0}}""")
    }
    PipelineConfig.fromJson(spark,
      s"""{$src, $quant, "privacyBudget": {"epsilonMax": 12.5}}""")
    // a budget with no DP steps is vacuously satisfied; a malformed budget
    // is typed at parse
    PipelineConfig.fromJson(spark, s"""{$src, "privacyBudget": {"epsilonMax": 0.1}}""")
    Seq("""{"epsilonMax": 0.0}""", """{"epsilonMax": -1.0}""", """{}""").foreach { bad =>
      intercept[graft.GraftConfigError] {
        PipelineConfig.fromJson(spark, s"""{$src, "privacyBudget": $bad}""")
      }
    }
  }

  test("scrub/pseudonymize phase, gates, packing and view sources compose in config") {
    // the declared governance shape (curation_pipeline_v4's skeleton): a
    // catalog-view source, phase=beforeDedup scrub (so segment dedup sees
    // the REDACTED text — shared redaction boilerplate dedups away),
    // pseudonymize riding segment dedup's carry, packing as the terminal
    // reshape
    Seq(
      (1L, "s1", "mail a@b.io one two three four five six seven eight"),
      (2L, "s1", "mail c@d.io one two three four five six seven eight"),
      (3L, "s2", "totally different words in this document body here pal")
    ).toDF("doc_id", "src", "text").createOrReplaceTempView("graft_cfg_v4")
    val cfg =
      """{
        |  "source": {"type": "view", "name": "graft_cfg_v4"},
        |  "scrub": {"textCol": "text", "phase": "beforeDedup"},
        |  "pseudonymize": {"cols": ["src"], "salt": "k2", "phase": "beforeDedup"},
        |  "dedup": {"strategy": "segment", "id": "doc_id", "text": "text",
        |            "segTokens": 10, "carry": ["src"]},
        |  "packing": {"group": "src", "id": "doc_id", "tokensFrom": "dedup_text",
        |              "budget": 100}
        |}""".stripMargin
    val out = PipelineConfig.fromJson(spark, cfg).plan(spark).get
      .select("src", "doc_id", "n_tokens", "bin_id")
      .collect().map(r => r.getLong(1) -> (r.getString(0), r.getLong(2), r.getLong(3))).toMap
    // scrub BEFORE dedup: docs 1 and 2 differ only in the redacted email,
    // so their scrubbed first segments are IDENTICAL — doc 2 loses its
    // whole (single) segment to keep-first and packs at 0 tokens
    assert(out(1L)._2 == 10L, s"doc 1 keeps its segment: $out")
    assert(out(2L)._2 == 0L, s"doc 2's redacted text must dedup away entirely: $out")
    assert(out(3L)._2 == 9L, s"doc 3 (9 words) keeps its only segment: $out")
    // pseudonymize rode the carry: groups are 16-hex tokens, not raw srcs
    val tokens = out.values.map(_._1).toSet
    assert(tokens.size == 2 && tokens.forall(t => t.length == 16 && t != "s1" && t != "s2"))
    // bad phase and missing packing fields are parse-time errors
    intercept[graft.GraftConfigError] {
      PipelineConfig.fromJson(spark,
        """{"source": {"type": "view", "name": "graft_cfg_v4"},
          | "scrub": {"textCol": "text", "phase": "sideways"}}""".stripMargin)
    }
    intercept[graft.GraftConfigError] {
      PipelineConfig.fromJson(spark,
        """{"source": {"type": "view", "name": "graft_cfg_v4"},
          | "packing": {"group": "src", "id": "doc_id"}}""".stripMargin)
    }
    // a view source honors failOnMissing like a file source
    intercept[java.io.FileNotFoundException] {
      PipelineConfig.fromJson(spark,
        """{"source": {"type": "view", "name": "graft_no_such_view"}}""")
        .plan(spark)
    }
    assert(PipelineConfig.fromJson(spark,
      """{"source": {"type": "view", "name": "graft_no_such_view"},
        | "failOnMissing": false}""".stripMargin).plan(spark).isEmpty)
  }

  test("declared model gates filter and materialize from config") {
    // classifier + LM gates as config sections over the canonical
    // (doc_id, text) schema; materialize checkpoints the survivors
    Tables.documents(spark, sfDir).createOrReplaceTempView("graft_cfg_gates")
    val cfg =
      """{
        |  "source": {"type": "view", "name": "graft_cfg_gates"},
        |  "gates": {"classifierMinMargin": 0.0, "lmMinAvgBigramP": 0.033,
        |            "materialize": true}
        |}""".stripMargin
    val gated = PipelineConfig.fromJson(spark, cfg).plan(spark).get
    // must equal the hand-composed sequential gating (LM census over the
    // classifier survivors — the declared pipeline gates in order)
    val docs = Tables.documents(spark, sfDir)
    val cls = graft.operators.TextAnalysis.classifierScore(docs)
      .filter(col("margin") > 0.0).select("doc_id")
    val afterCls = docs.join(cls, Seq("doc_id"), "left_semi")
    val lm = graft.operators.TextAnalysis.bigramLmScore(afterCls)
      .filter(col("avg_bigram_p") >= 0.033).select("doc_id")
    val want = afterCls.join(lm, Seq("doc_id"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    assert(gated.select("doc_id").as[Long].collect().toSet == want)
    // the materialized plan is lineage-truncated (no parquet scan above it)
    assert(gated.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }.nonEmpty, "materialize must checkpoint the gated frame")
  }

  test("segment dedup strategy is selectable from config") {
    val root = Files.createTempDirectory("graft-segcfg").toString
    Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
      (2L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 fresh tail content here now")
    ).toDF("doc_id", "text").write.parquet(s"$root/src")
    val cfg =
      s"""{
         |  "source": {"type": "parquet", "path": "$root/src"},
         |  "dedup": {"strategy": "segment", "id": "doc_id", "text": "text", "segTokens": 10}
         |}""".stripMargin
    val out = PipelineConfig.fromJson(spark, cfg).run(spark).get
      .orderBy("doc_id").collect()
    assert(out(0).getLong(2) == 1L, "doc 1 keeps its one segment")
    assert(out(1).getAs[String]("dedup_text").startsWith("fresh"),
      "doc 2's repeated leading segment drops, the fresh tail survives")
  }
}
