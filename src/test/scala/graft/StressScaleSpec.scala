package graft

import graft.operators.{Dedup, Joins}
import org.apache.spark.sql.functions._

/** Opt-in stress tier — `GRAFT_STRESS=1 sbt "testOnly graft.StressScaleSpec"`.
  *
  * Scale-shaped behavior that is too slow for the default CI loop: a
  * multi-million-row skewed join, an identical-document flood through LSH
  * dedup, and connected components over a 10k-long chain. Without the env
  * var every test cancels (not fails), so `sbt test` stays fast.
  */
class StressScaleSpec extends SparkTestBase {
  import spark.implicits._

  private val enabled = sys.env.get("GRAFT_STRESS").contains("1")
  private def stress(name: String)(body: => Unit): Unit =
    test(name) { assume(enabled, "set GRAFT_STRESS=1 to run the stress tier"); body }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  stress("salted join balances and beats the plain shuffle join on a hot key (8M rows)") {
    // ~99% of 8M rows share key 0; the rest spread over 200 keys. Broadcast
    // and AQE skew-split are disabled so both plans shuffle — the claim
    // under test is the MANUAL salting mechanism, which targets exactly the
    // skew AQE cannot split (e.g. a join followed by a keyed aggregation).
    val left = spark.range(8000000L)
      .select(when(pmod($"id", lit(100)) < 99, 0L).otherwise(pmod($"id", lit(200))).as("k"),
        $"id".as("v"))
    val right = spark.range(200L).select($"id".as("k"), ($"id" * 2).as("w"))
    val conf = spark.conf
    val savedBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedSkew = conf.get("spark.sql.adaptive.skewJoin.enabled")
    val savedAqeBroadcast = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    val savedShuffle = conf.get("spark.sql.shuffle.partitions")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // AQE re-plans to broadcast at runtime through its OWN threshold —
      // disable that too or both plans degenerate to the same broadcast join
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      // partitions must RESOLVE the salt cells: with only 4 shuffle
      // partitions the hot key's 8 (k, salt) cells hash into 4 reducers and
      // can re-concentrate by chance, erasing the salting advantage. Same
      // sizing rule as production: shuffle.partitions >> saltFactor.
      conf.set("spark.sql.shuffle.partitions", "32")
      def total(df: org.apache.spark.sql.DataFrame): Long =
        df.select(sum($"v" + $"w").as("s")).head().getLong(0)
      // warm both plans once (codegen/JIT), then measure
      val plainDf = left.join(right, Seq("k"))
      val saltedDf = Joins.saltedJoin(left, right, Seq("k"), factor = 8)
      val expected = total(plainDf)
      assert(total(saltedDf) == expected, "salting must not change the join result")
      // structural load-balance property (deterministic, the real 100 TB
      // claim): the hot key's rows split across (key, salt) cells, so the
      // largest reducer input drops by ~the salt factor
      val hot = left.filter($"k" === 0L).count()
      val maxCell = left
        .withColumn("__salt", pmod(xxhash64(left.columns.map(col): _*), lit(8)).cast("int"))
        .groupBy($"k", $"__salt").count().select(max($"count")).head().getLong(0)
      assert(maxCell < hot / 4,
        s"hot key must spread over salt cells: max cell $maxCell vs hot $hot")
      // wall-time: this VM's scheduler-noise bursts inflate either plan by
      // multiple seconds for tens of seconds at a time (r3 recorded 13.45s
      // for a 0.5s plan), so a single paired race flakes — but "salted wins
      // ANY of 3" would let a broken salt pass off one lucky burst. Compare
      // MEDIANS of 3 interleaved runs per plan: a single burst inflates at
      // most one of a plan's three samples, so the median stays clean,
      // while a genuinely broken salt loses on medians every time.
      val samples = (1 to 3).map { attempt =>
        val plainS = timed(total(plainDf))._2
        val saltedS = timed(total(saltedDf))._2
        info(f"race $attempt: plain $plainS%.2fs vs salted $saltedS%.2fs")
        (plainS, saltedS)
      }
      def median3(xs: Seq[Double]): Double = xs.sorted.apply(1)
      val plainMed = median3(samples.map(_._1))
      val saltedMed = median3(samples.map(_._2))
      assert(saltedMed < plainMed,
        f"salted median $saltedMed%.2fs did not beat plain median " +
          f"$plainMed%.2fs over 3 races — the hot key is not spreading " +
          "over reducers")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      conf.set("spark.sql.adaptive.skewJoin.enabled", savedSkew)
      conf.set("spark.sql.shuffle.partitions", savedShuffle)
      savedAqeBroadcast match {
        case Some(v) => conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  stress("resampleForward guard stops a years-spanning key at a fine step; bounded grids fly") {
    import graft.operators.Ops
    // one key observed twice, 3 YEARS apart, resampled at a 1-second step:
    // ~94.6M grid points for a single key — the silent task OOM the
    // maxStepsPerKey guard exists to stop. The error must carry the
    // actual grid size, executor-side, before any explode materializes.
    val threeYears = 3L * 365 * 86400L * 1000000L
    val pathological = Seq(("k", 0L, 1L, 1.0), ("k", threeYears, 2L, 2.0))
      .toDF("k", "ts_us", "eid", "v")
    val ex = intercept[Exception] {
      Ops.resampleForward(pathological, Seq("k"), "ts_us", Seq("v"), "eid",
        stepMicros = 1000000L).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("maxStepsPerKey"), s"guard must fire: $ex")
    // the same span at a DAY step is ~1096 points — well under the cap;
    // and a deliberately raised cap handles a 500k-point single-key grid
    val (dayGrid, _) = timed(Ops.resampleForward(
      pathological, Seq("k"), "ts_us", Seq("v"), "eid",
      stepMicros = 86400L * 1000000L).count())
    assert(dayGrid == 1096L)
    val wide = Seq(("w", 0L, 1L, 1.0), ("w", 500000L * 1000L, 2L, 2.0))
      .toDF("k", "ts_us", "eid", "v")
    val (n, secs) = timed(Ops.resampleForward(
      wide, Seq("k"), "ts_us", Seq("v"), "eid",
      stepMicros = 1000L, maxStepsPerKey = 1 << 20).count())
    assert(n == 500001L)
    assert(secs < 60.0, s"500k-point single-key grid took ${secs}s")
  }

  stress("minhash LSH stays sub-quadratic under a 10k identical-document flood") {
    // 10k copies of one doc + 10k distinct docs. The flood lands whole in
    // every one of its (band, bucket) cells; the keep-rule is a window min
    // (linear in bucket size), so this costs a sort — a pair-join here would
    // be ~10^8 candidate pairs and run far beyond the time box.
    val flood = (0L until 10000L).map(i => (i, "the same flooded document body repeated everywhere"))
    val distinct = (10000L until 20000L).map(i => (i, s"doc $i alpha$i beta$i gamma$i delta$i epsilon$i"))
    val docs = (flood ++ distinct).toDF("doc_id", "text").repartition(8)
    val (survivors, secs) = timed {
      Dedup.minhashLsh(docs, "doc_id", "text").count()
    }
    info(f"LSH flood dedup in $secs%.1fs, $survivors survivors")
    assert(survivors == 10001L, s"one survivor for the flood + each distinct doc, got $survivors")
    assert(secs < 180.0, f"flood handling took $secs%.1fs — sub-quadratic path likely regressed")
  }

  stress("ngram-Jaccard pair verification survives the flood via exact-dup precompose") {
    // the pair-verifying op WOULD be quadratic in the flood without the
    // distinctContent precompose (10k identical docs -> 1 representative)
    val flood = (0L until 10000L).map(i => (i, "the same flooded document body repeated everywhere"))
    val distinct = (10000L until 12000L).map(i => (i, s"doc $i alpha$i beta$i gamma$i delta$i epsilon$i"))
    val docs = (flood ++ distinct).toDF("doc_id", "text").repartition(8)
    val (survivors, secs) = timed {
      Dedup.ngramJaccard(docs, "doc_id", "text").count()
    }
    info(f"jaccard flood dedup in $secs%.1fs, $survivors survivors")
    assert(survivors == 2001L, s"one survivor for the flood + each distinct doc, got $survivors")
    assert(secs < 180.0, f"flood handling took $secs%.1fs — precompose likely regressed")
  }

  stress("key-table ingestion gate holds the flat cost model over a 30k-doc corpus") {
    // the past-driver-memory sidecar at volume: a 30k-doc corpus accreted
    // in one batch through the TABLE form (budget 0 forces it), then the
    // steady-state contract under load — a fresh 1k-doc batch admits with
    // ZERO corpus scans (the probe reads only the sharded key table), a 1k
    // re-crawl batch rejects everything via ONE confirm scan, and a replay
    // admits nothing. Wall-time bounds catch a probe that silently went
    // corpus-shaped.
    import graft.streaming.Streaming
    val corpus = java.nio.file.Files.createTempDirectory("graft-ktstress").toString + "/corpus"
    val tiny = 0L
    val base = spark.range(30000L)
      .select($"id".as("doc_id"),
        concat_ws(" ", (1 to 30).map(j => concat(lit(s"a"), $"id", lit(s"w$j"))): _*).as("text"))
    val (s1, t1) = timed(Streaming.ingestNearDupBatch(base, corpus, "doc_id", "text",
      sidecarMaxBytes = tiny))
    info(f"30k bootstrap through the table sidecar in $t1%.1fs")
    assert(s1.admitted == 30000L && s1.corpusScans == 0)
    // fresh batch: zero corpus scans, bounded time
    val fresh = spark.range(100000L, 101000L)
      .select($"id".as("doc_id"),
        concat_ws(" ", (1 to 30).map(j => concat(lit(s"b"), $"id", lit(s"w$j"))): _*).as("text"))
    val (s2, t2) = timed(Streaming.ingestNearDupBatch(fresh, corpus, "doc_id", "text",
      sidecarMaxBytes = tiny))
    info(f"fresh 1k batch gated in $t2%.1fs")
    assert(s2.admitted == 1000L && s2.corpusScans == 0, s"fresh batch: $s2")
    assert(t2 < 60.0, f"steady-state batch took $t2%.1fs — probe may have gone corpus-shaped")
    // replay of the fresh batch: exact clones, nothing lands twice
    val (s3, _) = timed(Streaming.ingestNearDupBatch(fresh, corpus, "doc_id", "text",
      sidecarMaxBytes = tiny))
    assert(s3.admitted == 0L, s"replay: $s3")
    assert(spark.read.parquet(corpus).count() == 31000L)
  }

  stress("segment dedup stays linear under a 20k boilerplate flood") {
    // 20k docs sharing one boilerplate segment + a unique tail. The
    // keep-first rule is a window min per segment (linear in occurrence
    // count) — a pair formulation would be ~4*10^8 candidate pairs.
    val boiler = "all rights reserved contact us terms of service apply here"
    val docs = (0L until 20000L)
      .map(i => (i, s"$boiler unique$i tail$i content$i words$i extra$i more$i body$i text$i end$i fin$i"))
      .toDF("doc_id", "text").repartition(8)
    val (out, secs) = timed {
      Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 10)
        .agg(sum(when(col("n_kept") < col("n_segs"), 1L).otherwise(0L)),
          min(col("n_kept"))).head()
    }
    info(f"segment flood dedup in $secs%.1fs")
    // every doc after the first loses the boilerplate segment, none loses
    // its unique tail
    assert(out.getLong(0) == 19999L, s"19999 docs must shed the boilerplate, got ${out.getLong(0)}")
    assert(out.getLong(1) >= 1L, "no document may lose its unique segments")
    assert(secs < 180.0, f"segment flood took $secs%.1fs — linear path likely regressed")
  }

  stress("greedy packing a 1M-row group completes in one sequential pass") {
    // one group forces one task to walk 1M rows — the worst case the
    // (lang, shard) composite-group advice exists for; the pass itself must
    // be trivially linear (iterator state, no per-row allocation blowup)
    val rows = spark.range(1000000L)
      .select(lit("g").as("lang"), col("id").as("doc_id"), (pmod(col("id"), lit(97)) + 10L).as("n_tokens"))
    val (stats, secs) = timed {
      val assigned = operators.Packing.packGreedy(rows, "lang", "doc_id", col("n_tokens"), budget = 2048L)
      assigned.agg(count(lit(1)), max(col("bin_id"))).head()
    }
    info(f"packed 1M rows in $secs%.1fs, ${stats.getLong(1) + 1} bins")
    assert(stats.getLong(0) == 1000000L)
    assert(stats.getLong(1) > 25000L, "2048-token bins over ~58-token docs must need >25k bins")
    assert(secs < 120.0, f"packing took $secs%.1fs — the sequential pass regressed")
  }

  stress("semantic dedup guard stays sub-quadratic under a 20k near-identical cluster flood") {
    // 20k DISTINCT but near-identical embeddings (cosine ≈ 1 pairwise) all
    // land in one k-means cluster — exact-collapse can't help (no exact
    // dups) and all-pairs verification would be 4*10^8 cosine evaluations
    // shuffled through a self-join. The guard trips (cluster > 1000) and
    // verifies each row against its sign-band bucket representative instead
    // — linear in the flood.
    val flood = (0L until 20000L).map { i =>
      (i, Array(1.0f, i * 1e-7f, 0f, 0f, 0f, 0f, 0f, 0f))
    }
    val distinct = (0 until 7).map { j =>
      val v = new Array[Float](8); v(j + 1) = 1.0f
      (20000L + j, v)
    }
    val docs = (flood ++ distinct).toDF("id", "vec").repartition(8)
    val (survivors, secs) = timed {
      Dedup.semanticDedup(docs, "id", "vec", nlist = 1, iters = 2,
        guardClusterSize = 1000).count()
    }
    info(f"semantic flood dedup in $secs%.1fs, $survivors survivors")
    assert(survivors == 8L,
      s"min-id flood survivor + 7 orthogonal vectors expected, got $survivors")
    assert(secs < 180.0, f"flood took $secs%.1fs — the guard likely regressed to all-pairs")
  }

  stress("containment scoring survives a 20k shared-boilerplate flood via the df cut") {
    // 20k docs share one boilerplate 5-shingle; without the df cut the
    // inverted index emits 20k² pairs from that single posting list. With
    // the cut the boilerplate shingle is excluded and pair volume collapses
    // to the planted unique-tail overlaps.
    val boiler = "b1 b2 b3 b4 b5"
    val flood = (0L until 20000L).map(i =>
      (i, s"$boiler u${i}a u${i}b u${i}c u${i}d u${i}e"))
    // two planted A-inside-B pairs among the flood
    val planted = Seq(
      (30000L, "p1 p2 p3 p4 p5 p6"),
      (30001L, "z0 p1 p2 p3 p4 p5 p6 z1"))
    val docs = (flood ++ planted).toDF("doc_id", "text").repartition(8)
    val (res, secs) = timed {
      Dedup.containmentScores(docs, "doc_id", "text", n = 5, threshold = 0.9,
        maxShingleDf = 100)
        .filter(col("contained") === 1L).select("doc_id").as[Long].collect().sorted.toSeq
    }
    info(f"containment flood scored in $secs%.1fs")
    assert(res == Seq(30000L), s"only the planted contained doc, got $res")
    assert(secs < 120.0,
      f"flood took $secs%.1fs — the df cut likely stopped bounding the pair join")
  }

  stress("entity resolution survives a 20k single-block flood via the sorted-neighborhood guard") {
    // every record lands in ONE block (the empty/constant-key pathology the
    // guard exists for). All-pairs would be 2*10^8 levenshtein evaluations;
    // the guard compares each row only against its 16 sorted neighbors —
    // 3.2*10^5 — and transitive closure recovers the two identical-name
    // entities whole.
    val flood = (0L until 10000L).map(i => (i, "aaaa entity alpha")) ++
      (10000L until 20000L).map(i => (i, "bbbb entity beta"))
    val docs = flood.toDF("id", "name").repartition(8)
    val (out, secs) = timed {
      graft.operators.EntityResolution.resolve(
        docs, "id", blockKey = lit(""), matchAttr = col("name"), maxDistance = 1)
        .groupBy(col("entity_id")).agg(max(col("entity_size")).as("sz"))
        .select(col("sz")).as[Long].collect().sorted.toSeq
    }
    info(f"single-block ER flood resolved in $secs%.1fs")
    assert(out == Seq(10000L, 10000L),
      s"two 10k entities expected from the flood, got $out")
    assert(secs < 180.0,
      f"flood took $secs%.1fs — the mega-block guard likely regressed to all-pairs")
  }

  stress("pageRank stays linear in edges on a dense 1M-edge graph") {
    // a boilerplate-heavy corpus maxes the df cut and densifies the
    // co-occurrence edge list; this floods pageRank directly with 10k
    // vertices x 100 out-edges = 1M directed edges. The claims under test:
    // the flood finishes inside the time box (each iteration is ONE
    // equi-join + ONE agg over the checkpointed adjacency), and more
    // iterations cost ~linearly more — if the adjacency checkpoint
    // regressed, every iteration would re-derive the full upstream lineage
    // and iteration cost would compound instead.
    import graft.operators.Graph
    val nNodes = 10000L
    val nodes = spark.range(nNodes).select($"id")
    val edges = spark.range(nNodes)
      .select($"id".as("a"), explode(sequence(lit(0), lit(99))).as("j"))
      .select($"a", (($"a" * 37 + $"j" * 101) % nNodes).as("b"))
      .repartition(8)
    def run(iters: Int): Double = {
      val (sumRank, secs) = timed {
        Graph.pageRank(edges, nodes, iters = iters)
          .agg(sum($"rank")).head().getDouble(0)
      }
      assert(sumRank > 0.0 && sumRank <= 1.0 + 1e-6,
        s"rank mass must stay within the unit simplex, got $sumRank")
      secs
    }
    run(1) // warm codegen/JIT + the adjacency build
    val t2 = Seq(run(2), run(2), run(2)).sorted.apply(1)
    val t6 = Seq(run(6), run(6), run(6)).sorted.apply(1)
    info(f"1M-edge pageRank: 2 iters $t2%.1fs, 6 iters $t6%.1fs (medians of 3)")
    assert(t6 < 180.0, f"6-iteration flood took $t6%.1fs — iteration cost likely compounding")
    // 3x the iterations must cost well under the quadratic blowup; the
    // generous 6x bound absorbs this VM's scheduler noise while still
    // catching a lost checkpoint (which compounds per iteration)
    assert(t6 < t2 * 6.0 + 5.0,
      f"6 iters ($t6%.1fs) vs 2 iters ($t2%.1fs): iteration cost is compounding — " +
        "the adjacency checkpoint likely regressed")
  }

  stress("connected components collapses a 10k-node chain within 15 pointer-doubling rounds") {
    val edges = (0L until 9999L).map(i => (i, i + 1)).toDF("a", "b").repartition(8)
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(edges, maxIter = 15)
    assert(rounds <= 15, s"chain should collapse in O(log n) rounds, took $rounds")
    assert(labels.select("label").distinct().count() == 1L,
      "a single chain must converge to ONE component within the round budget")
    assert(labels.count() == 10000L)
  }

  stress("triangle counting survives a 20k-neighbor celebrity hub (degree orientation)") {
    // a naive wedge enumeration pairs the hub's neighbors: 20k^2 = 400M
    // 2-paths before the closure join ever runs. Degree orientation directs
    // every spoke INTO the hub (it has max degree), so the hub contributes
    // zero out-wedges; total wedge volume stays linear in the edge count.
    // A thin triangle fringe (100 leaf-leaf chords) proves closure still
    // fires inside the flood.
    import graft.operators.Graph
    val hub = spark.range(1L, 20001L).select(lit(0L).as("a"), $"id".as("b"))
    val chords = spark.range(1L, 101L).select($"id".as("a"), ($"id" + 1).as("b"))
    val edges = hub.unionByName(chords)
    val (counts, secs) = timed {
      Graph.triangleCounts(edges, spark.range(0L, 20001L).select($"id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // chord i joins hub spokes (0,i),(0,i+1): one triangle per chord
    assert(counts(0L) == 100L, s"hub closes every chord triangle, got ${counts(0L)}")
    assert(counts(1L) == 1L && counts(50L) == 2L, "interior chord vertices sit in two")
    assert(counts(20000L) == 0L)
    assert(secs < 60.0, f"celebrity hub must not go quadratic: $secs%.1f s")
  }

  stress("the whole query surface is partitioning-independent (32 vs 7 shuffle partitions)") {
    // the distilled 100 TB question: does ANY query's answer depend on the
    // cluster layout? Every accumulation in the engine is engineered to be
    // order-free (fixed-point sums, decimal sums, min-label CC, rank-picked
    // medians, deterministic hash sampling) — this sweep pins that property
    // for EVERY query at once: same rows, bit-identical, at 32 and at 7
    // shuffle partitions. Row.toString is shortest-round-trip for doubles,
    // so any bitwise drift in a float changes the canonical form.
    val dir = sfDir
    def canon(df: org.apache.spark.sql.DataFrame): String =
      df.collect().map(_.toString).sorted.mkString("\n")
    val conf = spark.conf
    val saved = conf.get("spark.sql.shuffle.partitions")
    val diffs = scala.collection.mutable.ArrayBuffer[String]()
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        conf.set("spark.sql.shuffle.partitions", "32")
        val a = canon(fn(spark, dir))
        conf.set("spark.sql.shuffle.partitions", "7")
        val b = canon(fn(spark, dir))
        if (a != b) diffs += name
      }
    } finally conf.set("spark.sql.shuffle.partitions", saved)
    assert(diffs.isEmpty,
      s"partitioning-dependent results from: ${diffs.mkString(", ")}")
  }

  stress("continuous maintainers stay bounded-state and flat-cost over 40 micro-batches") {
    // the 100 TB claim of the versioned-state maintainers: per-merge cost
    // and on-disk state depend on |keys| (and k), NEVER on how much stream
    // has flowed. 40 batches of 25k rows each; 8 segments; KMV k=128.
    import graft.streaming.{HeavyHittersState, KmvSegments, RollupState}
    val kmvDir = java.nio.file.Files.createTempDirectory("graft-kmv-stress").toString + "/st"
    val ruDir = java.nio.file.Files.createTempDirectory("graft-ru-stress").toString + "/st"
    val hhDir = java.nio.file.Files.createTempDirectory("graft-hh-stress").toString + "/st"
    val hhCap = 64
    def batchDf(b: Int) = spark.range(b * 25000L, (b + 1) * 25000L)
      .select(pmod($"id", lit(8)).as("seg"), $"id".as("uid"),
        ($"id" % 1000).cast("double").as("v"),
        // skewed token stream: half the mass on 8 hot tokens, the tail
        // over ~1k distinct — the MG maintainer must stay cap-bounded
        when(pmod($"id", lit(16)) < 8, concat(lit("hot"), pmod($"id", lit(8))))
          .otherwise(concat(lit("t"), pmod($"id", lit(997)))).as("tok"))
    val times = (0 until 40).map { b =>
      val df = batchDf(b)
      val (_, tK) = timed(KmvSegments.mergeBatch(df, kmvDir, "seg", "uid", 128, b.toLong))
      val (_, tR) = timed(RollupState.mergeBatch(df, ruDir, Seq("seg"), "v", "uid", b.toLong))
      val (_, tH) = timed(HeavyHittersState.mergeBatch(df, hhDir, "seg", "tok", hhCap, b.toLong))
      tK + tR + tH
    }
    // window MINIMA, not medians: this rig's scheduler-noise bursts (see
    // the salted-join case above) inflate several CONSECUTIVE ~1s merges
    // at once, which would swamp a contiguous-window median in either
    // direction; the min picks each window's clean sample, and genuine
    // per-merge cost growth raises even the clean late samples
    val early = times.slice(2, 7).min // skip warm-up/JIT batches
    val late = times.takeRight(5).min
    assert(late <= early * 3.0,
      f"per-merge cost grew with stream length: early=$early%.2fs late=$late%.2fs")
    // state stays keys-sized and k-bounded after 1M streamed rows
    val kmvState = KmvSegments.state(spark, kmvDir).get.collect()
    assert(kmvState.length == 8 && kmvState.forall(_.getSeq[Long](1).size <= 128))
    val ru = RollupState.state(spark, ruDir).get
      .select($"seg", $"cnt", $"sum_v".cast("double"), $"min_v", $"max_v")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val want = (0 until 40).map(batchDf).reduce(_ union _)
      .groupBy($"seg").agg(count(lit(1)),
        sum($"v".cast("decimal(18,2)")).cast("double"), min($"v"), max($"v"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(ru == want, "40-batch rollup must equal the one-shot aggregate")
    // HH state: 8 groups, <= cap counters each, n_tokens exactly additive
    // after 1M streamed rows — and the guaranteed hot tokens all survive
    val hh = HeavyHittersState.state(spark, hhDir).get
      .as[(Long, Map[String, Long], Long)].collect()
    assert(hh.length == 8 && hh.forall(_._2.size <= hhCap))
    assert(hh.map(_._3).sum == 1000000L, "n_tokens must be exactly additive")
    // each seg's hot token carries 1/2 of its 125k rows — far above
    // N_seg/(cap+1) ≈ 1923 — so the guarantee forces it into the summary
    hh.foreach { case (seg, sk, _) =>
      assert(sk.contains(s"hot$seg"), s"guaranteed HH hot$seg missing from seg $seg")
    }
    // on-disk footprint: exactly one live version (plus the grace one)
    for (d <- Seq(kmvDir, ruDir, hhDir)) {
      val fs = new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val vs = fs.listStatus(new org.apache.hadoop.fs.Path(d))
        .map(_.getPath.getName).count(_.startsWith("v"))
      assert(vs <= 2, s"version dirs accrete under $d: $vs")
    }
  }

  stress("sharded fold: per-fold rewrite stays bounded as commits grow, reads unchanged") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    // the manifest-tiering contract at volume: two retention folds over a
    // growing table, with the SECOND fold rewriting only the shards whose
    // buckets the new commits dirtied — the property that keeps fold cost
    // O(delta), not O(files), at 10M-file scale
    val dir = java.nio.file.Files.createTempDirectory("graft-stress-shard").toString + "/t"
    val table = new org.apache.hadoop.fs.Path(dir)
    (0 until 120).foreach { i =>
      spark.range(i * 5L, (i + 1) * 5L).select($"id", lit("x").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = GraftParquetWrite.logDir(table)
    def shardStats(): Map[String, Long] = fs.listStatus(logDir)
      .filter(st => st.isFile && st.getPath.getName.startsWith("s-"))
      .map(st => (st.getPath.getName, st.getLen)).toMap
    // fold 1: 112 members tier into 16 buckets (shardTarget=8)
    assert(GraftTableOptimize.foldLog(fs, table, retain = 8,
      shardOver = 32, shardTarget = 8) == 9)
    val shards1 = shardStats()
    assert(shards1.size > 8, s"expected tiered base, got ${shards1.size} shards")
    // a handle inside the retained tail resolves through the tiered base
    assert(spark.read.format("graft-parquet")
      .option("graft.asOfSeq", "115").load(dir).count() == 116 * 5)
    // grow by 8 commits, fold again at the SAME bucket geometry
    (120 until 128).foreach { i =>
      spark.range(i * 5L, (i + 1) * 5L).select($"id", lit("x").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    assert(GraftTableOptimize.foldLog(fs, table, retain = 8,
      shardOver = 32, shardTarget = 8) == 9)
    val shards2 = shardStats()
    val reused = shards2.keySet.intersect(shards1.keySet)
    val rewritten = shards2.keySet -- shards1.keySet
    assert(reused.size >= shards1.size - 8,
      s"8 new files dirty at most 8 buckets; reused=${reused.size} of ${shards1.size}")
    assert(rewritten.size <= 8, s"rewritten=${rewritten.size} — fold cost must be O(delta)")
    val rewrittenBytes = rewritten.toSeq.map(shards2).sum
    val totalBytes = shards2.values.sum
    assert(rewrittenBytes < totalBytes,
      s"per-fold bytes rewritten ($rewrittenBytes) must stay below the full base ($totalBytes)")
    info(f"fold 2 rewrote ${rewritten.size} of ${shards2.size} shards " +
      f"($rewrittenBytes of $totalBytes bytes)")
    // reads and membership are unchanged through both folds
    assert(spark.read.format("graft-parquet").load(dir).count() == 128 * 5)
    assert(GraftParquetWrite.listDataFiles(fs, table).length == 128)
    val health = GraftTableOptimize.fsck(spark, dir)
    assert(health.healthy && health.missingDataFiles == 0 && health.unloggedDataFiles == 0,
      s"got $health")
  }

  stress("zone-map stack at 96 commits: pruning exact, optimize folds, aggregates hold") {
    import graft.sources.v2.{GraftTableOptimize, ZoneMap}
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    // the incremental-feed shape the skipping stack exists for: 96 small
    // append commits of contiguous slabs (500 rows each), then a narrow
    // window, the metadata COUNT, OPTIMIZE, and the same checks again
    val dir = java.nio.file.Files.createTempDirectory("graft-zm-stress").toString + "/t"
    val slabRows = 500L
    val commits = 96
    (0 until commits).foreach { i =>
      spark.range(i * slabRows, (i + 1) * slabRows)
        .select($"id", concat(lit("doc-"), $"id").as("name"), ($"id" % 97).cast("double").as("v"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val table = new org.apache.hadoop.fs.Path(dir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ZoneMap.load(fs, table).size == commits)
    val sch = spark.read.format("graft-parquet").load(dir).schema
    // a one-slab window refutes 95 of 96 files from the sidecar alone
    val window: Array[org.apache.spark.sql.sources.Filter] =
      Array(GreaterThanOrEqual("id", 10100L), LessThan("id", 10400L))
    val (t0, p0) = ZoneMap.pruneReport(fs, table, window, sch)
    assert(t0 == commits && p0 == commits - 1, s"expected ${commits - 1}/$commits pruned, got $p0/$t0")
    val (_, tPlan) = timed {
      val df = spark.read.format("graft-parquet").load(dir)
        .filter($"id" >= 10100L && $"id" < 10400L)
      assert(df.rdd.getNumPartitions == 1)
      assert(df.count() == 300)
    }
    // metadata aggregates answer over all 96 entries
    val agged = spark.read.format("graft-parquet").load(dir)
      .agg(count(lit(1)).as("n"), min($"id").as("lo"), max($"id").as("hi"))
    val row = agged.head()
    assert(row.getLong(0) == commits * slabRows && row.getLong(1) == 0L &&
      row.getLong(2) == commits * slabRows - 1)
    // AS-OF at mid-flood: the snapshot handle after commit 48 reads exactly
    // the first 48 slabs while the live table holds all 96
    val midSeq = 47L // commits write log seqs 0..95
    val asOf = spark.read.format("graft-parquet")
      .option("graft.asOfSeq", midSeq.toString).load(dir)
    assert(asOf.count() == 48 * slabRows, "snapshot must hold the first 48 commits exactly")
    assert(asOf.agg(max($"id")).head().getLong(0) == 48 * slabRows - 1)
    // a 300-batch ingest flood with self-folding: the log never grows
    // O(batches), and a snapshot held inside the retention tail resolves
    // across the folds it survived
    locally {
      import graft.sources.v2.GraftParquetWrite
      import graft.streaming.TableIngest
      val floodDir = java.nio.file.Files.createTempDirectory("graft-stress-selffold")
        .toString + "/t"
      val tiny = spark.range(0, 3).select($"id", lit("x").as("name")).coalesce(1)
      var held: Option[Long] = None
      (0L until 300L).foreach { b =>
        val r = TableIngest.ingestBatchRecorded(tiny, floodDir, b, lineage = "fl",
          retainMarkers = 32, foldLogOver = 24)
        if (b == 290L) held = r.seq
      }
      val floodFs = new org.apache.hadoop.fs.Path(floodDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val recCount = GraftParquetWrite.logRecordFiles(floodFs, new org.apache.hadoop.fs.Path(floodDir)).length
      assert(recCount <= 24 + 16,
        s"300 batches must fold to a bounded log, got $recCount records")
      val snap = spark.read.format("graft-parquet")
        .option("graft.asOfSeq", held.get.toString).load(floodDir)
      assert(snap.count() == 291 * 3, "the held snapshot must read batches 0..290 exactly")
      assert(spark.read.format("graft-parquet").load(floodDir).count() == 300 * 3)
      val markers = floodFs.listStatus(new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(floodDir), "_commits")).length
      assert(markers <= 32 + 16, s"markers must stay bounded too, got $markers")
    }

    // OPTIMIZE: 96 files bin-pack, sidecars fold to one, everything
    // re-checks (retainLog=0 pins the fold-everything legacy form)
    val rep = GraftTableOptimize.optimize(spark, dir,
      targetBytes = 8L * 1024 * 1024, smallBytes = 8L * 1024 * 1024, retainLog = 0)
    assert(rep.filesRewritten == commits && rep.filesAfter < 8 && rep.zmSidecarsAfter == 1,
      s"optimize must collapse the tail: $rep")
    assert(rep.logRecordsBefore == commits && rep.logRecordsAfter == 1,
      s"96 commit-log records must fold to one snapshot: $rep")
    val back = spark.read.format("graft-parquet").load(dir)
    assert(back.count() == commits * slabRows)
    assert(back.filter($"id" >= 10100L && $"id" < 10400L).count() == 300)
    val row2 = back.agg(count(lit(1)), min($"id"), max($"id")).head()
    assert(row2.getLong(0) == commits * slabRows && row2.getLong(1) == 0L &&
      row2.getLong(2) == commits * slabRows - 1)
    info(f"window scan over 96 commits: $tPlan%.2fs (1 of 96 files planned)")
  }
}
