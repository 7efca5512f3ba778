package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.sources.v2.{GraftScan, ZoneMap}

/** Zone-map file skipping on the graft-parquet connector: statistics
  * collection, the may-match algebra's conservatism, sidecar crash
  * semantics, and the planner actually dropping refuted files.
  */
class ZoneMapSpec extends SparkTestBase {
  import spark.implicits._

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def freshTable(prefix: String): String =
    tempDir(prefix) + "/t"

  // ------------------------------------------------------------- encoding

  test("zone-map stats JSON round-trips, including control chars in string bounds") {
    val s = ZoneMap.FileStats(7L, Map(
      "id" -> ZoneMap.ColStats(Some("3"), Some("99"), 1L, nan = false),
      "txt" -> ZoneMap.ColStats(Some("a\tb\nc"), Some("z\"quote"), 0L, nan = false),
      "score" -> ZoneMap.ColStats(None, None, 7L, nan = false),
      "f" -> ZoneMap.ColStats(Some("1.5"), Some("2.5"), 0L, nan = true)))
    val line = ZoneMap.encode(s)
    assert(!line.contains('\t') && !line.contains('\n'),
      s"encoded stats must stay line/tab-format-safe: $line")
    assert(ZoneMap.decode(line) == s)
  }

  test("double bounds round-trip bitwise through the string encoding") {
    val values = Seq(1.0 / 3.0, -0.0, Double.MinPositiveValue, 1.7976931348623157e308, 42.0)
    values.foreach { d =>
      val s = ZoneMap.FileStats(1L, Map("v" -> ZoneMap.ColStats(
        Some(d.toString), Some(d.toString), 0L, nan = false)))
      val back = ZoneMap.decode(ZoneMap.encode(s)).cols("v").min.get
      assert(java.lang.Double.doubleToRawLongBits(java.lang.Double.parseDouble(back)) ==
        java.lang.Double.doubleToRawLongBits(d), s"$d must survive bitwise")
    }
  }

  // -------------------------------------------------------- mayMatch algebra

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType)))

  private def st(min: String, max: String, nulls: Long = 0, rows: Long = 10,
      nan: Boolean = false) =
    ZoneMap.FileStats(rows, Map("id" -> ZoneMap.ColStats(
      Option(min), Option(max), nulls, nan)))

  test("comparison filters prune outside [min,max] and keep overlaps") {
    val s = st("10", "20")
    def may(f: Filter) = ZoneMap.mayMatch(f, s, schema)
    assert(!may(EqualTo("id", 9L)) && may(EqualTo("id", 10L)) &&
      may(EqualTo("id", 15L)) && may(EqualTo("id", 20L)) && !may(EqualTo("id", 21L)))
    assert(!may(GreaterThan("id", 20L)) && may(GreaterThan("id", 19L)))
    assert(may(GreaterThanOrEqual("id", 20L)) && !may(GreaterThanOrEqual("id", 21L)))
    assert(!may(LessThan("id", 10L)) && may(LessThan("id", 11L)))
    assert(may(LessThanOrEqual("id", 10L)) && !may(LessThanOrEqual("id", 9L)))
    assert(!may(In("id", Array(1L, 5L, 25L))) && may(In("id", Array(1L, 12L))))
    // cross-numeric widening: an Int literal against a Long column still prunes
    assert(!may(EqualTo("id", 9)) && may(EqualTo("id", 15)))
  }

  test("null-count logic: IsNull/IsNotNull prune exactly, all-NULL refutes comparisons") {
    val noNulls = st("10", "20", nulls = 0)
    val allNull = ZoneMap.FileStats(10L, Map("id" -> ZoneMap.ColStats(None, None, 10L, nan = false)))
    val mixed = st("10", "20", nulls = 3)
    assert(!ZoneMap.mayMatch(IsNull("id"), noNulls, schema))
    assert(ZoneMap.mayMatch(IsNull("id"), mixed, schema))
    assert(ZoneMap.mayMatch(IsNull("id"), allNull, schema))
    assert(!ZoneMap.mayMatch(IsNotNull("id"), allNull, schema))
    assert(ZoneMap.mayMatch(IsNotNull("id"), mixed, schema))
    // SQL three-valued logic: a comparison is never true on an all-NULL column
    assert(!ZoneMap.mayMatch(EqualTo("id", 15L), allNull, schema))
    assert(!ZoneMap.mayMatch(GreaterThan("id", 0L), allNull, schema))
  }

  test("conservatism: NaN poisoning, missing columns, and unknown filters never prune") {
    val nanPoisoned = st("10", "20", nan = true)
    assert(ZoneMap.mayMatch(EqualTo("id", 999L), nanPoisoned, schema),
      "a NaN-bearing column must not prune (NaN ordering vs bounds is shape-specific)")
    val s = st("10", "20")
    assert(ZoneMap.mayMatch(EqualTo("name", "zzz"), s, schema),
      "a column with no stats entry must stay may-match")
    assert(ZoneMap.mayMatch(StringStartsWith("id", "1"), s, schema),
      "a filter shape outside the algebra must stay may-match")
    // empty file: everything is refuted (no row can match anything)
    val empty = ZoneMap.FileStats(0L, Map("id" -> ZoneMap.ColStats(None, None, 0L, nan = false)))
    assert(!ZoneMap.mayMatch(EqualTo("id", 1L), empty, schema))
    assert(!ZoneMap.mayMatch(IsNull("id"), empty, schema))
    assert(!ZoneMap.mayMatch(IsNotNull("id"), empty, schema))
  }

  test("pruning agrees with record-level eval on randomized files (no false drops)") {
    val rnd = new scala.util.Random(421337L)
    val sch = StructType(Seq(StructField("x", LongType), StructField("s", StringType)))
    (1 to 200).foreach { _ =>
      // a random small file: values + nulls; build its true stats
      val xs = Seq.fill(1 + rnd.nextInt(6))(
        if (rnd.nextInt(4) == 0) null else java.lang.Long.valueOf(rnd.nextInt(30).toLong))
      val nonNull = xs.filter(_ != null).map(_.asInstanceOf[Long])
      val stats = ZoneMap.FileStats(xs.size.toLong, Map("x" -> ZoneMap.ColStats(
        if (nonNull.isEmpty) None else Some(nonNull.min.toString),
        if (nonNull.isEmpty) None else Some(nonNull.max.toString),
        xs.count(_ == null).toLong, nan = false)))
      val v = rnd.nextInt(30).toLong
      val fs: Seq[Filter] = Seq(EqualTo("x", v), GreaterThan("x", v), LessThan("x", v),
        GreaterThanOrEqual("x", v), LessThanOrEqual("x", v), IsNull("x"), IsNotNull("x"),
        In("x", Array(v, v + 3)))
      fs.foreach { f =>
        val anyRowMatches = xs.exists(x =>
          GraftScan.eval(f, name => if (name == "x") x else null))
        if (anyRowMatches)
          assert(ZoneMap.mayMatch(f, stats, sch),
            s"$f matched a row of $xs but the zone map pruned the file")
      }
    }
  }

  test("prepared IN pruning decides exactly like the linear form (randomized property)") {
    val rnd = new scala.util.Random(991_337L)
    val sch = StructType(Seq(StructField("x", LongType), StructField("s", StringType),
      StructField("d", DoubleType)))
    def statsFor(col: String, mn: Option[String], mx: Option[String], nulls: Long, rows: Long,
        nan: Boolean = false) =
      ZoneMap.FileStats(rows, Map(col -> ZoneMap.ColStats(mn, mx, nulls, nan)))
    (1 to 500).foreach { _ =>
      // a random large IN (always above the prepare threshold) + a random
      // stats entry, over longs, strings, or doubles
      val (attr, vs, st) = rnd.nextInt(3) match {
        case 0 =>
          val vs: Array[Any] = Array.fill(17 + rnd.nextInt(40))(rnd.nextInt(200).toLong: Any)
          val (a, b) = (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)
          ("x", vs, statsFor("x", Some(math.min(a, b).toString), Some(math.max(a, b).toString),
            rnd.nextInt(3).toLong, 10L))
        case 1 =>
          def w() = ('a' + rnd.nextInt(6)).toChar.toString * (1 + rnd.nextInt(3))
          val vs: Array[Any] = Array.fill(17 + rnd.nextInt(40))(w(): Any)
          val (a, b) = (w(), w())
          val (lo, hi) = if (a <= b) (a, b) else (b, a)
          ("s", vs, statsFor("s", Some(lo), Some(hi), 0L, 10L))
        case _ =>
          val vs: Array[Any] = Array.fill(17 + rnd.nextInt(40))(
            (rnd.nextInt(100) / 4.0 - 10.0): Any)
          val (a, b) = (rnd.nextInt(100) / 4.0 - 10.0, rnd.nextInt(100) / 4.0 - 10.0)
          ("d", vs, statsFor("d", Some(math.min(a, b).toString), Some(math.max(a, b).toString),
            0L, 10L, nan = rnd.nextInt(8) == 0))
      }
      // occasionally: all-NULL file and missing-column cases
      val cases = Seq(st,
        statsFor(attr, None, None, 10L, 10L), // all NULL: refutes IN
        ZoneMap.FileStats(10L, Map.empty)) // no entry for the column
      cases.foreach { s =>
        val f = In(attr, vs)
        val naive = ZoneMap.mayMatch(f, s, sch)
        val prepared = ZoneMap.prepare(Array(f))
        assert(prepared.length == 1)
        val fast = ZoneMap.mayMatchPrepared(prepared(0), s, sch)
        assert(fast == naive,
          s"prepared IN diverged: attr=$attr vs=${vs.take(6).mkString(",")}.. stats=$s " +
            s"naive=$naive fast=$fast")
      }
    }
    // a mixed-type IN falls back to the linear form rather than mis-sorting
    val mixed: Array[Any] = (Array.fill(20)(1L: Any) :+ ("zz": Any))
    val p = ZoneMap.prepare(Array(In("x", mixed)))
    val s10 = statsFor("x", Some("5"), Some("6"), 0L, 10L)
    assert(ZoneMap.mayMatchPrepared(p(0), s10, sch) ==
      ZoneMap.mayMatch(In("x", mixed), s10, sch))
    // a NUMERIC mix (Long with Double) must also fall back: pairwise
    // comparable but intransitive above 2^53 — sorting it would be unsound
    val big = (1L << 53)
    val numericMix: Array[Any] =
      (Array[Any](big + 1L, big.toDouble, big) ++ Array.fill(18)(0L: Any))
    val pn = ZoneMap.prepare(Array(In("x", numericMix)))
    val sBig = statsFor("x", Some((big + 1L).toString), Some((big + 1L).toString), 0L, 10L)
    assert(ZoneMap.mayMatchPrepared(pn(0), sBig, sch) ==
      ZoneMap.mayMatch(In("x", numericMix), sBig, sch))
    assert(ZoneMap.mayMatchPrepared(pn(0), sBig, sch),
      s"the file holding ${big + 1L} must stay may-match under the mixed IN")
    // a null-bearing IN also keeps the linear form
    val withNull: Array[Any] = (Array.fill(20)(1L: Any) :+ (null: Any))
    val pz = ZoneMap.prepare(Array(In("x", withNull)))
    assert(ZoneMap.mayMatchPrepared(pz(0), s10, sch) ==
      ZoneMap.mayMatch(In("x", withNull), s10, sch))
  }

  // ------------------------------------------------------------ end-to-end

  test("connector writes collect stats into the sidecar and the scan prunes files") {
    val dir = freshTable("graft-zm-e2e")
    // three commits with disjoint id ranges → three sidecar entries
    def slab(lo: Long) = spark.range(lo, lo + 100)
      .select(col("id"), concat(lit("n-"), col("id")).as("name"),
        (col("id") * 0.5).as("score"))
    slab(0).coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    slab(100).coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    slab(200).coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val fs = fsOf(dir)
    val zm = ZoneMap.load(fs, new Path(dir))
    assert(zm.size == 3, s"three committed files must have three entries, got ${zm.keySet}")
    zm.values.foreach(s => assert(s.rows == 100L))
    // a narrow id predicate proves two of three files empty
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("score", DoubleType)))
    val filters: Array[Filter] = Array(GreaterThanOrEqual("id", 120L), LessThan("id", 150L))
    val (total, pruned) = ZoneMap.pruneReport(fs, new Path(dir), filters, sch)
    assert(total == 3 && pruned == 2, s"expected 2/3 files pruned, got $pruned/$total")
    // the planner plans only the surviving file's row groups
    val df = spark.read.format("graft-parquet").load(dir)
      .filter(col("id") >= 120L && col("id") < 150L)
    assert(df.rdd.getNumPartitions == 1,
      s"pruned plan must touch one file, planned ${df.rdd.getNumPartitions} partitions")
    // and the result is exactly right
    assert(df.select("id").as[Long].collect().sorted.toSeq == (120L until 150L))
    // a filter NO file can satisfy plans zero partitions
    val none = spark.read.format("graft-parquet").load(dir).filter(col("id") === 999L)
    assert(none.rdd.getNumPartitions == 0 && none.count() == 0)
  }

  test("string and double bounds prune; NaN columns opt out end-to-end") {
    val dir = freshTable("graft-zm-types")
    Seq(("apple", 1.0), ("banana", 2.0)).toDF("w", "v")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    Seq(("melon", Double.NaN), ("pear", 4.0)).toDF("w", "v")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val fs = fsOf(dir)
    val zm = ZoneMap.load(fs, new Path(dir))
    assert(zm.size == 2)
    val sch = StructType(Seq(StructField("w", StringType), StructField("v", DoubleType)))
    // string range refutes the first file for w >= 'm'
    val (t1, p1) = ZoneMap.pruneReport(fs, new Path(dir), Array(GreaterThanOrEqual("w", "m")), sch)
    assert(t1 == 2 && p1 == 1)
    // the NaN-bearing file never prunes on v, the clean one does
    val (_, p2) = ZoneMap.pruneReport(fs, new Path(dir), Array(GreaterThan("v", 100.0)), sch)
    assert(p2 == 1, "only the NaN-free file may prune on v")
    // results stay exact under Spark's NaN-greatest ordering either way
    val got = spark.read.format("graft-parquet").load(dir)
      .filter(col("v") > 100.0).select("w").as[String].collect().toSet
    assert(got == Set("melon"), s"NaN > 100.0 under Spark ordering; got $got")
  }

  test("a manifest without stats (pre-zone-map commit) rolls forward and scans un-pruned") {
    val dir = freshTable("graft-zm-compat")
    val table = new Path(dir)
    val fs = fsOf(dir)
    // stage an old-format commit by hand: data file + bare-name manifest
    import graft.sources.v2.GraftParquetWrite
    val staging = GraftParquetWrite.stagingDir(table, "oldq")
    fs.mkdirs(staging)
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(staging.toString + "/tmp")
    val part = fs.listStatus(new Path(staging, "tmp"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(part, new Path(staging, "part-oldq-0-0.parquet"))
    fs.delete(new Path(staging, "tmp"), true)
    val man = fs.create(new Path(staging, "manifest"), true)
    try man.write("part-oldq-0-0.parquet".getBytes("UTF-8")) finally man.close()
    GraftParquetWrite.recover(fs, table)
    assert(!fs.exists(staging))
    assert(ZoneMap.load(fs, table).isEmpty, "a bare-name manifest adds no zone-map entry")
    // the un-entried file is always scanned, even under a refutable filter
    val df = spark.read.format("graft-parquet").load(dir).filter(col("id") === 1L)
    assert(df.count() == 1)
  }

  test("optimize bin-packs small files, folds sidecars, preserves rows and pruning") {
    import graft.sources.v2.GraftTableOptimize
    val dir = freshTable("graft-zm-opt")
    // ten tiny append commits (the incremental-feed shape)
    (0 until 10).foreach { i =>
      spark.range(i * 50L, (i + 1) * 50L)
        .select(col("id"), concat(lit("n-"), col("id")).as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val fs = fsOf(dir)
    assert(ZoneMap.load(fs, new Path(dir)).size == 10)
    val rep = GraftTableOptimize.optimize(spark, dir,
      targetBytes = 1L << 20, smallBytes = 1L << 20, retainLog = 0)
    assert(rep.filesBefore == 10 && rep.filesRewritten == 10 && rep.filesAfter == 1,
      s"ten tiny files must pack to one, got $rep")
    assert(rep.zmSidecarsAfter == 1, s"sidecars must fold to one, got $rep")
    assert(rep.logRecordsBefore == 10 && rep.logRecordsAfter == 1,
      s"the commit log must fold to one snapshot, got $rep")
    assert(rep.filesReclaimed == 10,
      s"with retainLog=0 the retired files go immediately, got $rep")
    // rows exact, stats correct, pruning still proves emptiness
    val back = spark.read.format("graft-parquet").load(dir)
    assert(back.count() == 500 &&
      back.select(org.apache.spark.sql.functions.sum("id")).head().getLong(0) == 500L * 499 / 2)
    val zm = ZoneMap.load(fs, new Path(dir))
    assert(zm.size == 1 && zm.values.head.rows == 500L)
    val c = zm.values.head.cols("id")
    assert(c.min.contains("0") && c.max.contains("499"))
    assert(spark.read.format("graft-parquet").load(dir)
      .filter(col("id") === 9999L).rdd.getNumPartitions == 0,
      "a refuted filter still plans zero partitions after optimize")
    // a second optimize is a no-op beyond recovery (one big file left)
    val rep2 = GraftTableOptimize.optimize(spark, dir,
      targetBytes = 1L << 20, smallBytes = 1L << 20)
    assert(rep2.filesRewritten == 0 && rep2.filesAfter == 1)
  }

  test("optimize respects smallBytes: big files stay in place") {
    import graft.sources.v2.GraftTableOptimize
    val dir = freshTable("graft-zm-optbig")
    spark.range(0, 1000).select(col("id"), concat(lit("x"), col("id")).as("name"))
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    Seq((5000L, "a")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    Seq((5001L, "b")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val fs = fsOf(dir)
    val bigName = fs.listStatus(new Path(dir))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .maxBy(_.getLen).getPath.getName
    val bigLen = fs.listStatus(new Path(dir)).filter(_.getPath.getName == bigName).head.getLen
    // threshold below the big file's size: only the two tiny commits pack
    val rep = GraftTableOptimize.optimize(spark, dir,
      targetBytes = 1L << 20, smallBytes = bigLen)
    assert(rep.filesRewritten == 2 && rep.filesAfter == 2, s"got $rep")
    assert(fs.exists(new Path(dir, bigName)), "the big file must not be touched")
    val back = spark.read.format("graft-parquet").load(dir)
    assert(back.count() == 1002)
  }

  test("optimize clusterBy creates skipping power appends interleaved away") {
    import graft.sources.v2.GraftTableOptimize
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val dir = freshTable("graft-zm-cluster")
    // four commits of INTERLEAVED ids (id % 4): every file spans the whole
    // domain, so file stats refute nothing
    (0 until 4).foreach { r =>
      spark.range(0, 400).filter(col("id") % 4 === r)
        .select(col("id"), concat(lit("n-"), col("id")).as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val fs = fsOf(dir)
    val table = new Path(dir)
    val sch = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val window: Array[org.apache.spark.sql.sources.Filter] =
      Array(GreaterThanOrEqual("id", 100L), LessThan("id", 140L))
    val (t0, p0) = ZoneMap.pruneReport(fs, table, window, sch)
    assert(t0 == 4 && p0 == 0, s"interleaved files must refute nothing, got $p0/$t0")
    // range-clustered rewrite: aim for ~3 packed files
    val bytes = fs.listStatus(table)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val rep = GraftTableOptimize.optimize(spark, dir,
      targetBytes = math.max(1L, bytes / 3), smallBytes = bytes, clusterBy = Seq("id"))
    assert(rep.filesRewritten == 4 && rep.filesAfter >= 2, s"got $rep")
    val (t1, p1) = ZoneMap.pruneReport(fs, table, window, sch)
    assert(t1 == rep.filesAfter && p1 >= t1 - 2 && p1 > 0,
      s"clustered files must prove the window empty almost everywhere, got $p1/$t1")
    // rows exact before and after
    import spark.implicits._
    assert(spark.read.format("graft-parquet").load(dir)
      .filter(col("id") >= 100L && col("id") < 140L)
      .select("id").as[Long].collect().sorted.toSeq == (100L until 140L))
    assert(spark.read.format("graft-parquet").load(dir).count() == 400)
  }

  test("zOrderBy optimize: box queries prune on BOTH dimensions at once") {
    import graft.sources.v2.GraftTableOptimize
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val dir = freshTable("graft-zm-zorder")
    // a 64x64 grid in 4 interleaved commits: every file spans BOTH domains,
    // so no single-column clustering could make the second key prune
    (0 until 4).foreach { r =>
      spark.range(0, 4096).filter(col("id") % 4 === r)
        .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val fs = fsOf(dir)
    val table = new Path(dir)
    val sch = StructType(Seq(StructField("x", LongType), StructField("y", LongType)))
    val box: Array[org.apache.spark.sql.sources.Filter] = Array(
      GreaterThanOrEqual("x", 0L), LessThan("x", 8L),
      GreaterThanOrEqual("y", 0L), LessThan("y", 8L))
    val (t0, p0) = ZoneMap.pruneReport(fs, table, box, sch)
    assert(t0 == 4 && p0 == 0, s"interleaved commits must refute nothing: $p0/$t0")
    val bytes = graft.sources.v2.GraftParquetWrite.listDataFiles(fs, table).map(_.getLen).sum
    val rep = GraftTableOptimize.optimize(spark, dir,
      targetBytes = math.max(1L, bytes / 16), smallBytes = bytes + 1,
      zOrderBy = Some(("x", "y")))
    assert(rep.filesRewritten == 4 && rep.filesAfter >= 8, s"got $rep")
    // the corner box lives in ~one Morton quadrant: almost every file refuted
    val (t1, p1) = ZoneMap.pruneReport(fs, table, box, sch)
    assert(p1 >= t1 - 3 && p1 > 0, s"the box must prune almost everywhere: $p1/$t1")
    // and EACH single dimension prunes — what leading-column lexicographic
    // clustering cannot give the second key
    val (_, px) = ZoneMap.pruneReport(fs, table,
      Array(GreaterThanOrEqual("x", 0L), LessThan("x", 8L)), sch)
    val (_, py) = ZoneMap.pruneReport(fs, table,
      Array(GreaterThanOrEqual("y", 0L), LessThan("y", 8L)), sch)
    assert(px > 0 && py > 0, s"both dimensions must prune alone: x=$px y=$py")
    // rows exact after the swap
    assert(spark.read.format("graft-parquet").load(dir).count() == 4096)
    assert(spark.read.format("graft-parquet").load(dir)
      .filter(col("x") < 8 && col("y") < 8).count() == 64)
    // the two layouts are alternatives, typed
    intercept[IllegalArgumentException] {
      GraftTableOptimize.optimize(spark, dir, clusterBy = Seq("x"),
        zOrderBy = Some(("x", "y")))
    }
  }

  // ------------------------------------------------- aggregate pushdown

  private def scanOf(df: org.apache.spark.sql.DataFrame): graft.sources.v2.GraftScan = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    graft.plans.PlanWalk.flatten(df.queryExecution.executedPlan)
      .collectFirst { case b: BatchScanExec => b.scan }
      .getOrElse(fail("no connector scan planned")).asInstanceOf[graft.sources.v2.GraftScan]
  }

  test("COUNT/MIN/MAX answer from the zone map alone: one row, zero files opened") {
    val dir = freshTable("graft-zm-agg")
    Seq((1L, "banana", java.lang.Double.valueOf(2.5)),
      (2L, "apple", null.asInstanceOf[java.lang.Double]))
      .toDF("id", "name", "v")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    Seq((5L, "cherry", java.lang.Double.valueOf(-1.0)))
      .toDF("id", "name", "v")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val agged = spark.read.format("graft-parquet").load(dir)
      .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"),
        count(col("v")).as("nv"), min("name").as("nm"), max("v").as("vx"))
    assert(scanOf(agged).agg.isDefined, "aggregation must push to the metadata answer")
    assert(agged.rdd.getNumPartitions == 1)
    val row = agged.head()
    assert(row.getLong(0) == 3 && row.getLong(1) == 1L && row.getLong(2) == 5L &&
      row.getLong(3) == 2 && row.getString(4) == "apple" && row.getDouble(5) == 2.5,
      s"metadata answer wrong: $row")
    // an all-NULL column answers NULL min/max from metadata
    val dir2 = freshTable("graft-zm-aggnull")
    Seq((1L, null.asInstanceOf[java.lang.Double]), (2L, null.asInstanceOf[java.lang.Double]))
      .toDF("id", "v").coalesce(1).write.format("graft-parquet").mode("append").save(dir2)
    val nulls = spark.read.format("graft-parquet").load(dir2)
      .agg(min("v").as("lo"), count(col("v")).as("nv"))
    assert(scanOf(nulls).agg.isDefined)
    val nr = nulls.head()
    assert(nr.isNullAt(0) && nr.getLong(1) == 0, s"got $nr")
  }

  test("aggregate pushdown declines soundly: filters, groupBy, NaN, un-entried files") {
    val dir = freshTable("graft-zm-aggdecline")
    Seq((1L, 1.0), (2L, Double.NaN)).toDF("id", "v")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    Seq((7L, 3.0)).toDF("id", "v")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val base = spark.read.format("graft-parquet").load(dir)
    // a filter blocks the metadata answer (stats cannot see inside files)
    val filtered = base.filter(col("id") >= 2L).agg(count(lit(1)).as("n"))
    assert(scanOf(filtered).agg.isEmpty, "filters must decline the metadata answer")
    assert(filtered.head().getLong(0) == 2)
    // grouping blocks it
    val grouped = base.groupBy(col("id")).agg(count(lit(1)).as("n"))
    assert(scanOf(grouped).agg.isEmpty)
    assert(grouped.count() == 3)
    // a NaN-bearing double column declines MAX (the true max IS NaN) but
    // the normal scan still answers correctly under Spark's NaN ordering
    val nanMax = base.agg(max("v").as("vx"))
    assert(scanOf(nanMax).agg.isEmpty, "NaN must decline the metadata extreme")
    assert(nanMax.head().getDouble(0).isNaN)
    // COUNT alone also declines here only if asked WITH the NaN extreme;
    // by itself it still answers (counts don't involve bounds)
    val justCount = base.agg(count(lit(1)).as("n"))
    assert(scanOf(justCount).agg.isDefined)
    assert(justCount.head().getLong(0) == 3)
    // a file without a zone-map entry declines everything
    val dir2 = freshTable("graft-zm-aggcompat")
    import graft.sources.v2.GraftParquetWrite
    val table2 = new Path(dir2)
    val fs2 = fsOf(dir2)
    val staging = GraftParquetWrite.stagingDir(table2, "oldagg")
    fs2.mkdirs(staging)
    Seq((1L, 5.0)).toDF("id", "v").coalesce(1).write.parquet(staging.toString + "/tmp")
    val part = fs2.listStatus(new Path(staging, "tmp"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs2.rename(part, new Path(staging, "part-oldagg-0-0.parquet"))
    fs2.delete(new Path(staging, "tmp"), true)
    val man = fs2.create(new Path(staging, "manifest"), true)
    try man.write("part-oldagg-0-0.parquet".getBytes("UTF-8")) finally man.close()
    GraftParquetWrite.recover(fs2, table2)
    val noEntry = spark.read.format("graft-parquet").load(dir2).agg(count(lit(1)).as("n"))
    assert(scanOf(noEntry).agg.isEmpty, "an un-entried file must decline metadata counts")
    assert(noEntry.head().getLong(0) == 1)
  }

  test("scan statistics report pruned bytes/rows and make the slice broadcast-eligible") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val dir = freshTable("graft-zm-stats")
    def slab(lo: Long) = spark.range(lo, lo + 1000)
      .select(col("id"), concat(lit("n-"), col("id")).as("name"))
    slab(0).coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    slab(1000).coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    slab(2000).coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    // a one-slab window: statistics must see ONE surviving file
    val sliced = spark.read.format("graft-parquet").load(dir)
      .filter(col("id") >= 1100L && col("id") < 1200L)
    val stats = scanOf(sliced).estimateStatistics()
    assert(stats.numRows().getAsLong == 1000L,
      s"rows must be the surviving slab's exact count, got ${stats.numRows()}")
    val fs = fsOf(dir)
    val oneFile = fs.listStatus(new Path(dir))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).map(_.getLen).min
    assert(stats.sizeInBytes().getAsLong <= oneFile * 2,
      s"bytes must be one slab's file, got ${stats.sizeInBytes()} vs file $oneFile")
    // unfiltered: exact total rows from the sidecar
    val all = scanOf(spark.read.format("graft-parquet").load(dir)).estimateStatistics()
    assert(all.numRows().getAsLong == 3000L)
    // the pruned slice joins BROADCAST against a big probe side with no
    // hint: the reported size is what makes the v2 relation eligible
    val probe = spark.range(0, 200000).select(col("id"), (col("id") % 7).as("k"))
    val joined = probe.join(sliced, "id")
    assert(joined.count() == 100)
    val bhj = graft.plans.PlanWalk.flatten(joined.queryExecution.executedPlan)
      .exists(_.isInstanceOf[BroadcastHashJoinExec])
    assert(bhj, "the statistics-sized pruned slice must plan a broadcast join")
  }

  test("runtime IN filters prune files: direct seam + hint-free dynamic pruning join") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val dir = freshTable("graft-zm-dpp")
    def slab(lo: Long) = spark.range(lo, lo + 1000)
      .select(col("id"), concat(lit("n-"), col("id")).as("name"))
    slab(0).coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    slab(1000).coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    slab(2000).coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val sch = spark.read.format("graft-parquet").load(dir).schema
    // direct seam: an IN predicate on the join key drops refuted files
    val scan = graft.sources.v2.GraftScan(dir, sch, sch, Array.empty)
    val before = scan.planInputPartitions().length
    scan.filter(Array(new Predicate("IN",
      Array[org.apache.spark.sql.connector.expressions.Expression](
        Expressions.column("id"), Expressions.literal(150L), Expressions.literal(151L)))))
    assert(scan.runtimePruning.length == 1)
    val after = scan.planInputPartitions().length
    assert(before == 3 && after == 1,
      s"the IN slice lives in one slab: $before -> $after partitions")
    // an unconvertible predicate is dropped, never misapplied
    val scan2 = graft.sources.v2.GraftScan(dir, sch, sch, Array.empty)
    scan2.filter(Array(new Predicate("STARTS_WITH",
      Array[org.apache.spark.sql.connector.expressions.Expression](
        Expressions.column("name"), Expressions.literal("n-1")))))
    assert(scan2.runtimePruning.isEmpty && scan2.planInputPartitions().length == 3)
    // end-to-end: a selective broadcast dim side hands the fact scan its
    // join keys with NO hint. The dim filter is on a NON-key attribute
    // (a key-range filter would let constraint propagation push STATIC
    // bounds and make dynamic pruning moot), and the broadcast threshold
    // sits between dim and fact so the fact stays the probe side.
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "8192")
    try {
      val fact = spark.read.format("graft-parquet").load(dir)
      // parquet-backed dim: a local Seq folds its Filter away at plan time
      // and the pruning rule then sees no selective predicate
      val dimDir = tempDir("graft-zm-dppdim") + "/d"
      ((1100L until 1150L).map(i => (i, "hot")) ++
        Seq((2500L, "cold"), (42L, "cold"))).toDF("k", "attr").write.parquet(dimDir)
      val dimF = spark.read.parquet(dimDir).filter(col("attr") === "hot")
      val joined = fact.join(dimF, fact("id") === dimF("k"))
      // collect() executes THIS queryExecution (count() would plan a fresh
      // one whose scan instance never runs, and the seam fires at execute)
      assert(joined.collect().length == 50)
      val factScan = scanOf(joined)
      assert(factScan.runtimePruning.nonEmpty,
        "dynamic pruning must reach the connector's runtime-filter seam")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
  }

  test("an interrupted optimize swap replays to exactness from its manifest") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-optcrash")
    val table = new Path(dir)
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    Seq((3L, "c")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val fs = fsOf(dir)
    val olds = fs.listStatus(table)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSeq
    // stage the swap by hand up to the commit point, then "crash": a packed
    // replacement file + a manifest with its add and both removals
    val staging = GraftParquetWrite.stagingDir(table, "optcrashq")
    fs.mkdirs(staging)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
      .coalesce(1).write.parquet(staging.toString + "/tmp")
    val part = fs.listStatus(new Path(staging, "tmp"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val packedName = "part-optcrashq-0.parquet"
    fs.rename(part, new Path(staging, packedName))
    fs.delete(new Path(staging, "tmp"), true)
    val stats = ZoneMap.FileStats(3L, Map(
      "id" -> ZoneMap.ColStats(Some("1"), Some("3"), 0L, nan = false)))
    val man = fs.create(new Path(staging, "manifest"), true)
    try man.write((s"$packedName\t${ZoneMap.encode(stats)}" +:
      olds.map("~" + _)).mkString("\n").getBytes("UTF-8"))
    finally man.close()
    // recovery completes the swap: adds in, removals LOGICAL (retired from
    // membership, bytes retained for AS-OF history), sidecar written
    GraftParquetWrite.recover(fs, table)
    assert(!fs.exists(staging))
    val members = GraftParquetWrite.listDataFiles(fs, table).map(_.getPath.getName)
    olds.foreach { n =>
      assert(!members.contains(n), s"$n must leave membership")
      assert(fs.exists(new Path(dir, n)),
        s"$n must stay on disk until vacuum — its retiring record is retained")
    }
    assert(fs.exists(new Path(dir, packedName)))
    import spark.implicits._
    assert(spark.read.format("graft-parquet").load(dir)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(ZoneMap.load(fs, table).get(packedName).contains(stats))
    // replaying the SAME manifest again (second crash before staging drop)
    // converges to the identical state
    fs.mkdirs(staging)
    val man2 = fs.create(new Path(staging, "manifest"), true)
    try man2.write((s"$packedName\t${ZoneMap.encode(stats)}" +:
      olds.map("~" + _)).mkString("\n").getBytes("UTF-8"))
    finally man2.close()
    GraftParquetWrite.recover(fs, table)
    assert(spark.read.format("graft-parquet").load(dir).count() == 3)
    // the fold keeps only surviving files' entries
    GraftTableOptimize.foldSidecars(fs, table)
    assert(ZoneMap.load(fs, table).keySet == Set(packedName))
    // retire the history, then vacuum reclaims the retired bytes
    GraftTableOptimize.foldLog(fs, table, retain = 0)
    assert(GraftTableOptimize.vacuum(spark, dir, graceMs = 0L) == olds.length)
    olds.foreach(n => assert(!fs.exists(new Path(dir, n))))
    assert(spark.read.format("graft-parquet").load(dir).count() == 3)
  }

  test("collation property: the evaluator's string order equals UTF8String binary order") {
    import org.apache.spark.sql.sources.{GreaterThan, LessThan, EqualTo}
    import org.apache.spark.unsafe.types.UTF8String
    // randomized strings biased into the bands where UTF-16 unit order and
    // code-point order diverge: BMP [0xE000,0xFFFF] vs supplementary chars
    val rnd = new scala.util.Random(157_000L)
    def randomString(): String = {
      val sb = new java.lang.StringBuilder
      (0 until rnd.nextInt(5)).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => sb.append(('a' + rnd.nextInt(26)).toChar)
          case 1 => sb.append((0xE000 + rnd.nextInt(0x2000)).toChar)
          case 2 => sb.appendCodePoint(0x10000 + rnd.nextInt(0x10000))
          case _ => sb.append((1 + rnd.nextInt(0xD7FF)).toChar)
        }
      }
      sb.toString
    }
    (1 to 2000).foreach { _ =>
      val (a, b) = (randomString(), randomString())
      val truth = UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
      def ev(f: org.apache.spark.sql.sources.Filter) =
        GraftScan.eval(f, name => if (name == "x") a else null)
      assert(ev(GreaterThan("x", b)) == (truth > 0),
        s"'$a' > '$b': evaluator disagrees with UTF8String (truth $truth)")
      assert(ev(LessThan("x", b)) == (truth < 0),
        s"'$a' < '$b': evaluator disagrees with UTF8String (truth $truth)")
      assert(ev(EqualTo("x", b)) == (truth == 0))
    }
  }

  test("string ordering is code-point (UTF-8 binary): astral plane agrees with Spark") {
    // U+10000 (surrogate pair) sorts ABOVE U+FFFF in code-point order but
    // BELOW it in UTF-16 code-unit order — the divergence that would make
    // pushed filters / metadata extremes disagree with an un-pushed scan
    val astral = new String(Character.toChars(0x10000))
    val bmpMax = "￿"
    assert(astral.compareTo(bmpMax) < 0, "sanity: UTF-16 unit order disagrees here")
    val dir = freshTable("graft-zm-utf8")
    Seq(Tuple1(bmpMax), Tuple1(astral), Tuple1("plain")).toDF("w")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val back = spark.read.format("graft-parquet").load(dir)
    // metadata MAX answers the same value Spark's own aggregation computes
    val metaMax = back.agg(max("w").as("mx"))
    assert(scanOf(metaMax).agg.isDefined)
    val sparkMax = spark.read.parquet(
      fsOf(dir).listStatus(new Path(dir))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .head.getPath.toString).agg(max("w")).head().getString(0)
    assert(metaMax.head().getString(0) == sparkMax && sparkMax == astral,
      s"metadata max must be the astral char, got ${metaMax.head()}")
    // a pushed record-level comparison agrees with Spark semantics too
    val got = back.filter(col("w") > lit(bmpMax)).collect().map(_.getString(0)).toSeq
    assert(got == Seq(astral), s"w > U+FFFF must keep only U+10000, got $got")
  }

  test("a torn stats blob degrades to a stats-less add; the table never wedges") {
    import graft.sources.v2.GraftParquetWrite
    val dir = freshTable("graft-zm-tornstats")
    val table = new Path(dir)
    val fs = fsOf(dir)
    val staging = GraftParquetWrite.stagingDir(table, "tornq")
    fs.mkdirs(staging)
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(staging.toString + "/tmp")
    val part = fs.listStatus(new Path(staging, "tmp"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(part, new Path(staging, "part-tornq-0-0.parquet"))
    fs.delete(new Path(staging, "tmp"), true)
    val man = fs.create(new Path(staging, "manifest"), true)
    try man.write("part-tornq-0-0.parquet\t{\"rows\":1,\"co".getBytes("UTF-8"))
    finally man.close()
    // recovery completes: the file commits, no zone-map entry, scan works
    GraftParquetWrite.recover(fs, table)
    assert(!fs.exists(staging))
    assert(spark.read.format("graft-parquet").load(dir).count() == 1)
    assert(ZoneMap.load(fs, table).isEmpty)
    // and the next NORMAL write (which runs recover first) also succeeds
    Seq((2L, "b")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    assert(spark.read.format("graft-parquet").load(dir).count() == 2)
  }

  test("fsck reports coverage, stale entries, receipts, and pending staging truthfully") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize, ZoneMap => ZM}
    import graft.streaming.TableIngest
    val dir = freshTable("graft-zm-fsck")
    TableIngest.ingestBatch(
      spark.range(0, 10).select(col("id"), lit("x").as("name")).coalesce(1), dir, 0L)
    TableIngest.ingestBatch(
      spark.range(10, 20).select(col("id"), lit("y").as("name")).coalesce(1), dir, 1L)
    val clean = GraftTableOptimize.fsck(spark, dir)
    assert(clean.healthy && clean.dataFiles == 2 && clean.sidecarEntries == 2 &&
      clean.sidecarCoverage == 1.0 && clean.staleSidecarEntries == 0 &&
      clean.commitMarkers == 2 && clean.logRecords == 2 &&
      clean.missingDataFiles == 0 && clean.unloggedDataFiles == 0, s"got $clean")
    val fs = fsOf(dir)
    val table = new Path(dir)
    // manufacture maintenance-backlog conditions at once: a garbage staging
    // dir, a committed-but-unrolled one (with a REAL staged file), and a
    // stale sidecar entry naming a file that was never committed
    fs.mkdirs(GraftParquetWrite.stagingDir(table, "dead"))
    val pend = GraftParquetWrite.stagingDir(table, "pend")
    fs.mkdirs(pend)
    spark.range(20, 25).select(col("id"), lit("z").as("name"))
      .coalesce(1).write.parquet(pend.toString + "/tmp")
    val pendPart = fs.listStatus(new Path(pend, "tmp"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(pendPart, new Path(pend, "part-pend-0-0.parquet"))
    fs.delete(new Path(pend, "tmp"), true)
    val man = fs.create(new Path(pend, "manifest"), true)
    try man.write("part-pend-0-0.parquet".getBytes("UTF-8")) finally man.close()
    ZM.write(fs, table, "stalezm", Seq(("part-ghost-0-0.parquet",
      ZM.FileStats(1L, Map("id" -> ZM.ColStats(Some("1"), Some("1"), 0L, nan = false))))))
    val dirty = GraftTableOptimize.fsck(spark, dir)
    assert(!dirty.healthy && dirty.stagingGarbage == 1 && dirty.stagingCommitted == 1 &&
      dirty.dataFiles == 2 && dirty.staleSidecarEntries == 1, s"got $dirty")
    // one recover + fold away from clean again (the pending commit lands)
    GraftParquetWrite.recover(fs, table)
    GraftTableOptimize.foldSidecars(fs, table)
    val after = GraftTableOptimize.fsck(spark, dir)
    assert(after.healthy && after.staleSidecarEntries == 0 && after.dataFiles == 3 &&
      after.missingDataFiles == 0, s"got $after")
    assert(spark.read.format("graft-parquet").load(dir).count() == 25)
  }

  test("fsck reports physical drift against the log: lost members and alien files") {
    import graft.sources.v2.GraftTableOptimize
    val dir = freshTable("graft-zm-fsckdrift")
    Seq((1L, "a")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    Seq((2L, "b")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val fs = fsOf(dir)
    val table = new Path(dir)
    // an ALIEN parquet file dropped into the directory outside any commit:
    // membership ignores it (the scan never reads it), fsck reports it
    Seq((99L, "alien")).toDF("id", "name").coalesce(1)
      .write.parquet(table.toString + "/alien")
    val alienPart = fs.listStatus(new Path(table, "alien"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(alienPart, new Path(table, "part-alien-0-0.parquet"))
    fs.delete(new Path(table, "alien"), true)
    assert(spark.read.format("graft-parquet").load(dir).count() == 2,
      "an uncommitted file must be invisible to the scan")
    val drift = GraftTableOptimize.fsck(spark, dir)
    assert(drift.healthy && drift.unloggedDataFiles == 1 && drift.missingDataFiles == 0,
      s"got $drift")
    // a MEMBER deleted out from under the log is data loss: permanently
    // unhealthy — no recover() can restore bytes that are gone
    val member = graft.sources.v2.GraftParquetWrite
      .listDataFiles(fs, table).head.getPath
    fs.delete(member, false)
    val loss = GraftTableOptimize.fsck(spark, dir)
    assert(!loss.healthy && loss.missingDataFiles == 1, s"got $loss")
  }

  // -------------------------------------------------- commit-log membership

  test("AS-OF reads resolve membership at a log sequence; retired history fails loudly") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-asof")
    val table = new Path(dir)
    val fs = fsOf(dir)
    def seqNow(): Long = GraftParquetWrite.currentSeq(fs, table).get
    (0 until 3).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).select(col("id"), lit(s"c$i").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val s1 = seqNow() - 1 // after the second commit
    def asOf(seq: Long) = spark.read.format("graft-parquet")
      .option("graft.asOfSeq", seq.toString).load(dir)
    // snapshots are exact on the append-only table
    assert(asOf(0L).select("id").as[Long].collect().sorted.toSeq == (0L until 10L))
    assert(asOf(s1).count() == 20)
    assert(spark.read.format("graft-parquet").load(dir).count() == 30)
    // snapshot + pushdown compose (zone-map pruning inside the snapshot)
    assert(asOf(s1).filter(col("id") >= 10L && col("id") < 15L)
      .select("id").as[Long].collect().sorted.toSeq == (10L until 15L))
    // a snapshot never sees a LATER commit's files even under a filter
    assert(asOf(s1).filter(col("id") >= 20L).count() == 0)
    // aggregates on a snapshot decline the metadata answer but stay exact
    val agged = asOf(s1).agg(count(lit(1)).as("n"), max(col("id")).as("hi"))
    assert(scanOf(agged).agg.isEmpty, "AS-OF must decline the metadata aggregate")
    assert(agged.head().getLong(0) == 20 && agged.head().getLong(1) == 19L)
    // junk option is a typed config error
    intercept[graft.GraftConfigError] {
      spark.read.format("graft-parquet").option("graft.asOfSeq", "banana").load(dir).count()
    }
    // a seq the table never issued fails loudly rather than silently
    // reading current membership (it would change meaning after more ingest)
    val beyond = intercept[Exception] { asOf(9999L).count() }
    assert(beyond.getMessage.contains("beyond"),
      s"an above-history snapshot must be rejected, got: ${beyond.getMessage}")
    // a log-less table cannot time-travel
    val plainDir = freshTable("graft-zm-asofplain")
    spark.range(0, 5).toDF("id").write.parquet(plainDir)
    intercept[Exception] {
      spark.read.format("graft-parquet").option("graft.asOfSeq", "0").load(plainDir).count()
    }
    // OPTIMIZE with retainLog=0 (fold-everything legacy form) retires all
    // history: pre-fold sequences fail loudly, never read empty — the
    // retention contract (snapshots SURVIVING optimize) is pinned separately
    val rep = GraftTableOptimize.optimize(spark, dir,
      targetBytes = 1L << 20, smallBytes = 1L << 20, retainLog = 0)
    assert(rep.filesRewritten == 3 && rep.logRecordsAfter == 1 &&
      rep.filesReclaimed == 3, s"got $rep")
    val folded = intercept[Exception] { asOf(s1).count() }
    assert(folded.getMessage.contains("not available"),
      s"a folded-away snapshot must fail loudly, got: ${folded.getMessage}")
    // the post-fold snapshot handle still works and reads everything
    assert(asOf(seqNow()).count() == 30)
  }

  test("vacuum collects unlogged garbage after the grace, never a member or a pending commit") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-vacuum")
    val table = new Path(dir)
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val fs = fsOf(dir)
    // an alien file outside any commit
    Seq((99L, "alien")).toDF("id", "name").coalesce(1)
      .write.parquet(table.toString + "/alien")
    val alienPart = fs.listStatus(new Path(table, "alien"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(alienPart, new Path(table, "part-alien-0-0.parquet"))
    fs.delete(new Path(table, "alien"), true)
    assert(GraftTableOptimize.fsck(spark, dir).unloggedDataFiles == 1)
    // inside the grace: nothing collected
    assert(GraftTableOptimize.vacuum(spark, dir) == 0)
    // past the grace: the alien goes, members stay, reads are unchanged
    assert(GraftTableOptimize.vacuum(spark, dir, graceMs = 0L) == 1)
    assert(!fs.exists(new Path(table, "part-alien-0-0.parquet")))
    assert(GraftTableOptimize.fsck(spark, dir).unloggedDataFiles == 0)
    assert(spark.read.format("graft-parquet").load(dir).count() == 2)
    // a PUBLISHED-but-unrolled commit is completed by vacuum's recovery,
    // not collected as garbage
    val staging = GraftParquetWrite.stagingDir(table, "vacq")
    fs.mkdirs(staging)
    Seq((3L, "c")).toDF("id", "name").coalesce(1).write.parquet(staging.toString + "/tmp")
    val part = fs.listStatus(new Path(staging, "tmp"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(part, new Path(staging, "part-vacq-0-0.parquet"))
    fs.delete(new Path(staging, "tmp"), true)
    val man = fs.create(new Path(staging, "manifest"), true)
    try man.write("part-vacq-0-0.parquet".getBytes("UTF-8")) finally man.close()
    assert(GraftTableOptimize.vacuum(spark, dir, graceMs = 0L) == 0,
      "recovery must land the pending commit; its file is a member, not garbage")
    assert(spark.read.format("graft-parquet").load(dir).count() == 3)
  }

  test("a pure READ heals a published-but-unrolled commit before resolving membership") {
    import graft.sources.v2.GraftParquetWrite
    val dir = freshTable("graft-zm-readheal")
    val table = new Path(dir)
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val fs = fsOf(dir)
    // stage a commit up to its commit point (manifest published), then
    // "crash": no writer ever comes back, only readers
    val staging = GraftParquetWrite.stagingDir(table, "healq")
    fs.mkdirs(staging)
    Seq((3L, "c")).toDF("id", "name").coalesce(1).write.parquet(staging.toString + "/tmp")
    val part = fs.listStatus(new Path(staging, "tmp"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(part, new Path(staging, "part-healq-0-0.parquet"))
    fs.delete(new Path(staging, "tmp"), true)
    val man = fs.create(new Path(staging, "manifest"), true)
    try man.write("part-healq-0-0.parquet".getBytes("UTF-8")) finally man.close()
    // the read completes the commit and serves the full table
    assert(spark.read.format("graft-parquet").load(dir)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L),
      "a reader must heal the published commit, not serve a torn table")
    assert(!fs.exists(staging), "the healed staging dir must be gone")
    // an UNMANIFESTED staging dir (a possibly-live writer) is left alone
    val live = GraftParquetWrite.stagingDir(table, "liveq")
    fs.mkdirs(live)
    assert(spark.read.format("graft-parquet").load(dir).count() == 3)
    assert(fs.exists(live), "reader-side healing must never sweep an unpublished stage")
  }

  test("a replay that loses a staged file's rename to a concurrent replayer still completes the commit") {
    import graft.sources.v2.GraftParquetWrite
    import org.apache.hadoop.fs.FilterFileSystem
    val dir = freshTable("graft-zm-renamerace")
    val table = new Path(dir)
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val fs = fsOf(dir)
    val staging = GraftParquetWrite.stagingDir(table, "raceq")
    fs.mkdirs(staging)
    Seq((3L, "c")).toDF("id", "name").coalesce(1).write.parquet(staging.toString + "/tmp")
    val part = fs.listStatus(new Path(staging, "tmp"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(part, new Path(staging, "part-raceq-0-0.parquet"))
    fs.delete(new Path(staging, "tmp"), true)
    val man = fs.create(new Path(staging, "manifest"), true)
    try man.write("part-raceq-0-0.parquet".getBytes("UTF-8")) finally man.close()
    // the writer's roll-forward and a reader's heal replay the same commit:
    // the peer renames the staged file after this replay saw it exist
    var raced = false
    val racing = new FilterFileSystem(fs) {
      override def rename(src: Path, dst: Path): Boolean = {
        if (!raced && src.getName == "part-raceq-0-0.parquet") { raced = true; fs.rename(src, dst) }
        super.rename(src, dst)
      }
    }
    GraftParquetWrite.recover(racing, table)
    assert(raced, "the race must have been injected")
    assert(!fs.exists(staging), "the replay must complete the commit")
    assert(spark.read.format("graft-parquet").load(dir)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("recovery finds staging under table paths containing glob metacharacters") {
    import graft.sources.v2.GraftParquetWrite
    // a literal '[1]' and '*' in directory names must stay literal: the
    // prefix-scoped staging glob escapes the table path, or recovery would
    // silently find nothing and a published commit would never land
    val base = tempDir("graft-zm-glob")
    val dir = base + "/run[1]/t*bl"
    val table = new Path(dir)
    val fs = fsOf(base)
    val staging = GraftParquetWrite.stagingDir(table, "globq")
    fs.mkdirs(staging)
    val neutral = base + "/neutral"
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(neutral)
    val part = fs.listStatus(new Path(neutral))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(part, new Path(staging, "part-globq-0-0.parquet"))
    val man = fs.create(new Path(staging, "manifest"), true)
    try man.write("part-globq-0-0.parquet".getBytes("UTF-8")) finally man.close()
    GraftParquetWrite.recover(fs, table)
    assert(!fs.exists(staging), "the published commit must be found and completed")
    val members = GraftParquetWrite.listDataFiles(fs, table).map(_.getPath.getName)
    assert(members == Seq("part-globq-0-0.parquet"), s"got $members")
  }

  test("commit log folds to one snapshot with identical membership and lengths") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-logfold")
    val table = new Path(dir)
    (0 until 5).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).select(col("id"), lit("x").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val fs = fsOf(dir)
    val before = GraftParquetWrite.listDataFiles(fs, table)
      .map(st => (st.getPath.getName, st.getLen)).sortBy(_._1)
    assert(before.size == 5)
    assert(GraftTableOptimize.foldLog(fs, table) == 1, "five records must fold to one")
    val after = GraftParquetWrite.listDataFiles(fs, table)
      .map(st => (st.getPath.getName, st.getLen)).sortBy(_._1)
    assert(after == before, "folding must preserve membership and lengths exactly")
    assert(spark.read.format("graft-parquet").load(dir).count() == 50)
    // the lengths the log carries equal the physical file sizes
    after.foreach { case (n, len) =>
      assert(fs.getFileStatus(new Path(table, n)).getLen == len,
        s"logged length of $n must match disk")
    }
  }

  test("snapshots survive OPTIMIZE under retention; vacuum collects only past the horizon") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-retention")
    val table = new Path(dir)
    (0 until 5).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).select(col("id"), lit(s"c$i").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val fs = fsOf(dir)
    val snap = GraftParquetWrite.currentSeq(fs, table).get
    val preFiles = GraftParquetWrite.listDataFiles(fs, table, Some(snap))
      .map(st => (st.getPath.getName, st.getLen)).sortBy(_._1)
    // OPTIMIZE with retention: the swap's removals are LOGICAL — retired
    // small files stay on disk, their retiring record stays in the log
    val rep = GraftTableOptimize.optimize(spark, dir,
      targetBytes = 1L << 20, smallBytes = 1L << 20, clusterBy = Seq("id"))
    assert(rep.filesRewritten == 5 && rep.filesReclaimed == 0, s"got $rep")
    preFiles.foreach { case (n, _) =>
      assert(fs.exists(new Path(table, n)), s"retired file $n must stay for the snapshot")
    }
    // the pre-OPTIMIZE handle resolves the EXACT original files and rows
    val asOfFiles = GraftParquetWrite.listDataFiles(fs, table, Some(snap))
      .map(st => (st.getPath.getName, st.getLen)).sortBy(_._1)
    assert(asOfFiles == preFiles, "the snapshot must resolve the exact pre-OPTIMIZE files")
    val snapRead = spark.read.format("graft-parquet")
      .option("graft.asOfSeq", snap.toString).load(dir)
    assert(snapRead.count() == 50 &&
      snapRead.select("id").as[Long].collect().sorted.toSeq == (0L until 50L))
    // fsck knows the difference between retained history and garbage, and
    // counts the (single, unevolved) schema epoch
    val health = GraftTableOptimize.fsck(spark, dir)
    assert(health.healthy && health.retiredRetained == 5 && health.unloggedDataFiles == 0 &&
      health.schemaRecords == 1, s"got $health")
    // vacuum inside the retention window collects NOTHING the snapshot needs
    assert(GraftTableOptimize.vacuum(spark, dir, graceMs = 0L) == 0,
      "every retired file is still referenced by a retained record")
    assert(snapRead.count() == 50)
    // past the horizon: fold everything, vacuum reclaims, the handle dies
    // loudly at plan time — never a dangling-file read. BACKDATE the
    // retired files an hour first, so the next assertion can only pass
    // through the fold's re-stamp — not through a write-time mtime that
    // happens to be fresh
    preFiles.foreach { case (n, _) =>
      fs.setTimes(new Path(table, n), System.currentTimeMillis() - 3600000L, -1)
    }
    GraftTableOptimize.foldLog(fs, table, retain = 0)
    // the grace counts from RETIREMENT (the fold re-stamps the files it
    // unreferences), not from when the bytes were written: a ten-minute
    // grace protects the just-retired (hour-old) tail
    assert(GraftTableOptimize.vacuum(spark, dir, graceMs = 600000L) == 0,
      "files unreferenced by THIS fold must survive a grace-window vacuum")
    assert(GraftTableOptimize.vacuum(spark, dir, graceMs = 0L) == 5)
    preFiles.foreach { case (n, _) => assert(!fs.exists(new Path(table, n))) }
    val gone = intercept[Exception] {
      spark.read.format("graft-parquet").option("graft.asOfSeq", snap.toString)
        .load(dir).count()
    }
    assert(gone.getMessage.contains("not available"), s"got: ${gone.getMessage}")
    assert(spark.read.format("graft-parquet").load(dir).count() == 50,
      "the live table is untouched by snapshot retirement")
  }

  test("retirement grace holds without setTimes: the durable stamp outvotes a stale mtime") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    // the object-store scenario: S3A throws on setTimes, so fold-retired
    // files keep their old write-time mtimes. The durable `r-` stamp under
    // _log must carry the grace alone — without it, a graced vacuum would
    // collect the just-retired tail instantly.
    val dir = freshTable("graft-zm-durablestamp")
    val table = new Path(dir)
    (0 until 3).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).select(col("id"), lit("x").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val fs = fsOf(dir)
    val rep = GraftTableOptimize.optimize(spark, dir,
      targetBytes = 1L << 20, smallBytes = 1L << 20, clusterBy = Seq("id"))
    assert(rep.filesRewritten == 3)
    val retired = fs.listStatus(table)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSeq
      .filterNot(GraftParquetWrite.listDataFiles(fs, table).map(_.getPath.getName).toSet)
    assert(retired.size == 3)
    GraftTableOptimize.foldLog(fs, table, retain = 0)
    // simulate setTimes having been a silent no-op: force the mtimes BACK
    // to an hour ago AFTER the fold's re-stamp
    retired.foreach(n =>
      fs.setTimes(new Path(table, n), System.currentTimeMillis() - 3600000L, -1))
    assert(GraftTableOptimize.vacuum(spark, dir, graceMs = 600000L) == 0,
      "the durable retirement stamp must protect just-retired files despite stale mtimes")
    retired.foreach(n => assert(fs.exists(new Path(table, n))))
    // zero grace collects them, and the spent stamp records GC with them
    assert(GraftTableOptimize.vacuum(spark, dir, graceMs = 0L) == 3)
    assert(GraftTableOptimize.retirementRecordFiles(fs, table).isEmpty,
      "a stamp record whose every file is gone must be collected too")
    assert(spark.read.format("graft-parquet").load(dir).count() == 30)
  }

  test("OPTIMIZE on a pre-log table reclaims its retired tail even under default retention") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    // a LEGACY plain parquet directory: the swap's bootstrap record is the
    // post-swap listing minus its removals, so the retired small files
    // appear in NO record — no snapshot can ever name them, and leaving
    // them to 'retention' would leak the whole tail. The default-retention
    // run must reclaim them inline.
    val dir = freshTable("graft-zm-bootreclaim")
    spark.range(0, 300).selectExpr("id", "concat('n-', id) AS name")
      .repartition(3).write.parquet(dir)
    val fs = fsOf(dir)
    val table = new Path(dir)
    val smallBefore = GraftParquetWrite.listDataFiles(fs, table).length
    assert(smallBefore == 3)
    val rep = GraftTableOptimize.optimize(spark, dir,
      targetBytes = 1L << 20, smallBytes = 1L << 20) // default retainLog
    assert(rep.filesRewritten == 3 && rep.filesReclaimed == 3,
      s"a bootstrap swap's unreferenced tail must reclaim inline, got $rep")
    val health = GraftTableOptimize.fsck(spark, dir)
    assert(health.healthy && health.unloggedDataFiles == 0 && health.retiredRetained == 0,
      s"got $health")
    assert(spark.read.format("graft-parquet").load(dir).count() == 300)
  }

  test("deleteWhere rewrites only intersecting files; purge forgets the bytes AND the history") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-delete")
    val table = new Path(dir)
    val fs = fsOf(dir)
    // four commits with DISJOINT id ranges: a clustered layout by
    // construction, so the range delete can prove file pruning
    (0 until 4).foreach { i =>
      spark.range(i * 25L, (i + 1) * 25L).select(col("id"), lit(s"c$i").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val snap = GraftParquetWrite.currentSeq(fs, table).get
    val retired = GraftParquetWrite.listDataFiles(fs, table).map(_.getPath.getName)
      .filterNot { n =>
        // files 3 and 4 (ids 50..99) must NOT be touched
        val ids = spark.read.parquet(s"$dir/$n").agg(min(col("id"))).head().getLong(0)
        ids >= 50L
      }
    val rep = GraftTableOptimize.deleteWhere(spark, dir, col("id") < 30L)
    assert(rep.filesScanned == 4 && rep.filesRewritten == 2 && rep.rowsDeleted == 30L,
      s"only the two intersecting files rewrite, got $rep")
    val back = spark.read.format("graft-parquet").load(dir)
    assert(back.count() == 70 &&
      back.agg(min(col("id"))).head().getLong(0) == 30L)
    // purge (the default): the deleted bytes are physically gone and every
    // pre-delete snapshot dies loudly — those snapshots CONTAIN the rows
    retired.foreach(n => assert(!fs.exists(new Path(table, n)),
      s"purged candidate $n must be physically gone"))
    val health = GraftTableOptimize.fsck(spark, dir)
    assert(health.healthy && health.unloggedDataFiles == 0 && health.retiredRetained == 0,
      s"got $health")
    val dead = intercept[Exception] {
      spark.read.format("graft-parquet").option("graft.asOfSeq", snap.toString).load(dir).count()
    }
    assert(dead.getMessage.contains("not available"), s"got: ${dead.getMessage}")
    // deleting nothing is a no-op report
    val noop = GraftTableOptimize.deleteWhere(spark, dir, col("id") > 10000L)
    assert(noop.filesRewritten == 0 && noop.rowsDeleted == 0L)
  }

  test("a no-op purge delete leaves history intact; the pending marker converges an interrupted one") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-purgenoop")
    val table = new Path(dir)
    val fs = fsOf(dir)
    (0 until 3).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).select(col("id"), lit(s"c$i").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val snap = GraftParquetWrite.currentSeq(fs, table).get
    // a predicate value typo that passes schema analysis but matches
    // nothing: the purge default must NOT collapse the table's AS-OF past
    val noop = GraftTableOptimize.deleteWhere(spark, dir, col("id") > 99999L)
    assert(noop.rowsDeleted == 0L && noop.filesRewritten == 0)
    assert(spark.read.format("graft-parquet")
      .option("graft.asOfSeq", snap.toString).load(dir).count() == 30,
      "a no-op purge must leave every snapshot resolvable")
    assert(GraftParquetWrite.logRecordFiles(fs, table).length == 3,
      "and the log unfolded")
    // the interrupted-purge residue: the marker proves a prior purge
    // passed its swap — the SAME no-op call now converges the finalization
    val marker = new Path(GraftParquetWrite.logDir(table), "purge-pending")
    fs.create(marker, true).close()
    val converge = GraftTableOptimize.deleteWhere(spark, dir, col("id") > 99999L)
    assert(converge.rowsDeleted == 0L)
    assert(!fs.exists(marker), "the marker must clear once finalization completes")
    assert(GraftParquetWrite.logRecordFiles(fs, table).length == 1,
      "finalization must fold the history")
    val dead = intercept[Exception] {
      spark.read.format("graft-parquet").option("graft.asOfSeq", snap.toString)
        .load(dir).count()
    }
    assert(dead.getMessage.contains("not available"), s"got: ${dead.getMessage}")
    assert(spark.read.format("graft-parquet").load(dir).count() == 30)
  }

  test("negative zero equals positive zero across eval, pruning, and pruned deletion") {
    import graft.sources.v2.GraftTableOptimize
    // Spark's comparator (nanSafeCompareDoubles) and DuckDB both treat
    // -0.0 = 0.0 as TRUE; raw Double.compare orders them. The shared cmp
    // normalizes zeros, so a pushed equality neither drops -0.0 rows nor
    // lets the zone map refute a file bounded by -0.0 — and deleteWhere's
    // pruned discovery still finds them.
    val dir = freshTable("graft-zm-negzero")
    Seq((1L, -0.0), (2L, 1.5)).toDF("id", "v")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val t = spark.read.format("graft-parquet").load(dir)
    assert(t.filter(col("v") === 0.0).count() == 1,
      "a pushed v = 0.0 must keep the -0.0 row, like Spark and DuckDB")
    assert(t.filter(col("v") < 0.0).count() == 0, "and -0.0 is not less than 0.0")
    val (tot, pruned) = ZoneMap.pruneReport(fsOf(dir), new Path(dir),
      Array(org.apache.spark.sql.sources.EqualTo("v", 0.0)), t.schema)
    assert(tot == 1 && pruned == 0, s"the -0.0-bounded file must not refute v = 0.0: $pruned/$tot")
    val rep = GraftTableOptimize.deleteWhere(spark, dir, col("v") === 0.0)
    assert(rep.rowsDeleted == 1, s"the pruned discovery must find the -0.0 row, got $rep")
    assert(spark.read.format("graft-parquet").load(dir)
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("deleteWhere(clusterBy) preserves the clustered layout: pruning stays tight after an IN-list delete") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-delcluster")
    val table = new Path(dir)
    val fs = fsOf(dir)
    // four disjoint id slabs — a clustered layout whose zones a range
    // query can prune to one file
    (0 until 4).foreach { i =>
      spark.range(i * 25L, (i + 1) * 25L).select(col("id"), lit(s"c$i").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val schema = spark.read.format("graft-parquet").load(dir).schema
    val window: Array[org.apache.spark.sql.sources.Filter] = Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 10L),
      org.apache.spark.sql.sources.LessThan("id", 20L))
    val (t0, p0) = ZoneMap.pruneReport(fs, table, window, schema)
    assert(t0 == 4 && t0 - p0 == 1, s"pre-delete: the window must plan 1 of 4 files ($p0/$t0)")
    // an IN-list delete hitting EVERY slab: all four files are candidates,
    // and a bare coalesce rewrite could merge their disjoint ranges into
    // wide-zone files — clusterBy must keep the ranges tight instead
    val bytes = GraftParquetWrite.listDataFiles(fs, table).map(_.getLen).sum
    val rep = GraftTableOptimize.deleteWhere(spark, dir,
      col("id").isin(5L, 30L, 55L, 80L),
      targetBytes = math.max(1L, (bytes + 3) / 4), purge = false,
      clusterBy = Seq("id"))
    assert(rep.filesRewritten == 4 && rep.rowsDeleted == 4L, s"got $rep")
    val (t1, p1) = ZoneMap.pruneReport(fs, table, window, schema)
    assert(t1 - p1 == 1,
      s"post-delete: the same window must still plan 1 file, got ${t1 - p1} of $t1")
    assert(spark.read.format("graft-parquet").load(dir).count() == 96)
  }

  test("deleteWhere's condition translator extracts pushable conjuncts conservatively") {
    import graft.sources.v2.GraftTableOptimize.pushableConjuncts
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan}
    // AND splits; attribute-vs-literal comparisons translate in both
    // orientations; non-pushable conjuncts (pmod) contribute nothing
    val fs = pushableConjuncts(
      col("id") < 30L && col("name") === "x" && pmod(col("id"), lit(3)) === 1L)
    assert(fs.toSet == Set[org.apache.spark.sql.sources.Filter](
      LessThan("id", 30L), EqualTo("name", "x")), s"got ${fs.toSeq}")
    assert(pushableConjuncts(lit(5L) < col("id")).toSeq == Seq(GreaterThan("id", 5L)))
    // an OR must NOT decompose into conjuncts — pruning on either branch
    // alone would wrongly refute files holding the other branch's rows
    assert(pushableConjuncts(col("id") < 1L || col("id") > 5L).isEmpty)
    assert(pushableConjuncts(lit(true)).isEmpty)
  }

  test("deleteWhere with purge=false keeps history; NULL-condition rows survive; delete-all stays readable") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-delkeep")
    val table = new Path(dir)
    val fs = fsOf(dir)
    Seq((1L, "x"), (2L, "y"), (3L, null.asInstanceOf[String]))
      .toDF("id", "name").coalesce(1)
      .write.format("graft-parquet").mode("append").save(dir)
    Seq((4L, "x")).toDF("id", "name").coalesce(1)
      .write.format("graft-parquet").mode("append").save(dir)
    val snap = GraftParquetWrite.currentSeq(fs, table).get
    val rep = GraftTableOptimize.deleteWhere(spark, dir, col("name") === "x", purge = false)
    // SQL semantics: only TRUE deletes — the NULL-name row survives
    assert(rep.rowsDeleted == 2L, s"got $rep")
    val back = spark.read.format("graft-parquet").load(dir)
    assert(back.select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // history survives the analytical form: the pre-delete snapshot still
    // reads all four rows (retired bytes retained under the log)
    assert(spark.read.format("graft-parquet")
      .option("graft.asOfSeq", snap.toString).load(dir).count() == 4)
    assert(GraftTableOptimize.vacuum(spark, dir, graceMs = 0L) == 0,
      "retained history must not vacuum")
    // delete-all leaves a readable EMPTY table (epoch record carries the
    // schema past the last data file)
    val all = GraftTableOptimize.deleteWhere(spark, dir, lit(true))
    assert(all.rowsDeleted == 2L)
    val empty = spark.read.format("graft-parquet").load(dir)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "name") && empty.count() == 0)
  }

  test("type widening: int→long and float→double epochs upcast per file, AS-OF serves the narrow schema") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    val dir = freshTable("graft-zm-widen")
    val table = new Path(dir)
    val fs = fsOf(dir)
    // narrow era: INT ids + FLOAT values — including 3.14f, whose double
    // re-parse of the zone bound ("3.14" → 3.14d) UNDERSTATES the true
    // value (3.14f as double = 3.1400001...), the hull-pruning case
    Seq((1, 1.5f), (2, 2.5f), (3, 3.14f)).toDF("id", "v")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val preSeq = GraftParquetWrite.currentSeq(fs, table).get
    // widened era: LONG beyond int range + DOUBLE
    Seq((5000000000L, 9.25d)).toDF("id", "v")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val live = spark.read.format("graft-parquet").load(dir)
    assert(live.schema("id").dataType == LongType && live.schema("v").dataType == DoubleType)
    assert(live.count() == 4)
    // float upcast is exact per file
    assert(live.filter(col("id") === 1L).head().getDouble(1) == 1.5d)
    assert(live.filter(col("id") === 3L).head().getDouble(1) == 3.14f.toDouble)
    // a pushed long literal beyond int range must not WRAP into the old
    // files' compiled int predicates (the range guard): x < 3e9 keeps every
    // narrow-era row
    assert(live.filter(col("id") < 3000000000L).count() == 3)
    assert(live.filter(col("id") > 3000000000L).count() == 1)
    // hull pruning: v > 3.14 matches the 3.14f row (its double value
    // exceeds 3.14d); an exact-double parse of the float-era bound "3.14"
    // would wrongly refute the file
    assert(live.filter(col("v") > 3.14d).count() == 2,
      "the widened bound hull must keep the 3.14f row reachable")
    // metadata extremes: the widened DOUBLE column declines (float-era
    // bounds are not double-exact) and the scan answers exactly; the
    // widened LONG column still answers from metadata (int bounds re-parse
    // exactly at long width)
    val mv = live.agg(max("v").as("mv"))
    assert(scanOf(mv).agg.isEmpty, "float→double-widened extremes must decline metadata")
    assert(mv.head().getDouble(0) == 9.25d)
    val mi = live.agg(max("id").as("mi"))
    assert(scanOf(mi).agg.isDefined, "int→long extremes stay metadata-answerable")
    assert(mi.head().getLong(0) == 5000000000L)
    // AS-OF before the widening serves the NARROW schema and its rows
    val old = spark.read.format("graft-parquet")
      .option("graft.asOfSeq", preSeq.toString).load(dir)
    assert(old.schema("id").dataType == IntegerType && old.schema("v").dataType == FloatType)
    assert(old.count() == 3)
    // NARROWING is rejected loudly (the writer casts instead)
    val boom = intercept[Exception] {
      Seq((7, 1.0d)).toDF("id", "v")
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    assert(boom.getMessage.contains("widening"), s"got: ${boom.getMessage}")
    // OPTIMIZE across the widened epochs repacks under the CURRENT epoch
    // without losing values (old files decode narrow, rewrite wide)
    val rep = GraftTableOptimize.optimize(spark, dir,
      targetBytes = 1L << 20, smallBytes = 1L << 20, clusterBy = Seq("id"), retainLog = 0)
    assert(rep.filesRewritten == 2)
    val packed = spark.read.format("graft-parquet").load(dir)
    assert(packed.count() == 4 &&
      packed.agg(sum(col("id"))).head().getLong(0) == 5000000006L)
    assert(packed.filter(col("v") > 3.14d).count() == 2,
      "post-OPTIMIZE the rewritten (double-exact) bounds keep agreeing")
  }

  test("updateWhere rewrites only intersecting files, TRUE-only semantics, history retained") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-update")
    val table = new Path(dir)
    val fs = fsOf(dir)
    // four disjoint id slabs + a NULL-name row inside the updated range
    (0 until 4).foreach { i =>
      val names = spark.range(i * 25L, (i + 1) * 25L)
        .select(col("id"), when(col("id") === 5L, lit(null).cast("string"))
          .otherwise(concat(lit("n"), col("id"))).as("name"))
      names.coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val snap = GraftParquetWrite.currentSeq(fs, table).get
    // a misspelled assignment column dies BEFORE any destructive step
    val bad = intercept[Exception] {
      GraftTableOptimize.updateWhere(spark, dir, col("id") < 10L,
        Seq("nmae" -> lit("x")))
    }
    assert(bad.getMessage.contains("unknown column"), s"got: ${bad.getMessage}")
    // range update: only the first slab intersects; condition is TRUE only
    // where name is non-null (NULL-condition rows must pass through)
    val rep = GraftTableOptimize.updateWhere(spark, dir,
      col("id") < 10L && col("name").isNotNull,
      Seq("name" -> concat(lit("upd-"), col("name"))))
    assert(rep.filesScanned == 4 && rep.filesRewritten == 1 && rep.rowsUpdated == 9L,
      s"only the intersecting slab rewrites, NULL row excluded: $rep")
    val back = spark.read.format("graft-parquet").load(dir)
    assert(back.count() == 100)
    assert(back.filter(col("name").startsWith("upd-")).count() == 9)
    assert(back.filter(col("id") === 5L).head().isNullAt(1),
      "the NULL-condition row must pass through untouched")
    assert(back.filter(col("id") === 50L).head().getString(1) == "n50",
      "rows outside the range are byte-identical")
    // default keeps history: the pre-update snapshot reads the OLD values
    val old = spark.read.format("graft-parquet")
      .option("graft.asOfSeq", snap.toString).load(dir)
    assert(old.filter(col("name").startsWith("upd-")).count() == 0 && old.count() == 100)
    // no-op update: nothing rewrites, nothing folds
    val noop = GraftTableOptimize.updateWhere(spark, dir, col("id") > 99999L,
      Seq("name" -> lit("x")))
    assert(noop.filesRewritten == 0 && noop.rowsUpdated == 0L)
  }

  test("updateWhere purge=true is the redaction form: pre-update values are forgotten") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-redact")
    val table = new Path(dir)
    val fs = fsOf(dir)
    (0 until 2).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L)
        .select(col("id"), concat(lit("pii-"), col("id")).as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val snap = GraftParquetWrite.currentSeq(fs, table).get
    val rep = GraftTableOptimize.updateWhere(spark, dir, col("id") < 5L,
      Seq("name" -> lit("[redacted]")), purge = true)
    assert(rep.rowsUpdated == 5L && rep.purged)
    val back = spark.read.format("graft-parquet").load(dir)
    assert(back.filter(col("name") === "[redacted]").count() == 5 && back.count() == 20)
    // the pre-update snapshot CONTAINS the redacted values — purge must
    // have killed it and physically reclaimed the old bytes
    val dead = intercept[Exception] {
      spark.read.format("graft-parquet").option("graft.asOfSeq", snap.toString)
        .load(dir).count()
    }
    assert(dead.getMessage.contains("not available"), s"got: ${dead.getMessage}")
    val health = GraftTableOptimize.fsck(spark, dir)
    assert(health.healthy && health.retiredRetained == 0 && health.unloggedDataFiles == 0,
      s"got $health")
  }

  test("merge upserts by key: matched slabs rewrite, unmatched files untouched, inserts land") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-merge")
    val table = new Path(dir)
    val fs = fsOf(dir)
    (0 until 4).foreach { i =>
      spark.range(i * 25L, (i + 1) * 25L)
        .select(col("id"), concat(lit("old-"), col("id")).as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val snap = GraftParquetWrite.currentSeq(fs, table).get
    // a duplicate-key source has no deterministic winner: fail loudly
    val dup = intercept[Exception] {
      GraftTableOptimize.merge(spark, dir,
        Seq((1L, "a"), (1L, "b")).toDF("id", "name"), Seq("id"))
    }
    assert(dup.getMessage.contains("duplicate keys"), s"got: ${dup.getMessage}")
    // updates hit only slab 0 (ids 0..9); inserts are brand-new keys
    val src = spark.range(0L, 10L)
      .select(col("id"), concat(lit("new-"), col("id")).as("name"))
      .union(spark.range(200L, 205L)
        .select(col("id"), concat(lit("ins-"), col("id")).as("name")))
    val rep = GraftTableOptimize.merge(spark, dir, src, Seq("id"))
    assert(rep.filesScanned == 4 && rep.filesRewritten == 1 &&
      rep.rowsUpdated == 10L && rep.rowsInserted == 5L,
      s"only the matched slab rewrites: $rep")
    val back = spark.read.format("graft-parquet").load(dir)
    assert(back.count() == 105)
    assert(back.filter(col("name").startsWith("new-")).count() == 10)
    assert(back.filter(col("name").startsWith("ins-")).count() == 5)
    assert(back.filter(col("name").startsWith("old-")).count() == 90)
    assert(back.filter(col("id") === 3L).head().getString(1) == "new-3")
    // pre-merge snapshot still reads the old corpus (retention default)
    assert(spark.read.format("graft-parquet")
      .option("graft.asOfSeq", snap.toString).load(dir)
      .filter(col("name").startsWith("old-")).count() == 100)
    // empty source is a no-op; merge into an EMPTY table is a pure insert
    val noop = GraftTableOptimize.merge(spark, dir,
      spark.range(0L, 0L).select(col("id"), lit("x").as("name")), Seq("id"))
    assert(noop.filesRewritten == 0 && noop.rowsUpdated == 0L && noop.rowsInserted == 0L)
    val fresh = freshTable("graft-zm-mergefresh")
    fs.mkdirs(new Path(fresh))
    val pure = GraftTableOptimize.merge(spark, fresh,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"), Seq("id"))
    assert(pure.rowsInserted == 2L && pure.rowsUpdated == 0L)
    assert(spark.read.format("graft-parquet").load(fresh).count() == 2)
    // one key held by TWO table files: both rows count as updated, both
    // files are candidates, the insert count stays exact, one row remains
    val split = freshTable("graft-zm-mergesplit")
    Seq(Seq((7L, "a1"), (1L, "x")), Seq((7L, "a2"), (2L, "y")), Seq((100L, "z")))
      .foreach(_.toDF("id", "name").coalesce(1)
        .write.format("graft-parquet").mode("append").save(split))
    val two = GraftTableOptimize.merge(spark, split,
      Seq((7L, "new-7"), (300L, "ins-300")).toDF("id", "name"), Seq("id"))
    assert(two.filesScanned == 3 && two.filesRewritten == 2 &&
      two.rowsUpdated == 2L && two.rowsInserted == 1L, s"got $two")
    val splitBack = spark.read.format("graft-parquet").load(split)
    assert(splitBack.filter(col("id") === 7L).as[(Long, String)].collect().toSeq ==
      Seq((7L, "new-7")))
    assert(splitBack.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 7L, 100L, 300L))
  }

  /** Four 25-row id slabs, written like the lifecycle workload's table. */
  private def slabTable(prefix: String): String = {
    val dir = freshTable(prefix)
    (0 until 4).foreach { i =>
      spark.range(i * 25L, (i + 1) * 25L)
        .select(col("id"), concat(lit("old-"), col("id")).as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    dir
  }

  test("merge with updates and inserts into a multi-file table stays within its job budget") {
    import graft.sources.v2.GraftTableOptimize
    val dir = slabTable("graft-zm-mergejobs")
    // updates span two slabs, inserts are new keys
    val src = spark.range(20L, 30L).select(col("id"), concat(lit("new-"), col("id")).as("name"))
      .union(spark.range(200L, 205L).select(col("id"), concat(lit("ins-"), col("id")).as("name")))
    val (rep, jobs) = org.apache.spark.JobCounter.count(spark.sparkContext)(
      GraftTableOptimize.merge(spark, dir, src, Seq("id"), clusterBy = Seq("id")))
    assert(rep.filesRewritten == 2 && rep.rowsUpdated == 10L && rep.rowsInserted == 5L, s"$rep")
    assert(spark.read.format("graft-parquet").load(dir).count() == 105)
    // the source count and the duplicate check are one action, and one
    // keyed discovery yields candidates, updates and inserts
    assert(jobs <= 12, s"merge ran $jobs jobs")
  }

  test("deleteWhere and updateWhere stay within their job budgets; a delete widens no epoch") {
    import graft.sources.v2.GraftTableOptimize
    val dir = slabTable("graft-zm-rowjobs")
    val schemaRecords = GraftTableOptimize.fsck(spark, dir).schemaRecords
    val (del, delJobs) = org.apache.spark.JobCounter.count(spark.sparkContext)(
      GraftTableOptimize.deleteWhere(spark, dir, col("id") < 30L, purge = false,
        clusterBy = Seq("id")))
    assert(del.filesRewritten == 2 && del.rowsDeleted == 30L, s"$del")
    assert(GraftTableOptimize.fsck(spark, dir).schemaRecords == schemaRecords,
      "a delete only drops rows, so it must publish no schema record")
    val (upd, updJobs) = org.apache.spark.JobCounter.count(spark.sparkContext)(
      GraftTableOptimize.updateWhere(spark, dir, col("id") >= 70L,
        Seq("name" -> concat(lit("upd-"), col("name"))), clusterBy = Seq("id")))
    assert(upd.filesRewritten == 2 && upd.rowsUpdated == 30L, s"$upd")
    assert(spark.read.format("graft-parquet").load(dir)
      .filter(col("name").startsWith("upd-")).count() == 30)
    // the swap MERGE shares must add no job to either
    assert(delJobs <= 4, s"deleteWhere ran $delJobs jobs")
    assert(updJobs <= 4, s"updateWhere ran $updJobs jobs")
  }

  test("a non-null UPDATE on a non-nullable epoch publishes no schema record") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = slabTable("graft-zm-updnonnull")
    def epoch = GraftParquetWrite.latestSchemaAt(fsOf(dir), new Path(dir), None).get
    assert(epoch.fields.map(f => f.name -> f.nullable).toSeq == Seq("id" -> false, "name" -> false))
    val schemaRecords = GraftTableOptimize.fsck(spark, dir).schemaRecords
    val upd = GraftTableOptimize.updateWhere(spark, dir, col("id") >= 40L,
      Seq("name" -> concat(lit("upd-"), col("name"))))
    assert(upd.rowsUpdated == 60L, s"$upd")
    // the rewrite's parquet read reports every column nullable; only what
    // the assignment writes may widen the epoch
    assert(GraftTableOptimize.fsck(spark, dir).schemaRecords == schemaRecords)
    assert(epoch.fields.forall(!_.nullable), epoch.simpleString)
  }

  test("an UPDATE assigning lit(null) widens exactly the assigned column") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = slabTable("graft-zm-updnull")
    val schemaRecords = GraftTableOptimize.fsck(spark, dir).schemaRecords
    GraftTableOptimize.updateWhere(spark, dir, col("id") < 10L, Seq("name" -> lit(null))): Unit
    assert(GraftTableOptimize.fsck(spark, dir).schemaRecords == schemaRecords + 1)
    val epoch = GraftParquetWrite.latestSchemaAt(fsOf(dir), new Path(dir), None).get
    assert(epoch.fields.map(f => f.name -> f.nullable).toSeq == Seq("id" -> false, "name" -> true))
    assert(spark.read.format("graft-parquet").load(dir).filter(col("name").isNull).count() == 10)
  }

  test("retention fold keeps a base snapshot plus the newest records; seqs stay resolvable") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-retfold")
    val table = new Path(dir)
    (0 until 10).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).select(col("id"), lit("x").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val fs = fsOf(dir)
    assert(GraftTableOptimize.foldLog(fs, table, retain = 3) == 4,
      "base snapshot + the 3 newest delta records")
    def asOf(seq: Long) = spark.read.format("graft-parquet")
      .option("graft.asOfSeq", seq.toString).load(dir)
    // the base keeps the seq of the newest record it absorbed (6 of 0..9):
    // handles at and above it resolve, below it fail loudly
    assert(asOf(6L).count() == 70)
    assert(asOf(8L).count() == 90)
    assert(asOf(9L).count() == 100)
    val dead = intercept[Exception] { asOf(5L).count() }
    assert(dead.getMessage.contains("not available"), s"got: ${dead.getMessage}")
    // idempotent: already within the retention bound, nothing to fold
    assert(GraftTableOptimize.foldLog(fs, table, retain = 3) == 4)
    assert(spark.read.format("graft-parquet").load(dir).count() == 100)
    // appends after a retention fold pick fresh seqs above the tail
    spark.range(100L, 110L).select(col("id"), lit("x").as("name"))
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    assert(GraftParquetWrite.currentSeq(fs, table).contains(10L))
    assert(asOf(10L).count() == 110)
  }

  test("sharded fold base: membership tiers into content-addressed shards, clean shards reuse") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-shard")
    val table = new Path(dir)
    val fs = fsOf(dir)
    val logDir = GraftParquetWrite.logDir(table)
    (0 until 10).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).select(col("id"), lit("x").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val before = GraftParquetWrite.listDataFiles(fs, table)
      .map(st => (st.getPath.getName, st.getLen)).sortBy(_._1)
    // 8 members fold into the base (retain=2) — above shardOver=4, so the
    // base record is POINTERS into shards, never one O(files) blob
    assert(GraftTableOptimize.foldLog(fs, table, retain = 2,
      shardOver = 4, shardTarget = 4) == 3)
    def shards(): Seq[String] = fs.listStatus(logDir)
      .map(_.getPath.getName).filter(_.startsWith("s-")).toSeq.sorted
    def baseLines(): Seq[String] = {
      val base = GraftParquetWrite.logRecordFiles(fs, table)
        .map(_.getPath.getName).filter(_.contains("logbase-"))
      assert(base.length == 1)
      val in = fs.open(new Path(logDir, base.head))
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      text.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
    }
    val shards1 = shards()
    assert(shards1.nonEmpty, "an over-threshold base must tier into shards")
    assert(baseLines().forall(_.startsWith(">")),
      "the sharded base must hold only pointer lines")
    assert(baseLines().map(_.substring(1)).sorted == shards1,
      "every shard on disk is referenced (orphans swept)")
    // membership and reads are unchanged through the tiering
    val after = GraftParquetWrite.listDataFiles(fs, table)
      .map(st => (st.getPath.getName, st.getLen)).sortBy(_._1)
    assert(after == before, "tiering must preserve membership and lengths exactly")
    assert(spark.read.format("graft-parquet").load(dir).count() == 100)
    // AS-OF at the base and in the retained tail resolve through shards
    assert(spark.read.format("graft-parquet").option("graft.asOfSeq", "7")
      .load(dir).count() == 80)
    assert(spark.read.format("graft-parquet").option("graft.asOfSeq", "9")
      .load(dir).count() == 100)
    // two more commits, fold again: bucket count is stable here, so at
    // most two buckets dirty — the rest REUSE their shard files by name
    // (content-addressed), which is what bounds per-fold rewrite cost
    (10 until 12).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).select(col("id"), lit("x").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    assert(GraftTableOptimize.foldLog(fs, table, retain = 2,
      shardOver = 4, shardTarget = 4) == 3)
    val shards2 = shards()
    assert(shards2.intersect(shards1).size >= shards1.size - 2,
      s"clean shards must reuse: fold1=$shards1 fold2=$shards2")
    assert(baseLines().map(_.substring(1)).sorted == shards2,
      "orphaned fold-1 shards are swept once unreferenced")
    assert(spark.read.format("graft-parquet").load(dir).count() == 120)
    // vacuum/fsck see through the tiering: retired nothing, lost nothing
    val health = GraftTableOptimize.fsck(spark, dir)
    assert(health.healthy && health.missingDataFiles == 0 && health.unloggedDataFiles == 0,
      s"got $health")
    assert(GraftTableOptimize.vacuum(spark, dir, graceMs = 0L) == 0,
      "every member is reachable through the shards — vacuum must not touch them")
    assert(spark.read.format("graft-parquet").load(dir).count() == 120)
  }

  test("AS-OF inside an interrupted fold's rootless suffix fails loudly, never incomplete") {
    import graft.sources.v2.GraftParquetWrite
    val dir = freshTable("graft-zm-rootless")
    val table = new Path(dir)
    (0 until 5).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).select(col("id"), lit("x").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val fs = fsOf(dir)
    // simulate the rootless residue (lost/partially-deleted oldest records
    // with no fold base covering them): delete the two oldest records by
    // hand — records 2..4 remain, none of them a history root.
    (0 to 1).foreach { s =>
      val rec = GraftParquetWrite.logRecordFiles(fs, table)
        .find(st => GraftParquetWrite.logSeqOf(st.getPath.getName) == s.toLong).get
      fs.delete(rec.getPath, false)
    }
    // a handle at seq 3 folds only records 2..3 — an incomplete corpus the
    // root check must refuse (before the check this read 20 rows silently)
    val boom = intercept[Exception] {
      spark.read.format("graft-parquet").option("graft.asOfSeq", "3").load(dir).count()
    }
    assert(boom.getMessage.contains("history root"), s"got: ${boom.getMessage}")
    // the CURRENT read is equally incomplete here (no base ever published):
    // the root check refuses that too instead of serving 30 of 50 rows
    val boom2 = intercept[Exception] {
      spark.read.format("graft-parquet").load(dir).count()
    }
    assert(boom2.getMessage.contains("history root"), s"got: ${boom2.getMessage}")
    // the DIAGNOSTIC survives the damage it diagnoses: fsck reports the
    // rootless log (degrading to the physical listing) instead of dying
    val health = graft.sources.v2.GraftTableOptimize.fsck(spark, dir)
    assert(health.logRootMissing && !health.healthy, s"got $health")
    assert(health.dataFiles == 5, "fsck must still show what is physically on disk")
  }

  test("an update that introduces NULLs widens the epoch's nullability with the same swap") {
    import graft.sources.v2.GraftTableOptimize
    val dir = freshTable("graft-zm-nullwiden")
    // spark.range + a literal: both columns land NON-NULLABLE in the epoch
    spark.range(0, 10).select(col("id"), lit("x").as("name"))
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    assert(!spark.read.format("graft-parquet").load(dir).schema("name").nullable)
    val rep = GraftTableOptimize.updateWhere(spark, dir, col("id") < 5L,
      Seq("name" -> lit(null).cast("string")))
    assert(rep.rowsUpdated == 5L)
    val back = spark.read.format("graft-parquet").load(dir)
    // without the widened epoch record, Spark would compile IS NULL away
    // over a non-nullable schema and this query would return 0 silently
    assert(back.schema("name").nullable,
      "the swap must publish a nullability-widened epoch")
    assert(back.filter(col("name").isNull).count() == 5)
    assert(back.filter(col("name").isNotNull).count() == 5)
  }

  test("a commit that loses the seq race retracts and lands at the next sequence") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-casloser")
    val table = new Path(dir)
    (0 until 2).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).select(col("id"), lit("x").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val fs = fsOf(dir)
    // a competing writer's record appears at the exact seq this commit is
    // about to take, injected between seq computation and publication — and
    // with an id ('!' < any hex queryId) that WINS the name tie-break, so
    // this commit must retract and re-land at the next seq. The competing
    // delta is a ghost removal: membership-neutral, visible only to the log.
    var injected = false
    GraftParquetWrite.raceInjection = () => if (!injected) {
      injected = true
      val peer = new Path(GraftParquetWrite.logDir(table), "c-000000000002-!racer")
      val out = fs.create(peer, true)
      try out.write("~part-ghost-0-0.parquet".getBytes("UTF-8")) finally out.close()
    }
    try {
      spark.range(20L, 30L).select(col("id"), lit("x").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    } finally GraftParquetWrite.raceInjection = () => ()
    assert(injected, "the race must have been injected")
    assert(GraftParquetWrite.currentSeq(fs, table).contains(3L),
      "the losing commit must re-land at the NEXT sequence, not abort")
    assert(GraftTableOptimize.fsck(spark, dir).logSeqCollisions == 0,
      "an observed race resolves to distinct seqs")
    assert(spark.read.format("graft-parquet").load(dir).count() == 30,
      "the racing commit's rows must all land (union membership)")
    // AS-OF at the contested seq serves the racer's (neutral) delta plus
    // everything before it; the re-landed commit is only at its final seq
    assert(spark.read.format("graft-parquet").option("graft.asOfSeq", "2")
      .load(dir).count() == 20)
    assert(spark.read.format("graft-parquet").option("graft.asOfSeq", "3")
      .load(dir).count() == 30)
  }

  test("an unobserved seq tie is benign: deterministic order, fsck reports it, the fold absorbs it") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-castie")
    val table = new Path(dir)
    (0 until 2).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).select(col("id"), lit("x").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    val fs = fsOf(dir)
    // the competing record's id sorts ABOVE any hex queryId ('z' > 'f'):
    // this commit wins the tie-break and keeps its seq, while the peer —
    // a crashed loser that never retracted — stays as a benign tie
    var injected = false
    GraftParquetWrite.raceInjection = () => if (!injected) {
      injected = true
      val peer = new Path(GraftParquetWrite.logDir(table), "c-000000000002-zzzracer")
      val out = fs.create(peer, true)
      try out.write("~part-ghost-0-0.parquet".getBytes("UTF-8")) finally out.close()
    }
    try {
      spark.range(20L, 30L).select(col("id"), lit("x").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    } finally GraftParquetWrite.raceInjection = () => ()
    assert(GraftParquetWrite.currentSeq(fs, table).contains(2L),
      "the tie winner keeps its sequence")
    assert(GraftTableOptimize.fsck(spark, dir).logSeqCollisions == 1,
      "the unretracted tie is reported informationally")
    // membership folds the tie commutatively: every row reads exactly once
    assert(spark.read.format("graft-parquet").load(dir).count() == 30)
    assert(spark.read.format("graft-parquet").option("graft.asOfSeq", "2")
      .load(dir).count() == 30, "AS-OF at the tied seq includes both deltas")
    // a fold base sharing a seq is NOT a tie (membership-identical crash
    // residue), and a retention fold absorbs the real tie entirely
    assert(GraftTableOptimize.foldLog(fs, table, retain = 0) == 1)
    assert(GraftTableOptimize.fsck(spark, dir).logSeqCollisions == 0)
    assert(spark.read.format("graft-parquet").load(dir).count() == 30)
  }

  test("a maintenance swap whose removal target already left membership aborts loudly") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-swapconflict")
    val table = new Path(dir)
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    Seq((3L, "c")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val fs = fsOf(dir)
    val victim = GraftParquetWrite.listDataFiles(fs, table).map(_.getPath.getName).min
    val victimRows = spark.read.parquet(s"$dir/$victim")
    // first swap legitimately retires the victim (packed replacement with
    // the same rows, hand-staged like an interrupted OPTIMIZE)
    def stageSwap(id: String): Path = {
      val staging = GraftParquetWrite.stagingDir(table, id)
      fs.mkdirs(staging)
      victimRows.coalesce(1).write.parquet(staging.toString + "/tmp")
      val part = fs.listStatus(new Path(staging, "tmp"))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      fs.rename(part, new Path(staging, s"part-$id-0.parquet"))
      fs.delete(new Path(staging, "tmp"), true)
      val man = fs.create(new Path(staging, "manifest"), true)
      try man.write(s"part-$id-0.parquet\n~$victim".getBytes("UTF-8"))
      finally man.close()
      staging
    }
    stageSwap("swapone")
    GraftParquetWrite.recover(fs, table)
    assert(spark.read.format("graft-parquet").load(dir).count() == 3)
    // a second swap built from STALE inputs retires the same (now-gone)
    // member: conflict validation must abort it before it can publish —
    // replaying its packed adds would duplicate the victim's rows
    stageSwap("swaptwo")
    val boom = intercept[Exception] { GraftParquetWrite.recover(fs, table) }
    assert(boom.getMessage.contains("maintenance swap conflict"),
      s"got: ${boom.getMessage}")
    assert(spark.read.format("graft-parquet").load(dir).count() == 3,
      "the conflicted swap must not have changed membership")
  }

  test("two concurrent appenders both land with union membership") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-concappend")
    val table = new Path(dir)
    val fs = fsOf(dir)
    // barrier-aligned writers maximize real overlap; whatever interleaving
    // the scheduler picks, BOTH batches must land — the CAS makes a lost
    // race a retry, never an abort
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try {
          barrier.await()
          spark.range(t * 100L, (t + 1) * 100L)
            .select(col("id"), lit(s"w$t").as("name"))
            .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appends must both succeed: ${errs.peek()}")
    assert(spark.read.format("graft-parquet").load(dir).count() == 200,
      "union membership: neither writer's batch may be lost")
    val health = GraftTableOptimize.fsck(spark, dir)
    assert(health.healthy && health.missingDataFiles == 0 && health.unloggedDataFiles == 0,
      s"got $health")
  }

  test("eight barrier-aligned appenders all land (the dpp_join slab-overlap contract)") {
    // dpp_join now commits its 8 slabs from a pool — this pins the CAS
    // arbitration at that concurrency: every writer lands at a distinct
    // seq within the bounded retry budget, membership is the union
    import graft.sources.v2.GraftTableOptimize
    val dir = freshTable("graft-zm-concappend8")
    val writers = 8
    val barrier = new java.util.concurrent.CyclicBarrier(writers)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until writers).map { t =>
      new Thread(() => {
        try {
          barrier.await()
          spark.range(t * 10L, (t + 1) * 10L)
            .select(col("id"), lit(s"w$t").as("name"))
            .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"all $writers concurrent appends must succeed: ${errs.peek()}")
    assert(spark.read.format("graft-parquet").load(dir).count() == writers * 10L,
      "union membership: no writer's batch may be lost at 8-way contention")
    val health = GraftTableOptimize.fsck(spark, dir)
    assert(health.healthy && health.missingDataFiles == 0 && health.unloggedDataFiles == 0,
      s"got $health")
  }

  test("a first append beside another first writer's staging dir infers the empty schema") {
    // the window the 8-writer race hits: a concurrent first writer has
    // created its hidden staging dir, nothing is committed yet
    val dir = freshTable("graft-zm-firststage")
    fsOf(dir).mkdirs(new Path(dir, "_write_concurrent"))
    Seq((1L, "a")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    assert(spark.read.format("graft-parquet").load(dir).as[(Long, String)]
      .collect().toSeq == Seq((1L, "a")))
  }

  test("a heal the reader cannot perform degrades to current membership, not a failed read") {
    import graft.sources.v2.GraftParquetWrite
    val dir = freshTable("graft-zm-healro")
    val table = new Path(dir)
    Seq((1L, "a")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val fs = fsOf(dir)
    // a published-but-unrolled commit a READ-ONLY session cannot complete
    val staging = GraftParquetWrite.stagingDir(table, "roq")
    fs.mkdirs(staging)
    Seq((2L, "b")).toDF("id", "name").coalesce(1).write.parquet(staging.toString + "/tmp")
    val part = fs.listStatus(new Path(staging, "tmp"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(part, new Path(staging, "part-roq-0-0.parquet"))
    fs.delete(new Path(staging, "tmp"), true)
    val man = fs.create(new Path(staging, "manifest"), true)
    try man.write("part-roq-0-0.parquet".getBytes("UTF-8")) finally man.close()
    // read-only: every mutation fails. healQuietly must swallow it.
    val roFs = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def rename(src: Path, dst: Path): Boolean =
        throw new java.io.IOException("read-only session")
      override def delete(p: Path, recursive: Boolean): Boolean =
        throw new java.io.IOException("read-only session")
    }
    roFs.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    GraftParquetWrite.healQuietly(roFs, table) // must not throw
    // membership resolved through the read-only fs serves the PRE-commit
    // table consistently (the log excludes the unrolled commit)
    assert(GraftParquetWrite.listDataFiles(roFs, table).length == 1)
    // a writable session then heals for real
    assert(spark.read.format("graft-parquet").load(dir).count() == 2)
  }

  test("schema evolution: appended columns backfill NULL per old file; AS-OF reads the old epoch") {
    import graft.sources.v2.GraftParquetWrite
    val dir = freshTable("graft-zm-evolve")
    val table = new Path(dir)
    val fs = fsOf(dir)
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val preSeq = GraftParquetWrite.currentSeq(fs, table).get
    // identical-schema appends do NOT add schema records
    Seq((3L, "c")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    assert(GraftParquetWrite.schemaRecordFiles(fs, table).length == 1,
      "one epoch record for the unevolved table, however many commits")
    // EVOLUTION: the same columns plus an appended one — one metadata
    // record, no rewrite of the existing files
    Seq((4L, "d", 1.5), (5L, "e", 2.5)).toDF("id", "name", "score")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    assert(GraftParquetWrite.schemaRecordFiles(fs, table).length == 2)
    val live = spark.read.format("graft-parquet").load(dir)
    assert(live.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(live.schema("score").nullable, "an evolved column must publish nullable")
    assert(live.count() == 5)
    // pre-evolution rows read NULL in the new column; new rows carry values
    assert(live.filter(col("score").isNull).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
    assert(live.filter(col("score") > 2.0).select("id").as[Long].collect().toSeq == Seq(5L))
    // a pushed filter on the evolved column stays correct over old files
    // (no parquet predicate compiles there — the column is absent — and
    // record evaluation sees NULL)
    assert(live.filter(col("score").isNotNull).count() == 2)
    // AS-OF before the evolution serves the OLD schema, not a null-padded one
    val old = spark.read.format("graft-parquet")
      .option("graft.asOfSeq", preSeq.toString).load(dir)
    assert(old.schema.fieldNames.toSeq == Seq("id", "name"),
      s"the old epoch must not know 'score', got ${old.schema.simpleString}")
    assert(old.count() == 2)
    // a non-prefix shape still fails loudly (evolution is append-only)
    val boom = intercept[Exception] {
      Seq((9L, 9.9)).toDF("id", "wrong")
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    assert(boom.getMessage.contains("does not match"), s"got: ${boom.getMessage}")
  }

  test("a pre-epoch table that evolves serves the OLD schema to pre-evolution AS-OF handles") {
    import graft.sources.v2.GraftParquetWrite
    val dir = freshTable("graft-zm-preepoch")
    val table = new Path(dir)
    val fs = fsOf(dir)
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    Seq((3L, "c")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    // simulate a table created before schema epochs existed: its log has
    // membership records but no m-records at all
    GraftParquetWrite.schemaRecordFiles(fs, table)
      .foreach(st => fs.delete(st.getPath, false))
    val snap = GraftParquetWrite.currentSeq(fs, table).get
    // the FIRST epoch record this table ever gets arrives WITH an evolution
    Seq((4L, "d", 1.5)).toDF("id", "name", "score")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    assert(spark.read.format("graft-parquet").load(dir)
      .schema.fieldNames.toSeq == Seq("id", "name", "score"))
    // the pre-evolution handle must NOT see the evolved column: with no
    // epoch record at-or-below it, the schema comes from a member footer
    // of the snapshot itself, never from whole-directory inference (which
    // now holds post-evolution files)
    val old = spark.read.format("graft-parquet")
      .option("graft.asOfSeq", snap.toString).load(dir)
    assert(old.schema.fieldNames.toSeq == Seq("id", "name"),
      s"pre-epoch snapshot must serve the old shape, got ${old.schema.simpleString}")
    assert(old.count() == 3)
  }

  test("OPTIMIZE across schema epochs repacks under the current epoch without losing values") {
    import graft.sources.v2.{GraftParquetWrite, GraftTableOptimize}
    val dir = freshTable("graft-zm-evopt")
    val table = new Path(dir)
    val fs = fsOf(dir)
    (0 until 3).foreach { i =>
      spark.range(i * 10L, (i + 1) * 10L).select(col("id"), lit(s"c$i").as("name"))
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    }
    spark.range(30L, 40L)
      .select(col("id"), lit("c3").as("name"), (col("id") * 2.0).as("score"))
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val rep = GraftTableOptimize.optimize(spark, dir,
      targetBytes = 1L << 20, smallBytes = 1L << 20, retainLog = 0)
    assert(rep.filesRewritten == 4 && rep.filesAfter == 1, s"got $rep")
    val back = spark.read.format("graft-parquet").load(dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(back.count() == 40)
    // the epoch-spanning repack kept every evolved value and every backfill
    assert(back.filter(col("score").isNotNull).count() == 10,
      "values of the evolved column must survive the repack")
    assert(back.filter(col("score").isNull).count() == 30)
    assert(back.agg(org.apache.spark.sql.functions.sum("score")).head().getDouble(0)
      == (30L until 40L).map(_ * 2.0).sum)
    // fold pruned the dead epochs: one schema record remains, and it still
    // resolves for the surviving snapshot
    assert(GraftParquetWrite.schemaRecordFiles(fs, table).length == 1)
    val seqNow = GraftParquetWrite.currentSeq(fs, table).get
    assert(spark.read.format("graft-parquet")
      .option("graft.asOfSeq", seqNow.toString).load(dir)
      .schema.fieldNames.toSeq == Seq("id", "name", "score"))
  }

  test("a zone-map entry without a null count is undecodable, never nulls=0") {
    // nulls=0 would wrongly refute IsNull and prune a file that may hold
    // nulls — the decode must throw so the line drops and the file scans
    intercept[graft.GraftDataError] {
      ZoneMap.decode("""{"rows":5,"cols":{"x":{"min":"1","max":"2","nan":false}}}""")
    }
  }

  // ------------------------------------------- exactly-once table ingest

  test("ingestBatch is exactly-once: duplicate ids skip, crash windows replay to one copy") {
    import graft.sources.v2.GraftParquetWrite
    import graft.streaming.TableIngest
    val dir = freshTable("graft-zm-ingest")
    def batchDf(lo: Long) = spark.range(lo, lo + 10)
      .select(col("id"), concat(lit("r-"), col("id")).as("name"))
    assert(TableIngest.ingestBatch(batchDf(0).coalesce(1), dir, 0L))
    assert(TableIngest.ingestBatch(batchDf(10).coalesce(1), dir, 1L))
    // duplicate delivery of batch 1: skipped, rows unchanged
    assert(!TableIngest.ingestBatch(batchDf(10).coalesce(1), dir, 1L))
    val fs = fsOf(dir)
    assert(spark.read.format("graft-parquet").load(dir).count() == 20)
    assert(ZoneMap.load(fs, new Path(dir)).size == 2, "one sidecar entry per batch")
    // crash AFTER the commit point of batch 2, BEFORE roll-forward: stage
    // data + manifest with the !marker line by hand, then redeliver
    val table = new Path(dir)
    val staging = GraftParquetWrite.stagingDir(table, "crashb2")
    fs.mkdirs(staging)
    batchDf(20).coalesce(1).write.parquet(staging.toString + "/tmp")
    val part = fs.listStatus(new Path(staging, "tmp"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(part, new Path(staging, "part-crashb2-0-0.parquet"))
    fs.delete(new Path(staging, "tmp"), true)
    val man = fs.create(new Path(staging, "manifest"), true)
    try man.write("part-crashb2-0-0.parquet\n!b2".getBytes("UTF-8")) finally man.close()
    // the marker is NOT yet visible (roll-forward pending)...
    assert(!GraftParquetWrite.markerExists(fs, table, "b2"))
    // ...but the redelivered batch recovers first, sees it, and skips
    assert(!TableIngest.ingestBatch(batchDf(20).coalesce(1), dir, 2L),
      "recovery must complete the interrupted commit and absorb the redelivery")
    assert(spark.read.format("graft-parquet").load(dir).count() == 30,
      "batch 2's rows land exactly once")
    assert(GraftParquetWrite.markerExists(fs, table, "b2"))
    // marker pruning below a high-water mark
    assert(TableIngest.pruneMarkers(spark, dir, keepFrom = 2L) == 2)
    assert(GraftParquetWrite.markerExists(fs, table, "b2") &&
      !GraftParquetWrite.markerExists(fs, table, "b0"))
  }

  test("marker retention is self-maintaining: a long batch flood stays bounded, dedup holds") {
    import graft.sources.v2.GraftParquetWrite
    import graft.streaming.TableIngest
    val dir = freshTable("graft-zm-markerprune")
    val df = spark.range(0, 2).select(col("id"), lit("x").as("name")).coalesce(1)
    (0L until 40L).foreach { b =>
      assert(TableIngest.ingestBatch(df, dir, b, lineage = "ll", retainMarkers = 10))
    }
    val fs = fsOf(dir)
    val commits = new Path(new Path(dir), "_commits")
    val markers = fs.listStatus(commits).map(_.getPath.getName)
      .filter(_.startsWith("ll-b")).toSeq
    // prunes fired at batch 16 (keepFrom 6) and 32 (keepFrom 22): only
    // ids 22..39 survive — bounded, not 40-and-growing
    assert(markers.length == 18, s"markers must stay bounded, got ${markers.length}")
    assert(!GraftParquetWrite.markerExists(fs, new Path(dir), "ll-b0"))
    assert(GraftParquetWrite.markerExists(fs, new Path(dir), "ll-b39"))
    // redelivery dedup still works at the retention edge
    assert(!TableIngest.ingestBatch(df, dir, 39L, lineage = "ll", retainMarkers = 10))
    assert(!TableIngest.ingestBatch(df, dir, 22L, lineage = "ll", retainMarkers = 10))
    assert(spark.read.format("graft-parquet").load(dir).count() == 80,
      "every batch must land exactly once")
  }

  test("ingest self-folds the commit log: records stay bounded, a recent snapshot survives") {
    import graft.sources.v2.GraftParquetWrite
    import graft.streaming.TableIngest
    val dir = freshTable("graft-zm-selffold")
    val table = new Path(dir)
    val fs = fsOf(dir)
    val df = spark.range(0, 2).select(col("id"), lit("x").as("name")).coalesce(1)
    var held: Option[Long] = None
    (0L until 40L).foreach { b =>
      val r = TableIngest.ingestBatchRecorded(df, dir, b, lineage = "sf",
        foldLogOver = 8)
      assert(r.wrote && r.seq.isDefined)
      if (b == 30L) held = r.seq // a handle taken inside the retention tail
    }
    // folds fired on the maintenance ticks (every 16th batch): the log
    // never grows O(batches)
    val recs = GraftParquetWrite.logRecordFiles(fs, table).length
    assert(recs < 40 && recs <= 8 + 16,
      s"the log must self-fold on the ingest path, got $recs records")
    // the receipt taken at batch 30 still resolves after the batch-32 fold
    // (it sits inside the retained tail) and reads exactly batches 0..30
    val snap = spark.read.format("graft-parquet")
      .option("graft.asOfSeq", held.get.toString).load(dir)
    assert(snap.count() == 31 * 2, s"snapshot at batch 30 must hold 31 batches")
    // an ancient handle died at the fold — loudly, never an empty read
    val boom = intercept[Exception] {
      spark.read.format("graft-parquet").option("graft.asOfSeq", "3").load(dir).count()
    }
    assert(boom.getMessage.contains("not available"), s"got: ${boom.getMessage}")
    assert(spark.read.format("graft-parquet").load(dir).count() == 80)
  }

  test("ingestTableStream lands each micro-batch once and survives a checkpointed restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.TableIngest
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshTable("graft-zm-stream")
    val ckpt = tempDir("graft-zm-streamck")
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "a"), (2L, "b"))
    val q1 = TableIngest.ingestTableStream(
      input.toDF().toDF("id", "name"), dir, ckpt)
    q1.awaitTermination()
    assert(spark.read.format("graft-parquet").load(dir).count() == 2)
    // restart from the same checkpoint with new data: only the new batch lands
    input.addData((3L, "c"))
    val q2 = TableIngest.ingestTableStream(
      input.toDF().toDF("id", "name"), dir, ckpt)
    q2.awaitTermination()
    import spark.implicits._
    assert(spark.read.format("graft-parquet").load(dir)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // the continuously-fed table still answers from metadata
    val agged = spark.read.format("graft-parquet").load(dir)
      .agg(count(lit(1)).as("n"), max(col("id")).as("hi"))
    assert(scanOf(agged).agg.isDefined)
    assert(agged.head().getLong(0) == 3 && agged.head().getLong(1) == 3L)
  }

  test("infinite extremes are recorded: metadata MIN/MAX agree with Spark on ±Infinity") {
    val dir = freshTable("graft-zm-inf")
    Seq(Tuple2(1L, Double.PositiveInfinity), Tuple2(2L, Double.PositiveInfinity))
      .toDF("id", "v").coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    Seq(Tuple2(3L, Double.NegativeInfinity), Tuple2(4L, 5.0))
      .toDF("id", "v").coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val agged = spark.read.format("graft-parquet").load(dir)
      .agg(min("v").as("lo"), max("v").as("hi"))
    assert(scanOf(agged).agg.isDefined, "infinities are orderable — must answer from metadata")
    val row = agged.head()
    assert(row.getDouble(0).isNegInfinity && row.getDouble(1).isPosInfinity,
      s"metadata extremes must be the infinities, got $row")
    // and pruning comparisons handle them: v > 10 keeps only the +Inf file
    import org.apache.spark.sql.sources.GreaterThan
    val sch = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType)))
    val (t, p) = ZoneMap.pruneReport(fsOf(dir), new Path(dir), Array(GreaterThan("v", 10.0)), sch)
    assert(t == 2 && p == 1, s"the all-negative file must prune: $p/$t")
  }

  test("a new checkpoint is a new lineage: re-ingestion is visible, never a silent drop") {
    import graft.streaming.TableIngest
    val dir = freshTable("graft-zm-lineage")
    val df = spark.range(0, 5).select(col("id"), lit("x").as("name"))
    // lineage A commits batches 0 and 1
    assert(TableIngest.ingestBatch(df.coalesce(1), dir, 0L, lineage = "aaa"))
    assert(TableIngest.ingestBatch(df.coalesce(1), dir, 1L, lineage = "aaa"))
    assert(!TableIngest.ingestBatch(df.coalesce(1), dir, 1L, lineage = "aaa"))
    // a NEW lineage's batch 0 must not collide with A's batch 0: it writes
    // (rows re-land, visibly) rather than being swallowed by a's marker
    assert(TableIngest.ingestBatch(df.coalesce(1), dir, 0L, lineage = "bbb"),
      "a fresh checkpoint's batch 0 must not be dropped by an old stream's marker")
    assert(spark.read.format("graft-parquet").load(dir).count() == 15)
    // pruning is lineage-scoped
    assert(TableIngest.pruneMarkers(spark, dir, keepFrom = 2L, lineage = "aaa") == 2)
    import graft.sources.v2.GraftParquetWrite
    val fs = fsOf(dir)
    assert(GraftParquetWrite.markerExists(fs, new Path(dir), "bbb-b0"),
      "pruning lineage aaa must not touch bbb's markers")
    // distinct checkpoints derive distinct lineages
    assert(TableIngest.lineageOf("/ck/one") != TableIngest.lineageOf("/ck/two"))
    // upgrade shim (OPT-IN): a batch committed under the pre-widening
    // 12-hex namespace dedupes a redelivery under the 16-hex one only when
    // legacyLineageDedup is on — permanently on would narrow the namespace
    // back to the 48 bits the widening escaped
    val full = TableIngest.lineageOf("/ck/one")
    assert(full.length == 16)
    assert(TableIngest.ingestBatch(df.coalesce(1), dir, 7L, lineage = full.take(12)))
    assert(!TableIngest.ingestBatch(df.coalesce(1), dir, 7L, lineage = full,
      legacyLineageDedup = true),
      "with the shim on, a legacy-namespace marker must absorb the redelivery")
    assert(TableIngest.ingestBatch(df.coalesce(1), dir, 8L, lineage = full),
      "the shim must not block fresh batches")
  }

  test("a replayed roll-forward rewrites the same sidecar entry idempotently") {
    val dir = freshTable("graft-zm-replay")
    val table = new Path(dir)
    val fs = fsOf(dir)
    Seq((5L, "x"), (9L, "y")).toDF("id", "name")
      .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
    val before = ZoneMap.load(fs, table)
    assert(before.size == 1)
    val name = before.keySet.head
    // simulate the crash window: the commit completed (file renamed, sidecar
    // written) but the staging delete did not happen — recover() replays
    val queryId = name.stripPrefix("part-").split('-').dropRight(2).mkString("-")
    val staging = graft.sources.v2.GraftParquetWrite.stagingDir(table, queryId)
    fs.mkdirs(staging)
    val man = fs.create(new Path(staging, "manifest"), true)
    try man.write(s"$name\t${ZoneMap.encode(before(name))}".getBytes("UTF-8"))
    finally man.close()
    graft.sources.v2.GraftParquetWrite.recover(fs, table)
    assert(!fs.exists(staging))
    val after = ZoneMap.load(fs, table)
    assert(after == before, "replaying the commit must not change the zone map")
    assert(spark.read.format("graft-parquet").load(dir).count() == 2)
  }
}
