package graft

import scala.collection.mutable

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.FsPublish
import graft.sources.v2.GraftParquetWrite
import graft.streaming.{BloomSidecar, CorpusCompaction, IvfIngest, KeyTableMeta, KeyTableSidecar,
  Streaming}

/** The one publish protocol ([[FsPublish]]) under injected faults: torn
  * commit points, refused renames at every replace site, in the directory
  * swap and at each step of the multi-file roll-forwards, plus a scan that
  * keeps hand-written renames out of `src/main`.
  */
class FsPublishSpec extends SparkTestBase {
  import spark.implicits._

  private def faultFs(dir: String) =
    new FaultFs(new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration))

  private def writeText(fs: FaultFs, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  test("a compaction manifest cut mid-write is no commit point: the next batch duplicates nothing") {
    val corpus = tempDir("graft-tornman") + "/corpus"
    def batch(lo: Long, n: Long) =
      spark.range(lo, lo + n).select(col("id").as("doc_id"),
        concat(lit("doc-"), col("id")).as("text"))
    (0 until 3).foreach(i =>
      Streaming.ingestBatch(batch(i * 10L, 10), corpus, "doc_id", Seq("text"), maxSmallFiles = 100))
    val fs = faultFs(corpus)
    fs.cutCreate = p => if (p.getName.startsWith("manifest")) Some(12L) else None
    intercept[java.io.IOException] {
      CorpusCompaction.compact(spark, fs, new Path(corpus), maxSmallFiles = 2)
    }
    val next = Streaming.ingestBatch(batch(30, 10), corpus, "doc_id", Seq("text"))
    assert(next.admitted == 10)
    val docs = spark.read.parquet(corpus)
    assert(docs.count() == 40, "a torn manifest replayed as a commit duplicated rows")
    assert(docs.select("doc_id").distinct().count() == 40)
  }

  test("a refused rename at each replace site throws and leaves the staged copy") {
    val dir = new Path(tempDir("graft-replace"))
    val fs = faultFs(dir.toString)
    fs.refuseRename = (src, _) => src.getName.endsWith(".staging")
    val sites: Seq[(String, () => Unit)] = Seq(
      "_codebook" -> (() => IvfIngest.writeCodebook(fs, dir,
        Similarity.IvfModel(Array(Array(1f, 2f))), rowsAtTraining = 1L)),
      "_pq_codebook" -> (() => IvfIngest.writePqCodebook(fs, dir,
        Similarity.PqModel(1, 1, 1, Array(Array(Array(1f)))))),
      BloomSidecar.ContentName -> (() => BloomSidecar.write(fs, dir,
        BloomSidecar(10L, 0L, "stamp", Array[Byte](1, 2, 3)))),
      KeyTableSidecar.BandName + ".meta" -> (() => KeyTableSidecar.writeMeta(fs, dir,
        KeyTableMeta(4, 10L, "stamp"))))
    sites.foreach { case (name, write) =>
      intercept[GraftDataError](write())
      assert(!fs.exists(new Path(dir, name)), name)
      assert(fs.exists(new Path(dir, name + ".staging")), s"$name: the staged copy must survive")
    }
    // with the renames allowed, each site publishes and reads back
    fs.refuseRename = (_, _) => false
    sites.foreach { case (name, write) =>
      write()
      assert(fs.exists(new Path(dir, name)) && !fs.exists(new Path(dir, name + ".staging")), name)
    }
    assert(IvfIngest.readCodebookInfo(fs, dir).map(_.rowsAtTraining).contains(1L))
    assert(KeyTableSidecar.readMeta(fs, dir).contains(KeyTableMeta(4, 10L, "stamp")))
  }

  test("a refused rename onto a target that exists afterwards is success: the temp goes") {
    val dir = new Path(tempDir("graft-publish"))
    val fs = faultFs(dir.toString)
    val (tmp, target) = (new Path(dir, "rec.tmp"), new Path(dir, "rec"))
    writeText(fs, target, "a")
    fs.refuseRename = (_, _) => true
    FsPublish.publish(fs, tmp, target)(_.write("a".getBytes("UTF-8")))
    assert(!fs.exists(tmp))
    // a concurrent replay swept the temp first: the local file system's
    // rename throws FileNotFoundException, which counts as refused
    fs.refuseRename = (src, _) => { fs.delete(src, false); false }
    FsPublish.publish(fs, tmp, target)(_.write("a".getBytes("UTF-8")))
    assert(FsPublish.read(fs, target)(FsPublish.utf8).contains("a"))
    assert(FsPublish.read(fs, new Path(dir, "absent"))(FsPublish.utf8).isEmpty)
  }

  test("swapDir: a refused roll-back throws and deletes nothing") {
    val base = tempDir("graft-swap")
    val fs = faultFs(base)
    val (root, staging, retired) =
      (new Path(base, "t"), new Path(base, "t.staging"), new Path(base, "t.old"))
    // a crash after the set-aside left an incomplete staging: recovery must
    // roll back, and when that rename fails nothing may be deleted
    writeText(fs, new Path(retired, "part-0"), "old")
    writeText(fs, new Path(staging, "part-0"), "partial")
    fs.refuseRename = (src, _) => src == retired
    intercept[GraftDataError] {
      FsPublish.swapDir(fs, root, staging, retired)(fail("staging written before recovery"))
    }
    assert(fs.exists(new Path(retired, "part-0")) && fs.exists(new Path(staging, "part-0")))
    // with the renames allowed the roll-back lands; then a refused publish
    // rename restores the old tree, and a refused restore throws too
    fs.refuseRename = (_, _) => false
    FsPublish.swapDir(fs, root, staging, retired) {
      writeText(fs, new Path(staging, "part-0"), "new")
      writeText(fs, new Path(staging, "_SUCCESS"), "")
    }
    assert(FsPublish.read(fs, new Path(root, "part-0"))(FsPublish.utf8).contains("new"))
    assert(FsPublish.read(fs, new Path(retired, "part-0"))(FsPublish.utf8).contains("old"))
    fs.refuseRename = (src, _) => src == staging
    intercept[GraftDataError] {
      FsPublish.swapDir(fs, root, staging, retired)(writeText(fs, new Path(staging, "_SUCCESS"), ""))
    }
    assert(FsPublish.read(fs, new Path(root, "part-0"))(FsPublish.utf8).contains("new"))
    fs.refuseRename = (_, dst) => dst == root
    intercept[GraftDataError] {
      FsPublish.swapDir(fs, root, staging, retired)(writeText(fs, new Path(staging, "_SUCCESS"), ""))
    }
    assert(fs.exists(new Path(retired, "part-0")) && fs.exists(new Path(staging, "_SUCCESS")))
  }

  test("promote: a moved source is done, a present target or a lost pair throws and deletes nothing") {
    val dir = new Path(tempDir("graft-promote"))
    val fs = faultFs(dir.toString)
    def p(name: String) = new Path(dir, name)
    writeText(fs, p("a.staged"), "a")
    writeText(fs, p("b"), "b")
    // a is staged, b was moved by an earlier attempt: a moves, b is done
    FsPublish.promote(fs, Seq(p("a.staged") -> p("a"), p("b.staged") -> p("b")))
    assert(FsPublish.read(fs, p("a"))(FsPublish.utf8).contains("a") && !fs.exists(p("a.staged")))
    // a directory renamed onto an existing one would nest inside it
    writeText(fs, p("list.staged/part-0"), "new")
    writeText(fs, p("list/part-0"), "old")
    intercept[GraftDataError](FsPublish.promote(fs, Seq(p("list.staged") -> p("list"))))
    assert(FsPublish.read(fs, p("list/part-0"))(FsPublish.utf8).contains("old"))
    assert(fs.exists(p("list.staged/part-0")) && !fs.exists(p("list/list.staged")))
    intercept[GraftDataError](FsPublish.promote(fs, Seq(p("gone.staged") -> p("gone"))))
    // a refused rename throws and keeps the staged source
    fs.refuseRename = (_, _) => true
    intercept[GraftDataError](FsPublish.promote(fs, Seq(p("list.staged") -> p("other"))))
    assert(fs.exists(p("list.staged/part-0")) && !fs.exists(p("other")))
  }

  /** `n` four-dimensional vectors, so a small IVF index builds in seconds. */
  private def vectors(n: Int): DataFrame =
    spark.range(n).select(col("id"), array((0 until 4).map(j =>
      (sin(col("id") * (j + 1)) + lit(j.toDouble)).cast("float")): _*).as("vec"))

  private def ingest(dir: String, nlist: Int): Unit =
    IvfIngest.ingestBatch(vectors(60), dir, "id", "vec", nlist, iters = 1,
      minBootstrapRows = nlist.toLong): Unit

  private def rows(dir: String): Set[(Long, Long)] =
    spark.read.parquet(dir).select(col("id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toSet

  private def codebook(fs: FaultFs, dir: String): Option[Seq[Seq[Float]]] =
    IvfIngest.readCodebook(fs, new Path(dir)).map(_.centroids.toSeq.map(_.toSeq))

  /** Runs `step` over two copies of `scene`: one with every rename that
    * `refuse` picks refused, one fault-free. The faulted step must throw
    * and keep each refused source; with renames allowed again, `next`
    * must bring the faulted copy to the fault-free copy's `result`.
    */
  private def refusedRenameCases[A](base: String, scene: String => Unit,
      cases: Seq[(String, (Path, Path) => Boolean)])(step: (FaultFs, String) => Unit,
      next: String => Unit, result: String => A): Unit = {
    val fs = faultFs(base)
    val reference = s"$base/reference"
    scene(reference)
    step(fs, reference)
    cases.foreach { case (name, refuse) =>
      val dir = s"$base/$name"
      scene(dir)
      val refused = mutable.Buffer.empty[Path]
      fs.refuseRename = (src, dst) => refuse(src, dst) && { refused += src; true }
      intercept[GraftDataError](step(fs, dir))
      fs.refuseRename = (_, _) => false
      assert(refused.nonEmpty && refused.forall(fs.exists), s"$name: the staged copies must survive")
      next(dir)
      assert(result(dir) == result(reference), s"$name: the next entry point must converge")
    }
  }

  private def probeAny(dir: String): Unit =
    IvfIngest.probe(spark, dir, "id", "vec", Array(1f, 1f, 2f, 3f), k = 1, nprobe = 1).collect(): Unit

  test("IVF refresh: a refused marker, list or codebook move throws and the next entry point finishes") {
    val base = tempDir("graft-ivf-refused")
    val fs = faultFs(base)
    val (oldDir, newDir) = (s"$base/old", s"$base/new")
    ingest(oldDir, nlist = 2)
    ingest(newDir, nlist = 3)
    // a refresh crashed right after its commit point: the old index on
    // top, the new lists and codebook staged, the COMPLETE marker in place
    def scene(dir: String): Unit = {
      val staging = new Path(dir, "_refresh")
      FileUtil.copy(fs, new Path(oldDir), fs, new Path(dir), false, fs.getConf)
      FileUtil.copy(fs, new Path(newDir), fs, new Path(staging, "data"), false, fs.getConf)
      FsPublish.move(fs, new Path(staging, "data/_codebook"), new Path(staging, "_codebook"))
      writeText(fs, new Path(staging, "_REFRESH_COMPLETE"), "")
    }
    def staged(src: Path) = src.getParent.getName == "_refresh" || src.getParent.getName == "data"
    refusedRenameCases(base, scene, Seq(
      "marker" -> ((src, _) => src.getName == "_REFRESH_COMPLETE"),
      "list" -> ((src, _) => staged(src) && src.getName.startsWith("centroid_id=")),
      "codebook" -> ((src, _) => staged(src) && src.getName == "_codebook")))(
      step = (f, dir) => IvfIngest.recover(f, new Path(dir)),
      next = probeAny,
      result = dir => (rows(dir), codebook(fs, dir), fs.exists(new Path(dir, "_refresh"))))
    assert(rows(s"$base/reference") == rows(newDir))
    assert(codebook(fs, s"$base/reference") == codebook(fs, newDir))
  }

  test("IVF purge: a refused list promote throws and the next entry point finishes") {
    val base = tempDir("graft-purge-refused")
    val fs = faultFs(base)
    val oldDir = s"$base/old"
    ingest(oldDir, nlist = 2)
    val target = rows(oldDir).head._2
    // a purge crashed right after its commit point: one list's survivors
    // staged, the census naming that list
    def scene(dir: String): Unit = {
      FileUtil.copy(fs, new Path(oldDir), fs, new Path(dir), false, fs.getConf)
      spark.read.parquet(oldDir).filter(col("centroid_id") === target && col("id") % 2 === 0)
        .write.partitionBy("centroid_id").parquet(s"$dir/_purge/data")
      writeText(fs, new Path(dir, "_purge/_PURGE_COMPLETE"), target.toString)
    }
    refusedRenameCases(base, scene, Seq(
      "list" -> ((src, _) => src.getName.startsWith("centroid_id="))))(
      step = (f, dir) => IvfIngest.recover(f, new Path(dir)),
      next = probeAny,
      result = dir => (rows(dir), fs.exists(new Path(dir, "_purge"))))
    assert(rows(s"$base/reference") ==
      rows(oldDir).filter { case (id, list) => list != target || id % 2 == 0 })
  }

  test("a purge census cut mid-write is no commit point: the index stays whole and a rerun purges") {
    val base = tempDir("graft-census")
    val fs = faultFs(base)
    val (dir, reference) = (s"$base/index", s"$base/reference")
    ingest(dir, nlist = 2)
    FileUtil.copy(fs, new Path(dir), fs, new Path(reference), false, fs.getConf)
    val before = rows(dir)
    // one id from each list: the census has two lines, and the cut keeps
    // the first digit only
    val tomb = before.groupBy(_._2).values.map(_.minBy(_._1)._1).toSeq.toDF("id")
    assert(tomb.count() == 2)
    fs.cutCreate = p => if (p.getName.startsWith("_PURGE_COMPLETE")) Some(1L) else None
    intercept[java.io.IOException](IvfIngest.purge(spark, fs, new Path(dir), tomb, "id"))
    fs.cutCreate = _ => None
    probeAny(dir)
    assert(rows(dir) == before, "a torn census must not be trusted")
    assert(!fs.exists(new Path(dir, "_purge")), "recovery discards the unmarked staging")
    val report = IvfIngest.purge(spark, dir, tomb, "id")
    assert(report == IvfIngest.purge(spark, reference, tomb, "id"))
    assert(rows(dir) == rows(reference) && rows(dir).size == before.size - 2)
  }

  test("key-table purge: a refused shard promote throws and a rerun finishes") {
    val base = tempDir("graft-ktpurge-refused")
    val fs = faultFs(base)
    // keys 3, 7, 11, 15 empty shard 3; key 1 leaves shard 1 with survivors
    val keys = Seq(1L, 3L, 7L, 11L, 15L).toDF("__k")
    def scene(dir: String): Unit =
      KeyTableSidecar.appendKeys(spark.range(0L, 16L).select(col("id").as("__k")),
        new Path(dir), nShards = 4)
    def purge(f: FaultFs, dir: String): Unit =
      KeyTableSidecar.purgeKeys(spark, f, new Path(dir), keys, nShards = 4): Unit
    refusedRenameCases(base, scene, Seq(
      "shard" -> ((src, _) => src.getName.startsWith("__shard="))))(
      step = purge,
      next = dir => purge(faultFs(dir), dir),
      result = dir => (KeyTableSidecar.load(spark, new Path(dir)).select("__k").as[Long]
        .collect().sorted.toSeq, fs.exists(new Path(KeyTableSidecar.dir(new Path(dir)), "_purge_stage"))))
    assert(KeyTableSidecar.load(spark, new Path(s"$base/reference")).count() == 11L)
  }

  test("v2 commit: a refused add throws from healPublished and the next read finishes") {
    val base = tempDir("graft-v2-refused")
    val fs = faultFs(base)
    // a writer crashed right after publishing its manifest
    def scene(dir: String): Unit = {
      Seq((1L, "a"), (2L, "b")).toDF("id", "name")
        .coalesce(1).write.format("graft-parquet").mode("append").save(dir)
      val staging = GraftParquetWrite.stagingDir(new Path(dir), "crashq")
      Seq((3L, "c")).toDF("id", "name").coalesce(1).write.parquet(s"$staging/tmp")
      val part = fs.listStatus(new Path(staging, "tmp"))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      FsPublish.move(fs, part, new Path(staging, "part-crashq-0-0.parquet"))
      fs.delete(new Path(staging, "tmp"), true)
      writeText(fs, new Path(staging, "manifest"), "part-crashq-0-0.parquet")
    }
    refusedRenameCases(base, scene, Seq(
      "add" -> ((src, _) => src.getName == "part-crashq-0-0.parquet")))(
      step = (f, dir) => GraftParquetWrite.healPublished(f, new Path(dir)),
      next = dir => spark.read.format("graft-parquet").load(dir).count(): Unit,
      result = dir => (spark.read.format("graft-parquet").load(dir).select("id").as[Long]
        .collect().sorted.toSeq, fs.exists(GraftParquetWrite.stagingDir(new Path(dir), "crashq"))))
    assert(spark.read.format("graft-parquet").load(s"$base/reference").count() == 3L)
  }

  test("src/main renames only through FsPublish") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val renames = files(root).filterNot(_.getName == "FsPublish.scala").flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val n = try src.mkString.split("\\.rename\\(", -1).length - 1 finally src.close()
      if (n == 0) None else Some(root.toPath.relativize(f.toPath).toString -> n)
    }.toMap
    assert(renames.isEmpty,
      "publish a file, swap a directory or promote staged moves through graft.sources.FsPublish")
  }
}
