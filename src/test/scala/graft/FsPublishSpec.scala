package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.FsPublish
import graft.streaming.{BloomSidecar, CorpusCompaction, IvfIngest, KeyTableMeta, KeyTableSidecar,
  Streaming}

/** The one publish protocol ([[FsPublish]]) under injected faults: a torn
  * commit point, refused renames at every replace site and in the
  * directory swap, plus a scan that keeps hand-written renames out of
  * `src/main`.
  */
class FsPublishSpec extends SparkTestBase {

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

  test("src/main renames only through FsPublish, outside the multi-file protocols") {
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
    assert(renames == Map(
      // GraftParquetWrite.commit and the OPTIMIZE staging renames move many files
      "graft/sources/v2/GraftParquetWrite.scala" -> 1,
      "graft/sources/v2/GraftTableOptimize.scala" -> 1,
      // the IvfIngest refresh and purge marker protocols
      "graft/streaming/IvfIngest.scala" -> 5,
      // KeyTableSidecar.purgeKeys promotes each staged shard
      "graft/streaming/KeyTableSidecar.scala" -> 1),
      "publish a file or swap a directory through graft.sources.FsPublish")
  }
}
