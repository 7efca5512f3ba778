package graft

import java.nio.file.Files

import graft.sources.{ParquetRead, Sources}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.JobCounter
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.StructType

/** [[ParquetRead]] resolves the schema Spark's own inference would, from the
  * same footer, without starting a Spark job.
  */
class ParquetReadSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** The helper's schema, checked against Spark's inference, and its job count. */
  private def sameAsSpark(paths: String*): Int = {
    val (schema, jobs) = JobCounter.count(spark.sparkContext)(ParquetRead(spark, paths: _*).schema)
    val inferred: StructType = spark.read.parquet(paths: _*).schema
    assert(schema == inferred, s"${schema.treeString} vs ${inferred.treeString}")
    jobs
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val previous = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally previous.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every testdata table, a flat dir and a multi-path read resolve to Spark's schema, jobless") {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach { t =>
      assert(sameAsSpark(s"$sfDir/$t.parquet") == 0, t)
    }
    val root = tmp("graft-pr-flat")
    Seq((1L, "a", 1.5)).toDF("k", "s", "v").write.parquet(s"$root/b")
    Seq((2L, "b")).toDF("k", "s").repartition(3).write.parquet(s"$root/a")
    assert(sameAsSpark(s"$root/b") == 0)
    // leaves sort by path across every path: a's file is picked, not b's
    assert(sameAsSpark(s"$root/b", s"$root/a") == 0)
    assert(ParquetRead(spark, s"$root/b", s"$root/a").columns.toSeq == Seq("k", "s"))
  }

  test("a corpus of compacted and part files, tombstone entry dirs and a _metadata summary") {
    val corpus = tmp("graft-pr-corpus")
    val fs = new Path(corpus).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((1L, "x")).toDF("doc_id", "text").write.parquet(s"$corpus/w1")
    Seq((2L, "y", 3)).toDF("doc_id", "text", "extra").write.parquet(s"$corpus/w2")
    def moveAll(from: String, prefix: String): Unit =
      fs.listStatus(new Path(from)).filter(_.getPath.getName.endsWith(".parquet"))
        .zipWithIndex.foreach { case (st, i) =>
          fs.rename(st.getPath, new Path(corpus, s"$prefix-$i.parquet"))
        }
    moveAll(s"$corpus/w1", "part")
    moveAll(s"$corpus/w2", "compacted")
    Seq("w1", "w2").foreach(d => fs.delete(new Path(corpus, d), true))
    assert(sameAsSpark(corpus) == 0)
    assert(ParquetRead(spark, corpus).columns.contains("extra"))

    val log = tmp("graft-pr-tomb")
    (1 to 3).foreach(i => Seq(i.toLong).toDF("doc_id").write.parquet(s"$log/e$i"))
    assert(sameAsSpark((1 to 3).map(i => s"$log/e$i"): _*) == 0)

    // a `_metadata` summary outranks every data file
    val summarized = tmp("graft-pr-meta")
    Seq((1L, "a")).toDF("k", "s").write.parquet(s"$summarized/t")
    Seq((1L, "a", true)).toDF("k", "s", "flag").coalesce(1).write.parquet(s"$summarized/m")
    val metaSrc = fs.listStatus(new Path(s"$summarized/m"))
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath
    fs.rename(metaSrc, new Path(s"$summarized/t/_metadata"))
    assert(sameAsSpark(s"$summarized/t") == 0)
    assert(ParquetRead(spark, s"$summarized/t").columns.contains("flag"))
  }

  test("a TIMESTAMP(NANOS) column resolves like Spark's inference with nanosAsLong on and off") {
    val dir = tmp("graft-pr-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); required int32 k; }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L).append("k", 7))
    finally writer.close()
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assert(sameAsSpark(dir) == 0)
      assert(ParquetRead(spark, dir).select("ts").as[Long].head() == 1700000000123456789L)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      // Spark refuses the type; the helper falls back and raises Spark's error
      def failure(read: => Any): String = intercept[Throwable](read).getMessage
      assert(failure(ParquetRead(spark, dir).schema) == failure(spark.read.parquet(dir).schema))
    }
  }

  test("mergeSchema and an empty dir fall back to Spark's inference and Spark's error") {
    val root = tmp("graft-pr-merge")
    Seq((1L, "a")).toDF("k", "s").write.parquet(s"$root/v1")
    Seq((2L, 2.5)).toDF("k", "v").write.parquet(s"$root/v2")
    val paths = Seq(s"$root/v1", s"$root/v2")
    val merged = spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
    assert(merged.fieldNames.toSeq == Seq("k", "s", "v"))
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val (schema, jobs) = JobCounter.count(spark.sparkContext)(ParquetRead(spark, paths: _*).schema)
      assert(schema == merged && jobs > 0, s"$jobs jobs: ${schema.simpleString}")
    }

    val empty = tmp("graft-pr-empty")
    def condition(read: => Any): String = intercept[AnalysisException](read).getCondition
    assert(condition(ParquetRead(spark, empty)) == "UNABLE_TO_INFER_SCHEMA")
    assert(condition(spark.read.parquet(empty)) == "UNABLE_TO_INFER_SCHEMA")
  }

  test("building the catalog's table frames starts no Spark job") {
    val (_, lineitemJobs) = JobCounter.count(spark.sparkContext)(Tables.lineitem(spark, sfDir))
    assert(lineitemJobs == 0, s"Tables.lineitem started $lineitemJobs jobs")
    val (_, eventsJobs) = JobCounter.count(spark.sparkContext)(Sources.events(spark, sfDir))
    assert(eventsJobs == 0, s"Sources.events started $eventsJobs jobs")
  }

  test("src/main reads parquet without a schema only through ParquetRead") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // a read with options (mergeSchema, basePath) is Spark's inference on
    // purpose; a bare `.read.parquet(` is the one-footer case
    val schemaless = """\.read\s*\.parquet\(""".r
    val offenders = files(root).filter(_.getName != "ParquetRead.scala").flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      schemaless.findAllMatchIn(text).map(m =>
        s"${f.getName}:${text.substring(0, m.start).count(_ == '\n') + 1}")
    }
    assert(offenders.isEmpty, s"read through graft.sources.ParquetRead: $offenders")
  }
}
