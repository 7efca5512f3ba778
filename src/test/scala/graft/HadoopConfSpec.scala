package graft

import scala.jdk.CollectionConverters._

import graft.sources.v2.HadoopConf
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.api.ReadSupport

/** The graft-parquet connector parses Hadoop's default configuration once
  * per JVM ([[HadoopConf]]) and never mutates the shared copy.
  */
class HadoopConfSpec extends SparkTestBase {
  import spark.implicits._

  private def entries(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  /** Top-level argument count of the call whose `(` ends at `open`. */
  private def argCount(src: String, open: Int): Int = {
    var depth = 1
    var commas = 0
    var i = open
    while (depth > 0) {
      src.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 1 => commas += 1
        case _ =>
      }
      i += 1
    }
    commas + 1
  }

  test("src/main sources.v2 builds no Hadoop conf outside the one holder") {
    val root = new java.io.File("src/main/scala/graft/sources/v2")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val srcs = files(root).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f.getName -> src.mkString finally src.close()
    }.toMap
    val fresh = srcs.collect { case (n, s) if s.contains("new Configuration()") => n }.toSet
    assert(fresh == Set("HadoopConf.scala"),
      "take HadoopConf.shared (read-only) or HadoopConf.copy() (to set keys)")
    // the one-argument open builds read options over a fresh conf
    val oneArgOpens = srcs.toSeq.flatMap { case (n, s) =>
      "ParquetFileReader\\.open\\(".r.findAllMatchIn(s)
        .filter(m => argCount(s, m.end) == 1).map(_ => n)
    }
    assert(oneArgOpens.isEmpty,
      s"footer opens must pass HadoopReadOptions.builder(conf): $oneArgOpens")
    // the (readSupport, path) builder parses a fresh conf before withConf
    assert(!srcs.values.exists(_.contains("ParquetReader.builder(")),
      "build readers from an InputFile and the conf they hold")
  }

  test("a projected, filtered multi-file scan and an append leave the shared conf untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-conf").toString + "/t"
    (0 until 3).foreach { i =>
      Seq((i * 10L + 1L, s"a$i", i * 1.5), (i * 10L + 2L, s"b$i", i * 2.5))
        .toDF("k", "s", "v").coalesce(1)
        .write.format("graft-parquet").mode("append").save(dir)
    }
    val table = new org.apache.hadoop.fs.Path(dir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.sources.v2.GraftParquetWrite.listDataFiles(fs, table).length == 3)
    assert(spark.read.format("graft-parquet").load(dir)
      .filter($"k" > 5L && $"v" < 5.0).select("s")
      .as[String].collect().toSet == Set("a1", "b1", "a2"))
    Seq((31L, "c", 9.0)).toDF("k", "s", "v")
      .write.format("graft-parquet").mode("append").save(dir)
    assert(spark.read.format("graft-parquet").load(dir).filter($"v" > 4.0)
      .select("k").as[Long].collect().toSet == Set(22L, 31L))
    assert(HadoopConf.shared.get(ReadSupport.PARQUET_READ_SCHEMA) == null,
      "the reader must set its projection on a copy")
    // exactly what a fresh conf holds NOW: Hadoop reloads every registered
    // conf when a default resource is added (JobConf adds mapred-default),
    // so the comparison is against a fresh parse, not an earlier snapshot
    val shared = entries(HadoopConf.shared)
    val fresh = entries(new Configuration())
    val changed = (shared.keySet ++ fresh.keySet).filter(k => shared.get(k) != fresh.get(k))
    assert(changed.isEmpty, changed.toSeq.sorted.map(k => s"$k: ${fresh.get(k)} -> ${shared.get(k)}"))
  }
}
