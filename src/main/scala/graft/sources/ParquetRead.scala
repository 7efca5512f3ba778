package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.FooterBridge
import org.apache.spark.sql.types.StructType

/** The engine's one schema-less parquet read. `spark.read.parquet(p)` infers
  * the schema with a one-task Spark job that reads a single footer; this
  * reads that same footer in-process on the driver and then reads with
  * `spark.read.schema(s).parquet(p)`, so building a frame starts no job.
  *
  * The footer is the one Spark's non-merging inference picks: the leaf
  * files under Spark's hidden-name rule, sorted by path string, then
  * `_common_metadata`, else `_metadata`, else the first data file. It is
  * converted by Spark's own footer reader under the session's conf, so the
  * schema equals the inferred one.
  *
  * Whatever that one-footer rule cannot answer falls back to plain
  * `spark.read.parquet`, so Spark's result and Spark's error stay Spark's:
  * schema merging or ignored corrupt files in the session conf, globs,
  * hidden or missing paths, directories holding visible sub-directories
  * (partitioned `k=v` trees, nested layouts), a target with no data file,
  * and a footer that does not read. A read with options (`mergeSchema`,
  * `basePath`) stays a plain `spark.read.option(...)` at its call site.
  */
object ParquetRead {

  def apply(spark: SparkSession, paths: String*): DataFrame = {
    val schema = if (FooterBridge.touchesManyFooters(spark)) None else footerSchema(spark, paths)
    schema.fold(spark.read)(spark.read.schema).parquet(paths: _*)
  }

  private val GlobChars = "{}[]*?\\".toSet

  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (paths.exists(_.exists(GlobChars))) None
    else leafFiles(spark, paths).flatMap { leaves =>
      val sorted = leaves.sortBy(_.getPath.toString)
      def named(n: String) = sorted.find(_.getPath.getName == n)
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(sorted.find(st => !isSummary(st.getPath.getName)))
        .flatMap { st =>
          try FooterBridge.footerSchema(spark, st)
          catch { case NonFatal(_) => None }
        }
    }

  private def isSummary(name: String): Boolean =
    name == "_common_metadata" || name == "_metadata"

  /** The leaf files Spark would list, or None where a path is missing or
    * hidden, or a directory holds a visible sub-directory.
    */
  private def leafFiles(spark: SparkSession, paths: Seq[String]): Option[Seq[FileStatus]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val perPath = paths.map { p =>
      val path = new Path(p)
      try {
        val fs = path.getFileSystem(conf)
        val st = fs.getFileStatus(path)
        if (FooterBridge.hidden(st.getPath.getName)) None
        else if (st.isFile) Some(Seq(st))
        else {
          val children = fs.listStatus(st.getPath).toSeq
            .filterNot(c => FooterBridge.hidden(c.getPath.getName))
          if (children.exists(_.isDirectory)) None else Some(children)
        }
      } catch { case _: java.io.FileNotFoundException => None }
    }
    if (perPath.forall(_.isDefined)) Some(perPath.flatten.flatten) else None
  }
}
