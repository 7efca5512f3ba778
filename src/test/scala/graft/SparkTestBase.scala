package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** One shared local session per suite (lazy, reused across suites within the
  * forked test JVM via getOrCreate).
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-test")
      // the ENGINE's extensions (nanos pushdown rule + graft_* functions):
      // specs must exercise the planner users get from GraftSession, or
      // plan-shape assertions drift from production (the sweep suites found
      // exactly that — filters unpushed only under the bare test session)
      .withExtensions(graft.plans.GraftExtensions.inject)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // and the engine's file:// FileSystem and generated-class cache size,
      // for the same reason
      .config(GraftSession.localFs._1, GraftSession.localFs._2)
      .config(GraftSession.codegenCache._1, GraftSession.codegenCache._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = mutable.ArrayBuffer.empty[Path]

  /** A fresh directory in the JVM's temp dir, deleted with everything in it
    * after the suite.
    */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir.toString
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized {
      tempDirs.filter(Files.exists(_)).foreach { dir =>
        val tree = Files.walk(dir)
        try tree.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p): Unit)
        finally tree.close()
      }
      tempDirs.clear()
    } finally super.afterAll()
}
