package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The JVM's generated-class cache holds the engine's working set: a plan
  * that ran once compiles nothing when it runs again, even after more
  * distinct plans than Spark's default cache holds ran in between.
  */
class CodegenCacheSpec extends SparkTestBase {

  /** Janino compiles so far in this JVM. */
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a cycle of 150 distinct generated sources compiles once, not once per pass") {
    // a primitive literal is written into the generated code, so each `i` is
    // a new source; the salt keeps them new to a JVM that ran this before
    val salt = System.nanoTime() & 0xffffffffL
    def cycle(): Long = {
      val before = compiles()
      (0 until 150).foreach { i =>
        val rows = spark.range(4).selectExpr(s"id + ${salt + i}L AS v").collect()
        assert(rows.map(_.getLong(0)).toSeq == (0L until 4L).map(_ + salt + i))
      }
      compiles() - before
    }
    val first = cycle()
    assert(first >= 150, s"the first cycle compiled $first sources, fewer than it defines")
    assert(cycle() == 0L)
  }
}
