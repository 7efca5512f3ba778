package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution

/** The two Spark internals the benchmark needs: running an already-planned
  * query under its own SQL execution id (so it is planned exactly once), and
  * draining the listener bus before reading what a listener recorded.
  */
object Bridge {
  /** Materializes every output row and column of `df` through the physical
    * plan already forced by `df.queryExecution.executedPlan`; returns the
    * row count.
    */
  def materialize(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator.single(n)
      }.collect().sum
    }
  }

  /** Like [[materialize]], also summing the long column at `ordinal`. */
  def materializeSum(df: DataFrame, ordinal: Int): (Long, Long) = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        var s = 0L
        while (it.hasNext) { s += it.next().getLong(ordinal); n += 1 }
        Iterator.single((n, s))
      }.collect().foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    }
  }

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
