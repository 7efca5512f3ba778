package graft

import graft.sources.ParquetRead

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All reads go through [[graft.sources.ParquetRead]]: the schema comes from
  * one footer read on the driver, so building a frame starts no Spark job,
  * and the read is a plain parquet scan, so Catalyst column pruning and
  * predicate pushdown reach it for free. At cluster scale the same calls
  * read a partitioned directory tree instead of a single file (through
  * Spark's own inference).
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    ParquetRead(spark, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, d: String): DataFrame = apply(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame = apply(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame = apply(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = apply(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = apply(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame = apply(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame = apply(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame = apply(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame = apply(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = apply(spark, d, "embeddings")
}
