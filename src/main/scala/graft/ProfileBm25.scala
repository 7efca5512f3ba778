package graft

import org.apache.spark.sql.functions._

/** Phase-by-phase timing of the bm25_index_purge lifecycle (bench's slowest
  * query): which of ingest / purge / topK / vacuum owns the wall time.
  */
object ProfileBm25 {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = GraftSession.get("graft-profile-bm25")
    import s.implicits._
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[phase] $label%-22s ${(System.nanoTime() - t0) / 1e9}%6.2f s"); r
    }
    val shardChoices = if (args.isEmpty) Seq(64, 64) else args.map(_.toInt).toSeq
    shardChoices.zipWithIndex.foreach { case (nSh, round) =>
      println(s"--- round $round (nShards=$nSh) ---")
      val idx = java.nio.file.Files.createTempDirectory("bm25prof").toString + "/index"
      val docs = Tables.documents(s, dir)
      if (round == 0) docs.count() // warm scan
      time("ingest b0")(streaming.Bm25Index.ingestBatch(
        docs.filter(col("doc_id") % 2 === 0), idx, "doc_id", "text", batchId = 0L,
        nShards = Sizing.Fixed(nSh)))
      time("ingest b1")(streaming.Bm25Index.ingestBatch(
        docs.filter(col("doc_id") % 2 === 1), idx, "doc_id", "text", batchId = 1L,
        nShards = Sizing.Fixed(nSh)))
      time("purge")(streaming.Bm25Index.purge(s, idx,
        docs.select(col("doc_id")).filter(pmod(col("doc_id"), lit(9)) === 0), "doc_id"))
      val queries = Seq(
        (0L, "spark join performance"),
        (1L, "window agg order"),
        (2L, "hash table scan")).toDF("query_id", "qtext")
      val logical = time("topk1+materialize")(Checkpointing.materialize(
        streaming.Bm25Index.topK(s, idx, queries, k = 10)))
      time("vacuum")(streaming.Bm25Index.vacuum(s, idx))
      val physical = streaming.Bm25Index.topK(s, idx, queries, k = 10)
        .withColumnsRenamed(Map("rank" -> "__r2", "score" -> "__s2"))
      time("topk2+join+count")(
        logical.join(physical, Seq("query_id", "doc_id"), "full_outer").count())
    }
    s.stop()
  }
}
