package graft

import graft.operators.Dedup
import graft.streaming.{BloomSidecar, Streaming}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The batch gates (`Dedup.incremental*`) and the streaming gates
  * (`Streaming.ingest*Batch`) run one admission algorithm
  * (`Dedup.admit`); these specs pin that they admit the same rows through
  * both probe forms, and that the persisted sidecars keep their format.
  */
class AdmissionGateSpec extends SparkTestBase {
  import spark.implicits._

  private def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")

  private lazy val corpus: DataFrame = Seq(
    (1L, words("a", 40)), (2L, words("b", 40)), (3L, words("c", 40)),
    (4L, "seen one"), (5L, "seen two")).toDF("doc_id", "text")

  // exact clones, one-word re-crawls, within-batch duplicates, fresh rows
  private lazy val batch: DataFrame = Seq(
    (10L, words("a", 40)),           // exact clone of corpus 1
    (11L, "seen two"),               // exact clone of corpus 5
    (12L, words("b", 39) + " zz"),   // one-word re-crawl of corpus 2
    (13L, words("c", 39) + " yy"),   // one-word re-crawl of corpus 3
    (14L, words("d", 40)),           // fresh
    (15L, words("d", 40)),           // within-batch clone of 14
    (16L, words("d", 39) + " xx"),   // within-batch re-crawl of 14
    (17L, "brand new"),              // fresh
    (18L, "brand new"),              // within-batch clone of 17
    (19L, words("e", 40))            // fresh
  ).toDF("doc_id", "text")

  private def ids(df: DataFrame): Set[Long] = df.select("doc_id").as[Long].collect().toSet

  /** Seed a fresh corpus with `corpus`, ingest `batch`, return the ids the
    * batch landed.
    */
  private def streamed(ingest: (DataFrame, String) => Streaming.IngestStats): Set[Long] = {
    val dir = tempDir("graft-gate") + "/corpus"
    assert(ingest(corpus, dir).admitted == corpus.count(), "the seed corpus lands whole")
    ingest(batch, dir)
    ids(spark.read.parquet(dir)) -- ids(corpus)
  }

  test("ingestBatch admits what incrementalExact and incrementalExactTable admit") {
    val viaBloom = ids(Dedup.incrementalExact(corpus, batch, "doc_id", Seq("text")))
    val viaTable = ids(Dedup.incrementalExactTable(corpus, batch, "doc_id", Seq("text"),
      Dedup.KeyTable(Dedup.corpusContentKeys(corpus, Seq("text"), nShards = 4), nShards = 4)))
    assert(viaBloom == Set(12L, 13L, 14L, 16L, 17L, 19L), s"bloom: $viaBloom")
    assert(viaTable == viaBloom, s"table $viaTable != bloom $viaBloom")
    for (budget <- Seq(KeyTableSidecarDefault, 0L)) {
      val got = streamed((df, dir) =>
        Streaming.ingestBatch(df, dir, "doc_id", Seq("text"), sidecarMaxBytes = budget))
      assert(got == viaBloom, s"sidecarMaxBytes=$budget: streaming $got != batch $viaBloom")
    }
  }

  test("ingestNearDupBatch admits what incrementalMinhash admits, bloom and table") {
    val viaBloom = ids(Dedup.incrementalMinhash(corpus, batch, "doc_id", "text"))
    val viaTable = ids(Dedup.incrementalMinhash(corpus, batch, "doc_id", "text",
      bandKeyTable = Some(Dedup.KeyTable(Dedup.corpusBandKeys(corpus, "text", n = 3,
        numHashes = 64, bands = 16, seed = 42L, nShards = 4), nShards = 4))))
    assert(viaBloom == Set(14L, 17L, 19L), s"bloom: $viaBloom")
    assert(viaTable == viaBloom, s"table $viaTable != bloom $viaBloom")
    for (budget <- Seq(KeyTableSidecarDefault, 0L)) {
      val got = streamed((df, dir) =>
        Streaming.ingestNearDupBatch(df, dir, "doc_id", "text", sidecarMaxBytes = budget))
      assert(got == viaBloom, s"sidecarMaxBytes=$budget: streaming $got != batch $viaBloom")
    }
  }

  test("bloom sidecars keep their bytes, so an existing corpus gates with no rebuild") {
    import graft.functions.SketchFunctions.bloomFilterAgg
    def sidecarBytes(dir: String, name: String): Array[Byte] =
      BloomSidecar.read(target(dir).getFileSystem(spark.sparkContext.hadoopConfiguration),
        target(dir), name).get.bloom
    def target(dir: String) = new Path(dir)

    val exactDir = tempDir("graft-gate-fmt") + "/corpus"
    val s1 = Streaming.ingestBatch(corpus, exactDir, "doc_id", Seq("text"),
      expectedCorpusItems = 1000L)
    val expected = math.max(1000L, 2 * s1.admitted)
    val want = spark.read.parquet(exactDir)
      .agg(bloomFilterAgg(Dedup.contentBloomKey(Seq("text")), expected))
      .head().getAs[Array[Byte]](0)
    assert(sidecarBytes(exactDir, BloomSidecar.ContentName).sameElements(want),
      "_bloom must be the content-key aggregate over the admitted rows")
    val s2 = Streaming.ingestBatch(batch, exactDir, "doc_id", Seq("text"),
      expectedCorpusItems = 1000L)
    assert(!s2.rebuiltBloom, s"next batch must gate on the sidecar: $s2")

    val nearDir = tempDir("graft-gate-fmt") + "/corpus"
    val n1 = Streaming.ingestNearDupBatch(corpus, nearDir, "doc_id", "text",
      expectedCorpusBandKeys = 1000L)
    val expectedBands = math.max(1000L, 2 * n1.admitted * 16)
    val wantBands = spark.read.parquet(nearDir)
      .select(explode(Dedup.bandProbeKeys(col("text"), 3, 64, 16, 42L)).as("k"))
      .agg(bloomFilterAgg(col("k"), expectedBands))
      .head().getAs[Array[Byte]](0)
    assert(sidecarBytes(nearDir, BloomSidecar.BandName).sameElements(wantBands),
      "_bloom_bands must be the band-key aggregate over the admitted rows")
    val n2 = Streaming.ingestNearDupBatch(batch, nearDir, "doc_id", "text",
      expectedCorpusBandKeys = 1000L)
    assert(!n2.rebuiltBloom, s"next batch must gate on the sidecar: $n2")
  }

  private val KeyTableSidecarDefault = graft.streaming.KeyTableSidecar.DefaultMaxBytes
}
