package graft

import org.apache.spark.sql.DataFrame

/** The one sizing rule: every data-derived count in the engine (kernel
  * fan-out, BM25 shard modulus and writer splits, key-table shard modulus)
  * is a byte estimate ceil-divided by a per-unit byte target and clamped to
  * `[1, cap]`. The targets are constants, not session knobs: the same rule
  * sizes a test corpus and a 100 TB corpus, and at scale every estimate
  * saturates its cap (the slot count, [[MaxShards]]), so the targets only
  * bite small frames.
  *
  * Estimates come from the optimizer (`sizeInBytes`): file-size-based for
  * scans and conservative, so an over-estimate yields more units — the
  * safe direction. A 0-byte estimate (an empty local relation) yields 1.
  */
object Sizing {

  /** Per-partition input bytes of a CPU-dense vector kernel (MinHash
    * signatures, cosine scans). Measured on a 32-core rig over the 12
    * spread-fed queries at sf0.1, floors {1, 64K, 128K, 256K, 1M, 4M}:
    * 64 KiB won (17.7 s → 13.4 s, no query worse than fanning every frame
    * to every slot). Fanning a KB-scale frame to all slots inverts — 32
    * near-empty shuffle partitions cost more scheduling than the kernel
    * saves.
    */
  val VectorKernelBytes: Long = 64L << 10

  /** Per-partition input bytes of a text kernel (tokenize, n-gram/minhash
    * explode): roughly 4x the per-byte CPU of a vector kernel, so a quarter
    * of the floor. At 64 KiB the 584 KB sf0.1 documents table collapsed
    * doc_triangles/doc_pagerank's shingle kernel to ~9 partitions (~1.7x
    * slower); 16 KiB restored them.
    */
  val TextKernelBytes: Long = 16L << 10

  /** Input bytes per BM25 postings shard: a 100 TB corpus lands in the
    * thousands of shards (the directory-pruning granularity a query's term
    * set wants), a test corpus at 1.
    */
  val Bm25ShardBytes: Long = 16L << 30

  /** Persisted key bytes per key-table sidecar shard: a fixed 64 shards
    * made a KB-scale gate pay 64 shard dirs per append (~1.1 s of
    * single-threaded FS commits per micro-batch) while a 100 TB corpus
    * wants thousands.
    */
  val KeyTableShardBytes: Long = 64L << 20

  /** Upper clamp of every derived shard modulus. */
  val MaxShards = 16384

  /** `ceil(estimateBytes / bytesPerUnit)`, clamped to `[1, cap]`. */
  def count(estimateBytes: BigInt, bytesPerUnit: Long, cap: Int): Int =
    ((estimateBytes + bytesPerUnit - 1) / bytesPerUnit)
      .min(BigInt(cap)).max(BigInt(1)).toInt

  /** The optimizer's size estimate for `df`'s plan. */
  def estimate(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** How many partitions a CPU-dense kernel over `df` should fan out to:
    * one per `bytesPerPartition` of its estimate, capped at
    * `defaultParallelism`.
    */
  def kernelWidth(df: DataFrame, bytesPerPartition: Long): Int =
    count(estimate(df), bytesPerPartition, df.sparkSession.sparkContext.defaultParallelism)

  /** A caller's choice of a layout count (shard modulus, writer splits):
    * derived from the data, or fixed.
    */
  sealed trait Count {
    def orElse(derived: => Int): Int = this match {
      case Fixed(n) => n
      case Auto => derived
    }
  }
  case object Auto extends Count
  final case class Fixed(n: Int) extends Count {
    require(n >= 1, s"a fixed count must be positive, got $n")
  }
}
