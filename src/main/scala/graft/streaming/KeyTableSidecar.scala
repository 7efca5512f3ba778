package graft.streaming

import graft.sources.FsPublish
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metadata for a persisted key-TABLE sidecar ([[KeyTableSidecar]]):
  * shard modulus (probe compatibility — shard sets are only comparable at
  * the same modulus), total key count (cost accounting), and the same
  * corpus data-file-name stamp [[BloomSidecar]] uses for staleness
  * detection (corpus advanced without a sidecar swap ⇒ crash window ⇒
  * rebuild rather than trust).
  */
final case class KeyTableMeta(nShards: Int, keyCount: Long, filesStamp: String)

/** The DRIVER-MEMORY-UNBOUNDED sidecar for continuous dedup ingestion: a
  * hash-sharded parquet table of 64-bit probe keys, persisted inside the
  * corpus directory, replacing the single-byte-array bloom
  * ([[BloomSidecar]]) once a useful-FPR bloom would outgrow the gate's
  * byte budget ([[KeyTableSidecar.DefaultMaxBytes]] unless the caller
  * passes one).
  *
  * Why a table: the bloom is a PLAN LITERAL — it ships with every task
  * binary and lives whole in the driver, so its size budget is megabytes.
  * At a 100 TB corpus the band-key population is corpusRows × bands and a
  * useful-FPR bloom is tens of GB. The table form never materializes the
  * key set anywhere: the batch's keys (micro-batch-small by construction)
  * BROADCAST into an equi-join against the persisted table, pruned to the
  * shards the batch's keys hash into — the corpus-side key table is
  * scanned (pruned), never shuffled, and nothing key-set-sized ever
  * reaches the driver. The probe is EXACT (a key set, not a filter), so
  * the candidate set it yields is the true band-collision set — strictly
  * smaller than what a saturating bloom would flag.
  *
  * Layout: `<corpus>/_bands_table/__shard=<s>/part-*.parquet`, one BIGINT
  * column `__k`, shard = `pmod(__k, nShards)`. The underscore-prefixed
  * directory is invisible to Spark's file index (corpus reads are
  * unaffected) while the `=`-bearing shard directories inside it stay
  * visible to the explicit sidecar read. Appends are plain partitioned
  * parquet appends; the meta file swaps in AFTER the corpus and key
  * appends (same crash ordering as the bloom sidecar: a crash in the
  * window leaves the stamp stale, forcing a rebuild — the table never
  * under-covers the corpus it gates).
  */
object KeyTableSidecar {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val Magic = 0x474b5431 // "GKT1"

  /** Band-key table of the near-dup ingestion gate (keys from
    * [[graft.operators.Dedup.bandProbeKeys]]).
    */
  val BandName = "_bands_table"

  /** Content-key table of the exact ingestion gate (keys from
    * [[graft.operators.Dedup.contentBloomKey]], one per corpus row).
    */
  val ContentName = "_content_table"

  /** Default byte budget above which ingestion gates switch from the bloom
    * sidecar to this table form. The bloom is a plan literal, so the
    * budget bounds driver + per-task-binary memory.
    */
  val DefaultMaxBytes: Long = 64L * 1024 * 1024

  /** The shard modulus of a NEW table under [[graft.Sizing.Auto]]: the
    * modulus is a probe-compat layout constant once written (the meta
    * carries it), but its VALUE tracks the key bytes it shards — ~9 bytes
    * per persisted 64-bit key (parquet framing included), one shard per
    * [[graft.Sizing.KeyTableShardBytes]]. Saturation rebuilds re-derive,
    * so a growing corpus re-shards amortized-O(log n) times.
    */
  def deriveShards(keyCount: Long): Int =
    graft.Sizing.count(BigInt(keyCount) * 9, graft.Sizing.KeyTableShardBytes,
      graft.Sizing.MaxShards)

  /** Estimated serialized size of a bloom sized for `keys` items at the
    * aggregate's default FPR (~3% ⇒ ~7.3 bits/key) — the mode-switch
    * estimate; exactness is not needed to pick a storage format.
    */
  def estimatedBloomBytes(keys: Long): Long = keys * 92L / 100L + 64L

  def dir(corpusDir: Path, name: String = BandName): Path = {
    require(name.startsWith("_"),
      "sidecar names must be underscore-prefixed (invisible to Spark's file index)")
    new Path(corpusDir, name)
  }

  private def metaPath(corpusDir: Path, name: String): Path =
    new Path(corpusDir, name + ".meta")

  /** Load the meta; None when absent or unreadable (degrades to a rebuild,
    * never a failed batch).
    */
  def readMeta(fs: FileSystem, corpusDir: Path, name: String = BandName): Option[KeyTableMeta] = {
    try
      FsPublish.read(fs, metaPath(corpusDir, name)) { in =>
        require(in.readInt() == Magic, "bad key-table meta magic")
        KeyTableMeta(in.readInt(), in.readLong(), in.readUTF())
      }
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Published by [[FsPublish.replace]], like the bloom sidecar. */
  def writeMeta(fs: FileSystem, corpusDir: Path, meta: KeyTableMeta, name: String = BandName): Unit = {
    FsPublish.replace(fs, metaPath(corpusDir, name)) { out =>
      out.writeInt(Magic)
      out.writeInt(meta.nShards)
      out.writeLong(meta.keyCount)
      out.writeUTF(meta.filesStamp)
    }
  }

  /** Cluster a (`__shard`, `__k`) frame so a partitioned write emits at
    * most `subSplits`-per-shard files — shared by [[appendKeys]] (constant
    * modulus) and [[compact]] (per-shard modulus looked up by `__shard`).
    * The salt must mix ALL bits: a shard's keys share their low bits by
    * construction (shard = k mod nShards), so any low-bit-only salt (e.g.
    * k * odd-constant mod subSplits) COLLAPSES to one value whenever
    * subSplits shares a factor with nShards — silently un-splitting the
    * write. xxhash64 has full avalanche and never overflows under ANSI
    * mode.
    */
  private def clusterByShard(sharded: DataFrame, subSplits: Column): DataFrame =
    sharded.repartition(col("__shard"), pmod(xxhash64(col("__k")), subSplits))

  private def clusterByShard(sharded: DataFrame, subSplits: Int): DataFrame =
    if (subSplits == 1) sharded.repartition(col("__shard"))
    else clusterByShard(sharded, lit(subSplits.toLong))

  /** Append `keys` (one BIGINT column named `__k`) to the sharded table —
    * a plain partitioned parquet append, executor-side end to end.
    * `subSplits` bounds the files-per-shard of one write: micro-batch
    * appends use 1 (one file per touched shard — without the repartition,
    * partitionBy fans out up to one file per input partition per shard,
    * pushing every shard past the compaction bound after a single wide
    * batch); a full-table [[rebuild]] uses more, because hash-clustering
    * purely on `__shard` would funnel a multi-billion-key rebuild through
    * nShards tasks writing one monolithic file each.
    */
  def appendKeys(keys: DataFrame, corpusDir: Path, nShards: Int, name: String = BandName,
      subSplits: Int = 1): Unit = {
    require(subSplits >= 1, "subSplits must be positive")
    val sharded = keys
      .select(pmod(col("__k"), lit(nShards.toLong)).cast("int").as("__shard"), col("__k"))
    clusterByShard(sharded, subSplits)
      .write.mode("append").partitionBy("__shard")
      .parquet(dir(corpusDir, name).toString)
  }

  /** Drop any existing table and write `keys` fresh (rebuild path). The
    * caller writes the meta AFTER, so a crash mid-rebuild leaves a stale
    * stamp and the next batch rebuilds again.
    */
  def rebuild(fs: FileSystem, keys: DataFrame, corpusDir: Path, nShards: Int,
      name: String = BandName): Unit = {
    val d = dir(corpusDir, name)
    if (fs.exists(d)) fs.delete(d, true)
    // a rebuild writes the WHOLE key set once: spread each shard over
    // several writers (files stay within the compaction bound) instead of
    // the per-append one-file-per-shard clustering
    appendKeys(keys, corpusDir, nShards, name, subSplits = 8)
  }

  private val KeySchema = "__k BIGINT, __shard INT"

  /** The persisted table as a DataFrame (`__shard` recovered as a
    * partition column, so an `isin` filter on it prunes whole shard
    * directories at planning time). The schema is EXPLICIT, not inferred:
    * a table every key of which was purged has zero shard directories
    * left, and inference over the empty directory would throw ("unable to
    * infer schema") on what is a perfectly valid — empty — gate state.
    */
  def load(spark: SparkSession, corpusDir: Path, name: String = BandName): DataFrame =
    spark.read.schema(KeySchema)
      .parquet(dir(corpusDir, name).toString)

  /** Remove `keys` (one BIGINT column `__k`) from the table, rewriting
    * ONLY the shards they hash into — the affected set derives from the
    * keys themselves (shard = k mod nShards), so discovery costs nothing
    * and the rewrite prunes to the touched shard directories. Returns the
    * number of key rows removed (append-replay duplicates of a key all
    * leave together).
    *
    * Crash safety: the gate's meta is INVALIDATED (deleted) here, before
    * any shard directory is touched — so a crash at any point (including
    * between CLEARing the affected shards and promoting their staged
    * survivors, which momentarily drops those shards' surviving keys)
    * leaves NO trusted stamp, and the next reader falls back to a one-scan
    * rebuild rather than trusting a table that may under-cover. A rerun
    * first rolls a fully staged predecessor forward, then purges what is
    * still left. Callers that purge the corpus too
    * ([[graft.streaming.Streaming.purgeCorpus]]) write a fresh meta AFTER
    * this returns, restoring the fast path; a standalone purgeKeys leaves
    * the gate in rebuild mode, which is correct, just slower, until the
    * next stamp. Note the correctness asymmetry with
    * [[compact]]: compaction must never LOSE a key; a purge must never
    * UNDER-delete one whose content left the corpus — the caller
    * guarantees the key set it passes has no surviving holder (a key a
    * survivor still produces must NOT be in `keys`: the gate admits
    * probe-negative rows without the exact confirm, so over-deletion
    * re-admits duplicate content).
    */
  def purgeKeys(spark: SparkSession, fs: FileSystem, corpusDir: Path,
      keys: DataFrame, nShards: Int, name: String = BandName): Long = {
    val d = dir(corpusDir, name)
    if (!fs.exists(d)) return 0L
    val staging = new Path(d, "_purge_stage")
    val staged = new Path(staging, "data")
    // a predecessor that failed after staging its survivors rolls forward
    if (fs.exists(new Path(staged, "_SUCCESS"))) swapShards(fs, d, staging, shardDirs(fs, staged))
    val wanted = keys.select(col("__k")).na.drop().distinct()
    val affected = wanted
      .select(pmod(col("__k"), lit(nShards.toLong)).cast("int").as("__shard"))
      .distinct().collect().map(_.getInt(0)).sorted
    val present = affected.filter(s => fs.exists(new Path(d, s"__shard=$s")))
    if (present.isEmpty) return 0L
    val table = load(spark, corpusDir, name)
    val scoped = table.filter(col("__shard").isin(present.map(Int.box): _*))
    val removed = scoped.join(wanted, Seq("__k"), "left_semi").count()
    if (removed == 0L) return 0L
    // invalidate BEFORE mutating shard dirs (see Scaladoc): lost key ⇒
    // duplicate content admitted is the one forbidden failure, and the
    // missing stamp turns every crash window below into a rebuild instead
    val mp = metaPath(corpusDir, name)
    if (fs.exists(mp)) fs.delete(mp, false)
    fs.delete(staging, true)
    // same spread policy as a rebuild: a big shard rewrites across
    // several tasks, not one monolithic coalesce
    clusterByShard(scoped.join(wanted, Seq("__k"), "left_anti")
      .select(col("__shard"), col("__k")), subSplits = 8)
      .write.partitionBy("__shard").parquet(staged.toString)
    // an emptied shard has no staged copy: its CLEAR is the whole purge
    swapShards(fs, d, staging, present.map(s => s"__shard=$s"))
    removed
  }

  private def shardDirs(fs: FileSystem, p: Path): Seq[String] =
    fs.listStatus(p).toSeq.map(_.getPath.getName).filter(_.startsWith("__shard="))

  /** CLEAR the top shard dirs `clear`, promote every staged shard, and drop
    * the staging only once every move has landed.
    */
  private def swapShards(fs: FileSystem, d: Path, staging: Path, clear: Seq[String]): Unit = {
    clear.foreach(s => fs.delete(new Path(d, s), true))
    val staged = new Path(staging, "data")
    FsPublish.promote(fs, shardDirs(fs, staged).map(s => new Path(staged, s) -> new Path(d, s)))
    fs.delete(staging, true)
  }

  /** Bound each shard's file count: a shard that accretes more than
    * `maxFilesPerShard` part files (one tiny file per touched shard per
    * micro-batch) has its SMALL tier — files under `tierBytes` — rewritten
    * compacted. Two scale properties:
    *
    *   - ONE job for the whole table: every over-bound shard's small files
    *     are read in a single Spark job (`__shard` recovered from the path
    *     via basePath) and written back `partitionBy("__shard")` — the
    *     compaction parallelizes across shards AND across a big shard's
    *     bytes (input files bundle up to `maxPartitionBytes` per task, so
    *     a shard whose small tier outgrows one task splits naturally),
    *     instead of the previous one-serial-`coalesce(1)`-job-per-shard
    *     driver loop.
    *   - SIZE-TIERED: files that already reached `tierBytes` are left
    *     alone forever. Without the tier, every compaction rewrote the
    *     shard's entire history — O(shard-bytes) each time, quadratic
    *     cumulative cost over a long stream; with it, a key's bytes are
    *     rewritten only until its file graduates from the small tier.
    *
    * Crash-safe by ADD-THEN-DELETE: the union of the old small files is
    * appended INTO the shard directories first, and only then are exactly
    * those old files deleted — a crash at any point leaves every key still
    * present (possibly duplicated, which the probe's semi-join + distinct
    * absorbs), never missing. Under-coverage is the one failure this
    * sidecar must never have (a lost key admits a duplicate); duplicate
    * keys only cost probe work. Content-preserving, so the meta (stamped
    * by CORPUS files, not table files) stays valid across compactions.
    */
  def compact(
      spark: SparkSession, fs: FileSystem, corpusDir: Path,
      name: String = BandName, maxFilesPerShard: Int = 16,
      tierBytes: Long = 64L << 20): Unit = {
    val d = dir(corpusDir, name)
    if (!fs.exists(d)) return
    val smallTiers = fs.listStatus(d).toSeq.flatMap { sh =>
      if (sh.isDirectory && sh.getPath.getName.contains("=")) {
        val data = fs.listStatus(sh.getPath).filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        val small = data.filter(_.getLen < tierBytes)
        // the bound is on total files, but only the small tier rewrites —
        // and only when merging actually reduces the count
        if (data.length > maxFilesPerShard && small.length > 1) small.toSeq
        else Nil
      } else Nil
    }
    if (smallTiers.isEmpty) return
    // per-SHARD output file budget: ~tierBytes per file from that shard's
    // OWN small-tier bytes. A global budget derived from the biggest shard
    // would fragment every cold shard into as many files as the hottest
    // one needs — under skew a 17-tiny-file shard would rewrite into 16
    // files instead of 1 and never converge below maxFilesPerShard. The
    // per-shard salt modulus rides a broadcast map literal, so the whole
    // compaction is still ONE job.
    // shard ids parse from the partition dir names; a NON-numeric dir
    // (a null-keyed append's __HIVE_DEFAULT_PARTITION__, or a foreign
    // tree) is left uncompacted rather than crashing every future
    // compaction of the healthy shards
    val (parsed, alien) = smallTiers.partition(
      _.getPath.getParent.getName.split("=", 2)(1).forall(_.isDigit))
    if (parsed.isEmpty) return
    val splitsByShard: Map[Int, Long] = parsed
      .groupBy(_.getPath.getParent.getName.split("=", 2)(1).toInt)
      .map { case (shard, files) =>
        val bytes = files.map(_.getLen).sum
        shard -> graft.Sizing.count(bytes, tierBytes, Int.MaxValue).toLong
      }
    val splitsLookup = map(splitsByShard.toSeq.flatMap { case (shard, n) =>
      Seq(lit(shard), lit(n)) }: _*)
    val merged = spark.read.schema(KeySchema).option("basePath", d.toString)
      .parquet(parsed.map(_.getPath.toString): _*)
    clusterByShard(merged, element_at(splitsLookup, col("__shard").cast("int")))
      .write.mode("append").partitionBy("__shard").parquet(d.toString)
    parsed.foreach(st => fs.delete(st.getPath, false))
    alien.foreach(st => log.warn(
      s"compact: skipping non-numeric shard file ${st.getPath}"))
  }

  /** Delete table + meta (mode switch back to bloom, or teardown). META
    * FIRST: the stamp only covers corpus files, so a crash after deleting
    * the table but before the meta would leave a fresh-looking meta
    * pointing at a missing table — every subsequent batch would fail on
    * the load instead of rebuilding. Meta-first, the crash window leaves
    * an orphan table directory that the next rebuild simply overwrites.
    */
  def delete(fs: FileSystem, corpusDir: Path, name: String = BandName): Unit = {
    val m = metaPath(corpusDir, name)
    if (fs.exists(m)) fs.delete(m, false)
    val d = dir(corpusDir, name)
    if (fs.exists(d)) fs.delete(d, true)
  }
}
