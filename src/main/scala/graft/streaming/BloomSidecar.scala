package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import graft.sources.FsPublish
import org.apache.hadoop.fs.{FileSystem, Path}

/** The persisted corpus-bloom sidecar for continuous dedup ingestion
  * ([[Streaming.ingestBatch]]): the serialized bloom filter over the corpus
  * content keys plus the header needed to maintain it incrementally —
  * capacity (merge compatibility requires equal sizing), inserted-key count
  * (saturation detection), and a fingerprint of the corpus data-file NAME
  * SET at write time (staleness detection: the corpus advanced without a
  * sidecar swap ⇒ a crash landed in the append→swap window and the bloom
  * may under-cover the corpus, so it must be rebuilt rather than trusted).
  * The stamp is the name set, not a file count: an append plus a compaction
  * can net a count change of zero, but every write introduces fresh
  * UUID-bearing part names, so the set always moves.
  *
  * The bloom bytes are exactly what Spark's `BloomFilterAggregate` emits —
  * `org.apache.spark.util.sketch.BloomFilter` serialization — so filters
  * built by the aggregate, loaded from the sidecar, and OR-merged with
  * [[BloomSidecar.merge]] all probe identically via `mightContain`.
  *
  * The file lives INSIDE the corpus directory as `_bloom`: Spark's file
  * index, and [[graft.sources.ParquetRead]]'s listing with it, ignores
  * underscore-prefixed entries, so a corpus read is unaffected.
  */
final case class BloomSidecar(
    expectedItems: Long,
    insertedCount: Long,
    filesStamp: String,
    bloom: Array[Byte])

object BloomSidecar {

  private val Magic = 0x47424c32 // "GBL2"

  /** Default sidecar name (content-key filter of the exact-dedup gate). */
  val ContentName = "_bloom"

  /** Band-key sidecar of the NEAR-dup ingestion gate — same format, keys
    * from [[graft.operators.Dedup.bandProbeKeys]] instead of content hashes.
    */
  val BandName = "_bloom_bands"

  def path(corpusDir: Path, name: String = ContentName): Path = {
    require(name.startsWith("_"), "sidecar names must be underscore-prefixed (invisible to Spark's file index)")
    new Path(corpusDir, name)
  }

  /** Staleness stamp: digest of the sorted visible data-file names (the
    * same visibility rule Spark's file index applies). Any append or
    * compaction changes the set, so a stamp mismatch means the corpus moved
    * without a sidecar swap.
    */
  def filesStamp(fs: FileSystem, corpusDir: Path): String = {
    val names = fs.listStatus(corpusDir).collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") => st.getPath.getName
    }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    names.foreach { n => md.update(n.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Load the sidecar; None when absent or unreadable (any error degrades to
    * a rebuild, never a failed batch).
    */
  def read(fs: FileSystem, corpusDir: Path, name: String = ContentName): Option[BloomSidecar] = {
    try
      FsPublish.read(fs, path(corpusDir, name)) { in =>
        require(in.readInt() == Magic, "bad sidecar magic")
        val expected = in.readLong()
        val inserted = in.readLong()
        val stamp = in.readUTF()
        val len = in.readInt()
        val bytes = new Array[Byte](len)
        in.readFully(bytes)
        BloomSidecar(expected, inserted, stamp, bytes)
      }
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Published by [[FsPublish.replace]]: a reader never sees a torn sidecar;
    * a crash mid-swap leaves it absent, which the loader treats as a rebuild.
    */
  def write(fs: FileSystem, corpusDir: Path, sc: BloomSidecar, name: String = ContentName): Unit = {
    FsPublish.replace(fs, path(corpusDir, name)) { out =>
      out.writeInt(Magic)
      out.writeLong(sc.expectedItems)
      out.writeLong(sc.insertedCount)
      out.writeUTF(sc.filesStamp)
      out.writeInt(sc.bloom.length)
      out.write(sc.bloom)
    }
  }

  /** Bloom union: bitwise OR, valid because both sides were sized with the
    * same `expectedItems` (same bit count, same hash count). Delegates to
    * the sketch library's own merge so compatibility is CHECKED, not
    * assumed — an incompatible pair throws rather than silently corrupting
    * the filter's no-false-negative guarantee.
    */
  def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = org.apache.spark.util.sketch.BloomFilter.readFrom(new ByteArrayInputStream(a))
    val fb = org.apache.spark.util.sketch.BloomFilter.readFrom(new ByteArrayInputStream(b))
    fa.mergeInPlace(fb)
    val out = new ByteArrayOutputStream()
    fa.writeTo(out)
    out.toByteArray
  }
}
