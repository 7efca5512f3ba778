package graft

import graft.sources.v2.GraftTableOptimize
import graft.streaming.{Bm25Index, KeyTableSidecar}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one sizing rule against the per-site formulas it replaced:
  * every positive estimate must size exactly as before (plans, exchange
  * pins and outputs depend on it); only the degenerate 0-byte estimate
  * changed, to 1 everywhere.
  */
class SizingSpec extends AnyFunSuite {

  private val KiB = 1L << 10
  private val GiB = 1L << 30
  private val estimates: Seq[BigInt] = Seq(1L, 16 * KiB, 64 * KiB - 1, 64 * KiB,
    64 * KiB + 1, GiB, 100L * 1000 * 1000 * 1000 * 1000).map(BigInt(_))
  private val slotCounts = Seq(4, 32)

  private def ceilClamp(est: BigInt, per: Long, cap: Int): Int =
    ((est + per - 1) / per).min(BigInt(cap)).max(BigInt(1)).toInt

  // the formulas as they stood per call site, 0-byte branches included
  private def oldKernelWidth(est: BigInt, slots: Int, floor: Long): Int =
    if (est <= 0) slots else ceilClamp(est, floor, slots)
  private def oldBm25Shards(est: BigInt): Int =
    if (est <= 0) 64 else ceilClamp(est, 16L << 30, 16384)
  private def oldBm25Splits(est: BigInt, slots: Int, mod: Int): Int = {
    val width = oldKernelWidth(est, slots, 16L << 10)
    math.max(1, (width + mod - 1) / mod)
  }
  private def oldKeyTableShards(keyCount: Long): Int =
    if (keyCount <= 0) 1
    else math.min(16384L, math.max(1L, (keyCount * 9L + (64L << 20) - 1) / (64L << 20))).toInt
  private def oldMaintenanceFiles(bytes: Long, targetBytes: Long): Int =
    math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)

  private def vectorWidth(est: BigInt, slots: Int) =
    Sizing.count(est, Sizing.VectorKernelBytes, slots)
  private def textWidth(est: BigInt, slots: Int) =
    Sizing.count(est, Sizing.TextKernelBytes, slots)

  test("every call-site kind sizes positive estimates exactly as its old formula") {
    for (est <- estimates; slots <- slotCounts) {
      val at = s"est=$est slots=$slots"
      assert(vectorWidth(est, slots) == oldKernelWidth(est, slots, 64L << 10), s"vector $at")
      assert(textWidth(est, slots) == oldKernelWidth(est, slots, 16L << 10), s"text $at")
      assert(Bm25Index.deriveShards(est) == oldBm25Shards(est), s"bm25 shards $at")
      for (mod <- Seq(1, 3, 8, 64, 16384))
        assert(Bm25Index.deriveSplits(textWidth(est, slots), mod) ==
          oldBm25Splits(est, slots, mod), s"bm25 splits $at mod=$mod")
    }
    for (keys <- estimates.map(_.toLong))
      assert(KeyTableSidecar.deriveShards(keys) == oldKeyTableShards(keys), s"keys=$keys")
    // table maintenance output files, at the default target and at 1 B
    // per file (100 TB saturates Int there, as the old toInt did)
    for (target <- Seq(128L << 20, 1L);
         bytes <- estimates.map(_.toLong) ++ Seq(target - 1, target, target + 1) if bytes > 0)
      assert(GraftTableOptimize.outputFiles(bytes, target) == oldMaintenanceFiles(bytes, target),
        s"maintenance bytes=$bytes target=$target")
  }

  test("the table spans both clamps, so the pins above are not vacuous") {
    assert(vectorWidth(BigInt(1), 32) == 1)
    assert(vectorWidth(BigInt(64 * KiB + 1), 32) == 2)
    assert(textWidth(BigInt(GiB), 32) == 32)
    assert(Bm25Index.deriveShards(BigInt(100L) << 40) == 6400)
    assert(Bm25Index.deriveSplits(textWidth(BigInt(GiB), 32), 3) == 11)
    assert(KeyTableSidecar.deriveShards(100L << 40) == Sizing.MaxShards)
    assert(GraftTableOptimize.outputFiles((128L << 20) + 1, 128L << 20) == 2)
    assert(GraftTableOptimize.outputFiles(100L << 40, 1L) == Int.MaxValue)
    // a smaller per-unit target derives more units from the same estimate
    assert(Sizing.count(BigInt(KiB), 64L, Sizing.MaxShards) == 16)
    assert(Sizing.count(BigInt(KiB), Sizing.Bm25ShardBytes, Sizing.MaxShards) == 1)
  }

  test("a 0-byte estimate sizes to 1 at every site") {
    for (slots <- slotCounts) {
      assert(vectorWidth(BigInt(0), slots) == 1)
      assert(textWidth(BigInt(0), slots) == 1)
      assert(Bm25Index.deriveSplits(textWidth(BigInt(0), slots), 8) == 1)
    }
    assert(Bm25Index.deriveShards(BigInt(0)) == 1)
    assert(KeyTableSidecar.deriveShards(0L) == 1)
    assert(GraftTableOptimize.outputFiles(0L, 128L << 20) == 1)
  }

  test("Auto defers to the derivation, Fixed ignores it, Fixed rejects non-positive") {
    assert(Sizing.Auto.orElse(7) == 7)
    assert(Sizing.Fixed(3).orElse(sys.error("Fixed must not derive")) == 3)
    intercept[IllegalArgumentException](Sizing.Fixed(0))
  }

  test("src/main declares no spark.graft session keys beyond checkpointing") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val literal = "\"(spark\\.graft\\.[^\"]*)\"".r
    val keys = files(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try literal.findAllMatchIn(src.mkString).map(_.group(1)).toList
      finally src.close()
    }.toSet
    assert(keys == Set("spark.graft.checkpoint.mode", "spark.graft.checkpoint.dir"),
      "size from graft.Sizing's constants instead of a new session knob")
  }
}
