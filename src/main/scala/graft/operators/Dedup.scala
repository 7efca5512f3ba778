package graft.operators

import graft.Checkpointing
import graft.functions.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for training-data pipelines.
  *
  * Scale design: every variant avoids the O(n²) all-pairs trap. Exact dedup
  * is one hash shuffle on a digest; the near-dup family (MinHash-LSH,
  * SimHash, n-gram Jaccard, embedding cosine) first buckets candidates with a
  * locality-sensitive key — so the only join is an equi-join on (band,
  * bucket), which Spark shuffles by key — and verifies pairs inside buckets.
  * Bucket skew is bounded by the band hash; AQE skew-join splitting covers
  * the rest. Nothing ever collects to the driver.
  *
  * The keep-rule is deterministic everywhere: the smallest id in a duplicate
  * group survives.
  */
object Dedup {

  /** Exact dedup on a content digest: keep the smallest id per digest.
    * One shuffle on the digest and a SINGLE scan of the input (row_number
    * keep-first, not groupBy+semi-join — the join formulation scans the
    * input twice and re-runs both halves every time a caller's plan
    * references the result more than once, e.g. the two sides of an LSH
    * banded self-join).
    */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // JSON-encoded struct, not concat_ws: concat_ws silently drops null
    // columns, which made a null document and an empty one hash identically
    val digest = md5(to_json(struct(contentCols.map(col): _*)))
    val w = Window.partitionBy(digest).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The pair-join ops' narrow precompose: (id, content) of the min-id
    * representative per distinct content. ONE explicit hash shuffle on the
    * digest with `defaultParallelism` output partitions — the window's
    * required distribution is already satisfied, so no second exchange, and
    * the explicit partition count keeps AQE from coalescing a small output
    * to one partition (which would serialize the CPU-dense signature
    * kernels computed downstream of this frame).
    */
  private def distinctContent(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // scale-adaptive, not raw defaultParallelism: the explicit count is
    // still pinned (exempt from AQE coalescing, so the downstream kernels
    // keep their parallelism), but a KB-scale frame no longer shuffles
    // into one near-empty partition per slot (Sizing.VectorKernelBytes)
    val target = graft.Sizing.kernelWidth(
      df.select(col(idCol), col(contentCol)), graft.Sizing.VectorKernelBytes)
    df.select(col(idCol), col(contentCol))
      .withColumn("__digest", md5(to_json(struct(col(contentCol)))))
      .repartition(target, col("__digest"))
      .withColumn("__rn", row_number().over(Window.partitionBy(col("__digest")).orderBy(col(idCol))))
      .filter(col("__rn") === 1)
      .select(col(idCol), col(contentCol))
  }

  /** Deterministic MinHash parameters derived from a fixed seed (splitmix64
    * sequence). Public so tests can reproduce signatures.
    */
  def minhashParams(numHashes: Int, seed: Long = 42L): (Array[Long], Array[Long]) = {
    var s = seed
    def next(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val a = Array.fill(numHashes)(next() | 1L) // odd multipliers
    val b = Array.fill(numHashes)(next())
    (a, b)
  }

  /** MinHash signature column: for each of `numHashes` hash families
    * `h_i(x) = floorMod(a_i * x + b_i, 2^61-1)`, the min over the document's
    * shingle hashes. The signature loop is a native expression
    * ([[graft.functions.HashExpressions.MinHashSig]]) — one primitive pass
    * per row, no shuffle, and no ANSI overflow on the deliberate wraparound.
    */
  def minhashSignature(shingles: Column, numHashes: Int, seed: Long = 42L): Column = {
    val (a, b) = minhashParams(numHashes, seed)
    graft.functions.HashExpressions.minhashSig(transform(shingles, s => xxhash64(s)), a, b)
  }

  /** MinHash signature straight from the token column: tokens are hashed and
    * folded into n-gram shingle hashes in ONE codegen'd pass
    * ([[graft.functions.HashExpressions.NGramHashes]]) — the
    * `transform(sequence, i -> concat_ws(slice(...)))` shingle formulation
    * re-evaluates the token split per shingle inside the interpreted lambda
    * (O(tokens²) regex work per row, the dominant cost of the first
    * implementation at bench scale).
    */
  def minhashSignatureFromTokens(tokens: Column, shingleSize: Int, numHashes: Int, seed: Long = 42L): Column = {
    val (a, b) = minhashParams(numHashes, seed)
    graft.functions.HashExpressions.minhashSig(
      graft.functions.HashExpressions.ngramHashes(tokens, shingleSize), a, b)
  }

  /** MinHash + LSH near-duplicate removal.
    *
    * numHashes = bands * rowsPerBand; two docs collide in a band with
    * probability s^rowsPerBand (s = Jaccard similarity), so the standard
    * (bands, rows) knobs trade recall vs. candidate volume. Candidates are
    * found by exploding (band, bandHash) keys and self-grouping — an
    * equi-shuffle, never a cross join. A doc is dropped when any bucket
    * contains a smaller id (greedy representative rule — transitive chains
    * collapse to the bucket minimum per band; deterministic).
    */
  def minhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // no exact-dup precompose here: the greedy keep-rule is a WINDOW min per
    // (band, bucket) — linear in bucket size, so an identical-document flood
    // costs a sort, never a quadratic pair join (the pair-verifying ops
    // below are the ones that need the precompose)
    val sig = minhashSignatureFromTokens(TextAnalysis.tokens(col(textCol)), shingleSize, numHashes, seed)
    // spread BEFORE the signature projection: a single-file input is one
    // partition, which would serialize the whole MinHash pass on one core
    val banded = Ops.spreadText(df.select(col(idCol), col(textCol)))
      .select(col(idCol), sig.as("__sig"))
      .select(col(idCol), posexplode(bandKeys(col("__sig"), numHashes, bands)))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bucket"))
    dropBucketNonMin(df, banded, idCol)
  }

  /** SimHash near-duplicate removal: 64-bit fingerprint over token hashes
    * (native codegen'd [[VectorExpressions.SimHash64]]), candidates bucketed
    * by 16-bit bands (any pair within Hamming distance 3 of a 64-bit hash
    * shares at least one of 4 bands), verified by exact Hamming distance.
    */
  def simhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // exact-collapse first: identical docs have identical fingerprints —
    // see [[minhashLsh]] for why this bounds bucket blowup with no semantic
    // change
    val reps = distinctContent(df, idCol, textCol)
    val tokenHashes = transform(TextAnalysis.tokens(col(textCol)), t => xxhash64(t))
    // reps is already hash-partitioned to defaultParallelism by
    // distinctContent — no spread probe (it would re-execute the shuffle)
    val withFp = reps
      .select(col(idCol), VectorExpressions.simhash64(tokenHashes).as("__fp"))
    val bandCols = (0 until 4).map(bnd => shiftright(col("__fp"), bnd * 16).bitwiseAND(lit(0xFFFFL)))
    val banded = withFp.select(
      col(idCol), col("__fp"),
      posexplode(array(bandCols: _*)))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bucket"))
    val l = banded.select(col("__band"), col("__bucket"), col(idCol).as("__id_a"), col("__fp").as("__fp_a"))
    val r = banded.select(col("__band"), col("__bucket"), col(idCol).as("__id_b"), col("__fp").as("__fp_b"))
    val drops = l.join(r, Seq("__band", "__bucket"))
      .filter(col("__id_a") < col("__id_b"))
      .filter(bit_count(col("__fp_a").bitwiseXOR(col("__fp_b"))) <= maxHamming)
      .select(col("__id_b").as(idCol)).distinct()
    // survivors resolve against the ORIGINAL frame so callers keep every
    // column (reps is a narrow internal projection)
    df.join(reps.join(drops, Seq(idCol), "left_anti").select(col(idCol)),
      Seq(idCol), "left_semi")
  }

  /** EXACT hamming-ball near-dup removal over any 64-bit fingerprint column
    * (SimHash, image dHash, audio chromaprint-style hashes…): band the
    * fingerprint into `bands` equal slices, equi-join candidates sharing a
    * slice, verify by exact `bit_count(a XOR b)`, drop the larger id of any
    * verified pair.
    *
    * The banding is not approximate here: with `maxHamming < bands`, a pair
    * within the ball differs in at most `maxHamming` slices, so it SHARES at
    * least `bands - maxHamming ≥ 1` — every qualifying pair is generated
    * (pigeonhole; the same argument [[simhash]] instantiates at 4×16 bits).
    * The join is therefore a pure cost optimization over the all-pairs
    * quadratic: per-band buckets shuffle-partition the corpus, and only
    * fingerprints agreeing on ≥1 slice ever meet.
    *
    * Scale shape: one explode (×`bands`), one equi-join on (band, slice),
    * one distinct, one anti-join — no all-pairs anywhere. A flood of
    * identical fingerprints degrades to a quadratic *bucket*, so callers
    * dealing with exact-dup-heavy corpora should pre-collapse identical
    * fingerprints first (cheap: groupBy(fp) → min(id)); near-dup fingerprint
    * floods are bounded by the verify's bucket join as in [[simhash]].
    */
  def hammingDedup(
      df: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 3,
      bands: Int = 8): DataFrame = {
    require(bands >= 2 && bands <= 64 && 64 % bands == 0,
      s"bands must divide 64 (got $bands)")
    require(maxHamming >= 0 && maxHamming < bands,
      s"exactness needs maxHamming < bands (got $maxHamming vs $bands): " +
        "a pair differing in >= bands slices can share none")
    val width = 64 / bands
    val mask = (1L << width) - 1L
    val bandCols = (0 until bands).map(b =>
      shiftright(col(fpCol), b * width).bitwiseAND(lit(mask)))
    val banded = Ops.spread(df.select(col(idCol), col(fpCol)))
      .select(col(idCol), col(fpCol), posexplode(array(bandCols: _*)))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bucket"))
    val l = banded.select(col("__band"), col("__bucket"),
      col(idCol).as("__id_a"), col(fpCol).as("__fp_a"))
    val r = banded.select(col("__band"), col("__bucket"),
      col(idCol).as("__id_b"), col(fpCol).as("__fp_b"))
    val drops = l.join(r, Seq("__band", "__bucket"))
      .filter(col("__id_a") < col("__id_b"))
      .filter(bit_count(col("__fp_a").bitwiseXOR(col("__fp_b"))) <= maxHamming)
      .select(col("__id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Ids of `batch` rows whose fingerprint has a corpus fingerprint within
    * hamming `maxHamming` — the corpus-facing half of a fingerprint
    * ingestion gate ([[graft.streaming.Streaming.ingestFingerprintBatch]]).
    * Same pigeonhole-exact banding as [[hammingDedup]]: the band join is a
    * superset of the ball, `bit_count` confirms exactly. The batch side is
    * bounded (one micro-batch), so its banded form broadcasts and the
    * corpus fingerprint table never shuffles.
    */
  private[graft] def hammingRejects(
      corpusFps: DataFrame,
      batch: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int,
      bands: Int): DataFrame = {
    require(bands >= 2 && bands <= 64 && 64 % bands == 0,
      s"bands must divide 64 (got $bands)")
    require(maxHamming >= 0 && maxHamming < bands,
      s"exactness needs maxHamming < bands (got $maxHamming vs $bands)")
    val width = 64 / bands
    val mask = (1L << width) - 1L
    def banded(df: DataFrame, id: Option[String]): DataFrame = {
      val bandCols = (0 until bands).map(b =>
        shiftright(col(fpCol), b * width).bitwiseAND(lit(mask)))
      df.select(id.map(col).toSeq :+ col(fpCol) :+
          posexplode(array(bandCols: _*)): _*)
        .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bucket"))
    }
    val b = banded(batch.select(col(idCol), col(fpCol)), Some(idCol))
      .select(col("__band"), col("__bucket"), col(idCol), col(fpCol).as("__fa"))
    val c = banded(corpusFps.select(col(fpCol)), None)
      .select(col("__band"), col("__bucket"), col(fpCol).as("__fb"))
    broadcast(b).join(c, Seq("__band", "__bucket"))
      .filter(bit_count(col("__fa").bitwiseXOR(col("__fb"))) <= maxHamming)
      .select(col(idCol)).distinct()
  }

  /** n-gram Jaccard near-dup: MinHash-LSH candidate buckets, then exact
    * Jaccard over word n-gram sets (`array_intersect`/`array_union` — native,
    * codegen'd) as the verify step. Keeps the smaller id of a verified pair.
    */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L): DataFrame = {
    // exact-collapse first (identical docs: identical grams, Jaccard 1 ≥ any
    // threshold — see [[minhashLsh]] for the bucket-blowup rationale), then
    // grams as distinct shingle *hashes* (long arrays): the exact-Jaccard
    // verify runs array_intersect/union over primitive longs instead of
    // strings — same set semantics, far cheaper on candidate pairs.
    val reps = distinctContent(df, idCol, textCol)
    val gramHashes = graft.functions.HashExpressions.ngramHashes(TextAnalysis.tokens(col(textCol)), n)
    val grams = array_distinct(gramHashes)
    val sig = minhashSignatureFromTokens(TextAnalysis.tokens(col(textCol)), n, numHashes, seed)
    val base = reps
      .select(col(idCol), grams.as("__grams"), sig.as("__sig"))
    val banded = base.select(col(idCol), col("__grams"),
      posexplode(bandKeys(col("__sig"), numHashes, bands)))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bucket"))
    val l = banded.select(col("__band"), col("__bucket"), col(idCol).as("__id_a"), col("__grams").as("__g_a"))
    val r = banded.select(col("__band"), col("__bucket"), col(idCol).as("__id_b"), col("__grams").as("__g_b"))
    val jac = size(array_intersect(col("__g_a"), col("__g_b"))).cast("double") /
      size(array_union(col("__g_a"), col("__g_b")))
    val drops = l.join(r, Seq("__band", "__bucket"))
      .filter(col("__id_a") < col("__id_b"))
      .filter(jac >= threshold)
      .select(col("__id_b").as(idCol)).distinct()
    // survivors resolve against the ORIGINAL frame so callers keep every
    // column (reps is a narrow internal projection)
    df.join(reps.join(drops, Seq(idCol), "left_anti").select(col(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Verified n-gram-Jaccard near-duplicate pairs (a < b) — the edge list
    * for transitive clustering.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L): DataFrame = {
    val gramHashes = graft.functions.HashExpressions.ngramHashes(TextAnalysis.tokens(col(textCol)), n)
    val grams = array_distinct(gramHashes)
    val sig = minhashSignatureFromTokens(TextAnalysis.tokens(col(textCol)), n, numHashes, seed)
    val base = Ops.spreadText(df.select(col(idCol), col(textCol)))
      .select(col(idCol), grams.as("__grams"), sig.as("__sig"))
    val banded = base.select(col(idCol), col("__grams"),
      posexplode(bandKeys(col("__sig"), numHashes, bands)))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bucket"))
    val l = banded.select(col("__band"), col("__bucket"), col(idCol).as("a"), col("__grams").as("__g_a"))
    val r = banded.select(col("__band"), col("__bucket"), col(idCol).as("b"), col("__grams").as("__g_b"))
    val jac = size(array_intersect(col("__g_a"), col("__g_b"))).cast("double") /
      size(array_union(col("__g_a"), col("__g_b")))
    l.join(r, Seq("__band", "__bucket"))
      .filter(col("a") < col("b"))
      .filter(jac >= threshold)
      .select(col("a"), col("b")).distinct()
  }

  /** n-gram Jaccard dedup with exact transitive clusters: connected
    * components over the verified pair graph, keep each component's smallest
    * id (see [[embeddingCosineCC]] for the cluster-vs-greedy distinction).
    */
  def ngramJaccardCC(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L): DataFrame = {
    // exact-collapse first: clones connect to their representative with
    // Jaccard 1, so the full-graph component minimum equals the rep-graph
    // component minimum — same survivors, bounded buckets
    val reps = distinctContent(df, idCol, textCol)
    val pairs = ngramJaccardPairs(reps, idCol, textCol, n, threshold, numHashes, bands, seed)
    val drops = connectedComponents(pairs)
      .filter(col("label") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(reps.join(drops, Seq(idCol), "left_anti").select(col(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Connected components over an undirected edge list (columns `a`, `b`):
    * min-label propagation PLUS pointer doubling (`label ← label(label)`,
    * the shortcutting step of large-star/small-star style algorithms), so a
    * component of diameter d converges in O(log d) rounds instead of O(d) —
    * a 1M-node chain needs ~21 rounds, not 1M. Each round is two key
    * shuffles (neighbor-min aggregation + label self-join); each round's
    * labels are materialized through [[graft.Checkpointing]] to truncate the
    * growing lineage (mode `local` on a single-JVM rig; `reliable` — a
    * DFS `checkpoint` — on clusters where executor loss must not kill the
    * job). The convergence check rides on the
    * already-materialized round result (a scan of cached blocks carrying
    * old + new labels — no extra join against the previous frame).
    *
    * Returns (id, label) with label = the smallest id in the component.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(edges, maxIter)._1

  /** [[connectedComponents]] exposing the executed round count (tests assert
    * the O(log d) bound). Logs a warning when `maxIter` exhausts before the
    * fixpoint — the labels are then only partially merged and CC-based dedup
    * under-merges, which must not happen silently.
    */
  def connectedComponentsWithRounds(edges: DataFrame, maxIter: Int = 20): (DataFrame, Int) = {
    // The edge list is usually the OUTPUT of an expensive derivation (an
    // LSH band join, a blocked levenshtein self-join…). Materialize it ONCE:
    // without this, every pointer-doubling round's join against `sym`
    // re-executes that whole upstream plan — the iteration count multiplies
    // the most expensive stage of the caller instead of a cached edge scan.
    val sym = edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .transform(Checkpointing.materialize)
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .transform(Checkpointing.materialize)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIter) {
      // contraction: the min label across the neighborhood (and self)
      val neighborMin = sym.join(labels, sym("b") === labels("id"))
        .groupBy(sym("a").as("nid")).agg(min(col("label")).as("nlabel"))
      val half = labels.alias("l")
        .join(neighborMin, col("l.id") === col("nid"), "left")
        .select(col("l.id").as("id"), col("l.label").as("old_label"),
          least(col("l.label"), coalesce(col("nlabel"), col("l.label"))).as("mid"))
        .transform(Checkpointing.materialize)
      // shortcut (pointer doubling): follow the label pointer one more hop,
      // label ← mid(mid) — this is what collapses chains in O(log d)
      val ptr = half.select(col("id").as("p_id"), col("mid").as("p_mid"))
      val doubled = half
        .join(ptr, half("mid") === ptr("p_id"), "left")
        .select(col("id"), col("old_label"),
          least(col("mid"), coalesce(col("p_mid"), col("mid"))).as("label"))
        .transform(Checkpointing.materialize)
      // old_label rides in the materialized frame: convergence = cheap scan
      converged = doubled.filter(col("label") =!= col("old_label")).limit(1).isEmpty
      labels = doubled.select(col("id"), col("label"))
      rounds += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents exhausted maxIter=$maxIter before the fixpoint; " +
          "labels are PARTIALLY merged and CC-based dedup will under-merge clusters")
    (labels, rounds)
  }

  /** Random-hyperplane signs for embedding LSH — deterministic from seed. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)((rnd.nextGaussian()).toFloat))
  }

  /** Embedding near-duplicate removal: random-hyperplane (sign-LSH) bucketing
    * — cosine-similar vectors agree on most hyperplane signs, so docs
    * sharing a 16-bit sign-band are candidates — verified with the native
    * codegen'd cosine kernel. One equi-shuffle on (band, bucket).
    */
  def embeddingCosine(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      numPlanes: Int = 32,
      bandBits: Int = 16,
      seed: Long = 42L): DataFrame = {
    // exact-collapse first: an identical vector shares every sign-band with
    // its representative (cosine 1 ≥ any threshold) — same survivors,
    // bounded buckets under duplicate floods (see [[minhashLsh]])
    val reps = distinctContent(df, idCol, vecCol)
    val drops = embeddingCandidatePairs(reps, idCol, vecCol, dim, threshold, numPlanes, bandBits, seed)
      .select(col("b").as(idCol)).distinct()
    df.join(reps.join(drops, Seq(idCol), "left_anti").select(col(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Verified near-duplicate pairs (a < b, cosine >= threshold) from sign-LSH
    * candidate buckets — the edge list both dedup rules consume.
    */
  /** The packed hyperplane-sign bitmap for a vector column (bit i = sign of
    * the dot product with plane i).
    */
  private def signBitsCol(vecCol: Column, planes: Array[Array[Float]]): Column =
    planes.toSeq.zipWithIndex.map { case (p, i) =>
      // typedlit: ONE foldable array literal per plane (array(lit...) would
      // inline dim-many literal expressions into codegen per plane)
      when(VectorExpressions.dot(vecCol, typedlit(p.toSeq)) >= 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Explode a signed frame into one row per (band, bucket): `__band` is the
    * band index, `__bucket` the band's `bandBits`-bit slice of the sign
    * bitmap.
    */
  private def explodeSignBands(
      signed: DataFrame,
      keep: Seq[Column],
      numPlanes: Int,
      bandBits: Int): DataFrame = {
    val nBands = numPlanes / bandBits
    val bandCols = (0 until nBands).map(bnd =>
      shiftright(col("__sign"), bnd * bandBits).bitwiseAND(lit((1L << bandBits) - 1)))
    signed.select(keep :+ posexplode(array(bandCols: _*)): _*)
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bucket"))
  }

  def embeddingCandidatePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      numPlanes: Int = 32,
      bandBits: Int = 16,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(numPlanes, dim, seed)
    val withSig = Ops.spread(df.select(col(idCol), col(vecCol)))
      .select(col(idCol), col(vecCol), signBitsCol(col(vecCol), planes).as("__sign"))
    val banded = explodeSignBands(withSig, Seq(col(idCol), col(vecCol)), numPlanes, bandBits)
    val l = banded.select(col("__band"), col("__bucket"), col(idCol).as("a"), col(vecCol).as("__v_a"))
    val r = banded.select(col("__band"), col("__bucket"), col(idCol).as("b"), col(vecCol).as("__v_b"))
    l.join(r, Seq("__band", "__bucket"))
      .filter(col("a") < col("b"))
      .filter(VectorExpressions.cosine(col("__v_a"), col("__v_b")) >= threshold)
      .select(col("a"), col("b")).distinct()
  }

  /** SEMANTIC benchmark decontamination: for every evaluation vector, the
    * corpus vectors within cosine `threshold` — paraphrased or re-embedded
    * eval items that the shingle-overlap check
    * ([[TextAnalysis.contaminationCheck]]) cannot see, found in embedding
    * space. Returns one row PER EVAL ITEM: (eval_id, n_corpus_hits,
    * max_cos) with zero-hit items kept (the report a decontamination run
    * signs off on).
    *
    * Scale shape: sign-LSH bands on BOTH sides (the same deterministic
    * hyperplane codebook as the embedding dedup family), so the join is an
    * equi-join on (band, bucket) whose volume is collisions, never
    * |corpus|×|eval|; the exact cosine confirms each candidate. The eval
    * side is benchmark-sized — at cluster scale its banded form broadcasts.
    */
  def semanticContamination(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      numPlanes: Int = 32,
      bandBits: Int = 16,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(numPlanes, dim, seed)
    def banded(df: DataFrame): DataFrame = {
      val signed = Ops.spread(df.select(col(idCol), col(vecCol)))
        .select(col(idCol), col(vecCol), signBitsCol(col(vecCol), planes).as("__sign"))
      explodeSignBands(signed, Seq(col(idCol), col(vecCol)), numPlanes, bandBits)
    }
    val eb = banded(evalSet)
      .select(col("__band"), col("__bucket"), col(idCol).as("__eid"), col(vecCol).as("__ev"))
    val cb = banded(corpus)
      .select(col("__band"), col("__bucket"), col(idCol).as("__cid"), col(vecCol).as("__cv"))
    val cos = VectorExpressions.cosine(col("__ev"), col("__cv"))
    val pairs = broadcast(eb).join(cb, Seq("__band", "__bucket"))
      .filter(cos >= threshold)
      .select(col("__eid"), col("__cid"), cos.as("__cos"))
      .distinct()
    val hits = pairs.groupBy(col("__eid"))
      .agg(count(lit(1)).as("n_corpus_hits"), max(col("__cos")).as("max_cos"))
    evalSet.select(col(idCol).as("eval_id"))
      .join(hits.withColumnRenamed("__eid", "eval_id"), Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_corpus_hits"), lit(0L)).as("n_corpus_hits"),
        col("max_cos"))
  }

  /** Embedding dedup with EXACT duplicate clusters: connected components
    * over the verified pair graph, keep each component's smallest id. The
    * greedy bucket rule ([[embeddingCosine]]) can over-drop when b duplicates
    * both a and c but a and c are distinct — CC keeps one representative per
    * true transitive cluster instead.
    */
  def embeddingCosineCC(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      numPlanes: Int = 32,
      bandBits: Int = 16,
      seed: Long = 42L): DataFrame = {
    // exact-collapse first — see [[ngramJaccardCC]]; component minima are
    // unchanged because clones attach to their rep at cosine 1
    val reps = distinctContent(df, idCol, vecCol)
    val pairs = embeddingCandidatePairs(reps, idCol, vecCol, dim, threshold, numPlanes, bandBits, seed)
    val drops = connectedComponents(pairs)
      .filter(col("label") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(reps.join(drops, Seq(idCol), "left_anti").select(col(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Segment-level exact dedup (the CCNet/RefinedWeb line-dedup shape): each
    * document splits into fixed `segTokens`-token segments, a segment
    * occurring anywhere earlier in the corpus (order = first occurrence by
    * (id, position)) is dropped, and each document is reassembled from its
    * surviving segments. Boilerplate repeated across documents disappears
    * while the unique remainder of every document survives.
    *
    * Scale shape: ONE shuffle on the segment key for the keep-first window
    * and one on the doc id for reassembly — no pair joins, no driver data.
    * Segment keys are strings of bounded length (`segTokens` tokens), so the
    * shuffle record size is bounded regardless of document size.
    *
    * Returns (id, [carryCols,] n_segs, n_kept, dedup_text): total segments,
    * surviving segments, and the document reassembled from survivors in
    * order (empty when every segment was seen earlier). `carryCols` ride
    * the per-document resolution side for free — the alternative (a
    * re-join with the input after the fact) would add a third consumer of
    * the input plan, a full re-execution when it is not checkpointed.
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String, segTokens: Int = 10,
      carryCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // clobber guard (case-insensitive, like withClassSize/groupSplit —
    // resolution is case-insensitive under default caseSensitive=false):
    // a carry column named like an output would analyze ambiguous or
    // silently shadow the produced column
    val produced = Seq(idCol, "n_segs", "n_kept", "dedup_text")
    carryCols.foreach { c =>
      require(!produced.exists(_.equalsIgnoreCase(c)),
        s"segmentDedup: carry column '$c' collides with an output column " +
          s"(${produced.mkString(", ")}) — rename it before the call")
    }
    require(carryCols.map(_.toLowerCase).distinct.size == carryCols.size,
      s"segmentDedup: carryCols repeats a column: ${carryCols.mkString(", ")}")
    val toks = TextAnalysis.tokens(col(textCol))
    val segs = TextAnalysis.tokenChunks(toks, size = segTokens, stride = segTokens)
    // spread first: a single-file scan is one partition, which would
    // serialize the tokenize+chunk kernels (see [[minhashLsh]])
    val exploded = Ops.spreadText(df.select(col(idCol), col(textCol)))
      .select(col(idCol), posexplode(segs))
      .withColumnsRenamed(Map("pos" -> "__seg_idx", "col" -> "__seg"))
    // keep-first: the globally earliest (id, position) occurrence of each
    // distinct segment survives — later repeats (across OR within documents)
    // drop. One hash shuffle on the segment string.
    val w = Window.partitionBy(col("__seg")).orderBy(col(idCol), col("__seg_idx"))
    val kept = exploded
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        // deterministic reassembly: sort the (position, segment) pairs, then
        // join — collect_list order is not guaranteed under merge
        array_join(
          transform(
            array_sort(collect_list(struct(col("__seg_idx"), col("__seg")))),
            p => p.getField("__seg")),
          " ").as("dedup_text"))
    // resolve against the full input: a document whose every segment was
    // seen earlier has no survivor rows but must still appear (empty text)
    df.select(col(idCol) +: carryCols.map(col) :+ size(segs).cast("long").as("n_segs"): _*)
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol) +: carryCols.map(col) :+ col("n_segs") :+
        coalesce(col("n_kept"), lit(0L)).as("n_kept") :+
        coalesce(col("dedup_text"), lit("")).as("dedup_text"): _*)
  }

  /** Duplicated-span statistics (the hashed-window approximation of exact
    * substring dedup a la "Deduplicating Training Data Makes Language Models
    * Better", Lee et al. 2022): every `k`-token rolling window of every
    * document is fingerprinted; a window whose fingerprint occurs more than
    * once ANYWHERE in the corpus (another document, or a repeat inside the
    * same document) is a duplicated span. Per document the operator reports
    * how much of the text those spans cover — the quantity the paper cuts.
    * A suffix array finds arbitrary-length repeats; fixed-`k` windows find
    * every repeat of length >= k, which is the same cut policy with the
    * minimum-match-length knob made explicit, and unlike the suffix array it
    * is a pure dataflow (no global sorted index to build or host).
    *
    * Scale shape: tokenize+window-hash is scan-stage Column algebra (after
    * an [[Ops.spread]] so a single-file scan does not serialize the
    * kernels); the window relation is REcomputed for the semi-join probe
    * rather than materialized — two cheap scan passes beat persisting a
    * corpus x tokens row blowup. The corpus-sized shuffle is the
    * fingerprint aggregate (map-side combined; only fingerprints with
    * count > 1 survive, a tiny set that BROADCASTS into the semi-join — at
    * a duplication rate where it stops broadcasting, the semi-join's two
    * hash(fingerprint) exchanges are identical subplans and ReuseExchange
    * materializes one). Span coverage then needs only a doc-keyed window:
    * the covered token count is the classic interval-union running-max —
    * no per-token explode, the record volume stays one row per duplicated
    * window. PlanGuardSpec pins the exchange count.
    *
    * Returns one row per input document:
    * (id, n_tokens, n_windows, n_dup_windows, dup_tokens, dup_frac) where
    * `dup_tokens` is the union length of the duplicated-window intervals
    * and `dup_frac` = dup_tokens / n_tokens (0.0 for empty docs).
    */
  def duplicateSpanStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__t"))
    // window fingerprints with their 1-based start position; sequence() is
    // guarded because Spark generates a DESCENDING sequence when stop <
    // start — a <k-token document must yield zero windows, not [1, 0]
    val win = Ops.spreadText(toks).select(
        col(idCol),
        explode(when(size(col("__t")) >= k,
          transform(
            sequence(lit(1), size(col("__t")) - (k - 1)),
            i => struct(
              i.as("pos"),
              md5(concat_ws("\u0001", slice(col("__t"), i, lit(k)))).as("h"))))
          .otherwise(array())).as("w"))
      .select(col(idCol), col("w.pos").as("__pos"), col("w.h").as("__h"))
    // fingerprints seen more than once corpus-wide; count>1 needs the full
    // aggregate (a bloom can't count), but only the key survives the filter
    // fingerprints seen more than once corpus-wide: a COUNT window over the
    // fingerprint partition, not a groupBy + semi-join — the join form pays
    // the window explode twice (both join inputs re-derive `win`) plus two
    // shuffles of the full window set; the window form is one explode pass
    // and ONE fingerprint-keyed exchange
    val dupWin = win
      .withColumn("__c", count(lit(1)).over(Window.partitionBy(col("__h"))))
      .filter(col("__c") > 1)
      .select(col(idCol), col("__pos"), (col("__pos") + k).as("__end"))
    // interval union per doc: sort windows by start, carry the running max
    // end of all EARLIER windows; each window contributes only the part
    // past that frontier (gaps-and-islands, one row per dup window)
    val frontier = max(col("__end")).over(
      Window.partitionBy(col(idCol)).orderBy(col("__pos"))
        .rowsBetween(Window.unboundedPreceding, -1))
    val perDoc = dupWin
      .withColumn("__pm", frontier)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_dup_windows"),
        sum(greatest(lit(0L),
          col("__end") - greatest(coalesce(col("__pm"), col("__pos")), col("__pos"))))
          .as("dup_tokens"))
    toks
      .select(col(idCol), size(col("__t")).cast("long").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_tokens"),
        greatest(col("n_tokens") - (k - 1), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
            col("n_tokens").cast("double")).as("dup_frac"))
  }

  /** Exact substring-dedup as a TRANSFORM (the actual output of the Lee et
    * al. 2022 pipeline, where [[duplicateSpanStats]] only reports the cut):
    * every `k`-token rolling window repeated anywhere in the corpus is a
    * duplicated span; the globally FIRST occurrence of each fingerprint (by
    * (id, position) — the same keep-first policy as [[segmentDedup]]) keeps
    * its tokens, every later occurrence's window is excised, and each
    * document is rebuilt from its surviving tokens in order. Deterministic
    * for any input and any partitioning: the survivor choice is a total
    * order, the rebuild is position-sorted.
    *
    * Scale shape: identical to [[duplicateSpanStats]] — window hashing is
    * scan-stage Column algebra behind an [[Ops.spread]], the only
    * corpus-sized shuffle is the ONE fingerprint-keyed exchange under the
    * keep-first window (row_number > 1 doubles as the dup census — no
    * separate groupBy, no semi-join), and the excised intervals flow back to
    * their doc as ONE doc-keyed aggregation (an interval array per doc,
    * bounded by that doc's duplicated-window count — never a per-token
    * explode). The final token filter is per-row lambda algebra over the
    * token array with the interval array at hand; cost
    * O(n_tokens × n_excised_intervals) per doc inside the scan stage.
    *
    * Returns one row per input document:
    * (id, carryCols..., n_tokens, removed_tokens, clean_text) —
    * `carryCols` ride the rebuild side so composed pipelines don't re-join
    * (and re-execute) their gated upstream just to recover a label column.
    */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      carryCols: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val carried = carryCols.map(col)
    val toks = df.select(
      (col(idCol) +: carried) :+ TextAnalysis.tokens(col(textCol)).as("__t"): _*)
    // same guarded window fingerprinting as duplicateSpanStats: <k-token
    // docs yield zero windows (sequence() would count DOWN otherwise)
    val win = Ops.spreadText(toks).select(
        col(idCol),
        explode(when(size(col("__t")) >= k,
          transform(
            sequence(lit(1), size(col("__t")) - (k - 1)),
            i => struct(
              i.as("pos"),
              md5(concat_ws("\u0001", slice(col("__t"), i, lit(k)))).as("h"))))
          .otherwise(array())).as("w"))
      .select(col(idCol), col("w.pos").as("__pos"), col("w.h").as("__h"))
    // keep-first per fingerprint; rows ranked past 1 are the excise set.
    // row_number > 1 alone IS the dup-census condition (a fingerprint with
    // a single occurrence never ranks past 1), so no groupBy census and no
    // semi-join — the join form re-derived the whole window explode on its
    // second input (doubling the dominant scan-stage hashing, and with it
    // every upstream gate the caller composed in) and paid two extra
    // fingerprint-keyed shuffles. One explode pass, ONE exchange.
    val rnW = Window.partitionBy(col("__h")).orderBy(col(idCol), col("__pos"))
    val excisedRaw = win
      .withColumn("__rn", row_number().over(rnW))
      .filter(col("__rn") > 1)
      .select(col(idCol), col("__pos"), (col("__pos") + k).as("__end"))
    // merge overlapping excisions to DISJOINT spans before they reach the
    // token filter (gaps-and-islands over the duplicateSpanStats frontier):
    // a window opens a new island iff it starts past the running-max end of
    // all earlier windows; islands collapse to (min start, max end). Without
    // this a fully-duplicated n-token doc carries ~n one-token-step
    // intervals and the per-token coverage lambda goes quadratic; merged,
    // the array length is the number of distinct duplicated SPANS. Both
    // windows and the island aggregation cluster on the doc id, so it all
    // rides the ONE doc-keyed exchange.
    val docW = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val frontier = max(col("__end")).over(docW.rowsBetween(Window.unboundedPreceding, -1))
    val excised = excisedRaw
      .withColumn("__pm", frontier)
      .withColumn("__island",
        sum(when(col("__pm").isNull || col("__pos") > col("__pm"), 1).otherwise(0))
          .over(docW.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__pos")).as("s"), max(col("__end")).as("e"))
      .select(col(idCol), struct(col("s"), col("e")).as("__iv"))
    val perDoc = excised.groupBy(col(idCol))
      .agg(collect_list(col("__iv")).as("__ivs"))
    toks.join(perDoc, Seq(idCol), "left")
      .select((col(idCol) +: carried) ++ Seq(col("__t"),
        coalesce(col("__ivs"), array().cast("array<struct<s:int,e:int>>")).as("__ivs")): _*)
      .select((col(idCol) +: carried) ++ Seq(col("__t"),
        filter(col("__t"), (t, i) =>
          !exists(col("__ivs"),
            p => i + 1 >= p.getField("s") && i + 1 < p.getField("e"))).as("__clean")): _*)
      .select((col(idCol) +: carried) ++ Seq(
        size(col("__t")).cast("long").as("n_tokens"),
        (size(col("__t")) - size(col("__clean"))).cast("long").as("removed_tokens"),
        array_join(col("__clean"), " ").as("clean_text")): _*)
  }

  /** Shingle-containment scoring (RefinedWeb-style substring-dedup
    * approximation): for every document A, the best containment
    * `|shingles(A) ∩ shingles(B)| / |shingles(A)|` over all other documents
    * B — near 1.0 when A's content is substantially embedded inside some
    * other document, which symmetric Jaccard misses whenever B is much
    * longer than A (union-normalized similarity dilutes to |A|/|B|).
    *
    * The metric runs over the RARE-shingle space: shingles occurring in
    * more than `maxShingleDf` documents are excluded from both numerator
    * and denominator. That is the scale bound — candidate-pair volume is
    * Σ_s df(s)² ≤ maxShingleDf × |postings| (linear in the corpus for a
    * fixed cut), where the unfiltered inverted index is quadratic in every
    * boilerplate shingle's frequency. It is also the right semantics:
    * ubiquitous shingles are boilerplate (segment dedup's job), and exact
    * clones are exact dedup's job — run those first; this operator finds
    * the A-inside-B remainder neither catches.
    *
    * Scale shape: shingling is scan-stage Column algebra; then one shuffle
    * on the shingle string (document frequencies), one equi-join on shingle
    * (the bounded inverted-index pairs), and hash aggregations on doc id.
    * Integer-ratio arithmetic only, so the scores mirror exactly.
    *
    * Returns one row per input document:
    * (id, n_rare_shingles, best_containment, contained).
    */
  /** Rare-shingle posting list: one (id, shingle) row per distinct n-token
    * shingle of each document, with shingles above the `maxShingleDf`
    * document-frequency cut excluded — the shared candidate space of
    * [[containmentScores]] and [[rareShinglePairs]]. One shuffle on the
    * shingle string for the frequencies, one equi-join to apply the cut.
    */
  private def rareShinglePostings(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleDf: Int): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // n-token shingle strings; sequence() would count DOWN for short docs,
    // so guard to an empty set below n tokens
    val shingles = when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " "))))
      .otherwise(array())
    val posting = Ops.spreadText(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(shingles).as("__s"))
    val rare = posting.groupBy(col("__s"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxShingleDf)
      .select(col("__s"))
    posting.join(rare, Seq("__s"))
  }

  /** Directed co-occurrence edges (both directions, distinct): documents
    * sharing at least one rare shingle. The edge list for graph analytics
    * over the near-duplication structure ([[Graph.pageRank]]); pair volume
    * is bounded by the same df-cut argument as [[containmentScores]].
    */
  def rareShinglePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      maxShingleDf: Int = 100): DataFrame = {
    // NOT checkpointed deliberately: the two pair-join sides and the df
    // census canonicalize to the same exchange, which ReuseExchange dedupes
    // — a forced materialization barrier here measured SLOWER (2.8s vs
    // 1.7s for doc_pagerank at sf0.1) than letting the stages overlap.
    val kept = rareShinglePostings(df, idCol, textCol, n, maxShingleDf)
    val l = kept.select(col("__s"), col(idCol).as("a"))
    val r = kept.select(col("__s"), col(idCol).as("b"))
    l.join(r, Seq("__s"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
  }

  def containmentScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      threshold: Double = 0.9,
      maxShingleDf: Int = 100): DataFrame = {
    val kept = rareShinglePostings(df, idCol, textCol, n, maxShingleDf)
    val denom = kept.groupBy(col(idCol)).agg(count(lit(1)).as("__n_rare"))
    val l = kept.select(col("__s"), col(idCol).as("__a"))
    val r = kept.select(col("__s"), col(idCol).as("__b"))
    val best = l.join(r, Seq("__s"))
      .filter(col("__a") =!= col("__b"))
      .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__common"))
      .join(denom.select(col(idCol).as("__a"), col("__n_rare")), Seq("__a"))
      .groupBy(col("__a"))
      .agg(max(col("__common").cast("double") / col("__n_rare")).as("__best"))
      .select(col("__a").as(idCol), col("__best"))
    df.select(col(idCol))
      .join(denom, Seq(idCol), "left")
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n_rare"), lit(0L)).as("n_rare_shingles"),
        coalesce(col("__best"), lit(0.0)).as("best_containment"),
        when(coalesce(col("__best"), lit(0.0)) >= threshold, 1L).otherwise(0L)
          .as("contained"))
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): k-means-cluster the
    * embedding space with the distributed Lloyd codebook
    * ([[Similarity.trainCodebook]] — deterministic at any parallelism), then
    * verify cosine similarity ONLY within each cluster and drop the larger id
    * of any pair above `threshold`. The cluster assignment is a shuffle-free
    * map-stage projection against the broadcast codebook; the only shuffle is
    * the equi-join on `centroid_id`, so candidate volume is bounded by
    * cluster sizes — never all-pairs. Near-duplicate pairs split across two
    * clusters are missed by construction (the SemDeDup trade-off; raise
    * `nlist` for tighter clusters, or use [[embeddingCosine]] whose sign-LSH
    * bands are recall-calibrated instead).
    *
    * Size `nlist` to the corpus: SemDeDup's published runs use ~10k-100k
    * clusters on billions of embeddings — aim for an expected cluster size
    * in the low thousands (nlist ≈ corpus / 5000). The default 16 suits test
    * scale only. Training is distributed, so a large `nlist` costs one
    * broadcast codebook per iteration, not a driver blow-up.
    *
    * Within-cluster guard: a cluster larger than `guardClusterSize`
    * (mis-sized `nlist`, or a pathological mega-cluster of near-identical
    * embeddings — exactly where size² explodes) switches from all-pairs
    * verification to REPRESENTATIVE verification: the cluster's rows are
    * sub-bucketed by sign-LSH bands and each row is verified only against
    * its bucket's min-id representative — O(size x bands) comparisons
    * instead of O(size²). For the flood that motivates the guard (everything
    * similar to everything) the result is identical — every row verifies
    * against the representative at ≥ threshold; in mixed oversized clusters
    * it can only under-drop (a row similar to some member but not to a
    * shared-bucket representative survives), never over-drop.
    *
    * Returns the surviving rows of `df` with their `centroid_id` attached.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      iters: Int = 2,
      threshold: Double = 0.95,
      guardClusterSize: Int = 4096,
      guardPlanes: Int = 32,
      guardBandBits: Int = 16,
      seed: Long = 42L): DataFrame = {
    val init = df.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    val cents = Similarity.trainCodebook(df, idCol, vecCol, init, iters)
    // exact-collapse first: an identical vector lands in the same cluster as
    // its representative and verifies at cosine 1 ≥ any threshold — same
    // survivors, bounded pair volume under duplicate floods
    val reps = distinctContent(df, idCol, vecCol)
    // materialized once: five consumers read the assignment (sizes, both
    // sides of the small-cluster pair join, the guarded path, the final
    // label join) and each would otherwise replay the distinct-content
    // shuffle AND the nearest-centroid projection from scratch
    val assigned = Checkpointing.materialize(reps.select(
      col(idCol), col(vecCol),
      VectorExpressions.nearestCentroid(col(vecCol), cents).as("centroid_id")))
    // cluster sizes: at most nlist rows — broadcast back onto the assignment
    val sizes = assigned.groupBy(col("centroid_id")).agg(count(lit(1)).as("__csize"))
    val flagged = assigned.join(broadcast(sizes), Seq("centroid_id"))

    // exact path: all-pairs within clusters of sane size
    val small = flagged.filter(col("__csize") <= guardClusterSize)
    val l = small.select(col("centroid_id"), col(idCol).as("__id_a"), col(vecCol).as("__v_a"))
    val r = small.select(col("centroid_id"), col(idCol).as("__id_b"), col(vecCol).as("__v_b"))
    val dropsSmall = l.join(r, Seq("centroid_id"))
      .filter(col("__id_a") < col("__id_b"))
      .filter(VectorExpressions.cosine(col("__v_a"), col("__v_b")) >= threshold)
      .select(col("__id_b").as(idCol))

    // guarded path: sign-band sub-buckets, verify against the bucket's
    // min-id representative only — one window + one equi-join, linear in
    // cluster size
    val big = flagged.filter(col("__csize") > guardClusterSize)
    val dim = init.headOption.map(_.length).getOrElse(0)
    val planes = hyperplanes(guardPlanes, dim, seed)
    val signed = big.select(col("centroid_id"), col(idCol), col(vecCol),
      signBitsCol(col(vecCol), planes).as("__sign"))
    val banded = explodeSignBands(signed,
      Seq(col("centroid_id"), col(idCol), col(vecCol)), guardPlanes, guardBandBits)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("centroid_id"), col("__band"), col("__bucket"))
      .orderBy(col(idCol))
    val ranked = banded.withColumn("__rn", row_number().over(w))
    val bucketReps = ranked.filter(col("__rn") === 1)
      .select(col("centroid_id"), col("__band"), col("__bucket"),
        col(idCol).as("__rep_id"), col(vecCol).as("__rep_v"))
    val dropsBig = ranked.filter(col("__rn") > 1)
      .join(bucketReps, Seq("centroid_id", "__band", "__bucket"))
      .filter(VectorExpressions.cosine(col(vecCol), col("__rep_v")) >= threshold)
      .select(col(idCol))

    val drops = dropsSmall.unionByName(dropsBig).distinct()
    // survivors resolve against the materialized assignment (same id set as
    // reps) — going back through reps would replay the distinct-content
    // shuffle a sixth time
    df.join(assigned.join(drops, Seq(idCol), "left_anti").select(col(idCol)),
      Seq(idCol), "left_semi")
      .join(assigned.select(col(idCol), col("centroid_id")), Seq(idCol), "left")
  }

  /** What a gate probes the batch's keys against: [[Bloom]], a filter over
    * the corpus keys shipped as a plan literal, or [[KeyTable]], the
    * persisted corpus key set for corpora whose bloom would not fit the
    * driver. A probe only chooses which rows pay the corpus confirm; it
    * never decides an admission by itself.
    */
  sealed trait Probe

  /** Serialized `org.apache.spark.util.sketch.BloomFilter` over the corpus
    * keys (see [[bloomOver]]). No false negatives, so an unflagged row has
    * no duplicate in the corpus.
    */
  final case class Bloom(bytes: Array[Byte]) extends Probe

  /** Exact corpus key TABLE: `keys` holds one row per corpus key (BIGINT
    * `__k`, plus an int `__shard` = `pmod(__k, nShards)` partition column
    * when persisted). The probe broadcasts the BATCH's keys into an
    * equi-join against this table, pruned to the batch's shard set, so no
    * key-set-sized object reaches the driver or a task binary and the
    * corpus side is scanned, never shuffled. Unlike the bloom it flags only
    * true key collisions.
    */
  final case class KeyTable(keys: DataFrame, nShards: Int) extends Probe

  /** An incremental admission gate: which rows of a batch are new with
    * respect to itself and to a corpus. A gate supplies four things;
    * [[admit]] runs the one algorithm over them.
    *  - `dedupBatch`: the within-batch dedup, as a narrow frame of `idCol`,
    *    `__keys` and whatever `confirm` reads, one row per surviving row;
    *  - `keys`: the per-row probe keys, `array<bigint>` over a raw row —
    *    the unit of the corpus bloom and key table;
    *  - `keysPerRow`: how many keys `keys` yields per row;
    *  - `confirm`: the exact corpus check, the ids of the flagged
    *    candidates that have no duplicate in the corpus.
    */
  sealed trait Gate {
    def keys: Column
    def keysPerRow: Int
    private[graft] def dedupBatch(batch: DataFrame, idCol: String): DataFrame
    private[graft] def confirm(corpus: DataFrame, candidates: DataFrame, idCol: String): DataFrame
  }

  /** Exact content dedup: identical `contentCols` (the null-safe JSON
    * encoding of [[exact]]) keep the smallest id; one [[contentBloomKey]]
    * per row; the confirm is an anti-join on [[contentDigest]].
    */
  final case class Exact(contentCols: Seq[String]) extends Gate {
    def keys: Column = array(contentBloomKey(contentCols))
    def keysPerRow: Int = 1
    private[graft] def dedupBatch(batch: DataFrame, idCol: String): DataFrame =
      minIdPerDigest(batch.select(col(idCol),
        contentDigest(contentCols).as("__digest"), keys.as("__keys")), idCol)
    private[graft] def confirm(corpus: DataFrame, candidates: DataFrame, idCol: String): DataFrame =
      candidates.join(corpus.select(contentDigest(contentCols).as("__digest")),
        Seq("__digest"), "left_anti").select(col(idCol))
  }

  /** Near-duplicate dedup, the [[ngramJaccard]] rule applied incrementally:
    * a row is a duplicate when a smaller-id batch row or any corpus row
    * shares an LSH band bucket with it AND their exact n-gram Jaccard over
    * distinct gram hashes meets `threshold`. Identical text shares every
    * band, so an exact clone is always caught. `bands` [[bandProbeKeys]]
    * per row.
    */
  final case class NearDup(
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L) extends Gate {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    def keys: Column = bandProbeKeys(col(textCol), n, numHashes, bands, seed)
    def keysPerRow: Int = bands

    /** ONE batch featurization pass — (digest, distinct gram hashes,
      * minhash signature) per row, materialized — feeds the exact-collapse,
      * the within-batch LSH self-join, the probe keys and the confirm.
      */
    private[graft] def dedupBatch(batch: DataFrame, idCol: String): DataFrame = {
      val toks = TextAnalysis.tokens(col(textCol))
      val feat = Ops.spreadText(batch.select(col(idCol), col(textCol)))
        .select(
          col(idCol),
          md5(to_json(struct(col(textCol)))).as("__digest"),
          array_distinct(graft.functions.HashExpressions.ngramHashes(toks, n)).as("__g_a"),
          minhashSignatureFromTokens(toks, n, numHashes, seed).as("__sig_a"))
        .transform(Checkpointing.materialize)
      // identical text keeps the min id (bounds bucket blowup under an
      // exact-dup flood), then the larger id of a verified pair drops
      val reps = minIdPerDigest(feat, idCol).drop("__digest")
      val banded = reps
        .select(col(idCol), posexplode(bandKeys(col("__sig_a"), numHashes, bands)))
        .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bucket"))
      val grams = reps.select(col(idCol), col("__g_a"))
      val jac = size(array_intersect(col("__ga"), col("__gb"))).cast("double") /
        size(array_union(col("__ga"), col("__gb")))
      val drops = banded.select(col("__band"), col("__bucket"), col(idCol).as("__ia"))
        .join(banded.select(col("__band"), col("__bucket"), col(idCol).as("__ib")),
          Seq("__band", "__bucket"))
        .filter(col("__ia") < col("__ib"))
        .select(col("__ia"), col("__ib")).distinct()
        .join(grams.select(col(idCol).as("__ia"), col("__g_a").as("__ga")), Seq("__ia"))
        .join(grams.select(col(idCol).as("__ib"), col("__g_a").as("__gb")), Seq("__ib"))
        .filter(jac >= threshold)
        .select(col("__ib").as(idCol)).distinct()
      reps.join(drops, Seq(idCol), "left_anti")
        .withColumn("__keys", bandProbeKeysFromSig(col("__sig_a"), numHashes, bands))
    }

    private[graft] def confirm(corpus: DataFrame, candidates: DataFrame, idCol: String): DataFrame =
      candidates.select(col(idCol)).join(
        nearDupRejectsFromFeats(
          nearDupFeatures(corpus, idCol, textCol, n, numHashes, seed)
            .transform(Checkpointing.materialize),
          candidates.select(col(idCol).as("__ca"), col("__g_a"), col("__sig_a")),
          idCol, threshold, numHashes, bands),
        Seq(idCol), "left_anti")
  }

  /** One row per `__digest`, the one with the smallest id. */
  private def minIdPerDigest(df: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rn", row_number()
        .over(Window.partitionBy(col("__digest")).orderBy(col(idCol))))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The incremental admission gate, batch and streaming: the rows of
    * `batch` that are duplicates neither of a smaller-id batch row nor of
    * `corpus`, under `gate`'s rule.
    *
    * The batch dedups internally first. Its keys then probe the corpus key
    * set: a [[Bloom]] flags rows in the batch's own scan stage, a
    * [[KeyTable]] by a broadcast-batch-keys equi-join. A row no key of
    * which is flagged has no duplicate in the corpus and is admitted
    * without reading it; only flagged candidates pay `gate`'s confirm
    * against `corpus`, and the corpus is not read at all when nothing is
    * flagged. `corpus` is by-name so it is not even opened then.
    *
    * Returns the admitted rows, resolved against `batch` so they keep every
    * column (`idCol` identifies a row), and whether the corpus confirm ran.
    */
  def admit(
      corpus: => DataFrame,
      batch: DataFrame,
      idCol: String,
      gate: Gate,
      probe: Probe): (DataFrame, Boolean) = {
    val kept = gate.dedupBatch(batch, idCol)
    val flagged = (probe match {
      case Bloom(bf) =>
        kept.withColumn("__cand", exists(col("__keys"),
          k => graft.functions.SketchFunctions.mightContain(lit(bf), k)))
      case table: KeyTable =>
        // materialized first: the probe's shard collect and its join would
        // otherwise each re-run the within-batch dedup
        val probed = kept.transform(Checkpointing.materialize)
        val hits = tableCandidateIds(
          probed.select(col(idCol), explode(col("__keys")).as("__k")), idCol, table)
          .withColumn("__cand", lit(true))
        probed.join(broadcast(hits), Seq(idCol), "left")
          .withColumn("__cand", coalesce(col("__cand"), lit(false)))
    }).transform(Checkpointing.materialize)
    val candidates = flagged.filter(col("__cand"))
    val confirmRan = !candidates.isEmpty
    val admittedIds =
      if (!confirmRan) flagged.select(col(idCol))
      else flagged.filter(!col("__cand")).select(col(idCol))
        .unionByName(gate.confirm(corpus, candidates, idCol))
    (batch.join(admittedIds, Seq(idCol), "left_semi"), confirmRan)
  }

  /** A [[Bloom]] over `keys` (an `array<bigint>` column, [[Gate.keys]]) of
    * `rows`, sized for `expectedItems`. No rows give an empty filter of the
    * same size, so it merges with any other filter of that capacity.
    */
  private[graft] def bloomOver(rows: DataFrame, keys: Column, expectedItems: Long): Array[Byte] =
    Option(rows.select(explode(keys).as("__k"))
      .agg(graft.functions.SketchFunctions.bloomFilterAgg(col("__k"), expectedItems))
      .head().getAs[Array[Byte]](0))
      .getOrElse(graft.functions.SketchFunctions.emptyBloom(expectedItems))

  /** Incremental corpus dedup: admit only the rows of `batch` whose content
    * does not already exist in `corpus`, after collapsing exact duplicates
    * within the batch to their min-id row — the batch-job form of
    * [[graft.streaming.Streaming.ingestBatch]]. One corpus pass builds the
    * content-key bloom; see [[admit]] for the rest.
    */
  def incrementalExact(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      contentCols: Seq[String],
      expectedCorpusItems: Long = 1000000L): DataFrame = {
    val gate = Exact(contentCols)
    admit(corpus, batch, idCol, gate,
      Bloom(bloomOver(corpus, gate.keys, expectedCorpusItems)))._1
  }

  /** [[incrementalExact]] probing a prebuilt content-key [[KeyTable]]
    * ([[corpusContentKeys]]) instead of a bloom. Admissions are identical.
    */
  def incrementalExactTable(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      contentCols: Seq[String],
      keyTable: KeyTable): DataFrame =
    admit(corpus, batch, idCol, Exact(contentCols), keyTable)._1

  /** The corpus's content keys in [[KeyTable]] layout (`__shard`, `__k`) —
    * one key per row; callers persist via
    * [[graft.streaming.KeyTableSidecar.appendKeys]] or pass in-memory.
    */
  def corpusContentKeys(
      corpus: DataFrame, contentCols: Seq[String], nShards: Int): DataFrame =
    corpus.select(contentBloomKey(contentCols).as("__k"))
      .select(pmod(col("__k"), lit(nShards.toLong)).cast("int").as("__shard"), col("__k"))

  /** The 64-bit bloom key over the content columns — the [[Exact]] gate's
    * one key per row.
    */
  def contentBloomKey(contentCols: Seq[String]): Column =
    xxhash64(to_json(struct(contentCols.map(col): _*)))

  /** Per-document LSH band PROBE keys — each (band index, bucket hash) pair
    * folded to one 64-bit key, the [[NearDup]] gate's `bands` keys per row.
    */
  def bandProbeKeys(
      textCol: Column, n: Int, numHashes: Int, bands: Int, seed: Long): Column =
    bandProbeKeysFromSig(
      minhashSignatureFromTokens(TextAnalysis.tokens(textCol), n, numHashes, seed),
      numHashes, bands)

  /** [[bandProbeKeys]] over an already-computed signature column — the same
    * (band index, bucket) → xxhash64 fold, so a caller that has per-doc
    * signatures builds IDENTICAL probe keys without a second
    * tokenize+minhash pass.
    */
  def bandProbeKeysFromSig(sig: Column, numHashes: Int, bands: Int): Column =
    transform(bandKeys(sig, numHashes, bands), (b, i) => xxhash64(i, b))

  /** The corpus's band probe keys in [[KeyTable]] layout (`__shard`,
    * `__k`); callers persist the result partitioned by `__shard` (see
    * [[graft.streaming.KeyTableSidecar.appendKeys]]) or pass it in-memory.
    */
  def corpusBandKeys(
      corpus: DataFrame, textCol: String,
      n: Int, numHashes: Int, bands: Int, seed: Long, nShards: Int): DataFrame =
    corpus
      .select(explode(bandProbeKeys(col(textCol), n, numHashes, bands, seed)).as("__k"))
      .select(pmod(col("__k"), lit(nShards.toLong)).cast("int").as("__shard"), col("__k"))

  /** The key-table probe: ids of `batchKeys` rows (`idCol`, BIGINT `__k`)
    * whose key exists in `table` — shard-pruned scan of the corpus key
    * table, batch side broadcast, tiny distinct-id output.
    *
    * The broadcast is forced only while the batch's key count is under
    * `maxBroadcastKeys` (the designed micro-batch regime, where the corpus
    * key table is scanned and NEVER shuffled). An oversized batch — a
    * backfill replay, a catch-up burst — degrades to a planner-chosen
    * equi-join instead of a forced multi-GB broadcast: the key table
    * shuffles once on `__k`, which is graceful, where an OOM'd broadcast
    * is not. The key count rides the SAME job that collects the batch's
    * shard set (a per-shard count aggregate, ≤ nShards rows to the
    * driver) — the steady state pays ONE job here, not a shard collect
    * plus a separate count.
    */
  private[graft] def tableCandidateIds(
      batchKeys: DataFrame, idCol: String, table: KeyTable,
      maxBroadcastKeys: Long = 4L << 20): DataFrame = {
    val shardCounts = batchKeys
      .groupBy(pmod(col("__k"), lit(table.nShards.toLong)).cast("int").as("__s"))
      .agg(count(lit(1)).as("__n"))
      .collect()
    val shards = shardCounts.map(_.getInt(0)).toSeq
    val nKeys = shardCounts.map(_.getLong(1)).sum
    val pruned =
      if (table.keys.columns.contains("__shard"))
        table.keys.filter(col("__shard").isin(shards: _*))
      else table.keys
    val probeSide =
      if (nKeys <= maxBroadcastKeys) broadcast(batchKeys) else batchKeys
    pruned.select(col("__k"))
      .join(probeSide, Seq("__k"))
      .select(col(idCol)).distinct()
  }

  /** Incremental NEAR-duplicate ingestion gate — the MinHash analog of
    * [[incrementalExact]] (the [[NearDup]] rule), closing the re-crawl hole
    * where a page with one changed byte sails through an exact-hash gate;
    * the batch-job form of
    * [[graft.streaming.Streaming.ingestNearDupBatch]]. Without
    * `bandKeyTable`, one corpus pass builds the band-key bloom (expect
    * `corpusRows × bands` keys); see [[admit]] for the rest.
    */
  def incrementalMinhash(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      bandKeyTable: Option[KeyTable] = None): DataFrame = {
    val gate = NearDup(textCol, n, threshold, numHashes, bands, seed)
    admit(corpus, batch, idCol, gate, bandKeyTable.getOrElse(
      Bloom(bloomOver(corpus, gate.keys, 1000000L))))._1
  }

  /** One corpus feature pass for the near-dup confirm: (renamed id,
    * distinct gram hashes, minhash signature) per corpus row.
    */
  private[graft] def nearDupFeatures(
      corpus: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, seed: Long): DataFrame =
    // text-kernel spread: the corpus arrives as a one-partition scan at
    // small sizes and the tokenize + gram-hash + minhash pass would
    // serialize on one core; no-op once the scan carries >= slot partitions
    Ops.spreadText(corpus.select(col(idCol), col(textCol))).select(
      col(idCol).as("__cb"),
      array_distinct(graft.functions.HashExpressions
        .ngramHashes(TextAnalysis.tokens(col(textCol)), n)).as("__g_b"),
      minhashSignatureFromTokens(TextAnalysis.tokens(col(textCol)), n, numHashes, seed)
        .as("__sig"))

  /** Ids of candidates (`__ca`, `__g_a`, `__sig_a`) with a VERIFIED
    * near-duplicate among the corpus features: LSH band-bucket equi-join
    * (shuffle volume = collisions, never the cross product) + exact
    * gram-hash Jaccard. The band join carries IDS ONLY — the distinct-gram
    * arrays would otherwise ride the `bands`-way explode through the
    * shuffle; the verified pairs (collisions only) join BACK to the two
    * gram tables instead.
    */
  private[graft] def nearDupRejectsFromFeats(
      corpFeat: DataFrame,
      candFeat: DataFrame,
      idCol: String,
      threshold: Double,
      numHashes: Int,
      bands: Int): DataFrame = {
    val candBanded = candFeat
      .select(col("__ca"), posexplode(bandKeys(col("__sig_a"), numHashes, bands)))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bucket"))
    val corpBanded = corpFeat
      .select(col("__cb"), posexplode(bandKeys(col("__sig"), numHashes, bands)))
      .withColumnsRenamed(Map("pos" -> "__band", "col" -> "__bucket"))
    val pairs = candBanded.join(corpBanded, Seq("__band", "__bucket"))
      .select(col("__ca"), col("__cb")).distinct()
    val jac = size(array_intersect(col("__g_a"), col("__g_b"))).cast("double") /
      size(array_union(col("__g_a"), col("__g_b")))
    pairs
      .join(candFeat.select(col("__ca"), col("__g_a")), Seq("__ca"))
      .join(corpFeat.select(col("__cb"), col("__g_b")), Seq("__cb"))
      .filter(jac >= threshold)
      .select(col("__ca").as(idCol)).distinct()
  }

  /** The exact-confirmation digest over the content columns (the same
    * null-safe JSON-struct encoding as [[exact]]).
    */
  def contentDigest(contentCols: Seq[String]): Column =
    md5(to_json(struct(contentCols.map(col): _*)))

  /** LSH band keys: one codegen'd expression folds each signature slice into
    * a 64-bit bucket key ([[graft.functions.HashExpressions.BandKeys]]).
    * An earlier formulation built 16 per-band `xxhash64(concat_ws(...))`
    * string expressions — interpreted inside the Generate node, that was the
    * dominant cost of the whole dedup (string round-trip per band per row).
    */
  private def bandKeys(sig: Column, numHashes: Int, bands: Int): Column =
    graft.functions.HashExpressions.bandKeys(sig, bands)

  /** Shared tail for banded LSH dedup: drop any id that shares a (band,
    * bucket) with a smaller id.
    */
  private def dropBucketNonMin(df: DataFrame, banded: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__band"), col("__bucket"))
    val drops = banded
      .withColumn("__min_id", min(col(idCol)).over(w))
      .filter(col(idCol) > col("__min_id"))
      .select(col(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }
}
