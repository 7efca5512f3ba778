package graft.operators

import graft.functions.{VectorExpressions, VectorKernels}
import graft.sources.ParquetRead
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a single scan + TakeOrderedAndProject
  * (Spark's distributed top-k: per-partition heaps, k-sized merge at the
  * driver), which IS the right plan at any scale when every vector must be
  * scored. Scale path: IVF — a coarse quantizer restricts scoring to the
  * nprobe nearest lists; assignment is a shuffle-free projection against a
  * broadcast codebook.
  */
object Similarity {

  private def vecLit(v: Array[Float]): Column = typedlit(v.toSeq)

  private[graft] def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Brute-force cosine top-k for one query vector. The scoring kernel is the
    * codegen'd [[VectorExpressions.CosineSimilarity]]; orderBy+limit plans as
    * TakeOrderedAndProject (no global sort).
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String, query: Array[Float], k: Int): DataFrame =
    Ops.spread(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol), VectorExpressions.cosine(col(vecCol), vecLit(query)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** Project the corpus into a k-dim Johnson–Lindenstrauss sign space
    * ([[VectorExpressions.JlProject]]) — a pure scan-stage map that shrinks
    * every downstream distance computation by dim/k. The approximation
    * contract is the JL lemma: pairwise distances are preserved within
    * (1±ε) w.h.p., so projected-space top-k is the cheap first pass of a
    * project→shortlist→re-rank pipeline at corpus scale.
    */
  def jlProject(corpus: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    corpus.select(col(idCol), VectorExpressions.jlProject(col(vecCol), k).as("projected"))

  /** Top-k by squared L2 distance in the projected space, for one query
    * vector given in the ORIGINAL space (projected with the same kernel, so
    * engine and oracle agree bit-for-bit). TakeOrderedAndProject, ascending.
    */
  def jlTopK(corpus: DataFrame, idCol: String, vecCol: String, query: Array[Float], k: Int, projDim: Int): DataFrame = {
    val qProjected = VectorKernels.jlProject(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(query.map(_.asInstanceOf[Any])), projDim)
    val qLit = array((0 until projDim).map(i => lit(qProjected.getDouble(i))): _*)
    Ops.spread(jlProject(corpus, idCol, vecCol, projDim))
      .select(col(idCol),
        VectorExpressions.l2DistSq(col("projected"), qLit).as("pdist"))
      .orderBy(col("pdist").asc, col(idCol).asc)
      .limit(k)
  }

  /** Brute-force DOT-product top-k — the ranking [[quantizedTopK]]
    * approximates (quantization preserves the dot up to per-vector scale
    * error; cosine additionally divides by norms the codes don't carry).
    */
  def bruteForceDotTopK(corpus: DataFrame, idCol: String, vecCol: String, query: Array[Float], k: Int): DataFrame =
    Ops.spread(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol), VectorExpressions.dot(col(vecCol), vecLit(query)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  final case class Scored(id: Long, score: Double)

  /** Bounded top-k aggregator: the buffer never exceeds 2k entries, so the
    * map-side partial aggregation reduces each partition to at most k rows
    * per query BEFORE the shuffle — the window-function formulation
    * (row_number over the full scored set) shuffles every scored row.
    * Deterministic: ties on score break by ascending id.
    */
  class TopKAgg(k: Int) extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
    private def best(xs: Seq[Scored]): Seq[Scored] =
      xs.sortBy(s => (-s.score, s.id)).take(k)
    override def zero: Seq[Scored] = Vector.empty
    override def reduce(buf: Seq[Scored], a: Scored): Seq[Scored] = {
      val appended = buf :+ a
      if (appended.length > 2 * k) best(appended) else appended
    }
    override def merge(b1: Seq[Scored], b2: Seq[Scored]): Seq[Scored] = best(b1 ++ b2)
    override def finish(buf: Seq[Scored]): Seq[Scored] = best(buf)
    override def bufferEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }

  /** Batched top-k: every query row gets its k nearest corpus rows. The query
    * side broadcasts (it is small by construction); scoring happens in the
    * corpus scan stage; the bounded [[TopKAgg]] keeps the shuffle at
    * O(partitions x queries x k) rows regardless of corpus size.
    */
  def topKJoin(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val topk = udaf(new TopKAgg(k), Encoders.product[Scored])
    Ops.spread(corpus.select(col(corpusId), col(corpusVec))).crossJoin(broadcast(queries))
      .select(
        col(queryId), col(corpusId).as("__cid"),
        VectorExpressions.cosine(col(corpusVec), col(queryVec)).as("__score"))
      .groupBy(col(queryId))
      .agg(topk(col("__cid"), col("__score")).as("__top"))
      .select(col(queryId), explode(col("__top")).as("__s"))
      .select(col(queryId), col("__s.id").as(corpusId), col("__s.score").as("score"))
  }

  /** Driver-side mirror of [[VectorExpressions.QuantizeVec]]/QuantScale —
    * quantizes the query vector with the identical formula.
    */
  private[graft] def quantizeLocal(v: Array[Float]): (Array[Byte], Double) = {
    var m = 0.0
    v.foreach(x => m = math.max(m, math.abs(x.toDouble)))
    val codes = v.map { x =>
      val q = if (m == 0.0) 0L else math.floor(x.toDouble * 127.0 / m).toLong
      math.max(-127L, math.min(127L, q)).toByte
    }
    (codes, m / 127.0)
  }

  /** Brute-force top-k over int8-QUANTIZED embeddings: codes are 4x smaller
    * than floats (the scan reads 4x fewer bytes when the codes are the
    * stored column — the 100 TB storage path), the scoring loop is an exact
    * integer dot (order-free) rescaled by the two per-vector scales, and the
    * plan is the same TakeOrderedAndProject as [[bruteForceTopK]]. Scores
    * approximate the float dot within quantization error; ranking quality is
    * spec-gated against the float brute force (recall@k).
    */
  def quantizedTopK(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val (qCodes, qScale) = quantizeLocal(query)
    val qLit = typedlit(qCodes.toSeq)
    Ops.spread(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol),
        VectorExpressions.quantizedDot(
          VectorExpressions.quantizeVec(col(vecCol)), qLit).as("__idot"),
        VectorExpressions.quantScale(col(vecCol)).as("__s"))
      .select(col(idCol),
        ((col("__idot").cast("double") * col("__s")) * lit(qScale)).as("qscore"))
      .orderBy(col("qscore").desc, col(idCol).asc)
      .limit(k)
  }

  /** The IVF coarse quantizer: a small driver-side codebook, k-means-trained
    * on the full corpus by distributed Lloyd (see [[ivfIndex]]).
    */
  final case class IvfModel(centroids: Array[Array[Float]]) {
    def nearestLists(query: Array[Float], nprobe: Int): Seq[Int] =
      centroids.indices
        .sortBy(i => (-cosineLocal(query, centroids(i)), i))
        .take(nprobe)
  }

  /** Fixed-point scale for distributed centroid accumulation: 2^20. A
    * power-of-two multiply only shifts the exponent, so `x * FP` and
    * `floor(...)` are EXACT double ops in any engine, and the resulting long
    * sums are order-free — the reason the distributed codebook is bitwise
    * deterministic (see [[trainCodebook]]).
    */
  private[graft] val FixedPoint = 1048576.0

  /** DISTRIBUTED deterministic Lloyd: assignment is the codegen'd
    * [[VectorExpressions.NearestCentroid]] projection against the broadcast
    * codebook (a map stage — no join, no driver data beyond the codebook),
    * and the per-dimension means are one hash aggregation per iteration.
    *
    * Determinism at any parallelism — double addition is not associative, so
    * a naive `sum(x)` would produce a partitioning-dependent codebook (and
    * break the DuckDB oracle mirror). Instead each element quantizes to
    * fixed-point: `floor(x * 2^20)` as a long (exact: power-of-two scaling +
    * floor are IEEE-exact), long sums are order-free, and the mean divides
    * back in double. The ≤2^-20 quantization bias is irrelevant to a coarse
    * quantizer; the payoff is a bitwise-reproducible codebook on 1 core or
    * 1000 executors. Assignments are argmax cosine with lowest-index ties;
    * empty clusters keep their previous centroid; each iteration's centroids
    * round to float (round-to-nearest-even, identical in the oracle).
    *
    * The aggregation shuffles O(partitions × nlist × dim) rows (map-side
    * partial aggregation collapses the posexplode inside the scan stage);
    * only the nlist×dim codebook ever reaches the driver.
    */
  private[graft] def trainCodebook(
      corpus: DataFrame, idCol: String, vecCol: String,
      init: Array[Array[Float]], iters: Int): Array[Array[Float]] = {
    // every Lloyd iteration re-reads the training vectors; persist the
    // one-column projection once so iteration k scans the cache, not the
    // source (the standard k-means discipline — results are unchanged:
    // the per-cluster sums are fixed-point, order-free)
    val vecs = Ops.spread(corpus.select(col(vecCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents = init
      var it = 0
      while (it < iters) {
        val rows = vecs
          .select(
            VectorExpressions.nearestCentroid(col(vecCol), cents).as("cid"),
            posexplode(col(vecCol)).as(Seq("d", "x")))
          .groupBy(col("cid"), col("d"))
          .agg(
            sum(floor(col("x").cast("double") * lit(FixedPoint))).as("qsum"),
            count(lit(1)).as("cnt"))
          .collect()
        val next = cents.map(_.clone()) // empty clusters keep previous centroid
        rows.foreach { r =>
          val cid = r.getInt(0); val d = r.getInt(1)
          val qsum = r.getLong(2); val cnt = r.getLong(3)
          if (cid >= 0 && cid < next.length && d < next(cid).length)
            next(cid)(d) = ((qsum.toDouble / cnt) / FixedPoint).toFloat
        }
        cents = next
        it += 1
      }
      cents
    } finally vecs.unpersist(false)
  }

  /** Build the IVF index. The codebook is k-means-trained by
    * [[trainCodebook]] (distributed assignment + aggregation; the
    * nlist-sized codebook is the only driver-side data, so the build scales
    * to any corpus and any nlist the driver can hold a codebook for) —
    * over the full corpus by default, or a deterministic [[trainSample]]
    * when `trainSampleFraction` < 1 (the corpus-scale regime; assignment
    * below still stamps every vector).
    * Seeding is the first `nlist` TRAINING vectors by id — deterministic
    * with no `count()` pre-pass; Lloyd corrects the seeding bias (the
    * recall gate in SimilaritySpec holds it to account).
    * Every corpus vector is then tagged with its nearest centroid via the
    * codegen'd [[VectorExpressions.NearestCentroid]] projection — NO join,
    * NO shuffle; at cluster scale the assignment is a single map stage and
    * the index is written `partitionBy("centroid_id")` so probes prune to
    * nprobe/nlist of the files.
    *
    * MINIMUM-CORPUS CONTRACT (shared with the streaming bootstrap,
    * [[graft.streaming.IvfIngest.ingestBatch]]): the training set — the
    * full corpus, or the sample when `trainSampleFraction` < 1 — must hold
    * at least `nlist` vectors, or the build raises rather than silently
    * fitting an under-sized codebook the caller's nprobe/recall tuning
    * assumed had `nlist` lists. The streaming side is stricter still (a
    * min-bootstrap-rows gate, default 8×nlist), because its bootstrap
    * codebook is fixed for the index's life; a batch build is re-runnable.
    */
  def ivfIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 2,
      trainSampleFraction: Double = 1.0, sampleSalt: Long = 0L)
      : (DataFrame, IvfModel) = {
    val train = trainSample(corpus, idCol, trainSampleFraction, sampleSalt)
    val init = train.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    // the minimum-corpus contract (see Scaladoc): a training set that
    // cannot seed nlist centroids must raise, not silently build an
    // under-sized codebook the caller's nprobe/recall expectations were
    // tuned against. At fraction < 1 the fix is a larger fraction; at
    // fraction = 1 the corpus itself is below nlist — shrink nlist.
    require(init.length == nlist,
      if (trainSampleFraction < 1.0)
        s"training sample has ${init.length} < $nlist vectors — raise " +
          s"trainSampleFraction (= $trainSampleFraction) or lower nlist"
      else s"corpus has ${init.length} < $nlist vectors — lower nlist")
    val centroids = trainCodebook(train, idCol, vecCol, init, iters)
    val model = IvfModel(centroids)
    val assignments = Ops.spread(corpus.select(col(idCol), col(vecCol))).select(
      col(idCol), col(vecCol),
      VectorExpressions.nearestCentroid(col(vecCol), centroids).as("centroid_id"))
    (assignments, model)
  }

  /** Persist the IVF index partitioned by centroid id — the 100 TB layout:
    * each inverted list is a directory, so a probe's `centroid_id IN (...)`
    * filter becomes PARTITION pruning and the scan reads nprobe/nlist of the
    * files instead of filtering all of them.
    */
  def writeIvfIndex(assignments: DataFrame, dir: String): Unit =
    assignments.write.mode("overwrite").partitionBy("centroid_id").parquet(dir)

  /** Per-cluster profile of a k-means partitioning of the corpus: size and
    * mean cosine-to-centroid (the cohesion/inertia analog a curation run
    * reads to decide whether clusters are tight enough to sample from or
    * the codebook needs more lists/iterations).
    *
    * Scale shape: assignment is the shuffle-free [[ivfIndex]] projection,
    * the centroid lookup is a broadcast equi-join against the nlist-sized
    * codebook, and the profile is ONE hash aggregation on `centroid_id` —
    * map-side partials reduce each task to ≤nlist rows before the shuffle.
    * The mean accumulates fixed-point longs (`floor(cos·2^20)`, see
    * [[FixedPoint]]) instead of doubles, so the profile is bitwise
    * deterministic at any parallelism — and exactly mirrorable.
    */
  def clusterProfile(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 2): DataFrame = {
    val (assignments, model) = ivfIndex(corpus, idCol, vecCol, nlist, iters)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("centroid_id", "__cv")
    assignments
      .join(broadcast(cents), Seq("centroid_id"))
      .select(col("centroid_id"),
        floor(VectorExpressions.cosine(col(vecCol), col("__cv")) * lit(FixedPoint))
          .cast("long").as("__qcos"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("__qcos")).as("__qsum"))
      .select(
        col("centroid_id").cast("long").as("centroid_id"),
        col("n_vectors"),
        (col("__qsum").cast("double") / col("n_vectors") / lit(FixedPoint))
          .as("mean_cos"))
  }

  /** Cluster-balanced subsample: at most `perCluster` vectors from each
    * k-means cluster, chosen by the deterministic [[Sampling.unitHash]]
    * order — the diversity-preserving cut that keeps a mega-cluster of
    * boilerplate from dominating a curated set the way a uniform sample
    * would.
    *
    * Scale shape: assignment is shuffle-free (broadcast codebook), then ONE
    * window partitioned by `centroid_id` — never a global window; the hash
    * order means no per-cluster sort state beyond the window's own, and the
    * result is reproducible across any partitioning.
    */
  def clusterBalancedSample(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, perCluster: Int, iters: Int = 2, salt: Long = 0L): DataFrame = {
    val (assignments, _) = ivfIndex(corpus, idCol, vecCol, nlist, iters)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("centroid_id"))
      .orderBy(Sampling.unitHash(col(idCol), salt).asc, col(idCol).asc)
    assignments
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perCluster)
      .select(col(idCol), col("centroid_id").cast("long").as("centroid_id"))
  }

  /** k-NN label classification: each query vector takes the majority label
    * of its `k` nearest corpus vectors by cosine (votes tie-break to the
    * smallest label, neighbor ties to the smallest id — fully
    * deterministic). The label-propagation primitive for semi-supervised
    * curation: score unlabeled documents by their labeled neighbors.
    *
    * Scale shape: riding [[topKJoin]], scoring stays in the corpus scan
    * stage and the bounded [[TopKAgg]] shuffles O(partitions × queries × k)
    * rows regardless of corpus size; the label lookup is an equi-join on
    * the ≤ queries×k neighbor rows, and the vote is a two-level hash
    * aggregation on query id.
    */
  def knnClassify(
      corpus: DataFrame, corpusId: String, vecCol: String, labelCol: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val neighbors = topKJoin(
      corpus, corpusId, vecCol, queries, queryId, queryVec, k)
    val votes = neighbors
      .join(corpus.select(col(corpusId), col(labelCol)), Seq(corpusId))
      .groupBy(col(queryId), col(labelCol))
      .agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryId))
      .orderBy(col("votes").desc, col(labelCol).asc)
    votes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(queryId), col(labelCol).as("predicted_label"), col("votes"))
  }

  /** Probe a persisted IVF index: identical semantics to [[ivfTopK]], but the
    * centroid filter prunes whole directories at planning time.
    */
  def ivfTopKFromIndex(
      spark: SparkSession, indexDir: String, model: IvfModel,
      idCol: String, vecCol: String,
      query: Array[Float], k: Int, nprobe: Int): DataFrame =
    ivfTopK(ParquetRead(spark, indexDir), model, idCol, vecCol, query, k, nprobe)

  /** IVF probe: rank centroids against the query on the driver (the codebook
    * is tiny), then brute-force only inside the `nprobe` nearest lists — an
    * IN-filter the scan prunes on.
    */
  def ivfTopK(
      assignments: DataFrame, model: IvfModel,
      idCol: String, vecCol: String,
      query: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val probeLists = model.nearestLists(query, nprobe)
    assignments
      .filter(col("centroid_id").isin(probeLists: _*))
      .select(col(idCol), VectorExpressions.cosine(col(vecCol), vecLit(query)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // ------------------------------------------------------------------ PQ

  /** Product-quantization model: `m` subspaces of `subDim` dims, each with a
    * `k ≤ 16`-entry codebook (4-bit codes — a whole vector's code word packs
    * into ONE long). `codebooks(s)(c)` is subspace `s`'s centroid `c`.
    */
  final case class PqModel(m: Int, k: Int, subDim: Int,
      codebooks: Array[Array[Array[Float]]])

  /** Deterministic quantizer-training sample: keep ~`fraction` of the
    * corpus by the same [[Sampling.unitHash]] filter the sampling operators
    * use, so an oracle (or a re-run on another cluster) replays the
    * IDENTICAL training set bit-for-bit — no shuffle, no count pre-pass,
    * the filter rides the scan stage. This is the standard quantizer
    * practice at corpus scale (FAISS trains codebooks on ~1M-vector
    * samples): codebook quality needs a representative sample, not every
    * vector, while each Lloyd iteration otherwise pays a FULL corpus pass.
    * `fraction >= 1.0` returns the corpus untouched (the small-corpus
    * default).
    */
  private def trainSample(
      corpus: DataFrame, idCol: String, fraction: Double, salt: Long): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"trainSampleFraction must be in (0, 1] (got $fraction)")
    if (fraction >= 1.0) corpus
    else corpus.filter(Sampling.unitHash(col(idCol), salt) < fraction)
  }

  /** Train a product quantizer — the storage-side ANN path past IVF: at
    * 100 TB the float corpus itself is the cost, and PQ stores 8 BYTES per
    * 64-dim vector (32× smaller than float32), with query-time scoring done
    * entirely over the codes (ADC — no float vector is ever read).
    *
    * All `m` subspaces train JOINTLY: each Lloyd iteration is ONE pass over
    * the corpus — the per-subspace nearest-centroid assignments are `m`
    * broadcast-codebook projections inside the scan stage, and the centroid
    * update is a single hash aggregation keyed (subspace, cid, dim) whose
    * map-side combine collapses the explode before any shuffle. Per
    * iteration the shuffle carries O(partitions × m × k × subDim) rows and
    * only the m×k×subDim codebook reaches the driver — the same scale shape
    * as [[trainCodebook]], which also supplies the determinism construction
    * (fixed-point long sums → bitwise-identical codebooks at any
    * parallelism; assignment = argmax cosine, lowest index on ties; empty
    * cells keep the previous centroid; centroids round to float).
    * Seeding: subspace slices of the first `k` TRAINING vectors by id.
    *
    * `trainSampleFraction` < 1 trains on a deterministic [[trainSample]]
    * of the corpus (seeding included) — at 100 TB the codebooks train on a
    * ~1M-vector sample while encoding still covers every vector.
    */
  def pqTrain(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 8, k: Int = 16, iters: Int = 2,
      trainSampleFraction: Double = 1.0, sampleSalt: Long = 0L): PqModel = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(k >= 2 && k <= 16, s"k=$k must fit a 4-bit code")
    val subDim = dim / m
    val train = trainSample(corpus, idCol, trainSampleFraction, sampleSalt)
    val seedVecs = train.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    require(seedVecs.length == k, s"training sample has < $k vectors")
    var books: Array[Array[Array[Float]]] =
      Array.tabulate(m, k)((s, c) => seedVecs(c).slice(s * subDim, (s + 1) * subDim))
    // persist the one-column training projection across Lloyd iterations
    // (see [[trainCodebook]]): iteration k scans the cache, not the source
    val vecs = Ops.spread(train.select(col(vecCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var it = 0
      while (it < iters) {
        val cidCols = (0 until m).map(s => VectorExpressions
          .nearestCentroid(slice(col(vecCol), s * subDim + 1, subDim), books(s))
          .as(s"__cid$s"))
        val entries = for { s <- 0 until m; d <- 0 until subDim } yield struct(
          lit(s).as("s"), col(s"__cid$s").as("cid"), lit(d).as("d"),
          element_at(col(vecCol), s * subDim + d + 1).as("x"))
        val rows = vecs
          .select(col(vecCol) +: cidCols: _*)
          .select(explode(array(entries: _*)).as("e"))
          .select(col("e.s"), col("e.cid"), col("e.d"), col("e.x"))
          .groupBy(col("s"), col("cid"), col("d"))
          .agg(sum(floor(col("x").cast("double") * lit(FixedPoint))).as("qsum"),
            count(lit(1)).as("cnt"))
          .collect()
        val next = books.map(_.map(_.clone()))
        rows.foreach { r =>
          val s = r.getInt(0); val cid = r.getInt(1); val d = r.getInt(2)
          val qsum = r.getLong(3); val cnt = r.getLong(4)
          if (s >= 0 && s < m && cid >= 0 && cid < k && d >= 0 && d < subDim)
            next(s)(cid)(d) = ((qsum.toDouble / cnt) / FixedPoint).toFloat
        }
        books = next
        it += 1
      }
    } finally vecs.unpersist(false)
    PqModel(m, k, subDim, books)
  }

  /** Encode the corpus against a trained [[PqModel]]: per-subspace
    * nearest-centroid codes packed 4 bits each into one long. A pure map
    * stage (broadcast codebooks, no join, no shuffle) — and the reason the
    * stored index is `(id, BIGINT)`: 8 bytes/vector however wide the floats
    * were.
    */
  private def packedCodes(vecCol: String, model: PqModel): Column =
    (0 until model.m).map { s =>
      shiftleft(VectorExpressions.nearestCentroid(
        slice(col(vecCol), s * model.subDim + 1, model.subDim),
        model.codebooks(s)).cast("long"), 4 * s)
    }.reduce(_.bitwiseOR(_))

  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame =
    Ops.spread(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol), packedCodes(vecCol, model).as("pq_code"))

  /** ADC (asymmetric distance computation) top-k over PQ codes: the query
    * stays FLOAT — its dot product against every codebook centroid is a
    * driver-side m×k lookup table, and each corpus vector scores as the sum
    * of its `m` table entries, selected by 4-bit shifts out of the packed
    * code. The scan reads (id, long); scoring is integer bit-ops + `m`
    * array lookups + a left-to-right add chain (fixed association order —
    * the DuckDB mirror replays it bitwise via sequential list_sum); the plan
    * is the same TakeOrderedAndProject as [[bruteForceTopK]].
    */
  def pqTopK(encoded: DataFrame, idCol: String, codeCol: String,
      model: PqModel, query: Array[Float], k: Int): DataFrame = {
    require(query.length == model.m * model.subDim, "query/model dim mismatch")
    val lut: Seq[Double] = for { s <- 0 until model.m; c <- 0 until model.k }
      yield {
        var acc = 0.0
        var d = 0
        while (d < model.subDim) {
          acc += query(s * model.subDim + d).toDouble * model.codebooks(s)(c)(d).toDouble
          d += 1
        }
        acc
      }
    val lutLit = typedlit(lut)
    val score = (0 until model.m).map { s =>
      element_at(lutLit,
        (shiftright(col(codeCol), 4 * s).bitwiseAND(lit(15L)).cast("int")
          + lit(s * model.k + 1)))
    }.reduce(_ + _)
    encoded
      .select(col(idCol), score.as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Build the composed IVF-PQ index (the FAISS IVFADC layout): a coarse
    * k-means quantizer for list pruning AND packed PQ codes for in-list
    * scoring, stamped in ONE map stage — `(id, centroid_id, pq_code)` is
    * 12 bytes of index per vector however wide the floats were. Persisted
    * `partitionBy("centroid_id")` (see [[writeIvfIndex]]) a probe reads
    * nprobe/nlist of the FILES and 8 bytes per vector — the two prunings
    * multiply. Codebooks train on the raw vectors (shared across lists);
    * per-list residual codebooks are the classical recall upgrade, at
    * nlist× the codebook state.
    */
  def ivfPqIndex(
      corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      nlist: Int = 16, iters: Int = 2,
      m: Int = 8, k: Int = 16,
      trainSampleFraction: Double = 1.0, sampleSalt: Long = 0L)
      : (DataFrame, IvfModel, PqModel) = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(k >= 2 && k <= 16, s"k=$k must fit a 4-bit code")
    val subDim = dim / m
    // both quantizers train (and seed) on the deterministic sample; the
    // index stamp below still covers EVERY corpus vector
    val train = trainSample(corpus, idCol, trainSampleFraction, sampleSalt)
    val seedCount = math.max(nlist, k)
    val seedVecs = train.orderBy(col(idCol)).limit(seedCount)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    require(seedVecs.length == seedCount, s"training sample has < $seedCount vectors")
    // JOINT Lloyd: the coarse quantizer and all m subspace codebooks update
    // from ONE aggregation per iteration — the per-row assignments are m+1
    // broadcast-codebook projections in the scan stage, and the update keys
    // (quantizer, cell, dim) never interact, so the result is bitwise the
    // one separate training produces at half the corpus passes. At 100 TB
    // the corpus passes ARE the build cost; the codebooks stay driver-sized.
    var coarse: Array[Array[Float]] = Array.tabulate(nlist)(c => seedVecs(c).clone())
    var books: Array[Array[Array[Float]]] =
      Array.tabulate(m, k)((s, c) => seedVecs(c).slice(s * subDim, (s + 1) * subDim))
    var it = 0
    while (it < iters) {
      val cidCols = (0 until m).map(s => VectorExpressions
        .nearestCentroid(slice(col(vecCol), s * subDim + 1, subDim), books(s))
        .as(s"__cid$s")) :+
        VectorExpressions.nearestCentroid(col(vecCol), coarse).as("__cidFull")
      val subEntries = for { s <- 0 until m; d <- 0 until subDim } yield struct(
        lit(s).as("s"), col(s"__cid$s").as("cid"), lit(d).as("d"),
        element_at(col(vecCol), s * subDim + d + 1).as("x"))
      val coarseEntries = (0 until dim).map(d => struct(
        lit(m).as("s"), col("__cidFull").as("cid"), lit(d).as("d"),
        element_at(col(vecCol), d + 1).as("x")))
      val rows = Ops.spread(train.select(col(vecCol)))
        .select(col(vecCol) +: cidCols: _*)
        .select(explode(array(subEntries ++ coarseEntries: _*)).as("e"))
        .select(col("e.s"), col("e.cid"), col("e.d"), col("e.x"))
        .groupBy(col("s"), col("cid"), col("d"))
        .agg(sum(floor(col("x").cast("double") * lit(FixedPoint))).as("qsum"),
          count(lit(1)).as("cnt"))
        .collect()
      val nextBooks = books.map(_.map(_.clone()))
      val nextCoarse = coarse.map(_.clone())
      rows.foreach { r =>
        val s = r.getInt(0); val cid = r.getInt(1); val d = r.getInt(2)
        val mean = ((r.getLong(3).toDouble / r.getLong(4)) / FixedPoint).toFloat
        if (s >= 0 && s < m && cid >= 0 && cid < k && d >= 0 && d < subDim)
          nextBooks(s)(cid)(d) = mean
        else if (s == m && cid >= 0 && cid < nlist && d >= 0 && d < dim)
          nextCoarse(cid)(d) = mean
      }
      books = nextBooks
      coarse = nextCoarse
      it += 1
    }
    val pq = PqModel(m, k, subDim, books)
    val ivf = IvfModel(coarse)
    (ivfPqEncode(corpus, idCol, vecCol, ivf, pq), ivf, pq)
  }

  /** Stamp `(id, centroid_id, pq_code)` against PRE-TRAINED quantizers —
    * the incremental-ingestion encoder: the same projection [[ivfPqIndex]]
    * ends with, so an index built batchwise and one accreted batch-by-batch
    * under the same models agree bitwise. A pure map stage: both codebooks
    * broadcast in the closure, no join, no shuffle.
    */
  def ivfPqEncode(
      df: DataFrame, idCol: String, vecCol: String,
      ivf: IvfModel, pq: PqModel): DataFrame =
    Ops.spread(df.select(col(idCol), col(vecCol)))
      .select(col(idCol),
        VectorExpressions.nearestCentroid(col(vecCol), ivf.centroids).as("centroid_id"),
        packedCodes(vecCol, pq).as("pq_code"))

  /** IVF-PQ probe: rank coarse centroids against the query on the driver,
    * ADC-score ONLY the vectors in the `nprobe` nearest lists (a partition-
    * prunable IN filter over the persisted index), top-k over the lookup
    * sums. The scan that answers the query reads codes, never floats.
    */
  def ivfPqTopK(
      index: DataFrame, ivf: IvfModel, pq: PqModel,
      idCol: String, query: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val probes = ivf.nearestLists(query, nprobe)
    pqTopK(index.filter(col("centroid_id").isin(probes: _*)),
      idCol, "pq_code", pq, query, k)
  }

  /** PQ search with the refine stage every production PQ deployment runs:
    * ADC over the codes shortlists `shortlist` candidates, then ONLY those
    * vectors' floats are read back for an exact dot rerank. Codes quantize
    * away within-cell ordering (two vectors in the same cells score
    * identically), so raw [[pqTopK]] ranks coarsely; the rerank restores
    * exact order while still reading `shortlist/N` of the float corpus —
    * at 100 TB the float side is a semi-join against a broadcast id list,
    * i.e. a pruned scan, never a full pass.
    */
  def pqTopKRefined(
      encoded: DataFrame, corpus: DataFrame,
      idCol: String, codeCol: String, vecCol: String,
      model: PqModel, query: Array[Float], k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val cands = pqTopK(encoded, idCol, codeCol, model, query, shortlist)
      .select(col(idCol))
    corpus.join(broadcast(cands), Seq(idCol), "left_semi")
      .select(col(idCol), VectorExpressions.dot(col(vecCol), vecLit(query)).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
