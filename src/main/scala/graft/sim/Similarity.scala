package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

import graft.functions.TopKAgg

/** Similarity search over embedding columns (SURVEY.md §7.5).
  *
  * Scale design:
  *  - Brute-force top-k is the exact baseline: queries broadcast (small),
  *    corpus streamed. Ranking is a map-side-combinable bounded k-heap
  *    aggregation (graft.functions.TopKAgg), NOT a ranking window — each
  *    task forwards ≤ k candidates per query, so the exchange carries
  *    ≤ k · numPartitions rows per query instead of every scored
  *    candidate (|corpus| × |queries| for brute force).
  *  - The LSH path buckets by random-hyperplane sign patterns (planes are
  *    deterministic hash functions of (plane, dim) — no RNG state to ship)
  *    so candidate generation is a hash-partitioned equi-join on bucket
  *    id; probing multiple band permutations trades recall for cost.
  *  - Near-dup pair generation collects CAPPED member lists per bucket
  *    (maxBucket smallest ids) with in-task pair expansion, so one dense
  *    bucket can never go quadratic on a single executor.
  *  - Dot products use single-pass custom expressions — per-row JVM
  *    columnar work, no UDF serialization.
  */
object Similarity {

  /** Dot product of two array<double> columns — a single-pass custom
    * expression (graft.functions.DotProduct); accumulates left-to-right
    * exactly like the HOF `aggregate(zip_with(...))` fold it replaced,
    * so results are bit-identical (and the DuckDB oracles stay green).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot(a, b)

  /** L2 norm (single-pass custom expression, same fold order). */
  def norm(a: Column): Column =
    graft.functions.VectorFunctions.norm(a)

  /** Cosine similarity. NULL when either vector has zero norm: the
    * 0/0 is undefined — as NaN it would rank greatest in every top-k
    * and pass any threshold (non-ANSI), and under ANSI mode the raw
    * division would kill the whole job on one degenerate row. NULL
    * rides the existing null-cosine filters instead, in either mode.
    */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom =!= 0.0, dot(a, b) / denom)
  }

  private val integralTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  /** Rank `scored` (query_id, vec_id, cosine) down to the top k per query
    * by (cosine desc, vec_id asc). Integral vec_id (every embeddings
    * table here) takes the bounded k-heap aggregation — partial
    * aggregation before the exchange, ≤ k rows per task per query; other
    * id types fall back to the ranking window (correct, but shuffles all
    * scored candidates — avoid for large corpora).
    */
  private[graft] def rankTopK(scored: DataFrame, k: Int,
      dedupCandidates: Boolean = false): DataFrame = {
    val idType = scored.schema("vec_id").dataType
    if (integralTypes.contains(idType)) {
      // duplicate candidates (multi-table LSH) are collapsed INSIDE the
      // k-heap — no dropDuplicates shuffle needed before ranking.
      // Null/NaN guard: TopKAgg's input encoder is primitive (Double,
      // Long), so a corrupt embedding's NULL cosine (DotProduct
      // length-mismatch contract) must be dropped here; a zero-norm
      // vector's 0/0 NaN cosine must too — TopKAgg ranks NaN greatest,
      // so one degenerate corpus vector would otherwise occupy rank 1
      // for EVERY query. The window fallback applies the identical
      // filter, so both branches emit the same set
      val topk = udaf(new TopKAgg(k))
      scored
        .filter(col("cosine").isNotNull && !isnan(col("cosine")) &&
          col("vec_id").isNotNull)
        .groupBy("query_id")
        .agg(topk(col("cosine"), col("vec_id").cast("long")).as("__topk"))
        .select(col("query_id"),
          posexplode(col("__topk")).as(Seq("__pos", "__e")))
        .select(col("query_id"),
          col("__e._2").cast(idType).as("vec_id"),
          col("__e._1").as("cosine"),
          (col("__pos") + 1).as("rank"))
    } else {
      // same null-cosine/null-id filter as the udaf path: without it the
      // window (desc → nulls last) would still emit null-cosine rows
      // within rank k whenever a query has fewer than k valid candidates,
      // breaking parity between the two branches
      val base0 = scored.select("query_id", "vec_id", "cosine")
        .filter(col("cosine").isNotNull && !isnan(col("cosine")) &&
          col("vec_id").isNotNull)
      val base = if (dedupCandidates) base0.distinct() else base0
      val w = Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("vec_id"))
      base.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    }
  }

  /** Exact brute-force cosine top-k: for each query row (small set,
    * broadcast), the k nearest corpus rows. Returns (query_id, vec_id,
    * cosine, rank).
    *
    * `excludeSelf` (default true) drops candidates whose corpus id
    * equals the query id — correct for self-retrieval (queries drawn
    * from the corpus). Pass FALSE when the query table has an
    * UNRELATED id space: an accidental id collision would otherwise
    * silently drop a legitimate neighbor.
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv"))
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).as("__qv")))
    val paired = c.crossJoin(q)
    val scored = (if (excludeSelf)
        paired.filter(col("vec_id") =!= col("query_id")) else paired)
      .withColumn("cosine", cosine(col("__cv"), col("__qv")))
    rankTopK(scored, k)
  }

  /** k-NN label vote, decoupled from the neighbor generator (the same
    * pattern as Dedup.keepBestSurvivors): given ANY neighbor frame
    * (query_id, vec_id, rank ≤ k) — brute-force, LSH or IVF top-k all
    * emit that shape — attach each neighbor's label and predict, per
    * query, the label with the most votes (ties to the smallest label:
    * integer logic, deterministic on any partitioning). Returns
    * (query_id, predicted_label, votes).
    *
    * This is k-NN label propagation — the weak-supervision /
    * quality-label-transfer primitive of an embedding-indexed corpus:
    * label a small seed set, push labels to every unlabeled point
    * through its neighbors. Scale: one hash join of the neighbor list
    * (k rows per query) against (id, label) and one tiny grouped count —
    * the expensive part is the neighbor search, whose scale path is
    * [[lshTopK]]/[[ivfTopK]].
    */
  def knnVote(neighbors: DataFrame, labels: DataFrame, idCol: String,
      labelCol: String): DataFrame = {
    val votes = neighbors
      .join(labels.select(col(idCol).as("vec_id"),
        col(labelCol).as("__label")), Seq("vec_id"))
      .groupBy(col("query_id"), col("__label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("__label"))
    votes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("__label").as("predicted_label"),
        col("votes"))
  }

  /** Exact k-NN classification: brute-force cosine neighbors + majority
    * label vote. For large corpora generate neighbors with
    * [[lshTopK]]/[[ivfTopK]] and call [[knnVote]] directly.
    * `excludeSelf` as in [[bruteForceTopK]]: pass false when the probe
    * table's ids are unrelated to the corpus ids (an id collision would
    * otherwise silently drop a voter).
    */
  def knnClassify(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, k: Int, excludeSelf: Boolean = true): DataFrame =
    knnVote(
      bruteForceTopK(corpus, idCol, vecCol, queries, queryIdCol,
        queryVecCol, k, excludeSelf),
      corpus, idCol, labelCol)

  /** All `tables` sign-pattern bucket ids (array<long>, one per hash
    * table) from planes·tables deterministic pseudo-random hyperplanes:
    * component (p, i) of table t = xxhash64(t·planes + p, i) scaled to
    * [−1, 1) — reproducible on any executor with no shipped RNG state.
    * One codegen'd vector pass computes every projection
    * (graft.functions.LshBuckets); the former per-plane
    * `aggregate(zip_with(...))` formulation ran planes·tables interpreted
    * lambda folds per row — the documented 100 TB scale-killer. The fold
    * order and the composite int hash match the HOF form bit-exactly, so
    * the DuckDB oracles (which replicate that hash in pure SQL) stay
    * green.
    */
  def lshTableBuckets(vec: Column, planes: Int, tables: Int): Column =
    graft.functions.VectorFunctions.lshBuckets(vec, planes, tables)

  /** Single-table sign-pattern bucket (used by cosineNearDups). */
  def lshBucket(vec: Column, planes: Int): Column =
    lshTableBuckets(vec, planes, 1).getItem(0)

  /** Approximate cosine top-k via amplified hyperplane LSH: `tables`
    * independent hash tables of `planes` hyperplanes each; a corpus row is
    * a candidate when it shares a bucket with the query in ANY table (the
    * standard OR-of-ANDs amplification — per-table match probability
    * p^planes, overall recall 1−(1−p^planes)^tables). Candidates are
    * scored exactly and ranked by the bounded k-heap, which also collapses
    * the cross-table duplicates — no dedup shuffle. Raise `tables` for
    * recall, `planes` for selectivity; cost per corpus row is one
    * (table, bucket) pair per table through a broadcast join, never a
    * corpus shuffle.
    */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, planes: Int = 4, tables: Int = 8,
      excludeSelf: Boolean = true): DataFrame = {
    def withBuckets(df: DataFrame, id: String, vec: String,
        idAs: String, vecAs: String) =
      df.select(col(id).as(idAs), col(vec).as(vecAs),
        posexplode(lshTableBuckets(col(vec), planes, tables))
          .as(Seq("__table", "__bucket")))
    val c = withBuckets(corpus, idCol, vecCol, "vec_id", "__cv")
    val q = broadcast(
      withBuckets(queries, queryIdCol, queryVecCol, "query_id", "__qv"))
    val paired = c.join(q, Seq("__table", "__bucket"))
    val scored = (if (excludeSelf)
        paired.filter(col("vec_id") =!= col("query_id")) else paired)
      .withColumn("cosine", cosine(col("__cv"), col("__qv")))
    rankTopK(scored, k, dedupCandidates = tables > 1)
  }

  /** Squared L2, summed left-to-right from 0.0 over `v`'s indices — the
    * exact fold order of the NearestCells kernel and the DuckDB oracle's
    * `list_reduce(list_prepend(0.0, …))`, so distances (and therefore
    * assignments) are bit-reproducible.
    */
  private def l2(v: Array[Double], c: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { val d = v(i) - c(i); acc += d * d; i += 1 }
    acc
  }

  /** Farthest-point seed selection over the deterministic sample (the
    * k-means++ idea with the argmax in place of RNG, so it stays
    * oracle-reproducible): seed 1 is the first sample row; each next
    * seed is the sample row maximizing its min squared distance to the
    * seeds so far (ties to the earliest sample row). Spread seeds shape
    * far better cells than raw corpus points — measured recall@5 at
    * (16 cells, probe 8): 0.692 → 0.863 (sf0.01) / 0.771 → 0.858
    * (sf0.1) together with the Lloyd passes.
    */
  private[sim] def farthestPointSeeds(sample: Array[Array[Double]],
      n: Int): Array[Array[Double]] = {
    val seeds = scala.collection.mutable.ArrayBuffer(sample(0))
    val minD = sample.map(v => l2(v, sample(0)))
    while (seeds.length < math.min(n, sample.length)) {
      var bi = 0
      var bd = -1.0
      var i = 0
      while (i < sample.length) {
        if (minD(i) > bd) { bd = minD(i); bi = i }
        i += 1
      }
      val s = sample(bi)
      seeds += s
      var j = 0
      while (j < sample.length) {
        val d = l2(sample(j), s)
        if (d < minD(j)) minD(j) = d
        j += 1
      }
    }
    seeds.toArray
  }

  /** Driver-local Lloyd refinement over the deterministic sample:
    * assign every sample vector to its nearest centroid (ties to the
    * lowest cell), replace each centroid by the per-position mean of its
    * members accumulated in SAMPLE ORDER (fold from 0.0, then one
    * divide) — every float op happens in a fixed order, so the DuckDB
    * oracle reproduces the refined centroids bit-exactly. A cell no
    * sample vector chose keeps its previous centroid.
    */
  private[sim] def lloydRefine(seeds: Array[Array[Double]],
      sample: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    var cents = seeds
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](cents(0).length))
      val counts = new Array[Long](cents.length)
      sample.foreach { v =>
        var best = 0
        var bd = l2(v, cents(0))
        var c = 1
        while (c < cents.length) {
          val d = l2(v, cents(c))
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        counts(best) += 1
        val s = sums(best)
        var i = 0
        while (i < v.length && i < s.length) { s(i) += v(i); i += 1 }
      }
      cents = cents.indices.toArray.map { c =>
        if (counts(c) == 0L) cents(c)
        else sums(c).map(_ / counts(c))
      }
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k — the other standard ANN scale
    * path. Coarse quantizer: a `refineSample`-row deterministic corpus
    * sample seeds `nCentroids` centroids by farthest-point selection,
    * refined by `lloydIters` local k-means passes over the sample (raw
    * corpus points are poor centroids — spread seeds plus cluster means
    * lift recall@5 at (16 cells, probe 8) from 0.692 to 0.863 on the
    * sf0.01 embeddings; COVERAGE.md tracks both SFs). Every corpus
    * vector is assigned to its nearest
    * centroid once (one pass, expressions only); a query probes its
    * `nProbe` nearest centroids' cells. Corpus cells are hash-partitioned
    * by centroid id, so the probe is an equi-join on cell id over
    * ~nProbe/nCentroids of the corpus — at 100 TB the scan shrinks by
    * that factor while recall tracks nProbe.
    *
    * The sample and the refinement are DRIVER-LOCAL and bounded
    * (refineSample × dim doubles, e.g. 512 × 768 ≈ 3 MB): the sample
    * plans as TakeOrderedAndProject (per-partition top-k, tiny merge, no
    * count pass, ONE corpus scan), and iterating locally over it costs
    * O(refineSample · nCentroids · dim · iters) on the driver — never a
    * per-iteration cluster job, and fully deterministic (fixed fold
    * order; no RNG, no partition-order dependence), which keeps the
    * operator oracle-checkable.
    */
  /** The IVF coarse quantizer's centroids, exactly as [[ivfTopK]] builds
    * them (public so callers can inspect, persist, or reuse the
    * quantizer — e.g. to assign a new batch to existing cells).
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, refineSample: Int = 256,
      lloydIters: Int = 2): Array[Array[Double]] = {
    // a non-positive nCentroids would otherwise silently yield ONE cell
    // (farthestPointSeeds starts from sample(0)) and every probe would
    // scan the whole corpus while appearing to use the IVF path
    require(nCentroids >= 1, s"nCentroids must be >= 1, got $nCentroids")
    require(refineSample >= nCentroids,
      s"refineSample ($refineSample) must be >= nCentroids ($nCentroids)")
    require(lloydIters >= 0, s"lloydIters must be >= 0, got $lloydIters")
    // deterministic sample: the refineSample corpus rows with the
    // smallest id-hash — a uniform pseudo-random sample that plans as
    // TakeOrderedAndProject (per-partition top-k, tiny merge on the
    // driver; no count pass, no global sort, ONE scan of the corpus).
    // id as the secondary sort key: a duplicate id or a 64-bit hash tie
    // at the cut boundary would otherwise make the sample
    // partition-order-dependent. Seeds come from farthest-point
    // selection over the sample, then lloydIters k-means passes.
    // session-memoized (BuildMemo): the IVF/IVFPQ/IVFADC family and
    // their incremental/streaming twins all train the same coarse
    // quantizer — one sample job + driver refine per session
    graft.ops.BuildMemo.value(Seq(corpus), "ivfCentroids",
        params = s"$idCol|$vecCol|$nCentroids|$refineSample|$lloydIters") {
      val sample = corpus
        .select(col(vecCol), xxhash64(col(idCol)).as("__h"),
          col(idCol).as("__i"))
        .orderBy(col("__h"), col("__i")).limit(refineSample)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Double](0).toArray)
      require(sample.nonEmpty, "IVF: empty corpus")
      lloydRefine(farthestPointSeeds(sample, nCentroids), sample,
        lloydIters)
    }
  }

  /** @param extraProbes boundary-fallback probes: each query probes its
    *   `nProbe` nearest cells PLUS up to this many additional cells
    *   whose squared centroid distance is within `boundaryRho` × the
    *   nProbe-th — queries far from any cell boundary pay nothing,
    *   boundary queries (where fixed-nProbe loses exactly the
    *   straddling neighbors) widen their probe. Measured recall@5 at
    *   (16 cells, probe 8, extra 4, rho 1.05): 0.863 → 0.921 (sf0.01)
    *   / 0.858 → 0.942 (sf0.1), past the LSH path's 0.904/0.929, for
    *   ~1.3× probe volume. 0 = fixed-probe behavior.
    * @param boundaryRho squared-distance ratio admitting a fallback
    *   cell; only read when extraProbes > 0.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, nCentroids: Int = 16, nProbe: Int = 4,
      refineSample: Int = 256, lloydIters: Int = 2,
      extraProbes: Int = 0, boundaryRho: Double = 1.05,
      excludeSelf: Boolean = true): DataFrame =
    ivfTopKWithCentroids(corpus, idCol, vecCol, queries, queryIdCol,
      queryVecCol, k,
      ivfCentroids(corpus, idCol, vecCol, nCentroids, refineSample,
        lloydIters),
      nProbe, extraProbes, boundaryRho, excludeSelf)

  /** The IVF probe under EXTERNAL centroids — the quantizer-reuse seam:
    * feed the sample-refined [[ivfCentroids]], a persisted quantizer, or
    * the FULL-CORPUS distributed Lloyd model
    * ([[KMeans.kmeansCentroids]] via [[KMeans.centroidsArray]]) whose
    * view of cluster mass is not limited to a 256-row sample. Same
    * probe shape as [[ivfTopK]]: one codegen'd assignment pass, cells
    * hash-partitioned by centroid id, queries broadcast against
    * ~nProbe/nCells of the corpus.
    */
  def ivfTopKWithCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, k: Int, centroids: Array[Array[Double]],
      nProbe: Int, extraProbes: Int = 0,
      boundaryRho: Double = 1.05, excludeSelf: Boolean = true): DataFrame = {
    require(centroids.nonEmpty, "IVF: empty centroid set")
    // all centroid distances in ONE codegen'd vector pass
    // (graft.functions.NearestCells) — the former formulation ran one
    // interpreted aggregate(zip_with) fold per centroid per row
    val centroidSeq: Seq[Seq[Double]] = centroids.toSeq.map(_.toSeq)
    def nearestCells(vec: Column, m: Int): Column =
      graft.functions.VectorFunctions.nearestCells(vec, centroidSeq, m)

    val assigned = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("__cv"),
      nearestCells(col(vecCol), 1).getItem(0).as("__cell"))
    val probeCells =
      if (extraProbes == 0) nearestCells(col(queryVecCol), nProbe)
      else graft.functions.VectorFunctions.nearestCellsAdaptive(
        col(queryVecCol), centroidSeq, nProbe, extraProbes, boundaryRho)
    val probes = broadcast(queries.select(col(queryIdCol).as("query_id"),
        col(queryVecCol).as("__qv"),
        explode(probeCells).as("__cell")))
    val paired = assigned.join(probes, Seq("__cell"))
    val scored = (if (excludeSelf)
        paired.filter(col("vec_id") =!= col("query_id")) else paired)
      .withColumn("cosine", cosine(col("__cv"), col("__qv")))
    rankTopK(scored, k)
  }

  /** All-pairs near-duplicates by cosine ≥ threshold, LSH-bucketed with a
    * hard per-bucket member cap: each bucket keeps its `maxBucket`
    * smallest ids (deterministic), pairs expand in-task from the capped
    * member list, and the vectors re-join once per side for exact cosine
    * verification. Only (id, bucket) travels through the bucket shuffle —
    * never a vector per candidate pair — and a dense bucket contributes at
    * most maxBucket·(maxBucket−1)/2 pairs instead of O(n²). Size `planes`
    * with the corpus (buckets = 2^planes): 4 planes is a test-scale
    * default; at 100 TB use enough planes that expected bucket size stays
    * near maxBucket.
    *
    * Emits (id_a, id_b, cosine, block): `block` is the LSH bucket both
    * endpoints share. Vectors are single-assignment (one sign pattern
    * each), so near-dup components never span blocks — pass `block` to
    * [[graft.dedup.Dedup.connectedComponentsBlocked]] for one-shuffle
    * clustering.
    */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int, maxBucket: Int = 64): DataFrame = {
    // norms are computed ONCE per vector before the pair join — inside
    // the pair verification each candidate pair costs one dot-product
    // fold, not three (norm folds dominate when buckets are dense).
    // Null ids dropped up front (bounded aggregator's primitive encoder
    // rejects them; collect_list would skip them silently)
    val v = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("__v"),
        norm(col(vecCol)).as("__n"),
        lshBucket(col(vecCol), planes).as("__bucket"))
    cappedBucketPairs(v, df.schema(idCol).dataType, threshold, maxBucket)
  }

  /** Shared tail of the bucketed near-dup operators: capped member
    * lists per `__bucket`, in-task ordered-pair expansion, exact cosine
    * verification against the re-joined (vector, norm) sides.
    */
  private def cappedBucketPairs(v: DataFrame, idType: DataType,
      threshold: Double, maxBucket: Int): DataFrame = {
    // bounded k-smallest aggregation (integral ids) — partial buffers
    // never exceed maxBucket ids, so a degenerate hot bucket (e.g. many
    // identical vectors sharing one sign pattern) cannot OOM an executor;
    // non-integral id types take the capped collect_list fallback
    val buckets = v.select(col("id"), col("__bucket"))
      .groupBy("__bucket")
      .agg(graft.dedup.Dedup.smallestKIds(col("id"), idType, maxBucket)
        .as("members"))
      .filter(size(col("members")) > 1)
    // one bucket per vector → a pair can only form once; no dedup needed.
    // The bucket rides along as `block`: every vector lives in exactly
    // one bucket, so the pair graph is a disjoint union of per-bucket
    // subgraphs — downstream connected components can run per-block in
    // one aggregation (Dedup.connectedComponentsBlocked) instead of the
    // iterative global loop.
    val pairIds = buckets
      .select(col("__bucket").as("block"),
        explode(graft.dedup.Dedup.orderedPairs(col("members"))).as("p"))
      .select(col("block"), col("p.a").as("id_a"), col("p.b").as("id_b"))
    pairIds
      .join(v.select(col("id").as("id_a"), col("__v").as("__va"),
        col("__n").as("__na")), Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("__v").as("__vb"),
        col("__n").as("__nb")), Seq("id_b"))
      // zero-norm guard at the shared verify rung (both the LSH and
      // the semantic path inherit it): the 0/0 cosine is NULL — as NaN
      // it would pass ANY threshold under Spark's NaN-greatest
      // comparison and pair the degenerate vector with its whole
      // bucket; under ANSI mode the raw division would kill the job
      .withColumn("cosine",
        when(col("__na") * col("__nb") =!= 0.0,
          dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))))
      .filter(!isnan(col("cosine")) && col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"), col("block"))
  }

  /** Semantic (cluster-scoped) near-duplicates — the SemDeDup recipe
    * (Abbas et al. 2023: k-means the embedding space, then look for
    * high-cosine duplicate pairs only WITHIN a cluster): every vector is
    * assigned to its nearest cell of the same deterministic coarse
    * quantizer IVF search uses ([[ivfCentroids]] — farthest-point seeds
    * + Lloyd passes over a bounded driver-local sample), and candidate
    * pairs form only inside a cell, capped at `maxCell` members.
    * Compared to the hyperplane-LSH bucketing of [[cosineNearDups]],
    * cells track the corpus's actual density structure — semantically
    * clustered corpora (the common case after embedding) get tighter
    * candidate sets at the same recall.
    *
    * Scale shape: one bounded centroid construction (one corpus scan),
    * one codegen'd assignment pass, then the identical capped-bucket
    * pair join as the LSH path — only (id, cell) shuffles for candidate
    * generation, and a dense cell contributes ≤ maxCell·(maxCell−1)/2
    * pairs. At 100 TB size nCentroids so expected cell population stays
    * near maxCell (the paper's own regime).
    *
    * Emits (id_a, id_b, cosine, block): `block` is the k-means cell both
    * endpoints share (cells are single-assignment, so components never
    * span blocks — see [[graft.dedup.Dedup.connectedComponentsBlocked]]).
    */
  def semanticNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCentroids: Int = 16, maxCell: Int = 64,
      refineSample: Int = 256, lloydIters: Int = 2): DataFrame = {
    val centroids = ivfCentroids(df, idCol, vecCol, nCentroids,
      refineSample, lloydIters)
    val centroidSeq: Seq[Seq[Double]] = centroids.toSeq.map(_.toSeq)
    val v = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("__v"),
        norm(col(vecCol)).as("__n"),
        graft.functions.VectorFunctions
          .nearestCells(col(vecCol), centroidSeq, 1).getItem(0)
          .as("__bucket"))
    cappedBucketPairs(v, df.schema(idCol).dataType, threshold, maxCell)
  }

  // ------------------------------------ incremental / streaming SemDeDup

  /** The SemDeDup quantizer + cells in probe-ready, persistable form —
    * the semantic twin of the MinHash signature index
    * ([[graft.dedup.Dedup.minhashBucketTable]]): one row per cell,
    * `(cell, centroid, members)` where members holds the cell's
    * `maxCell` smallest corpus ids with their vector and PREcomputed
    * norm (`array<struct<id, fp: struct<v, n>>>`, bounded by the same
    * k-smallest aggregation as every bucketed operator — a dense cell
    * cannot OOM an executor at index-build time). EMPTY cells keep a
    * row with null members: the probe re-derives the full centroid set
    * from this table, and a missing centroid would silently shift new
    * batches' cell assignments.
    *
    * Build once over the historical corpus (one centroid construction +
    * one assignment scan + one bounded aggregation), persist, then
    * probe each new batch with [[semanticNearDupsAgainst]] — no corpus
    * re-scan, exact-cosine verification against the stored vectors.
    *
    * PRECONDITION: corpus ids are unique. A duplicate id (possibly with
    * different vectors landing in different cells) would fan out the
    * member re-join and break the probe's pair-forms-once contract; the
    * member joins below key on (cell, id) so a same-cell duplicate
    * cannot inflate arrays past `maxCell`, but cross-cell duplicates
    * are the caller's to collapse first ([[updateSemanticIndex]] dedups
    * its fresh batch; a build-time corpus is expected already unique).
    */
  def semanticCellIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, maxCell: Int = 64, refineSample: Int = 256,
      lloydIters: Int = 2): DataFrame = {
    val centroids = ivfCentroids(corpus, idCol, vecCol, nCentroids,
      refineSample, lloydIters)
    val centroidSeq: Seq[Seq[Double]] = centroids.toSeq.map(_.toSeq)
    // zero-norm vectors have no defined cosine: under Spark's
    // NaN-compares-greatest semantics a 0/0 cosine would pass ANY
    // threshold and pair the degenerate vector with a whole cell, so
    // they are excluded from the index (and from probes) by contract
    val assigned = corpus.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"),
        struct(col(vecCol).as("v"), norm(col(vecCol)).as("n")).as("__fp"),
        graft.functions.VectorFunctions
          .nearestCells(col(vecCol), centroidSeq, 1).getItem(0).as("cell"))
      .filter(col("__fp.n") > 0)
    // two-step cap, the minhashBucketTable pattern: the id-only bounded
    // aggregation keeps partial buffers ≤ maxCell (the hot-cell guard),
    // then vectors re-join on the already-capped ids so the second
    // aggregation's groups are ≤ maxCell rows by construction
    val cappedIds = assigned.groupBy("cell")
      .agg(graft.dedup.Dedup.smallestKIds(col("id"),
        corpus.schema(idCol).dataType, maxCell).as("member_ids"))
    val members = cappedIds
      .select(col("cell"), explode(col("member_ids")).as("id"))
      .join(assigned.select(col("cell"), col("id"), col("__fp")),
        Seq("cell", "id"))
      .groupBy("cell")
      .agg(sort_array(collect_list(struct(col("id"), col("__fp").as("fp"))))
        .as("members"))
    val spark = corpus.sparkSession
    import spark.implicits._
    centroidSeq.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .join(members, Seq("cell"), "left")
  }

  /** The stored quantizer, read back from an index: nCentroids rows to
    * the driver (the established IVF bound), with the contiguity guard
    * that keeps a truncated index from silently mis-assigning.
    */
  private def storedCentroids(index: DataFrame): Seq[Seq[Double]] = {
    val centRows = index.select(col("cell"), col("centroid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
    require(centRows.nonEmpty, "semantic cell index is empty")
    require(centRows.map(_._1).sameElements(centRows.indices),
      "index cells must be contiguous 0..n-1 (one row per cell, " +
        "empty cells included) — rebuild with semanticCellIndex")
    centRows.map(_._2.toSeq).toSeq
  }

  /** Incremental semantic near-dup detection: a new batch of embeddings
    * probed against a frozen [[semanticCellIndex]]. Each batch vector is
    * assigned to its nearest stored centroid (the same deterministic
    * quantizer the index was built with — the nCentroids-row centroid
    * read is the only driver materialization, the established IVF
    * contract) and verified by exact cosine against that single cell's
    * ≤ maxCell stored members. Returns `(batch_id, corpus_id, cosine,
    * block)` with cosine ≥ threshold; ids should be disjoint across
    * index and batch (an id present in both pairs with itself).
    * Zero-norm vectors never pair — excluded on both sides, since 0/0
    * cosine is NaN and NaN compares greater than any threshold.
    *
    * The index should be MATERIALIZED (read back from storage, or
    * `persist`/`localCheckpoint` when built in the same plan): the
    * centroid read and the member join are two consumers, and an
    * unmaterialized index would re-run its corpus scan for each.
    *
    * STREAMING-NATIVE with zero state: cells are single-assignment, so
    * a pair can only ever form once and the whole probe is one
    * stateless stream-static equi-join — no watermark, no dedup state,
    * unlike the banded MinHash probe whose cross-band re-emissions need
    * watermark-scoped dedup. The same code runs batch frames unchanged.
    */
  def semanticNearDupsAgainst(index: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val centroidSeq = storedCentroids(index)
    val probes = batch.filter(col(idCol).isNotNull)
      .select(col(idCol).as("batch_id"), col(vecCol).as("__bv"),
        norm(col(vecCol)).as("__bn"),
        graft.functions.VectorFunctions
          .nearestCells(col(vecCol), centroidSeq, 1).getItem(0).as("cell"))
      .filter(col("__bn") > 0) // zero-norm probes never pair (NaN guard)
    // null members (empty cells) contribute no rows to the explode
    val stored = index
      .select(col("cell"), explode(col("members")).as("m"))
      .select(col("cell"), col("m.id").as("corpus_id"),
        col("m.fp.v").as("__cv"), col("m.fp.n").as("__cn"))
    probes.join(stored, Seq("cell"))
      // the index build guards zero norms, but a hand-merged index may
      // not — NULL the undefined cosine instead of NaN-ranking (or, in
      // ANSI mode, dividing by zero and killing the job)
      .withColumn("cosine",
        when(col("__bn") * col("__cn") =!= 0.0,
          dot(col("__bv"), col("__cv")) / (col("__bn") * col("__cn"))))
      .filter(col("cosine") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("cosine"),
        col("cell").as("block"))
  }

  /** Merge freshly-arrived embeddings into a persisted
    * [[semanticCellIndex]] — the semantic twin of
    * [[graft.dedup.Dedup.updateMinhashIndex]], completing the
    * index → probe → merge lifecycle. Fresh vectors are assigned to
    * their nearest STORED centroid (no quantizer rebuild — the SemDeDup
    * contract is periodic re-clustering as the corpus drifts; see the
    * class docs), conflicts are newest-wins on id (a re-embedded
    * document replaces its stale vector, possibly in a different
    * cell), and ONLY touched cells (fresh arrivals or vacated by a
    * replaced id) are re-capped to their `maxCell` smallest ids with
    * the same bounded aggregation the build used — untouched rows pass
    * through with their member arrays intact. Duplicate ids WITHIN the
    * fresh batch (at-least-once delivery, two re-embeddings in one
    * batch) collapse to one deterministically-chosen row, and a doc
    * re-embedded to a zero-norm vector is EVICTED (its id wins the
    * conflict; the degenerate vector itself stays out, per the
    * NaN-cosine contract). Empty cells keep their centroid row, so the
    * merged index satisfies the probe's contiguity contract. Pass the
    * SAME maxCell the index was built with — the index does not store
    * it, exactly as the MinHash probe takes its banding params.
    *
    * Scale shape: one scan of the fresh batch, one anti-join + union on
    * (id, cell, vector) rows, one re-cap aggregation over the touched
    * cells only — the untouched bulk of a large index under a small
    * daily batch is never exploded or re-aggregated.
    */
  def updateSemanticIndex(index: DataFrame, fresh: DataFrame,
      idCol: String, vecCol: String, maxCell: Int = 64): DataFrame = {
    val centroidSeq = storedCentroids(index)
    // assign every non-null-id fresh row (zero-norm included for now:
    // its id must still evict the stale copy), then collapse in-batch
    // duplicate ids deterministically — at-least-once delivery or two
    // re-embeddings of one doc in one batch must not leave two member
    // rows for one id (that would break the cap and the probe's
    // pair-forms-once contract). min_by on (cell, norm, vector) is an
    // arbitrary but partition-order-independent pick.
    val freshAll = fresh.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"),
        struct(col(vecCol).as("v"), norm(col(vecCol)).as("n")).as("fp"),
        graft.functions.VectorFunctions
          .nearestCells(col(vecCol), centroidSeq, 1).getItem(0).as("cell"))
      .groupBy("id")
      .agg(min_by(struct(col("cell"), col("fp")),
        struct(col("cell"), col("fp.n"), col("fp.v"))).as("cf"))
      .select(col("id"), col("cf.cell").as("cell"), col("cf.fp").as("fp"))
    // newest-wins on ALL fresh ids — including zero-norm re-embeds,
    // whose stale vectors must leave the index even though the new
    // vector itself is excluded by the NaN-cosine contract
    val freshIds = freshAll.select("id")
    val freshKeep = freshAll.filter(col("fp.n") > 0)
    val existing = index
      .select(col("cell"), explode(col("members")).as("m"))
      .select(col("cell"), col("m.id").as("id"), col("m.fp").as("fp"))
    // rebuild ONLY touched cells: those receiving fresh rows plus those
    // holding a replaced id (a re-embedded doc may vacate its old
    // cell). Untouched rows — the bulk of a large index under a small
    // daily batch — pass through with their member arrays intact, no
    // explode/re-aggregate.
    val touched = freshKeep.select("cell")
      .union(existing.join(freshIds, Seq("id"), "left_semi")
        .select("cell"))
      .distinct()
    val all = existing.join(touched, Seq("cell"), "left_semi")
      .join(freshIds, Seq("id"), "left_anti")
      .unionByName(freshKeep)
    val cappedIds = all.groupBy("cell")
      .agg(graft.dedup.Dedup.smallestKIds(col("id"),
        all.schema("id").dataType, maxCell).as("member_ids"))
    val members = cappedIds
      .select(col("cell"), explode(col("member_ids")).as("id"))
      .join(all.select(col("cell"), col("id"), col("fp")), Seq("cell", "id"))
      .groupBy("cell")
      .agg(sort_array(collect_list(struct(col("id"), col("fp"))))
        .as("members"))
    val rebuilt = index.select(col("cell"), col("centroid"))
      .join(touched, Seq("cell"), "left_semi")
      .join(members, Seq("cell"), "left")
    index.join(touched, Seq("cell"), "left_anti")
      .select(col("cell"), col("centroid"), col("members"))
      .unionByName(rebuilt)
  }

  /** Quantizer drift under a fresh batch — the EXECUTABLE half of the
    * SemDeDup re-clustering contract ([[updateSemanticIndex]] assigns
    * fresh vectors to frozen centroids forever; this measures when that
    * stops being a good idea). One row:
    * `(n_fresh, fresh_mean_dist, index_mean_dist, drift_ratio)` where
    * the means are L2 assignment distances — fresh rows to their
    * nearest STORED centroid versus the index's own members to theirs
    * (the baseline re-derives from the stored vectors, so the index
    * schema carries nothing extra) — and
    * `drift_ratio = fresh_mean_dist / index_mean_dist`. A ratio near 1
    * means fresh data still looks like the indexed corpus; a large
    * ratio means fresh vectors land far from every centroid (a new
    * mode the quantizer cannot see — cell-scoped probes will split
    * near-dup groups across cells), which is the cue to call
    * [[rebuildSemanticIndex]]. Infinity/NaN when the stored members
    * sit exactly on their centroids (degenerate one-member cells) —
    * read the two means directly in that case.
    *
    * Zero-norm and null-id fresh rows are excluded (the probe
    * contract). Scale shape: one scan of the batch + one explode of
    * the index members, two scalar aggregates, a broadcast-sized
    * (nCentroids-row) centroid join — no corpus re-scan.
    */
  def semanticDrift(index: DataFrame, fresh: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val centroidSeq = storedCentroids(index)
    // ||v - c|| via the precomputed norms: n² − 2·v·c + ||c||², clamped
    // at 0 before sqrt (catastrophic cancellation near the centroid can
    // land an ulp below zero)
    def d(vec: Column, n: Column, cent: Column): Column =
      sqrt(greatest(lit(0d),
        n * n - lit(2d) * dot(vec, cent) + norm(cent) * norm(cent)))
    val baseline = index
      .select(col("centroid"), explode(col("members")).as("m"))
      .select(d(col("m.fp.v"), col("m.fp.n"), col("centroid")).as("dd"))
      .agg(avg("dd").as("index_mean_dist"))
    val freshAgg = fresh.filter(col(idCol).isNotNull)
      .select(col(vecCol).as("__v"), norm(col(vecCol)).as("__n"),
        graft.functions.VectorFunctions
          .nearestCells(col(vecCol), centroidSeq, 1).getItem(0).as("cell"))
      .filter(col("__n") > 0)
      .join(broadcast(index.select(col("cell"), col("centroid"))),
        Seq("cell"))
      .select(d(col("__v"), col("__n"), col("centroid")).as("dd"))
      .agg(count(lit(1)).as("n_fresh"), avg("dd").as("fresh_mean_dist"))
    freshAgg.crossJoin(baseline) // both one-row scalar frames
      .withColumn("drift_ratio",
        col("fresh_mean_dist") / col("index_mean_dist"))
  }

  /** Re-cluster a drifted [[semanticCellIndex]]: rebuild the quantizer
    * AND the cells over the stored members ∪ the fresh batch
    * (newest-wins on id, in-batch duplicates collapsed
    * deterministically, zero-norm re-embeds evicted — the
    * [[updateSemanticIndex]] conflict contract), by handing the merged
    * corpus back to [[semanticCellIndex]]. This is the escalation path
    * when [[semanticDrift]] trips; the cheap path (frozen centroids,
    * touched cells only) remains [[updateSemanticIndex]].
    *
    * Scale note: unlike the merge, this re-runs centroid construction
    * and re-caps EVERY cell — one bounded driver-local sample + two
    * scans of (member ∪ fresh) vectors. Run it at re-clustering cadence,
    * not per batch.
    */
  def rebuildSemanticIndex(index: DataFrame, fresh: DataFrame,
      idCol: String, vecCol: String, nCentroids: Int = 16,
      maxCell: Int = 64, refineSample: Int = 256,
      lloydIters: Int = 2): DataFrame = {
    val stored = index.select(explode(col("members")).as("m"))
      .select(col("m.id").as(idCol), col("m.fp.v").as(vecCol))
    val freshAll = fresh.filter(col(idCol).isNotNull)
      .groupBy(idCol)
      .agg(min_by(col(vecCol), struct(norm(col(vecCol)), col(vecCol)))
        .as(vecCol))
    val merged = stored
      .join(freshAll.select(idCol), Seq(idCol), "left_anti")
      .unionByName(freshAll.filter(norm(col(vecCol)) > 0))
    semanticCellIndex(merged, idCol, vecCol, nCentroids, maxCell,
      refineSample, lloydIters)
  }
}
