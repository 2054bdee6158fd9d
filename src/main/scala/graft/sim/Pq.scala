package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PRODUCT QUANTIZATION (Jégou–Douze–Schmid, TPAMI 2011) — the vector
  * compression layer of the ANN tier: the `dim`-dimensional embedding
  * splits into `m` contiguous subspaces, each subspace learns its own
  * `kPerSub`-centroid codebook, and every corpus vector compresses to
  * `m` small codes (64-dim float → 8 bytes at the default 8×16). Search
  * scores queries against the RECONSTRUCTION (codebook lookup), so the
  * corpus-sized pass touches codes instead of raw vectors — at 100 TB
  * that is the difference between scanning 8 B/row and 256 B/row, and
  * the codes table (built once, scan-stage) is the artifact every
  * downstream search reuses.
  *
  * Training follows the [[Similarity.ivfCentroids]] discipline exactly,
  * per subspace: ONE hash-deterministic bounded sample of the corpus
  * (smallest (xxhash64(id), id), planned as TakeOrderedAndProject),
  * then farthest-point seeding + Lloyd passes with every float folded
  * in pinned order — so codebooks, codes, reconstructed norms and ADC
  * scores are all bit-reproducible cross-engine and the DuckDB oracle
  * replays the WHOLE chain (train → encode → score → rank).
  *
  * Scoring is the asymmetric distance computation (ADC) in cosine
  * form: `cos(q, recon(x))` with `ip = Σ_j dot(q_j, cb_j[code_j])`
  * (subspace partials summed in ascending-j order),
  * `|recon(x)|² = Σ_j |cb_j[code_j]|²` (same order), and the full-fold
  * query norm — zero-norm sides yield NULL like [[Similarity.cosine]].
  * [[pqTopK]] is the standard two-stage retriever: coarse
  * top-(k·overFetch) on ADC cosine (bounded k-heap aggregation), exact
  * rerank of the broadcast candidate list on the raw vectors.
  */
object Pq {

  /** Per-subspace codebooks: `m` × `kPerSub` × (dim/m) doubles. One
    * bounded sample collect (refineSample rows) trains every subspace —
    * driver state is sample + codebooks, never corpus-sized.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, kPerSub: Int, refineSample: Int = 256,
      lloydIters: Int = 2): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0,
      s"dim $dim must split evenly into m=$m subspaces")
    require(kPerSub >= 1, s"kPerSub must be >= 1, got $kPerSub")
    require(refineSample >= kPerSub,
      s"refineSample ($refineSample) must be >= kPerSub ($kPerSub)")
    require(lloydIters >= 0, s"lloydIters must be >= 0, got $lloydIters")
    val sub = dim / m
    // session-memoized: the PQ family (encode/topk/ivfpq) shares one
    // sample job + driver train per (corpus, params)
    graft.ops.BuildMemo.value(Seq(corpus), "pqCodebooks",
        params =
          s"$idCol|$vecCol|$dim|$m|$kPerSub|$refineSample|$lloydIters") {
      val sample = corpus
        .select(col(vecCol), xxhash64(col(idCol)).as("__h"),
          col(idCol).as("__i"))
        .orderBy(col("__h"), col("__i")).limit(refineSample)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Double](0).toArray)
      require(sample.nonEmpty, "PQ: empty corpus")
      require(sample.head.length == dim,
        s"vectors are ${sample.head.length}-dim, expected $dim")
      Array.tabulate(m) { j =>
        val sliced = sample.map(v => v.slice(j * sub, (j + 1) * sub))
        Similarity.lloydRefine(
          Similarity.farthestPointSeeds(sliced, kPerSub), sliced,
          lloydIters)
      }
    }
  }

  /** The codes column for a vector column under `codebooks`: element j
    * = the nearest codebook-j centroid of the j-th slice (pinned fold
    * order, ties to the lowest code — the NearestCells kernel per
    * subspace). A pure projection: codebooks ride the plan as literals.
    */
  private def codesColumn(vec: Column,
      codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    array((0 until m).map { j =>
      graft.functions.VectorFunctions
        .nearestCells(slice(vec, j * sub + 1, sub),
          codebooks(j).map(_.toSeq).toSeq, 1)
        .getItem(0)
    }: _*)
  }

  /** Scan-stage encoder: `(id, codes)` — see [[codesColumn]]. Zero
    * exchanges.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col(idCol), codesColumn(col(vecCol), codebooks)
      .as("codes"))

  /** ADC cosine of a query vector against a codes column:
    * cos(q, recon(codes)). All codebook-derived constants are plan
    * literals; NULL when either norm is zero.
    */
  def adcCosine(queryVec: Column, codes: Column,
      codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    def norm2(c: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < c.length) { acc += c(i) * c(i); i += 1 }
      acc
    }
    val ip = (0 until m).map { j =>
      val cb = graft.functions.CompactLiteral.of(
        codebooks(j).map(_.toSeq).toSeq,
        s"pq_cb[$j][${codebooks(j).length}x$sub]")
      graft.functions.VectorFunctions.dot(
        slice(queryVec, j * sub + 1, sub),
        element_at(cb, element_at(codes, j + 1) + 1))
    }.reduce(_ + _)
    val rn2 = (0 until m).map { j =>
      val n2 = graft.functions.CompactLiteral.of(
        codebooks(j).map(norm2).toSeq,
        s"pq_n2[$j][${codebooks(j).length}]")
      element_at(n2, element_at(codes, j + 1) + 1)
    }.reduce(_ + _)
    val qn = graft.functions.VectorFunctions.norm(queryVec)
    when(qn === 0.0 || rn2 === 0.0, lit(null).cast("double"))
      .otherwise(ip / (qn * sqrt(rn2)))
  }

  /** Two-stage PQ retriever: coarse top-(k·overFetch) per query on ADC
    * cosine over the CODES (the cheap corpus pass), exact rerank of the
    * broadcast candidates on raw vectors. Both rankings are the bounded
    * k-heap aggregation; nothing corpus-sized shuffles.
    */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, dim: Int, m: Int = 8, kPerSub: Int = 16,
      overFetch: Int = 8, refineSample: Int = 256, lloydIters: Int = 2,
      excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(overFetch >= 1, s"overFetch must be positive, got $overFetch")
    val cbs = pqCodebooks(corpus, idCol, vecCol, dim, m, kPerSub,
      refineSample, lloydIters)
    val codes = pqEncode(corpus, idCol, vecCol, cbs)
    pqTopKWithIndex(codes, idCol, cbs, corpus, idCol, vecCol, queries,
      queryIdCol, queryVecCol, k, overFetch, excludeSelf)
  }

  // ------------------------------------------------------------ index
  // Persisted-index lifecycle — the production shape when the corpus
  // outlives any single query batch (encoding 100 TB of vectors per
  // eval run is what this avoids): build codes + codebooks once, write
  // them, probe many times. Mirrors the BM25 postings index
  // ([[graft.text.Retrieval.writeBm25Index]]) and the SemDeDup cell
  // index ([[Similarity.updateSemanticIndex]]) tiers.

  /** Persist a PQ index under `dir`: the codes table as parquet
    * (range-partitioned by id so point/range lookups prune row groups)
    * plus the codebooks as a tiny long-form parquet
    * (subspace, code, dim_idx, value) — a reader never needs the
    * training sample again.
    */
  def writePqIndex(codes: DataFrame, idCol: String,
      codebooks: Array[Array[Array[Double]]], dir: String): Unit = {
    codes.repartitionByRange(col(idCol))
      .sortWithinPartitions(col(idCol))
      .write.mode("overwrite").parquet(s"$dir/codes")
    val spark = codes.sparkSession
    import spark.implicits._
    val rows = for {
      j <- codebooks.indices
      c <- codebooks(j).indices
      i <- codebooks(j)(c).indices
    } yield (j, c, i, codebooks(j)(c)(i))
    rows.toDF("subspace", "code", "dim_idx", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Read a persisted PQ index back as (codes, codebooks). */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, Array[Array[Array[Double]]]) = {
    val codes = spark.read.parquet(s"$dir/codes")
    val cb = spark.read.parquet(s"$dir/codebooks")
      .select("subspace", "code", "dim_idx", "value").collect()
    require(cb.nonEmpty, s"empty codebook table under $dir")
    val m = cb.map(_.getInt(0)).max + 1
    val k = cb.map(_.getInt(1)).max + 1
    val sub = cb.map(_.getInt(2)).max + 1
    val out = Array.fill(m, k, sub)(Double.NaN)
    cb.foreach(r => out(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
      r.getDouble(3))
    require(!out.exists(_.exists(_.exists(_.isNaN))),
      s"codebook table under $dir has holes (expected $m×$k×$sub dense)")
    (codes, out)
  }

  /** Two-stage PQ retrieval FROM A PERSISTED INDEX — bit-identical to
    * [[pqTopK]] over the corpus the index was built from (same ADC
    * coarse pass, same exact rerank), but training and encoding never
    * re-run: the coarse pass reads the codes table, and only the
    * ≤ k·overFetch candidates per query touch `corpus` (the raw
    * vectors) for the rerank.
    */
  /** Exact rerank of a coarse (query_id, vec_id) candidate list on raw
    * vectors: the candidate list joins the query vectors FIRST (tiny ×
    * tiny — |queries|·k·overFetch rows carrying one query vector each)
    * and the fused frame broadcasts ONCE onto the corpus. One
    * BroadcastExchange and one corpus-side join, where the previous
    * shape broadcast the candidate list AND the query-vector table
    * separately and joined the corpus twice (r16 verdict #3). Pure
    * inner-join reassociation: corpus ⋈ cands ⋈ qp ≡ corpus ⋈ (cands ⋈
    * qp) — rows identical.
    */
  private def rerankExact(corpus: DataFrame, corpusIdCol: String,
      vecCol: String, cands: DataFrame, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, k: Int): DataFrame = {
    val qp = queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).as("__qv"))
    val candsQ = broadcast(cands.join(qp, Seq("query_id")))
    val rerank = corpus
      .select(col(corpusIdCol).as("vec_id"), col(vecCol).as("__cv"))
      .join(candsQ, Seq("vec_id"))
      .withColumn("cosine", Similarity.cosine(col("__cv"), col("__qv")))
      .select("query_id", "vec_id", "cosine")
    Similarity.rankTopK(rerank, k)
  }

  def pqTopKWithIndex(codes: DataFrame, codesIdCol: String,
      codebooks: Array[Array[Array[Double]]], corpus: DataFrame,
      idCol: String, vecCol: String, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, k: Int,
      overFetch: Int = 8, excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(overFetch >= 1, s"overFetch must be positive, got $overFetch")
    val cds = codes.select(col(codesIdCol).as("vec_id"), col("codes"))
    val qp = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).as("__qv")))
    val paired = cds.crossJoin(qp)
    val coarse = (if (excludeSelf)
        paired.filter(col("vec_id") =!= col("query_id")) else paired)
      .withColumn("cosine", adcCosine(col("__qv"), col("codes"),
        codebooks))
      .select("query_id", "vec_id", "cosine")
    val cands = Similarity.rankTopK(coarse, k * overFetch)
      .select("query_id", "vec_id")
    rerankExact(corpus, idCol, vecCol, cands, queries, queryIdCol,
      queryVecCol, k)
  }

  /** Persist an IVF-PQ index under `dir`: the (id, cell, codes) table
    * range-partitioned by CELL and sorted within (a probe's cell
    * filter then skips non-matching parquet row groups at the scan —
    * the billion-vector layout where each coarse cell is a contiguous
    * byte range), the coarse centroids, and the PQ codebooks.
    */
  def writeIvfPqIndex(index: DataFrame, idCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], dir: String): Unit = {
    index.repartitionByRange(col("cell"), col(idCol))
      .sortWithinPartitions(col("cell"), col(idCol))
      .write.mode("overwrite").parquet(s"$dir/index")
    val spark = index.sparkSession
    import spark.implicits._
    val cents = for {
      c <- centroids.indices; i <- centroids(c).indices
    } yield (c, i, centroids(c)(i))
    cents.toDF("cell", "dim_idx", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    val cbs = for {
      j <- codebooks.indices; c <- codebooks(j).indices
      i <- codebooks(j)(c).indices
    } yield (j, c, i, codebooks(j)(c)(i))
    cbs.toDF("subspace", "code", "dim_idx", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Read a persisted IVF-PQ index back as (index, centroids,
    * codebooks); rejects sparse model tables loudly.
    */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, Array[Array[Double]],
      Array[Array[Array[Double]]]) = {
    val index = spark.read.parquet(s"$dir/index")
    val ce = spark.read.parquet(s"$dir/centroids")
      .select("cell", "dim_idx", "value").collect()
    require(ce.nonEmpty, s"empty centroid table under $dir")
    val nc = ce.map(_.getInt(0)).max + 1
    val dim = ce.map(_.getInt(1)).max + 1
    val cents = Array.fill(nc, dim)(Double.NaN)
    ce.foreach(r => cents(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    require(!cents.exists(_.exists(_.isNaN)),
      s"centroid table under $dir has holes (expected $nc×$dim dense)")
    val cb = spark.read.parquet(s"$dir/codebooks")
      .select("subspace", "code", "dim_idx", "value").collect()
    require(cb.nonEmpty, s"empty codebook table under $dir")
    val m = cb.map(_.getInt(0)).max + 1
    val k = cb.map(_.getInt(1)).max + 1
    val sub = cb.map(_.getInt(2)).max + 1
    val cbs = Array.fill(m, k, sub)(Double.NaN)
    cb.foreach(r => cbs(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
      r.getDouble(3))
    require(!cbs.exists(_.exists(_.exists(_.isNaN))),
      s"codebook table under $dir has holes (expected $m×$k×$sub dense)")
    (index, cents, cbs)
  }

  /** IVF-PQ retrieval FROM A PERSISTED INDEX — bit-identical to
    * [[ivfPqTopK]] over the corpus the index was built from, but
    * training, assignment and encoding never re-run: the probe joins
    * the broadcast probe-cell list against the (cell, codes) table
    * (cell-sorted parquet makes it a row-group-pruned scan), and only
    * the ≤ k·overFetch candidates per query touch raw vectors.
    */
  def ivfPqTopKWithIndex(index: DataFrame, idCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], corpus: DataFrame,
      corpusIdCol: String, vecCol: String, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, k: Int,
      nProbe: Int = 4, overFetch: Int = 8, extraProbes: Int = 0,
      boundaryRho: Double = 1.05,
      excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(overFetch >= 1, s"overFetch must be positive, got $overFetch")
    require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
    val centroidSeq: Seq[Seq[Double]] = centroids.toSeq.map(_.toSeq)
    val idx = index.select(col(idCol).as("vec_id"),
      col("cell").as("__cell"), col("codes"))
    val probeCells =
      if (extraProbes == 0)
        graft.functions.VectorFunctions
          .nearestCells(col(queryVecCol), centroidSeq, nProbe)
      else graft.functions.VectorFunctions.nearestCellsAdaptive(
        col(queryVecCol), centroidSeq, nProbe, extraProbes, boundaryRho)
    val probes = broadcast(queries.select(
      col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"),
      explode(probeCells).as("__cell")))
    val paired = idx.join(probes, Seq("__cell"))
    val coarse = (if (excludeSelf)
        paired.filter(col("vec_id") =!= col("query_id")) else paired)
      .withColumn("cosine", adcCosine(col("__qv"), col("codes"),
        codebooks))
      .select("query_id", "vec_id", "cosine")
    val cands = Similarity.rankTopK(coarse, k * overFetch)
      .select("query_id", "vec_id")
    rerankExact(corpus, corpusIdCol, vecCol, cands, queries, queryIdCol,
      queryVecCol, k)
  }

  /** The (vec_id, cell, codes) index frame [[ivfPqTopK]] scans — public
    * so callers can build once and persist ([[writeIvfPqIndex]]).
    */
  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col(idCol),
      graft.functions.VectorFunctions
        .nearestCells(col(vecCol), centroids.toSeq.map(_.toSeq), 1)
        .getItem(0).as("cell"),
      codesColumn(col(vecCol), codebooks).as("codes"))

  // ------------------------------------------------------------ IVFADC
  // Residual encoding (Jégou–Douze–Schmid TPAMI 2011 §V, the actual
  // FAISS IVFADC layout): PQ codebooks train on — and codes encode —
  // the RESIDUAL x − centroid(cell(x)) instead of the raw vector.
  // Residuals concentrate around the origin far more tightly than raw
  // vectors spread across cells, so the same m × kPerSub code budget
  // quantizes them with less error: better recall at the identical
  // ≤ 16 B/row coarse layout.

  /** |c|² with the pinned ascending fold (the adcCosine norm2). */
  private def norm2Arr(c: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    acc
  }

  /** dot(a[lo:lo+n], b[0:n]) folded ascending from 0.0 — the
    * DotProduct kernel order, so the DuckDB oracle's `fold0` replays
    * the plan literals built from this bit-exactly.
    */
  private def dotSlice(a: Array[Double], lo: Int,
      b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < b.length) { acc += a(lo + i) * b(i); i += 1 }
    acc
  }

  /** The driver-side twin of the NearestCells kernel for the bounded
    * training sample: nearest centroid by (squared-L2 asc, cell asc),
    * distance folded ascending from 0.0 per centroid — identical
    * arithmetic and tie-break to the scan-stage assignment, so sample
    * residuals match what the corpus pass would compute for the same
    * vector.
    */
  private def nearestCentroidIdx(v: Array[Double],
      cents: Array[Array[Double]]): Int = {
    var best = 0
    var bd = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      var d = 0.0
      var i = 0
      while (i < v.length) {
        val diff = v(i) - cents(c)(i)
        d += diff * diff
        i += 1
      }
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Per-subspace codebooks trained on coarse-quantizer RESIDUALS of
    * the bounded sample: the SAME hash-deterministic sample as
    * [[pqCodebooks]], each vector replaced by x − centroid(cell(x))
    * before slicing — the IVFADC training recipe. Driver state is
    * still sample + models; every fold is pinned, so the DuckDB oracle
    * replays the residual chain bit-exactly.
    */
  def pqCodebooksResidual(corpus: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]], dim: Int, m: Int,
      kPerSub: Int, refineSample: Int = 256,
      lloydIters: Int = 2): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0,
      s"dim $dim must split evenly into m=$m subspaces")
    require(kPerSub >= 1, s"kPerSub must be >= 1, got $kPerSub")
    require(refineSample >= kPerSub,
      s"refineSample ($refineSample) must be >= kPerSub ($kPerSub)")
    require(lloydIters >= 0, s"lloydIters must be >= 0, got $lloydIters")
    require(centroids.nonEmpty && centroids(0).length == dim,
      s"centroids must be non-empty ${dim}-dim")
    val sub = dim / m
    // session-memoized: the IVFADC topk/incremental/streaming rows
    // share one residual-codebook train. The centroid CONTENT is part
    // of the key (different coarse quantizers train different
    // codebooks even over the same corpus plan).
    graft.ops.BuildMemo.value(Seq(corpus), "pqCodebooksResidual",
        params = s"$idCol|$vecCol|$dim|$m|$kPerSub|$refineSample|" +
          s"$lloydIters|${java.util.Arrays.deepToString(
            centroids.asInstanceOf[Array[AnyRef]])}") {
      val sample = corpus
        .select(col(vecCol), xxhash64(col(idCol)).as("__h"),
          col(idCol).as("__i"))
        .orderBy(col("__h"), col("__i")).limit(refineSample)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Double](0).toArray)
      require(sample.nonEmpty, "PQ: empty corpus")
      require(sample.head.length == dim,
        s"vectors are ${sample.head.length}-dim, expected $dim")
      val resid = sample.map { v =>
        val c = centroids(nearestCentroidIdx(v, centroids))
        Array.tabulate(dim)(i => v(i) - c(i))
      }
      Array.tabulate(m) { j =>
        val sliced = resid.map(v => v.slice(j * sub, (j + 1) * sub))
        Similarity.lloydRefine(
          Similarity.farthestPointSeeds(sliced, kPerSub), sliced,
          lloydIters)
      }
    }
  }

  /** The (vec_id, cell, codes) IVFADC index frame: cell from the
    * coarse quantizer, codes from the RESIDUAL x − centroid(cell)
    * under residual-trained codebooks. Still ONE scan-stage projection
    * (assign → subtract → encode, zero exchanges); persist with
    * [[writeIvfPqIndex]] and probe with [[ivfAdcTopKWithIndex]] — the
    * layout on disk is identical to the raw-encoding index.
    */
  def ivfAdcIndex(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      keep: Seq[String] = Nil): DataFrame = {
    val centLit = graft.functions.CompactLiteral.of(
      centroids.toSeq.map(_.toSeq),
      s"ivf_cents[${centroids.length}x${centroids(0).length}]")
    val idx = corpus
      .select((col(idCol) +: keep.map(col)) ++ Seq(
        graft.functions.VectorFunctions
          .nearestCells(col(vecCol), centroids.toSeq.map(_.toSeq), 1)
          .getItem(0).as("cell"),
        col(vecCol).as("__v")): _*)
      .select((col(idCol) +: keep.map(col)) ++ Seq(col("cell"),
        codesColumn(zip_with(col("__v"),
          element_at(centLit, col("cell") + 1), (a, b) => a - b),
          codebooks).as("codes")): _*)
    // session-memoized materialization (≤16 B of payload per row —
    // cheaper to hold than to re-encode per query); the model literals
    // are part of the plan, so the key pins them. Streaming inputs
    // (the StreamingAnn path) and mutable tables return the lazy
    // projection unchanged.
    graft.ops.BuildMemo.frame(Seq(idx), "ivfadcindex")(idx)
  }

  /** ADC cosine under residual encoding: recon(x) = centroid(cell) +
    * pqRecon(codes), so
    * `ip = dot(q, centroid) + Σ_j dot(q_j, cb_j[code_j])` and
    * `|recon|² = |centroid|² + Σ_j (2·dot(centroid_j, cb_j[code_j]) +
    * |cb_j[code_j]|²)`. Every cell/code-indexed constant —
    * |centroid|², the centroid×codebook cross terms, the codebook
    * norms — is a plan literal computed ONCE on the driver with the
    * pinned ascending fold, so the per-row ADC stays table lookups +
    * m subspace dots (the IVFADC lookup-table trick); `ipCent` (the
    * only query-dependent non-code term) is computed per (query,
    * probe-cell) in the tiny probes frame, never per candidate row.
    * Sums run (centroid term, then ascending j) — the left-assoc
    * order the DuckDB oracle replays. NULL when either norm is
    * non-positive (a zero reconstruction has no direction).
    */
  private def adcCosineResidual(queryVec: Column, ipCent: Column,
      cell: Column, codes: Column, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): Column = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val ip = (Seq(ipCent) ++ (0 until m).map { j =>
      val cb = graft.functions.CompactLiteral.of(
        codebooks(j).map(_.toSeq).toSeq,
        s"adc_cb[$j][${codebooks(j).length}x$sub]")
      graft.functions.VectorFunctions.dot(
        slice(queryVec, j * sub + 1, sub),
        element_at(cb, element_at(codes, j + 1) + 1))
    }).reduce(_ + _)
    val cn2 = graft.functions.CompactLiteral.of(
      centroids.map(norm2Arr).toSeq, s"adc_cn2[${centroids.length}]")
    val rn2 = (Seq(element_at(cn2, cell + 1)) ++ (0 until m).map { j =>
      val cross = graft.functions.CompactLiteral.of(
        centroids.map(c =>
          codebooks(j).map(e => dotSlice(c, j * sub, e)).toSeq).toSeq,
        s"adc_cross[$j][${centroids.length}x${codebooks(j).length}]")
      val n2 = graft.functions.CompactLiteral.of(
        codebooks(j).map(norm2Arr).toSeq,
        s"adc_n2[$j][${codebooks(j).length}]")
      element_at(element_at(cross, cell + 1),
        element_at(codes, j + 1) + 1) * lit(2.0) +
        element_at(n2, element_at(codes, j + 1) + 1)
    }).reduce(_ + _)
    val qn = graft.functions.VectorFunctions.norm(queryVec)
    when(qn === 0.0 || rn2 <= 0.0, lit(null).cast("double"))
      .otherwise(ip / (qn * sqrt(rn2)))
  }

  /** IVFADC retrieval from a residual-encoded index
    * ([[ivfAdcIndex]], or the same frame read back via
    * [[readIvfPqIndex]]): identical probe shape to
    * [[ivfPqTopKWithIndex]] — the coarse side reads (cell, codes)
    * only, nothing corpus-sized shuffles, the ≤ k·overFetch survivors
    * rerank exactly on raw vectors — with the residual ADC of
    * [[adcCosineResidual]] scoring the candidates.
    */
  def ivfAdcTopKWithIndex(index: DataFrame, idCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], corpus: DataFrame,
      corpusIdCol: String, vecCol: String, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, k: Int,
      nProbe: Int = 4, overFetch: Int = 8, extraProbes: Int = 0,
      boundaryRho: Double = 1.05,
      excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(overFetch >= 1, s"overFetch must be positive, got $overFetch")
    require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
    val centroidSeq: Seq[Seq[Double]] = centroids.toSeq.map(_.toSeq)
    val centLit = graft.functions.CompactLiteral.of(centroidSeq,
      s"ivf_cents[${centroids.length}x${centroids(0).length}]")
    val idx = index.select(col(idCol).as("vec_id"),
      col("cell").as("__cell"), col("codes"))
    val probeCells =
      if (extraProbes == 0)
        graft.functions.VectorFunctions
          .nearestCells(col(queryVecCol), centroidSeq, nProbe)
      else graft.functions.VectorFunctions.nearestCellsAdaptive(
        col(queryVecCol), centroidSeq, nProbe, extraProbes, boundaryRho)
    // __ipc = dot(q, centroid(cell)) per (query, probed cell) — the
    // probes frame is |queries|·nProbe rows, so the full-dim dot costs
    // nothing here and never re-evaluates per candidate
    val probes = broadcast(queries.select(
        col(queryIdCol).as("query_id"), col(queryVecCol).as("__qv"),
        explode(probeCells).as("__cell"))
      .withColumn("__ipc", graft.functions.VectorFunctions.dot(
        col("__qv"), element_at(centLit, col("__cell") + 1))))
    val paired = idx.join(probes, Seq("__cell"))
    val coarse = (if (excludeSelf)
        paired.filter(col("vec_id") =!= col("query_id")) else paired)
      .withColumn("cosine", adcCosineResidual(col("__qv"), col("__ipc"),
        col("__cell"), col("codes"), centroids, codebooks))
      .select("query_id", "vec_id", "cosine")
    val cands = Similarity.rankTopK(coarse, k * overFetch)
      .select("query_id", "vec_id")
    rerankExact(corpus, corpusIdCol, vecCol, cands, queries, queryIdCol,
      queryVecCol, k)
  }

  /** Merge a fresh corpus batch into an IVFADC index, newest-wins —
    * the vector-index rung of the incremental lifecycle the BM25
    * postings ([[graft.text.Retrieval.updateBm25Index]]), MinHash
    * signature and SemDeDup cell tiers already have: the coarse
    * quantizer and residual codebooks stay FROZEN (re-training on
    * every batch would re-encode 100 TB; the standard production
    * trade is frozen models + periodic full rebuilds), the fresh
    * batch is assigned + residual-encoded scan-stage, and a doc id
    * present in the batch REPLACES its old index row (re-ingested/
    * edited vectors never appear twice). One anti-join + a union —
    * with frozen models the merged index is row-for-row what a fresh
    * [[ivfAdcIndex]] over the merged corpus would build
    * (IvfPqIndexSpec pins this), so probes stay bit-exact.
    */
  def updateIvfAdcIndex(index: DataFrame, idCol: String,
      freshCorpus: DataFrame, freshIdCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val fresh = ivfAdcIndex(freshCorpus, freshIdCol, vecCol, centroids,
      codebooks).withColumnRenamed(freshIdCol, idCol)
    val freshIds = freshCorpus.select(col(freshIdCol).as(idCol))
      .distinct()
    val merged = index.join(freshIds, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell"), col("codes"))
      .unionByName(fresh)
    // memoized materialization: re-invocations share the merge (same
    // memo-or-lazy contract as ivfAdcIndex)
    graft.ops.BuildMemo.frame(Seq(merged), "ivfadcmerged")(merged)
  }

  /** IVFADC composed retriever — [[ivfPqTopK]] with TRUE residual
    * encoding (Jégou TPAMI 2011 §V): codebooks train on the sample's
    * coarse residuals ([[pqCodebooksResidual]]), codes encode
    * x − centroid(cell) ([[ivfAdcIndex]]), and ADC scores against
    * centroid + residual reconstruction ([[adcCosineResidual]]).
    * Same scale shape as [[ivfPqTopK]] — two bounded training
    * samples, one ≤ 16 B/row scan-stage index, probe-pruned coarse
    * pass, exact rerank — at measurably better recall for the same
    * candidate budget (the residual distribution is tighter than the
    * raw one, so the code budget quantizes it finer; IvfPqSpec pins
    * recall@5 ≥ the raw-encoding composition).
    */
  def ivfAdcTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, dim: Int, nCentroids: Int = 16, nProbe: Int = 4,
      m: Int = 8, kPerSub: Int = 16, overFetch: Int = 8,
      refineSample: Int = 256, lloydIters: Int = 2,
      extraProbes: Int = 0, boundaryRho: Double = 1.05,
      excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(overFetch >= 1, s"overFetch must be positive, got $overFetch")
    require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
    val cents = Similarity.ivfCentroids(corpus, idCol, vecCol,
      nCentroids, refineSample, lloydIters)
    val cbs = pqCodebooksResidual(corpus, idCol, vecCol, cents, dim, m,
      kPerSub, refineSample, lloydIters)
    ivfAdcTopKWithIndex(ivfAdcIndex(corpus, idCol, vecCol, cents, cbs),
      idCol, cents, cbs, corpus, idCol, vecCol, queries, queryIdCol,
      queryVecCol, k, nProbe, overFetch, extraProbes, boundaryRho,
      excludeSelf)
  }

  /** IVF-PQ composed retriever (Jégou–Douze–Schmid TPAMI 2011 §V — the
    * FAISS IVFPQ layout, the actual billion-vector shape): a coarse IVF
    * quantizer routes each query to its `nProbe` (+ adaptive boundary
    * fallback) nearest cells, the in-cell candidates score by ADC
    * cosine over their 8-byte PQ CODES, and the top-(k·overFetch)
    * survivors rerank exactly on raw vectors.
    *
    * Scale shape — what each pass touches:
    *  - training: TWO bounded hash-deterministic samples (coarse
    *    centroids + per-subspace codebooks), driver state = sample +
    *    models, never corpus-sized;
    *  - index build: ONE scan-stage projection emits
    *    `(vec_id, cell, codes)` — at 100 TB this table (≤ 16 B/row) IS
    *    the persisted index, and the coarse pass reads it instead of
    *    the 256 B/row vectors;
    *  - probe: queries broadcast against ~nProbe/nCells of the codes
    *    table (the IVF prune), ADC reads codebook literals (the PQ
    *    compression), ranking is the bounded k-heap; only the ≤
    *    k·overFetch candidates per query ever touch a raw vector again.
    *
    * Determinism: both quantizers train on pinned folds
    * ([[Similarity.ivfCentroids]] / [[pqCodebooks]]), cell and code
    * assignment tie to the lowest index, ADC partials sum in
    * ascending-subspace order — the DuckDB oracle replays the entire
    * train → assign → encode → probe → score → rerank chain bit-exactly.
    *
    * `extraProbes`/`boundaryRho` as in [[Similarity.ivfTopK]] (boundary
    * queries widen their probe set; 0 = fixed nProbe).
    */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, dim: Int, nCentroids: Int = 16, nProbe: Int = 4,
      m: Int = 8, kPerSub: Int = 16, overFetch: Int = 8,
      refineSample: Int = 256, lloydIters: Int = 2,
      extraProbes: Int = 0, boundaryRho: Double = 1.05,
      excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(overFetch >= 1, s"overFetch must be positive, got $overFetch")
    require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
    val cents = Similarity.ivfCentroids(corpus, idCol, vecCol,
      nCentroids, refineSample, lloydIters)
    val cbs = pqCodebooks(corpus, idCol, vecCol, dim, m, kPerSub,
      refineSample, lloydIters)
    // the index pass: ONE scan-stage projection — (id, cell, codes),
    // no raw vector survives into the coarse side; in-session and
    // persisted probes share one code path
    ivfPqTopKWithIndex(ivfPqIndex(corpus, idCol, vecCol, cents, cbs),
      idCol, cents, cbs, corpus, idCol, vecCol, queries, queryIdCol,
      queryVecCol, k, nProbe, overFetch, extraProbes, boundaryRho,
      excludeSelf)
  }
}
