package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Sketch-driven equi-join planning — the tie between the profiling
  * tier and the scale utilities it was built to inform. At 100 TB the
  * join-strategy decision (broadcast the small side? salt the hot
  * keys? plain shuffle?) is usually made blind and discovered to be
  * wrong by an executor OOM three hours in. This helper makes the
  * decision FROM MEASUREMENTS, each a bounded one-pass aggregation:
  *
  *  - the small side: exact row count + a Count-Min sketch of its
  *    keys, both from ONE order-free aggregation pass;
  *  - the large side: per-key counts (one map-side-combined shuffle —
  *    the same exchange [[Profile.keySkew]] plans), folded in a single
  *    composed query into total/max/hot-tail statistics AND a
  *    count-weighted Count-Min sketch (adding a key's total count once
  *    per key produces bit-identical cells to adding 1 per row —
  *    integer adds are associative — so the sketch costs d hashes per
  *    DISTINCT key instead of per row);
  *  - the Cormode–Muthukrishnan join-size estimate
  *    min_i Σ_j a[i][j]·b[i][j]: both sketches are d×w ≤ 32 KB
  *    driver-local arrays, so the inner product is driver arithmetic —
  *    zero extra jobs (the old crossJoin-and-head estimate query was
  *    pure scheduling tax).
  *
  * Measurement and decision are SEPARATE stages: [[measure]] runs the
  * bounded passes once, [[decide]] is pure driver arithmetic over the
  * record — so callers auditing several policies (different broadcast
  * limits, skew thresholds) pay the data passes once (the round-15
  * j13 gate row ran the full measurement twice to pin two decisions:
  * 31 Spark jobs, ~1.1 s of pure scheduling gaps at sf0.1).
  * Measurements memoize per session via [[BuildMemo]] — planner
  * statistics are session artifacts in the [[graft.sources.Sources
  * .readTable]] discipline, exactly like a warehouse's ANALYZE stats.
  *
  * Decision: small side under `broadcastRowLimit` → broadcast (no
  * shuffle of the large side at all); otherwise, if the large side's
  * hottest key holds more than `hotKeyShare` of its rows (or the hot
  * tail above `hotFactor`× the mean holds more than `hotShare`) →
  * [[ScaleOps.saltedJoin]] (the replicate-small-by-salt shape that
  * spreads a hot key over `salts` reducers); otherwise a plain
  * shuffle join (AQE's runtime skew handling stays available).
  * The decision record carries every measured input, so the choice is
  * auditable and re-checkable as the data drifts.
  *
  * Composite keys concatenate with the 0x1F unit separator for the
  * sketch (the engine's documented composite-key convention): keys
  * containing a literal 0x1F could alias in the ESTIMATE only — the
  * join itself always uses the real columns.
  */
object JoinPlanner {

  /** The auditable decision: `strategy` ∈ broadcast | salted |
    * shuffle, plus the measurements that produced it. `estJoinRows` is
    * the CMS upper-bound estimate (−1 when not measured). On the
    * broadcast path the large-side fields carry −1: the skew profile
    * is irrelevant under broadcast and may not have been measured.
    */
  final case class JoinDecision(strategy: String, smallRows: Long,
      largeRows: Long, topKeyShare: Double, hotShare: Double,
      estJoinRows: Long, salts: Int)

  /** The measured facts, decision-free: row counts, the large side's
    * top-key/hot-tail shares (−1 when the large pass was skipped),
    * and the CMS join-size upper bound (−1 when not estimated).
    * `hotFactor` records the threshold the hot tail was measured at —
    * a [[decide]] call is only meaningful against the factor the
    * measurement used.
    */
  final case class JoinMeasurements(smallRows: Long, largeRows: Long,
      topKeyShare: Double, hotShare: Double, estJoinRows: Long,
      hotFactor: Double) {
    def largeMeasured: Boolean = largeRows >= 0L
  }

  private def keyExpr(keyCols: Seq[String]): Column =
    if (keyCols.length == 1) col(keyCols.head).cast("string")
    else concat_ws("", keyCols.map(c => col(c).cast("string")): _*)

  /** Count-weighted Count-Min fold over (key, weight) pairs: cell
    * (i, pmod(xxh64(key, seed i), w)) += weight — the same hashing as
    * [[graft.sketch.CountMin.CountMinAgg]] (raw-seed xxhash64), so
    * feeding per-key counts produces the identical sketch the raw row
    * stream would. Null keys carry no frequency and are skipped, as
    * in the row-stream aggregator.
    */
  private class CmsWeightedAgg(depth: Int, width: Int)
      extends Aggregator[(String, Long), Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](depth * width)
    def reduce(b: Array[Long], kv: (String, Long)): Array[Long] = {
      if (kv._1 != null) {
        val u = UTF8String.fromString(kv._1)
        var i = 0
        while (i < depth) {
          val h = XxHash64Function.hash(u, StringType, i.toLong)
          b(i * width + (((h % width) + width) % width).toInt) += kv._2
          i += 1
        }
      }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[Array[Long]]()
    def outputEncoder = org.apache.spark.sql.catalyst.encoders
      .ExpressionEncoder[Array[Long]]()
  }

  private def cmsUdaf(depth: Int, width: Int) =
    udaf(new CmsWeightedAgg(depth, width))

  private def validateCms(depth: Int, width: Int): Unit = {
    require(depth >= 1 && depth <= 16,
      s"cmsDepth must be in [1, 16], got $depth")
    require(width >= 2 && width.toLong * depth <= (1L << 24),
      s"need cmsWidth >= 2 and depth*width <= 2^24, got ${depth}x$width")
  }

  /** min_i Σ_j a[i][j]·b[i][j] — the CMS inner-product join-size
    * upper bound, computed on the driver (both sketches are ≤ d·w
    * longs). Mirrors [[graft.sketch.CountMin.joinSizeEstimate]]'s
    * overflow guard: cells large enough that width·maxA·maxB nears
    * Long range must widen the sketch instead of overflowing silently.
    */
  private def innerProductMin(a: Array[Long], b: Array[Long],
      depth: Int, width: Int): Long = {
    val bound = width.toDouble * a.max.toDouble * b.max.toDouble
    require(bound < 4.5e18, "joinSizeEstimate: cell counts too large " +
      "— width*maxA*maxB would overflow Long; pre-aggregate or widen " +
      "the sketch")
    var best = Long.MaxValue
    var i = 0
    while (i < depth) {
      var s = 0L
      var j = 0
      while (j < width) { s += a(i * width + j) * b(i * width + j); j += 1 }
      if (s < best) best = s
      i += 1
    }
    best
  }

  /** One aggregation pass over the small side: (row count, CMS cells).
    */
  private def measureSmall(small: DataFrame, keyCols: Seq[String],
      estimate: Boolean, depth: Int, width: Int)
      : (Long, Option[Array[Long]]) =
    if (!estimate) (small.count(), None)
    else {
      val row = small
        .select(keyExpr(keyCols).as("__k"))
        .agg(count(lit(1)).as("__n"),
          cmsUdaf(depth, width)(col("__k"), lit(1L)).as("__cms"))
        .head()
      (row.getLong(0), Some(row.getSeq[Long](1).toArray))
    }

  /** One composed query over the large side's per-key counts: total
    * rows, top-key share, hot-tail share above `hotFactor`× the mean
    * group size, and (when `estimate`) the count-weighted CMS — the
    * per-key exchange is planned once and reused by every consumer.
    */
  private def measureLarge(large: DataFrame, keyCols: Seq[String],
      hotFactor: Double, estimate: Boolean, depth: Int, width: Int)
      : (Long, Double, Double, Option[Array[Long]]) = {
    val sizes = large.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__kn"))
    val baseAggs = Seq(
      count(lit(1)).as("__keys"),
      coalesce(sum(col("__kn")), lit(0L)).as("__rows"),
      max(col("__kn")).as("__max")) ++
      (if (estimate)
        Seq(cmsUdaf(depth, width)(keyExpr(keyCols), col("__kn"))
          .as("__cms"))
      else Nil)
    val base = sizes.agg(baseAggs.head, baseAggs.tail: _*)
    val meanN = col("__rows").cast("double") / col("__keys").cast("double")
    val hot = sizes
      .crossJoin(broadcast(base.select(col("__keys"), col("__rows"))))
      .filter(col("__kn").cast("double") > lit(hotFactor) * meanN)
      .agg(coalesce(sum(col("__kn")), lit(0L)).as("__hotrows"))
    val row = base.crossJoin(broadcast(hot)).head()
    val keys = row.getLong(0)
    val rows = row.getLong(1)
    val cms =
      if (!estimate) None
      else Some(row.getSeq[Long](3).toArray)
    if (keys == 0L) (0L, 0.0, 0.0, cms)
    else {
      val maxN = row.getLong(2)
      val hotRows = row.getLong(row.fieldIndex("__hotrows"))
      (rows, maxN.toDouble / rows.toDouble,
        hotRows.toDouble / rows.toDouble, cms)
    }
  }

  /** Measure both sides (memoized per session — see the header).
    * Planning cost on a memo miss: one aggregation pass over `small`,
    * one per-key-count shuffle of `large` folded into one composed
    * stats query; the estimate adds NO extra pass (weighted sketches
    * ride the same aggregations, inner product on the driver). No
    * join is executed.
    */
  def measure(large: DataFrame, small: DataFrame, keyCols: Seq[String],
      hotFactor: Double = 10.0, estimate: Boolean = true,
      cmsDepth: Int = 4, cmsWidth: Int = 1024): JoinMeasurements = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(hotFactor > 0, s"hotFactor must be positive, got $hotFactor")
    validateCms(cmsDepth, cmsWidth)
    BuildMemo.value(Seq(large, small), "joinplanner.measure",
      s"${keyCols.mkString(",")}|$hotFactor|$estimate|$cmsDepth|$cmsWidth") {
      val (smallRows, cmsS) =
        measureSmall(small, keyCols, estimate, cmsDepth, cmsWidth)
      val (largeRows, topShare, hotSh, cmsL) =
        measureLarge(large, keyCols, hotFactor, estimate, cmsDepth,
          cmsWidth)
      val est = (cmsL, cmsS) match {
        case (Some(a), Some(b)) =>
          innerProductMin(a, b, cmsDepth, cmsWidth)
        case _ => -1L
      }
      JoinMeasurements(smallRows, largeRows, topShare, hotSh, est,
        hotFactor)
    }
  }

  /** Pure driver arithmetic over a [[measure]] record — audit as many
    * policies as needed against one set of passes. On the broadcast
    * path the decision's large-side fields are −1 (irrelevant under
    * broadcast, and [[plan]] may not have measured them).
    */
  def decide(m: JoinMeasurements, broadcastRowLimit: Long = 1000000L,
      hotKeyShare: Double = 0.05, hotShare: Double = 0.2,
      salts: Int = 16): JoinDecision = {
    require(broadcastRowLimit > 0, "broadcastRowLimit must be positive")
    require(hotKeyShare > 0 && hotKeyShare <= 1,
      s"hotKeyShare must be in (0, 1], got $hotKeyShare")
    require(salts > 0, s"salts must be positive, got $salts")
    if (m.smallRows <= broadcastRowLimit)
      JoinDecision("broadcast", m.smallRows, -1L, -1.0, -1.0,
        m.estJoinRows, salts)
    else {
      require(m.largeMeasured, "decide: the small side exceeds the " +
        "broadcast limit but the measurement skipped the large-side " +
        "pass — measure with the full measure() entry point")
      val strategy =
        if (m.largeRows == 0L) "shuffle"
        else if (m.topKeyShare > hotKeyShare || m.hotShare > hotShare)
          "salted"
        else "shuffle"
      JoinDecision(strategy, m.smallRows, m.largeRows,
        if (m.largeRows == 0L) 0.0 else m.topKeyShare,
        if (m.largeRows == 0L) 0.0 else m.hotShare,
        m.estJoinRows, salts)
    }
  }

  /** Measure and decide — the one-call policy entry point. Skips the
    * large-side pass entirely when the small side already fits the
    * broadcast limit and no estimate is requested (the skew profile is
    * irrelevant under broadcast).
    */
  def plan(large: DataFrame, small: DataFrame, keyCols: Seq[String],
      broadcastRowLimit: Long = 1000000L, hotKeyShare: Double = 0.05,
      hotFactor: Double = 10.0, hotShare: Double = 0.2,
      salts: Int = 16, estimate: Boolean = true, cmsDepth: Int = 4,
      cmsWidth: Int = 1024): JoinDecision = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(broadcastRowLimit > 0, "broadcastRowLimit must be positive")
    require(hotKeyShare > 0 && hotKeyShare <= 1,
      s"hotKeyShare must be in (0, 1], got $hotKeyShare")
    require(salts > 0, s"salts must be positive, got $salts")
    if (!estimate) {
      // estimate-free: the broadcast fast path can skip the large side
      val smallRows = small.count()
      if (smallRows <= broadcastRowLimit)
        return JoinDecision("broadcast", smallRows, -1L, -1.0, -1.0,
          -1L, salts)
      val (largeRows, topShare, hotSh, _) =
        measureLarge(large, keyCols, hotFactor, estimate = false,
          cmsDepth, cmsWidth)
      return decide(
        JoinMeasurements(smallRows, largeRows, topShare, hotSh, -1L,
          hotFactor),
        broadcastRowLimit, hotKeyShare, hotShare, salts)
    }
    decide(measure(large, small, keyCols, hotFactor, estimate,
        cmsDepth, cmsWidth),
      broadcastRowLimit, hotKeyShare, hotShare, salts)
  }

  /** Execute a decided join. `uniqueCol` is only consulted on the
    * salted path (the per-row salt source — any high-cardinality
    * column of `large`, see [[ScaleOps.saltedJoin]]).
    */
  def executeJoin(large: DataFrame, small: DataFrame,
      keyCols: Seq[String], uniqueCol: Column,
      d: JoinDecision): DataFrame = d.strategy match {
    case "broadcast" => large.join(broadcast(small), keyCols)
    case "salted" =>
      ScaleOps.saltedJoin(large, small, keyCols, d.salts, uniqueCol)
    case _ => large.join(small, keyCols)
  }

  /** Plan and execute in one call. Returns the joined frame plus the
    * decision for the caller's logs.
    */
  def autoJoin(large: DataFrame, small: DataFrame, keyCols: Seq[String],
      uniqueCol: Column, broadcastRowLimit: Long = 1000000L,
      hotKeyShare: Double = 0.05, hotFactor: Double = 10.0,
      hotShare: Double = 0.2, salts: Int = 16,
      estimate: Boolean = true): (DataFrame, JoinDecision) = {
    val d = plan(large, small, keyCols, broadcastRowLimit, hotKeyShare,
      hotFactor, hotShare, salts, estimate)
    (executeJoin(large, small, keyCols, uniqueCol, d), d)
  }
}
