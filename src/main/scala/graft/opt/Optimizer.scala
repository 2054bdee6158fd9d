package graft.opt

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{BacktestEngine, TradingSession}
import graft.model.SignalBar

/** Task-local strategy evaluation: the signal math re-expressed as plain
  * Scala over one ticker's arrays so a full backtest can run *inside a
  * Spark task* (no nested jobs). The arithmetic mirrors the distributed
  * window path bit-for-bit: Spark's sliding window frame left-folds the
  * frame rows exactly like the naive sum here, and the fill machinery is
  * literally the same TradingSession.
  */
trait LocalStrategy extends Serializable {
  def signals(ticker: String, dates: Array[Timestamp],
      closes: Array[Double]): Array[SignalBar]
}

/** Local MA-cross signals (reference custom_strats.py:36-62 semantics,
  * identical to graft.strategy.MACross's window formulation).
  */
final case class LocalMACross(fast: Int, lagging: Int) extends LocalStrategy {
  private def sma(closes: Array[Double], n: Int): Array[Double] = {
    val out = Array.fill(closes.length)(Double.NaN)
    var i = n - 1
    while (i < closes.length) {
      var s = 0.0
      var ok = true
      var j = i - n + 1
      while (j <= i) {
        if (closes(j).isNaN) ok = false
        s += closes(j)
        j += 1
      }
      if (ok) out(i) = s / n
      i += 1
    }
    out
  }

  def signals(ticker: String, dates: Array[Timestamp],
      closes: Array[Double]): Array[SignalBar] = {
    val f = sma(closes, fast)
    val l = sma(closes, lagging)
    val n = closes.length
    val cross = Array.tabulate(n)(i => !f(i).isNaN && !l(i).isNaN && f(i) > l(i))
    val out = Array.newBuilder[SignalBar]
    var firstBuyIdx = -1
    var i = 0
    while (i < n) {
      val edge = i == 0 || cross(i) != cross(i - 1)
      if (edge) {
        if (cross(i)) {
          if (firstBuyIdx < 0) firstBuyIdx = i
          out += SignalBar(ticker, dates(i), closes(i), isBuy = true, isSell = false)
        } else if (firstBuyIdx >= 0 && i > firstBuyIdx) {
          out += SignalBar(ticker, dates(i), closes(i), isBuy = false, isSell = true)
        }
      }
      i += 1
    }
    if (firstBuyIdx < 0) Array.empty else out.result()
  }
}

/** Local Ten-Percent signals (reference custom_strats.py:83-101). */
final case class LocalTenPercent(sellMult: Double = 1.05, buyMult: Double = 0.99)
    extends LocalStrategy {
  def signals(ticker: String, dates: Array[Timestamp],
      closes: Array[Double]): Array[SignalBar] = {
    if (dates.isEmpty) return Array.empty
    val out = Array.newBuilder[SignalBar]
    out += SignalBar(ticker, dates(0), closes(0), isBuy = true, isSell = false)
    var anchor = 0
    var lastMoveSell = false
    var i = 1
    while (i < dates.length) {
      val v = closes(i)
      if (v >= closes(anchor) * sellMult && !lastMoveSell) {
        out += SignalBar(ticker, dates(i), v, isBuy = false, isSell = true)
        anchor = i; lastMoveSell = true
      } else if (v <= closes(anchor) * buyMult && lastMoveSell) {
        out += SignalBar(ticker, dates(i), v, isBuy = true, isSell = false)
        anchor = i; lastMoveSell = false
      }
      i += 1
    }
    out.result()
  }
}

object LocalBacktest {

  /** Full local backtest → final net worth. Bars must be date-sorted.
    * Stop-loss scans see every bar (observeBar over the full series).
    * The net-worth fold follows the reference's pandas semantics
    * (strats.py:567-579), exactly as [[BacktestEngine.withNetWorth]]
    * does: terms add in date order; `cumsum(skipna=True)` skips NaN
    * terms (a buy at a NaN pre-IPO price) and reads NaN only when the
    * last bar's own term is NaN; `shares_owned` is forward-filled over
    * NaN snapshots, 0 before the first.
    */
  def finalNetWorth(ticker: String, dates: Array[Timestamp],
      closes: Array[Double], strategy: LocalStrategy,
      initialAmount: Double): Double = {
    val sigs = strategy.signals(ticker, dates, closes)
    val session = new TradingSession(initialAmount)
    var si = 0
    var i = 0
    while (i < dates.length) {
      while (si < sigs.length && sigs(si).date.equals(dates(i))) {
        val s = sigs(si)
        if (s.isBuy) session.buy(s.date, s.close)
        else if (s.isSell) session.sell(s.date, s.close)
        si += 1
      }
      session.observeBar(dates(i), closes(i))
      i += 1
    }
    val fold = BacktestEngine.collectFold(ticker, session)
    val closeAt = dates.zip(closes).toMap
    var cumBuy = 0.0
    var cumSell = 0.0
    fold.trades.foreach { t =>
      t.buy_shares.map(_ * closeAt(t.date)).filterNot(_.isNaN)
        .foreach(cumBuy += _)
      t.sell_shares.map(_ * closeAt(t.date)).filterNot(_.isNaN)
        .foreach(cumSell += _)
    }
    // the last bar's own terms (0 shares on a non-trade day)
    val lastDay = fold.trades.lastOption.filter(_.date.equals(dates.last))
    def atLast(cum: Double, shares: Option[Double]): Double =
      if ((shares.getOrElse(0.0) * closes.last).isNaN) Double.NaN else cum
    val owned = session.orders.sharesOwned.filterNot(_._2.isNaN)
    val sharesOwned =
      if (owned.isEmpty) 0.0
      else owned.maxBy(r => graft.model.Time.epochNanos(r._1))._2
    sharesOwned * closes.last -
      atLast(cumBuy, lastDay.flatMap(_.buy_shares)) +
      atLast(cumSell, lastDay.flatMap(_.sell_shares)) + initialAmount
  }
}

/** Parameter-search optimization (reference optimize.py, SURVEY.md §3.2).
  *
  * The reference forks a process pool per grid point but serializes on
  * `.get()` (optimize.py:221-225); here the grid is the Spark parallel
  * axis: bars broadcast once (a ticker's history is small — the classic
  * broadcast-dimension pattern), grid points evaluated as a Dataset map,
  * best state via `max_by` — a genuine scale-out of the reference's one
  * embarrassingly-parallel surface.
  */
object GridSearch {

  /** numpy.arange float semantics (reference optimize.py:38): count =
    * ceil((stop−start)/step), value_i = start + i·step.
    */
  def arange(start: Double, stop: Double, step: Double): Array[Double] = {
    val n = math.ceil((stop - start) / step)
    if (n <= 0 || n.isNaN) Array.empty
    else Array.tabulate(n.toInt)(i => start + i * step)
  }

  /** Cartesian product of the ranges (reference optimize.py:218-219). */
  def grid(ranges: Seq[(Double, Double, Double)]): Array[Array[Double]] =
    ranges.map { case (a, b, s) => arange(a, b, s) }
      .foldLeft(Array(Array.empty[Double])) { (acc, r) =>
        acc.flatMap(prefix => r.map(v => prefix :+ v))
      }

  /** Evaluate every grid point for every ticker in `bars`; returns
    * (ticker, state, net_worth) rows. Bars never leave the executors: one
    * shuffle groups a ticker's history into a task, and the (tiny) grid —
    * broadcast once — is evaluated inside that task against the in-memory
    * arrays. The parallel axis is tickers, which is the axis that grows
    * at scale; a ticker's own history is bounded (daily bars: thousands
    * of rows), so the per-group materialization is safe by construction.
    * No driver-side collect anywhere in the path.
    *
    * `gridChunks` re-shards the grid axis for the few-tickers/large-grid
    * case (the reference's single-ticker shape): the per-ticker series is
    * materialized once, duplicated across `gridChunks` shuffle keys, and
    * each task evaluates its slice of the grid — restoring parallelism
    * when tickers alone cannot fill the cluster. Leave at 1 (default)
    * when tickers are the abundant axis: no duplication, no extra
    * shuffle.
    */
  def evaluate(bars: DataFrame, mkStrategy: Seq[Double] => LocalStrategy,
      initialAmount: Double,
      ranges: Seq[(Double, Double, Double)],
      gridChunks: Int = 1): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    val states = grid(ranges)
    val bcStates = spark.sparkContext.broadcast(states)
    val nChunks = math.max(1, math.min(gridChunks, states.length))
    // full-precision (epoch nanos) sort key via graft.model.Time —
    // getTime alone is millisecond-truncated and would tie sub-ms bars
    val series = bars
      .select(col("ticker"), col("date").cast("timestamp"), col("close").cast("double"))
      .as[(String, Timestamp, java.lang.Double)]
      .groupByKey(_._1)
      .mapGroups { (ticker, it) =>
        val sorted = it.toArray.sortBy(r => graft.model.Time.epochNanos(r._2))
        (ticker, sorted.map(r => graft.model.Time.epochNanos(r._2)),
          sorted.map(r => if (r._3 == null) Double.NaN else r._3.doubleValue()))
      }
    val sharded =
      if (nChunks == 1) series.map { case (t, ns, closes) => (t, ns, closes, 0) }
      else series.flatMap { case (t, ns, closes) =>
        (0 until nChunks).iterator.map(c => (t, ns, closes, c))
      }.repartition(spark.sparkContext.defaultParallelism)
    sharded.flatMap { case (ticker, ns, closes, chunk) =>
      val all = bcStates.value
      val dates = ns.map(graft.model.Time.fromEpochNanos)
      (chunk until all.length by nChunks).iterator.map { i =>
        val state = all(i)
        val nw = LocalBacktest.finalNetWorth(ticker, dates, closes,
          mkStrategy(state.toSeq), initialAmount)
        (ticker, state, nw)
      }
    }.toDF("ticker", "state", "net_worth")
  }



  /** Best state per ticker — `max_by` argmax (reference optimize.py:227). */
  def best(evaluated: DataFrame): DataFrame =
    evaluated.groupBy("ticker")
      .agg(expr("max_by(state, net_worth)").as("best_state"),
        max("net_worth").as("best_net_worth"))

  /** The reference's `_find_common_stocks` composition
    * (optimize.py:67-99): find the most-talked-about tickers in a
    * documents frame, load their bars, and optimize the strategy for
    * each. Its constituent pieces (TextPipeline.topTickerMentions, the
    * grid evaluator) have been in place since round 1; the orchestrating
    * wrapper was absent because the reference binds it to two external
    * connectors (praw for the documents, yfinance for the bars).
    * `loadBars` is that connector seam: it receives the top-k ticker
    * symbols and returns long-format bars (ticker, date, close) — a
    * file/cache-backed loader here, a market-data connector in a real
    * deployment.
    *
    * Scale shape: the top-k mention list (k rows) is the ONLY driver
    * materialization; the per-ticker optimization is ONE distributed
    * [[evaluate]] job with tickers as the parallel axis — not the
    * reference's per-ticker process-pool loop. Returns
    * (ticker, mentions, best_state, best_net_worth).
    */
  def findCommonStocks(docs: DataFrame, textCol: String,
      tickers: DataFrame, tickerCol: String, blacklist: Seq[String], k: Int,
      loadBars: Seq[String] => DataFrame,
      mkStrategy: Seq[Double] => LocalStrategy, initialAmount: Double,
      ranges: Seq[(Double, Double, Double)],
      gridChunks: Int = 1): DataFrame = {
    // the k-row mention leaderboard is consumed twice (the symbols AND
    // the final broadcast join): it is collected ONCE and the join side
    // is rebuilt from the collected rows, so the corpus regex scan runs
    // once per call
    val spark = docs.sparkSession
    val top0 = graft.text.TextPipeline.topTickerMentions(docs, textCol,
      tickers, tickerCol, blacklist, k).select(col("token"), col("cnt"))
    val topRows = top0.collect()
    val top = spark.createDataFrame(java.util.Arrays.asList(topRows: _*),
      top0.schema)
    val symbols = topRows.map(_.getString(0)).toSeq
    // a mention-less corpus short-circuits to an empty result BEFORE the
    // connector is invoked — a loader handed an empty symbol list could
    // throw or issue a nonsense request
    if (symbols.isEmpty) {
      return spark.createDataFrame(spark.sparkContext.emptyRDD[
          org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ticker",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("mentions",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("best_state",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = false)),
          org.apache.spark.sql.types.StructField("best_net_worth",
            org.apache.spark.sql.types.DoubleType))))
    }
    val bars = loadBars(symbols).filter(col("ticker").isin(symbols: _*))
    best(evaluate(bars, mkStrategy, initialAmount, ranges, gridChunks))
      .join(broadcast(top.select(col("token").as("ticker"),
        col("cnt").as("mentions"))), Seq("ticker"), "left")
      .select(col("ticker"), col("mentions"), col("best_state"),
        col("best_net_worth"))
  }
}

/** Simulated annealing (reference optimize.py:138-207): a sequential
  * driver loop — each step depends on the last — calling the same local
  * evaluator; T·0.8 cooling, exp(Δ/T) acceptance, integer-step
  * neighborhood kicks clamped to the ranges. Seeded for determinism
  * (the reference uses unseeded numpy RNG; stochastic path, same
  * distribution family).
  */
object SimulatedAnnealing {

  /** Distributed annealing: one independent annealing chain per ticker,
    * run inside its task after a single groupByKey(ticker) shuffle — the
    * same bars-stay-on-executors shape as GridSearch.evaluate. Returns
    * (ticker, best_state, best_net_worth).
    */
  def evaluate(bars: DataFrame, mkStrategy: Seq[Double] => LocalStrategy,
      initialAmount: Double, ranges: Seq[(Double, Double, Double)],
      initState: Array[Double], temperature: Double = 100.0,
      iterations: Int = 100, seed: Long = 42L): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    bars
      .select(col("ticker"), col("date").cast("timestamp"), col("close").cast("double"))
      .as[(String, Timestamp, java.lang.Double)]
      .groupByKey(_._1)
      .mapGroups { (ticker, it) =>
        // full-precision sort (getTime alone is millisecond-truncated)
        val sorted = it.toArray.sortBy(r => graft.model.Time.epochNanos(r._2))
        val dates = sorted.map(_._2)
        val closes = sorted.map(r =>
          if (r._3 == null) Double.NaN else r._3.doubleValue())
        val (best, worth) = optimize(ticker, dates, closes, mkStrategy,
          initialAmount, ranges, initState, temperature, iterations, seed)
        (ticker, best, worth)
      }
      .toDF("ticker", "best_state", "best_net_worth")
  }

  def optimize(ticker: String, dates: Array[Timestamp], closes: Array[Double],
      mkStrategy: Seq[Double] => LocalStrategy, initialAmount: Double,
      ranges: Seq[(Double, Double, Double)], initState: Array[Double],
      temperature: Double = 100.0, iterations: Int = 100,
      seed: Long = 42L): (Array[Double], Double) = {
    val rng = new java.util.Random(seed)
    def eval(st: Array[Double]): Double =
      LocalBacktest.finalNetWorth(ticker, dates, closes,
        mkStrategy(st.toSeq), initialAmount)
    def neighborhood(state: Array[Double], amplitude: Int): Array[Double] = {
      var next: Array[Double] = null
      var guard = 0
      while (next == null && guard < 10000) {
        guard += 1
        val cand = state.zipWithIndex.map { case (v, i) =>
          v + (rng.nextInt(3) - 1) * (rng.nextInt(2 * amplitude + 1) - amplitude) * ranges(i)._3
        }
        if (cand.forall(_ > 0) && !cand.sameElements(state)) next = cand
      }
      if (next == null) state.clone()
      else next.zipWithIndex.map { case (v, i) =>
        math.min(math.max(v, ranges(i)._1), ranges(i)._2)
      }
    }
    var state = initState
    var bestState = initState
    var temp = temperature
    var curCost = eval(state)
    var bestCost = curCost
    (0 until iterations).foreach { _ =>
      val nextState = neighborhood(state, 10)
      val newCost = eval(nextState)
      val delta = newCost - curCost
      if (delta > 0) {
        state = nextState
        curCost = newCost
        if (newCost > bestCost) { bestState = nextState; bestCost = newCost }
      } else if (math.exp(delta / temp) > rng.nextDouble()) {
        state = nextState
        curCost = newCost
      }
      temp *= 0.8
    }
    (bestState, eval(bestState))
  }
}
