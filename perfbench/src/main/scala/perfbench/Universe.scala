package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.Metrics
import graft.engine.BacktestEngine
import graft.opt.{GridSearch, LocalBacktest, LocalMACross, LocalTenPercent, SimulatedAnnealing}
import graft.strategy.{MACross, TenPercent}

/** The paper's flows over a seeded OHLCV universe: a MACross backtest
  * with its orders and metrics against a day-mean index, a TenPercent
  * backtest, a grid search and a simulated-annealing chain. The seed
  * draws every price and assigns the (fixed) skewed set of history
  * lengths to tickers, so each seed does the same amount of work.
  */
final class Universe(a: Main.Args) extends Workload {
  import Universe._

  private val series: IndexedSeq[Series] = generate(a.seed)
  private val path = new java.io.File(a.runDir, "universe.parquet").getAbsolutePath
  private var bars: DataFrame = _
  private var index: DataFrame = _

  def inputDigest: String = Main.sha256(series.iterator.map(s =>
    s"${s.ticker}:${s.dates.head}:${s.nulls}:" +
      s.close.map(java.lang.Double.doubleToLongBits).mkString(",")))

  def setup(spark: SparkSession): Unit = {
    val rows = series.flatMap { s =>
      s.close.indices.map { j =>
        def d(x: Array[Double]) = if (j < s.nulls) null else Double.box(x(j))
        Row(s.ticker, s.dates(j), d(s.open), d(s.high), d(s.low), d(s.close),
          if (j < s.nulls) null else Long.box(s.volume(j)))
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, a.cores), Schema)
      .write.mode("overwrite").parquet(path)
    bars = spark.read.parquet(path)
    index = bars.groupBy("date").agg(avg("close").as("SP500"))
  }

  // expected outputs, evaluated on the driver from the generated arrays
  private val expectedGrid: Map[(String, Seq[Double]), Double] =
    (for (s <- series; st <- GridSearch.grid(GridRanges)) yield
      (s.ticker, st.toSeq) -> LocalBacktest.finalNetWorth(s.ticker, s.dates,
        s.close, LocalMACross(st(0).toInt, st(1).toInt), Capital)).toMap
  private val expectedTenPct: Map[String, Double] = series.map(s =>
    s.ticker -> LocalBacktest.finalNetWorth(s.ticker, s.dates, s.close,
      LocalTenPercent(), Capital)).toMap
  private val expectedAnneal: Map[String, (Seq[Double], Double)] =
    series.map { s =>
      val (st, nw) = SimulatedAnnealing.optimize(s.ticker, s.dates, s.close,
        mkLocal, Capital, GridRanges, Init, Temperature, AnnealSteps, a.seed)
      s.ticker -> (st.toSeq, nw)
    }.toMap
  private val expectedOrders: Long = series.map { s =>
    BacktestEngine.runSession(s.ticker,
      LocalMACross(Fast, Lag).signals(s.ticker, s.dates, s.close), Capital)
      .orders.size.toLong
  }.sum

  private val tenPctSeen = scala.collection.mutable.Map.empty[String, Double]

  private def same(x: Double, y: Double): Boolean =
    java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)

  private def worth(r: Row, i: Int): Double =
    if (r.isNullAt(i)) Double.NaN else r.getDouble(i)

  private def finals(df: DataFrame): Map[String, Double] =
    df.collect().map(r => r.getString(0) -> worth(r, 1)).toMap

  private def report(op: String, ok: Boolean): Boolean = {
    if (!ok) System.err.println(s"[perfbench] $op: output differs from expected")
    ok
  }

  /** Times building (`build`) and forcing (its returned thunk) one flow,
    * then checks the forced result outside the timed span.
    */
  private def timed[T](spark: SparkSession, name: String, family: String,
      cold: Boolean)(build: => () => T)(check: T => Boolean): OpSample = {
    Main.beforeOp(spark, name, cold)
    val t0 = System.nanoTime()
    try {
      val exec = build
      val c = Main.seconds(t0)
      val t1 = System.nanoTime()
      val out = exec()
      val e = Main.seconds(t1)
      OpSample(name, family, c, e, report(name, check(out)))
    } catch {
      case ex: Exception =>
        System.err.println(s"[perfbench] $name failed: $ex")
        OpSample(name, family, Main.seconds(t0), 0.0, ok = false)
    }
  }

  def pass(spark: SparkSession, cold: Boolean): Seq[OpSample] = Seq(
    timed(spark, "backtest", "engine", cold) {
      val res = BacktestEngine.run(bars, MACross(Fast, Lag), Capital)
      val fnw = BacktestEngine.finalNetWorth(res)
      val met = Metrics.compute(BacktestEngine.joinIndex(res.daily, index),
        res.orders, Capital, RiskFree)
      () => {
        val out = (finals(fnw), res.orders.count(), met.collect().length)
        res.unpersist()
        out
      }
    } { case (f, orders, metricRows) =>
      // engine ≡ grid: the engine's MACross(f, l) final net worth is the
      // grid evaluator's value at state (f, l), bit for bit
      f.size == series.size && series.forall(s =>
        same(f(s.ticker), expectedGrid((s.ticker, Seq(Fast.toDouble, Lag.toDouble))))) &&
        orders == expectedOrders && metricRows == series.size
    },
    timed(spark, "tenpct", "engine", cold) {
      val res = BacktestEngine.run(bars, TenPercent(), Capital)
      val fnw = BacktestEngine.finalNetWorth(res)
      () => { val out = finals(fnw); res.unpersist(); out }
    } { f =>
      // LocalBacktest sums a trade made at a NaN price (a pre-IPO bar)
      // as NaN where the engine's net-worth windows skip it, so the two
      // are compared on fully priced tickers only; null-led tickers must
      // reproduce the check pass's values
      val fresh = tenPctSeen.isEmpty
      if (fresh) tenPctSeen ++= f
      f.size == series.size && series.forall { s =>
        if (s.nulls == 0) same(f(s.ticker), expectedTenPct(s.ticker))
        else fresh || same(f(s.ticker), tenPctSeen(s.ticker))
      }
    },
    timed(spark, "grid", "opt", cold) {
      val df = GridSearch.evaluate(bars, mkLocal, Capital, GridRanges)
      () => df.collect()
    } { rows =>
      rows.length == expectedGrid.size && rows.forall(r =>
        expectedGrid.get((r.getString(0), r.getSeq[Double](1))).exists(same(_, worth(r, 2))))
    },
    timed(spark, "anneal", "opt", cold) {
      val df = SimulatedAnnealing.evaluate(bars, mkLocal, Capital, GridRanges,
        Init, Temperature, AnnealSteps, a.seed)
      () => df.collect()
    } { rows =>
      rows.length == series.size && rows.forall { r =>
        expectedAnneal.get(r.getString(0)).exists { case (st, nw) =>
          st == r.getSeq[Double](1) && same(nw, worth(r, 2))
        }
      }
    })

  def check(spark: SparkSession): (Int, Int) = {
    val samples = pass(spark, cold = false)
    (samples.size, samples.count(!_.ok))
  }

  override def optEvals: Double = series.size.toDouble *
    (GridSearch.grid(GridRanges).length + AnnealSteps + 2)

  override def optOps: Set[String] = Set("grid", "anneal")

  /** Each layer of the MACross backtest forced on its own, its input
    * materialized beforehand so only that layer's work is timed.
    */
  override def layerProbe(spark: SparkSession): Map[String, Double] = {
    import spark.implicits._
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, "probe")
    def force(ds: Dataset[_]): Double = {
      val t0 = System.nanoTime()
      ds.write.format("noop").mode("overwrite").save()
      Main.seconds(t0)
    }
    val strategy = MACross(Fast, Lag)
    val signalsS = force(strategy.signals(bars))
    val signals = strategy.signals(bars).localCheckpoint(eager = true)
    val foldS = force(BacktestEngine.foldSignals(signals, Capital))
    val fold = BacktestEngine.foldSignals(signals, Capital).localCheckpoint(eager = true)
    val trades = fold.flatMap(_.trades).toDF()
    val daily = BacktestEngine.withNetWorth(BacktestEngine.normalize(bars), trades, Capital)
    val dailyS = force(daily)
    val indexed = BacktestEngine.joinIndex(daily, index).localCheckpoint(eager = true)
    val metricsS = force(Metrics.compute(indexed, fold.flatMap(_.orders), Capital, RiskFree))
    Map("strategy.signals_s" -> signalsS, "engine.fold_s" -> foldS,
      "engine.daily_s" -> dailyS, "analytics.metrics_s" -> metricsS)
  }
}

object Universe {
  val Tickers = 16
  val MaxBars = 2520
  val MinBars = 252
  val Capital = 10000.0
  val RiskFree = 0.03
  val Fast = 10
  val Lag = 40
  /** fast ∈ {5, 10, 15} × lag ∈ {20, 40, 60}; holds (Fast, Lag). */
  val GridRanges = Seq((5.0, 20.0, 5.0), (20.0, 80.0, 20.0))
  val Init = Array(Fast.toDouble, Lag.toDouble)
  val Temperature = 100.0
  val AnnealSteps = 20
  val LastDay = java.time.LocalDate.of(2025, 12, 31)

  val mkLocal: Seq[Double] => graft.opt.LocalStrategy =
    st => LocalMACross(st(0).toInt, st(1).toInt)

  val Schema = StructType(Seq(
    StructField("ticker", StringType, nullable = false),
    StructField("date", TimestampType, nullable = false),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", LongType)))

  /** One ticker's daily bars; the first `nulls` bars are empty (pre-IPO
    * placeholders, as in the reference's msft.csv) and read as NaN here.
    */
  final case class Series(ticker: String, dates: Array[Timestamp],
      open: Array[Double], high: Array[Double], low: Array[Double],
      close: Array[Double], volume: Array[Long], nulls: Int)

  /** Weekdays ending on LastDay, oldest first. */
  private val calendar: Array[Timestamp] =
    Iterator.iterate(LastDay)(_.minusDays(1))
      .filter(d => d.getDayOfWeek.getValue <= 5).take(MaxBars).toArray.reverse
      .map(d => Timestamp.valueOf(d.atStartOfDay()))

  def generate(seed: Long): IndexedSeq[Series] = {
    val rng = new java.util.Random(seed)
    // fixed, skewed history lengths: most tickers near ten years, a tail
    // of recent listings; the seed only decides which ticker gets which
    val lengths = Array.tabulate(Tickers) { i =>
      val u = (i + 0.5) / Tickers
      math.round(MaxBars - (MaxBars - MinBars) * u * u * u).toInt
    }
    for (i <- lengths.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = lengths(i); lengths(i) = lengths(j); lengths(j) = t
    }
    (0 until Tickers).map { i =>
      val n = lengths(i)
      val nulls = if (i % 8 == 0) 5 + rng.nextInt(36) else 0
      val (o, h, l, c) = (new Array[Double](n), new Array[Double](n),
        new Array[Double](n), new Array[Double](n))
      val vol = new Array[Long](n)
      var px = math.exp(math.log(5.0) + rng.nextDouble() * math.log(100.0))
      val mu = -0.0002 + rng.nextDouble() * 0.0008
      val sigma = 0.01 + rng.nextDouble() * 0.02
      for (j <- 0 until n) {
        if (j < nulls) {
          o(j) = Double.NaN; h(j) = Double.NaN; l(j) = Double.NaN; c(j) = Double.NaN
        } else {
          o(j) = px * (1 + rng.nextGaussian() * sigma / 4)
          px *= math.exp(mu + sigma * rng.nextGaussian())
          c(j) = px
          h(j) = math.max(o(j), c(j)) * (1 + math.abs(rng.nextGaussian()) * sigma / 2)
          l(j) = math.min(o(j), c(j)) * (1 - math.abs(rng.nextGaussian()) * sigma / 2)
          vol(j) = 100000L + rng.nextInt(1000000)
        }
      }
      Series(f"T$i%03d", calendar.takeRight(n), o, h, l, c, vol, nulls)
    }
  }
}
