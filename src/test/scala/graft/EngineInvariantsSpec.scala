package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.engine.BacktestEngine
import graft.opt.{GridSearch, LocalMACross, LocalTenPercent}
import graft.sources.Sources
import graft.strategy.{MACross, TenPercent}

/** Engine-level invariants and cross-implementation parity checks
  * (SURVEY.md §5 implications — properties the reference never tested).
  */
class EngineInvariantsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val bars = Sources.eventsAsBars(spark, sf0001).cache()

  test("no signals => net worth stays at the initial amount") {
    // lagging SMA window longer than any ticker's history -> no signals
    val res = BacktestEngine.run(bars, MACross(500, 900), 1000.0)
    val nw = BacktestEngine.finalNetWorth(res).agg(
      min("net_worth"), max("net_worth")).collect()(0)
    assert(nw.getDouble(0) === 1000.0)
    assert(nw.getDouble(1) === 1000.0)
  }

  test("distributed engine and task-local evaluator agree per ticker (MACross)") {
    val engineNw = BacktestEngine.finalNetWorth(
      BacktestEngine.run(bars, MACross(5, 20), 10000.0))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val localNw = GridSearch.evaluate(bars,
      st => LocalMACross(st(0).toInt, st(1).toInt), 10000.0,
      Seq((5, 6, 1), (20, 21, 1)))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(engineNw.keySet === localNw.keySet)
    engineNw.foreach { case (t, v) =>
      assert(v === localNw(t), s"ticker $t engine=$v local=${localNw(t)}")
    }
  }

  test("distributed engine and task-local evaluator agree per ticker (TenPercent)") {
    val engineNw = BacktestEngine.finalNetWorth(
      BacktestEngine.run(bars, TenPercent(), 5000.0))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val localNw = GridSearch.evaluate(bars, _ => LocalTenPercent(), 5000.0,
      Seq((1, 2, 1)))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    engineNw.foreach { case (t, v) =>
      assert(v === localNw(t), s"ticker $t engine=$v local=${localNw(t)}")
    }
  }

  test("engine and task-local evaluator agree on a ticker with leading " +
      "NaN (pre-IPO) bars") {
    // the first TenPercent buy lands on a NaN price: the reference's
    // cumsum(skipna=True) skips that term, so net worth stays finite
    val prices = Seq(10.0, 11.0, 10.4, 10.0, 9.8, 10.9, 11.6, 11.0, 10.5,
      12.0, 12.8, 12.1, 11.7, 13.0)
    val series = Seq(
      "IPO" -> (Seq.fill(4)(Double.NaN) ++ prices),
      "FULL" -> prices)
    val rows = for {
      (ticker, closes) <- series
      (c, i) <- closes.zipWithIndex
    } yield (ticker, new java.sql.Timestamp(86400000L * (i + 1)), c)
    val nanBars = rows.toDF("ticker", "date", "close")
    Seq[(graft.strategy.Strategy, graft.opt.LocalStrategy)](
      TenPercent() -> LocalTenPercent(),
      MACross(2, 3) -> LocalMACross(2, 3)).foreach { case (strat, local) =>
      val engineNw = BacktestEngine.finalNetWorth(
          BacktestEngine.run(nanBars, strat, 10000.0))
        .as[(String, Double)].collect().toMap
      series.foreach { case (ticker, closes) =>
        val dates = closes.indices
          .map(i => new java.sql.Timestamp(86400000L * (i + 1))).toArray
        val localNw = graft.opt.LocalBacktest.finalNetWorth(ticker, dates,
          closes.toArray, local, 10000.0)
        assert(!engineNw(ticker).isNaN &&
          java.lang.Double.compare(engineNw(ticker), localNw) == 0,
          s"$strat $ticker engine=${engineNw(ticker)} local=$localNw")
      }
    }
    assert(BacktestEngine.finalNetWorth(
        BacktestEngine.run(nanBars.filter(col("ticker") === "IPO"),
          TenPercent(), 10000.0))
      .as[(String, Double)].collect().toSeq == Seq("IPO" -> 10000.0),
      "a buy at a NaN price must leave the net worth at the capital")
  }

  test("shares_owned never negative for long-only MACross flow") {
    val res = BacktestEngine.run(bars, MACross(5, 20), 10000.0)
    val negatives = res.daily.filter(col("shares_owned") < 0).count()
    assert(negatives === 0L)
  }

  test("embedding near-dups finds planted duplicate vectors") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    // plant: duplicate vec 0 as id 100000, slightly perturbed vec 1 as 100001
    val planted = emb.unionByName(
      emb.filter(col("vec_id") === 0)
        .select(lit(100000L).as("vec_id"), col("embedding"), col("label")))
      .unionByName(
        emb.filter(col("vec_id") === 1)
          .select(lit(100001L).as("vec_id"),
            transform(col("embedding"), v => v * 1.001).as("embedding"),
            col("label")))
    val dups = Dedup.embeddingNearDups(planted, "vec_id", "embedding",
      threshold = 0.999, planes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((0L, 100000L)))
    assert(dups.contains((1L, 100001L)))
  }
}
