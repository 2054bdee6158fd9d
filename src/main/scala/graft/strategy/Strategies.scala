package graft.strategy

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SignalBar
import graft.ts.TimeSeriesOps

/** A strategy turns a long bar frame (ticker, date, close, …) into signal
  * rows. The reference's "UDF" surface is Python subclassing with an
  * imperative buy/sell loop (reference strats.py:285-291,
  * custom_strats.py:41-62); here the signal half is vectorized,
  * Catalyst-visible DataFrame logic and the sequential order-fill half
  * lives once in the engine (graft.engine), not per strategy — mirroring
  * the columnar/row-loop duality of the reference (SURVEY.md §1.3, §2.11).
  */
trait Strategy extends Serializable {

  /** Emit the (sparse) signal rows: one row per date the trading loop must
    * act on, flagged isBuy/isSell, ordered per ticker by the engine.
    */
  def signals(bars: DataFrame): Dataset[SignalBar]

  protected def toSignalDs(df: DataFrame): Dataset[SignalBar] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("ticker"), col("date").cast("timestamp").as("date"),
        col("close").cast("double").as("close"),
        col("isBuy").as("isBuy"), col("isSell").as("isSell"))
      .as[SignalBar]
  }
}

/** Moving-average crossover (reference custom_strats.py:7-62): buy when
  * the fast SMA edge-crosses above the lagging SMA, sell on the downward
  * edge; sells before the first buy are skipped by the engine fold.
  *
  * Pandas parity notes: `NaN > NaN` is False in pandas so the crossover
  * flag coalesces nulls to false; `cross != cross.shift(1)` is True on the
  * first row because `False != NaN` → True, matched here by the null-safe
  * negated `<=>` (SURVEY.md §2.2 P8).
  */
final case class MACross(fast: Int, lagging: Int) extends Strategy {
  def signals(bars: DataFrame): Dataset[SignalBar] = {
    val w = TimeSeriesOps.keyed()
    val fastMa = TimeSeriesOps.rollingMean(col("close"), fast, w)
    val lagMa = TimeSeriesOps.rollingMean(col("close"), lagging, w)
    val withCross = bars
      .withColumn("cross", coalesce(fastMa > lagMa, lit(false)))
    val edge = !(col("cross") <=> lag(col("cross"), 1).over(w))
    val flagged = withCross
      .withColumn("isBuy", col("cross") && edge)
      .withColumn("isSell", !col("cross") && edge)
      .filter(col("isBuy") || col("isSell"))
    // Sells are only honored strictly after the first buy signal, and no
    // buys at all means no trades (custom_strats.py:50-62) — expressed
    // vectorized so the engine fold stays strategy-agnostic.
    val firstBuy = min(when(col("isBuy"), col("date")))
      .over(org.apache.spark.sql.expressions.Window.partitionBy("ticker"))
    val honored = flagged
      .withColumn("__firstBuy", firstBuy)
      .filter(col("isBuy") ||
        (col("__firstBuy").isNotNull && col("date") > col("__firstBuy")))
      .drop("__firstBuy")
    toSignalDs(honored)
  }
}

/** Threshold strategy (reference custom_strats.py:65-101): buy the first
  * bar; then sell when close ≥ anchor × sellMult and buy back when close ≤
  * anchor × buyMult, where the anchor is the close of the *last trade row*
  * — a self-referencing state machine (SURVEY.md §7.4 quirk 10) that no
  * window can express, so signals come from a per-ticker sequential fold.
  * Scale note: the fold is per-ticker; tickers parallelize across the
  * cluster and each ticker's history sorts in executor memory.
  */
final case class TenPercent(sellMult: Double = 1.05, buyMult: Double = 0.99)
    extends Strategy {
  def signals(bars: DataFrame): Dataset[SignalBar] = {
    val spark = bars.sparkSession
    import spark.implicits._
    val slim = bars.select(col("ticker"),
        col("date").cast("timestamp").as("date"),
        col("close").cast("double").as("close"))
      .as[(String, Timestamp, java.lang.Double)]
    // the per-ticker fold is the task-local state machine itself
    val local = graft.opt.LocalTenPercent(sellMult, buyMult)
    slim.groupByKey(_._1).flatMapGroups { (ticker, it) =>
      // full-precision key (graft.model.Time)
      val rows = it.toArray.sortBy(r => graft.model.Time.epochNanos(r._2))
      local.signals(ticker, rows.map(_._2),
        rows.map(r => if (r._3 == null) Double.NaN else r._3.doubleValue()))
        .iterator
    }
  }
}
