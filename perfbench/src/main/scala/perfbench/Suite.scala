package perfbench

import org.apache.spark.sql.SparkSession

/** A sample of the pipeline query suite (`graft.SparkEntry.queries`) on
  * the bundled table snapshot, forced through the noop sink in a
  * seed-permuted order. Warm passes keep session memos, so they measure
  * the memo-hit steady state; a cold pass clears them before every
  * query, so every query pays its own builds.
  */
final class Suite(a: Main.Args) extends Workload {
  import Suite._

  private val pinned = Digest.load(a.digests)
  private val queries = graft.SparkEntry.queries

  /** The timed sample in this run's order. */
  val order: Seq[String] = {
    val names = sample(queries.keys.toSeq)
    val rng = new java.util.Random(a.seed)
    val arr = names.toArray
    for (i <- arr.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr.toSeq
  }

  def inputDigest: String = Main.sha256(Tables.iterator.map { t =>
    val f = java.nio.file.Paths.get(a.dataDir, s"$t.parquet")
    t + java.util.HexFormat.of().formatHex(java.security.MessageDigest
      .getInstance("SHA-256").digest(java.nio.file.Files.readAllBytes(f)))
  } ++ order.iterator)

  def setup(spark: SparkSession): Unit =
    Tables.foreach(t => graft.sources.Sources.readTable(spark, a.dataDir, t))

  def check(spark: SparkSession): (Int, Int) = {
    val failed = order.count { name =>
      Main.beforeOp(spark, name, cold = false)
      try {
        val got = Digest.of(queries(name)(spark, a.dataDir))
        val ok = pinned.get(name).contains(got)
        if (!ok) System.err.println(s"[perfbench] $name: digest ${got._1} " +
          s"rows ${got._2}, pinned ${pinned.get(name)}")
        !ok
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e")
          true
      }
    }
    (order.size, failed)
  }

  def pass(spark: SparkSession, cold: Boolean): Seq[OpSample] = order.map { name =>
    Main.beforeOp(spark, name, cold)
    val t0 = System.nanoTime()
    try {
      val df = queries(name)(spark, a.dataDir)
      val c = Main.seconds(t0)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      OpSample(name, family(name), c, Main.seconds(t1), ok = true)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        OpSample(name, family(name), Main.seconds(t0), 0.0, ok = false)
    }
  }
}

object Suite {
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The program module each query prefix exercises. */
  def family(name: String): String = {
    val prefix = name.takeWhile(_ != '_')
    if (name.contains("_stream_")) "streaming"
    else prefix match {
      case "dd" => "dedup"
      case "sim" => "sim"
      case "ts" => "text"
      case "sc" => "sketch"
      case "mm" => "multimodal"
      case "gr" => "graph"
      case "bt" => "engine"
      case "opt" => "opt"
      case "ev" => "ts"
      case p if p.matches("w[0-9]+") => "ts"
      case p if p.matches("[pjauo][0-9]+|f") => "relational"
      case _ => "other"
    }
  }

  /** The first query by name of each family: one pass touches every
    * module the suite exercises while fitting a run's time budget.
    */
  def sample(names: Seq[String]): Seq[String] =
    names.groupBy(family).values.map(_.min).toSeq.sorted
}
