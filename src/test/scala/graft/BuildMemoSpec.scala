package graft

import org.apache.spark.sql.functions._

import graft.ops.BuildMemo
import graft.text.Retrieval

/** The session-scoped build memo: memo-hit must be result-identical to
  * memo-miss, keys (input plans + params + input file digest) must
  * discriminate inputs and params, a rewritten input must never be
  * served stale, and non-memoizable inputs (streaming, no inputs) must
  * fall through to the unmemoized behavior.
  */
class BuildMemoSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = spark.read
    .parquet(s"$sf0001/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("memo-hit is result-identical to memo-miss (full BM25 " +
      "incremental lifecycle)") {
    def lifecycle() = {
      val base = docs.filter(col("doc_id") % 3 =!= 0)
      val fresh = docs
        .filter(col("doc_id") % 3 === 0 || col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" upd")).as("text"))
      val merged = Retrieval.updateBm25Index(
        Retrieval.bm25Index(base, "doc_id", "text"),
        fresh, "doc_id", "text")
      val stats = Retrieval.bm25IndexStats(merged)
      val tk = filter(split(lower(col("text")), "\\s+"),
        x => length(x) > 0)
      val queries = docs.filter(col("doc_id") % 193 === 0)
        .select(col("doc_id"),
          concat_ws(" ", slice(tk, 1, 6)).as("qtext"))
      Retrieval.bm25ProbeIndex(merged, stats, queries,
          "doc_id", "qtext", k = 5, maxDfFrac = 0.95)
        .select(col("query_id"), col("doc_id"),
          round(col("score"), 6).as("s6"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSeq
        .sortBy(r => (r._1, r._4))
    }
    BuildMemo.clear()
    val cold = lifecycle()
    val missesAfterCold = BuildMemo.misses
    val hitsBefore = BuildMemo.hits
    val warm = lifecycle()
    assert(warm == cold && cold.nonEmpty,
      s"memo-hit diverged from memo-miss: ${warm.take(3)} vs " +
        s"${cold.take(3)}")
    assert(BuildMemo.hits > hitsBefore,
      "second run never hit the memo — the lifecycle keys are unstable")
    assert(BuildMemo.misses == missesAfterCold,
      "second run re-built memoized artifacts (key instability)")
  }

  test("frame keys discriminate params and inputs") {
    BuildMemo.clear()
    def cut(m: Int, params: String = "") = {
      val in = docs.filter(col("doc_id") % m === 0)
      BuildMemo.frame(Seq(in), "discriminate", params)(in)
    }
    val a = cut(3)
    val b = cut(5)
    assert(a.count() != b.count(),
      "different input plans must not share a memo entry")
    assert(cut(3) eq a,
      "an identical input plan must return the SAME materialized frame")
    assert(!(cut(3, params = "p2") eq a),
      "different params must not share a memo entry")
  }

  test("trained quantizer models memo-hit and key on centroid content") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    BuildMemo.clear()
    val c1 = graft.sim.Similarity.ivfCentroids(emb, "vec_id",
      "embedding", nCentroids = 4)
    val h0 = BuildMemo.hits
    val c2 = graft.sim.Similarity.ivfCentroids(emb, "vec_id",
      "embedding", nCentroids = 4)
    assert((c2 eq c1) && BuildMemo.hits > h0, "second train must memo-hit")
    val c8 = graft.sim.Similarity.ivfCentroids(emb, "vec_id",
      "embedding", nCentroids = 8)
    assert(c8.length == 8 && c1.length == 4,
      "param change must re-train, not cross-hit")
    // residual codebooks under DIFFERENT centroids must not cross-hit
    val cb1 = graft.sim.Pq.pqCodebooksResidual(emb, "vec_id",
      "embedding", c1, dim = 64, m = 4, kPerSub = 4)
    val cb8 = graft.sim.Pq.pqCodebooksResidual(emb, "vec_id",
      "embedding", c8, dim = 64, m = 4, kPerSub = 4)
    assert(!(cb1 eq cb8),
      "codebooks trained under different quantizers must not share")
  }

  test("an overwritten table re-keys on its new file listing — never " +
      "served stale") {
    // catalog-table LogicalRelations compare canonically equal across
    // an overwrite (root-path equality), so the file digest in the key
    // is what protects this path
    val name = "memo_mut_tbl"
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.mode("overwrite").saveAsTable(name)
    try {
      val n1 = Retrieval.bm25Index(spark.table(name), "doc_id", "text")
        .count()
      Seq((1L, "a"), (2L, "b b")).toDF("doc_id", "text")
        .write.mode("overwrite").saveAsTable(name)
      spark.catalog.refreshTable(name)
      val n2 = Retrieval.bm25Index(spark.table(name), "doc_id", "text")
        .count()
      assert(n1 == 1L && n2 == 2L,
        s"mutable table served stale postings: $n1 then $n2")
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  /** Write `first`, run the memoized build `memo` twice over fresh
    * `spark.read.parquet` reads of it, overwrite it with `second` and
    * run once more: the repeat must hit with the same result (as seen
    * through `read`), the overwrite must miss and return the build's
    * result over the new rows.
    */
  private def overwriteInvalidates[T <: AnyRef, R](
      first: org.apache.spark.sql.DataFrame,
      second: org.apache.spark.sql.DataFrame)(
      memo: org.apache.spark.sql.DataFrame => T)(read: T => R): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("memo_overwrite")
      .resolve("t").toString
    first.write.mode("overwrite").parquet(dir)
    BuildMemo.clear()
    val r1 = memo(spark.read.parquet(dir))
    val out1 = read(r1)
    val (h0, m0) = (BuildMemo.hits, BuildMemo.misses)
    val r2 = memo(spark.read.parquet(dir))
    assert((r2 eq r1) &&
      BuildMemo.hits > h0 && BuildMemo.misses == m0,
      "the same input read twice must memo-hit")
    assert(read(r2) == out1, "memo-hit diverged from memo-miss")
    second.write.mode("overwrite").parquet(dir)
    val r3 = memo(spark.read.parquet(dir))
    assert(BuildMemo.misses > m0, "an overwritten input must memo-miss")
    val out3 = read(r3)
    assert(out3 != out1, "an overwritten input was served the stale build")
    BuildMemo.clear()
    assert(read(memo(spark.read.parquet(dir))) == out3,
      "the rebuilt result differs from a fresh build over the new rows")
  }

  test("input keying: a BM25 run (MapData literals in its output plan) " +
      "hits on the same input and misses after an overwrite") {
    def run(corpus: org.apache.spark.sql.DataFrame) =
      BuildMemo.frame(Seq(corpus), "bm25-overwrite-probe") {
        val queries = corpus.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text").as("qtext"))
        Retrieval.bm25TopK(corpus, "doc_id", "text", queries, "doc_id",
          "qtext", k = 2)
      }
    // an OUTPUT-plan key could never hit here: two builds over the same
    // input do not canonicalize equal
    val once = docs.limit(40)
    val q = once.select(col("doc_id"), col("text").as("qtext"))
    def plan() = Retrieval.bm25TopK(once, "doc_id", "text", q, "doc_id",
      "qtext", k = 2).queryExecution.analyzed.canonicalized
    assert(plan() != plan(), "bm25TopK output plans now compare equal; " +
      "the comment above is stale")
    val first = Seq((1L, "apple pie"), (2L, "apple tart"),
      (3L, "cherry pie"), (4L, "pie")).toDF("doc_id", "text")
    val second = Seq((1L, "apple pie"), (2L, "cherry cake"),
      (3L, "cherry pie"), (4L, "cake cake"), (6L, "cherry")).toDF(
      "doc_id", "text")
    overwriteInvalidates(first, second)(run) { df =>
      df.select(col("query_id"), col("doc_id"),
          round(col("score"), 9).as("s"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    }
  }

  test("input keying: a backtest fold (lambda-bound mapGroups) hits on " +
      "the same bars and misses after an overwrite") {
    import graft.engine.BacktestEngine
    import graft.strategy.MACross
    val strategy = MACross(2, 4)
    def run(bars: org.apache.spark.sql.DataFrame) =
      BuildMemo.value(Seq(bars), "btfold-overwrite-probe",
          s"$strategy|10000.0") {
        BacktestEngine.run(bars, strategy, 10000.0)
      }
    def bars(closes: Seq[Double]) = closes.zipWithIndex.map {
      case (c, i) => ("T", new java.sql.Timestamp(86400000L * (i + 1)), c)
    }.toDF("ticker", "date", "close")
    val up = Seq(10.0, 9.0, 8.0, 9.0, 11.0, 13.0, 12.0, 10.0, 8.0, 7.0,
      9.0, 12.0)
    overwriteInvalidates(bars(up), bars(up.map(c => 30.0 - c)))(run) { r =>
      BacktestEngine.finalNetWorth(r).as[(String, Double)].collect().toSeq
    }
  }

  test("streaming frames are never cut or memoized") {
    implicit val sc = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val streamDf = input.toDS().toDF("doc_id", "text")
    BuildMemo.clear()
    assert(BuildMemo.frame(Seq(streamDf), "stream-probe")(streamDf)
      .isStreaming, "a streaming input must fall through uncut")
    var builds = 0
    (1 to 2).foreach { _ =>
      BuildMemo.value(Seq(docs, streamDf), "stream-probe") {
        builds += 1; java.lang.Long.valueOf(builds.toLong)
      }
      // no inputs at all: nothing to key on, so nothing is memoized
      BuildMemo.value(Nil, "no-inputs-probe") {
        builds += 1; java.lang.Long.valueOf(builds.toLong)
      }
    }
    assert(builds == 4 && BuildMemo.size == 0,
      s"non-memoizable builds were memoized ($builds builds, " +
        s"${BuildMemo.size} entries)")
    // bm25Index on a streaming frame must stay lazy/streaming
    assert(Retrieval.bm25Index(streamDf, "doc_id", "text").isStreaming)
  }

  test("LRU bound holds") {
    BuildMemo.clear()
    (0 until 300).foreach { i =>
      BuildMemo.value(Seq(docs), "lru-probe", params = i.toString) {
        java.lang.Long.valueOf(i.toLong)
      }
    }
    assert(BuildMemo.size <= 256, s"cache grew past bound: ${BuildMemo.size}")
  }

  test("frame: hit ≡ miss, keyed on the INPUT plan, and the build " +
      "closure runs once") {
    BuildMemo.clear()
    var builds = 0
    def clustered() = BuildMemo.frame(Seq(docs), "frame-probe",
        params = "p1") {
      builds += 1
      graft.dedup.Dedup.connectedComponents(
        graft.dedup.Dedup.minhashNearDups(docs, "doc_id", "text",
          shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5))
    }
    val cold = clustered().orderBy("id").as[(Long, Long)].collect().toSeq
    val warm = clustered().orderBy("id").as[(Long, Long)].collect().toSeq
    assert(builds == 1, s"build closure ran $builds times — the input " +
      "plan key is unstable")
    assert(warm == cold && cold.nonEmpty, "frame hit diverged from miss")
    // different params → distinct entry (no false sharing)
    var builds2 = 0
    BuildMemo.frame(Seq(docs), "frame-probe", params = "p2") {
      builds2 += 1; docs.limit(1)
    }.count()
    assert(builds2 == 1, "distinct params must build separately")
    // non-memoizable input (streaming) falls through to a plain build
    implicit val sc = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val streamDf = input.toDS().toDF("doc_id", "text")
    val out = BuildMemo.frame(Seq(streamDf), "frame-stream") {
      streamDf
    }
    assert(out.isStreaming, "streaming input must fall through unmemoized")
  }

  test("near-dup component memo: dropNearDups / dropNearDupsKeepBest / " +
      "nearDupComponents share one clustering build") {
    BuildMemo.clear()
    val survivors = graft.dedup.Dedup.dropNearDups(
      docs, "doc_id", "text", shingleSize = 3, numHashes = 32,
      bands = 16, threshold = 0.5).select("doc_id")
      .as[Long].collect().toSet
    val missesAfter = BuildMemo.misses
    val best = graft.dedup.Dedup.dropNearDupsKeepBest(
      docs.withColumn("n_chars", length(col("text"))), "doc_id", "text",
      "n_chars", shingleSize = 3, numHashes = 32, bands = 16,
      threshold = 0.5).select("doc_id").as[Long].collect().toSet
    assert(survivors.nonEmpty && best.nonEmpty)
    // keep-best over a DIFFERENT input plan (the added quality column)
    // builds its own entry, but the PLAIN-docs clustering must hit:
    val hitsBefore = BuildMemo.hits
    graft.dedup.Dedup.nearDupComponents(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .count()
    assert(BuildMemo.hits > hitsBefore,
      "nearDupComponents re-built a clustering dropNearDups already " +
        s"built (misses after first build: $missesAfter)")
  }
}
