package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Each query is forced
  * through the noop sink so the full plan executes (a bare `count()`
  * lets Catalyst prune projections and under-measures scans).
  *
  * Timing discipline: a full warm-up pass at the smallest SF compiles
  * every plan's codegen before anything is timed, then the whole suite
  * runs SPARK_GRAFT_REPS times (default 3) ROUND-ROBIN — rep 1 of
  * every query in order, then rep 2, then rep 3 — and each query
  * reports the MEDIAN and the MIN across its reps. Round-robin is the
  * load-proofing: back-to-back reps of one query share a single
  * machine-weather window, so a load burst used to inflate ALL of a
  * query's reps and its min recorded a phantom 3-9× regression
  * (observed in the round-9 artifact on four unchanged queries that
  * were CONSECUTIVE in the run order). Interleaved, a burst costs one
  * rep of many queries and every query's min survives. The 1-minute
  * system load average is sampled before the warm-up, between passes,
  * and at the end (`loadavg` in the JSON) so a loaded-box session is
  * visible in the artifact itself. A rep that throws counts as a
  * failure (reported in `failed`, non-zero exit), never a timing.
  *
  * Cold vs warm: session-memoized builds (BuildMemo) persist across
  * reps, so medians measure the memo-hit steady state; `queries_cold`
  * / `total_cold` report each query's FIRST rep (the one that pays
  * the builds). `SPARK_GRAFT_COLD=1` instead clears the memo + cached
  * relations before every rep pass, making every rep cold.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.ops.ScratchDir.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup outside any query's timing (the alphabetically
    // first query otherwise absorbs ~5s of session warmup)
    spark.range(1000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).write
      .format("noop").mode("overwrite").save()
    // full warmup pass at the smallest SF: every query's generated code
    // (whole-stage codegen classes, the fold session, UDAF serializers)
    // gets JIT-compiled before anything is timed, so the timed numbers
    // measure the engine in steady state rather than first-call compile
    // cost. Data at sf0.001 is ~100x smaller than the timed input, so
    // execution cost is negligible next to the compile effect.
    val warmDir = new java.io.File(
      new java.io.File(sfDir).getParentFile, "sf0.001")
    if (warmDir.isDirectory && warmDir.getAbsolutePath != sfDir) {
      SparkEntry.queries.foreach { case (_, fn) =>
        try fn(spark, warmDir.getAbsolutePath).write
          .format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(_) => () }
      }
      spark.catalog.clearCache()
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // SPARK_GRAFT_COLD=1: drop every session memo (BuildMemo) and
    // cached relation before each rep pass, so EVERY rep pays the
    // builds — the all-cold bench mode (r16 verdict #2). Default off:
    // warm reps measure steady state, and rep-1 times are reported
    // separately as queries_cold below.
    val coldMode = sys.env.get("SPARK_GRAFT_COLD").contains("1")
    // Per query: median AND min over successful reps, collected
    // ROUND-ROBIN (see the header). Min is the plan-quality statistic
    // — it can only improve by the plan genuinely doing less work.
    // A throwing rep is a FAILURE, never a timing: it must not record
    // its elapsed time as a fast success and silently shrink the total.
    def loadavg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loads = scala.collection.mutable.ArrayBuffer(loadavg())
    val failures = scala.collection.mutable.LinkedHashMap[String, Int]()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val samples = scala.collection.mutable.LinkedHashMap(
      ordered.map { case (n, _) =>
        n -> scala.collection.mutable.ArrayBuffer.empty[Double] }: _*)
    for (_ <- 1 to reps) {
      if (coldMode) {
        graft.ops.BuildMemo.clear()
        spark.catalog.clearCache()
      }
      ordered.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          samples(name) += (System.nanoTime() - t0) / 1e9
        } catch {
          case scala.util.control.NonFatal(e) =>
            failures(name) = failures.getOrElse(name, 0) + 1
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
      }
      loads += loadavg()
    }
    // cold column (r16 verdict #2): the FIRST successful rep's time per
    // query. The suite runs round-robin in one JVM, so rep 1 is the rep
    // that pays session builds (memo misses, first materializations) —
    // medians alone only measure the memo-hit steady state. Additive
    // field; a query whose rep 1 failed reports its first success.
    val cold = ordered.flatMap { case (name, _) =>
      samples(name).headOption.map(t => (name, t)) }
    val results = ordered.flatMap { case (name, _) =>
      val times = samples(name).sorted
      if (times.isEmpty) None
      else {
        // true median: even successful-rep counts (reps=4, or one
        // failed rep of 3) average the two middle elements — the JSON
        // reports agg:"median" and must mean it
        val med =
          if (times.size % 2 == 1) times(times.size / 2)
          else (times(times.size / 2 - 1) + times(times.size / 2)) / 2.0
        Some((name, med, times.head))
      }
    }
    // 4-decimal timings (0.1 ms — far below box noise): the full JSON
    // line shrinks ~2×, which matters because the driver's artifact
    // keeps only a BOUNDED TAIL of stdout (rounds 11-13 all shipped a
    // front-truncated, unparseable canonical BENCH_rXX.json)
    def r4(v: Double): String = f"$v%.4f"
    def jmap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + r4(v) }
        .mkString("{", ",", "}")
    val qs = jmap(results.map(r => (r._1, r._2)))
    val qsMin = jmap(results.map(r => (r._1, r._3)))
    val total = results.map(_._2).sum
    val totalMin = results.map(_._3).sum
    val failed = failures.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // headline stats FIRST: a tail-truncated capture of this line still
    // carries the totals and the failure map; the bulky per-query maps
    // ride at the end. The full JSON is ALSO written to
    // target/bench.json AND bench_full.json (repo root, committable) so
    // the artifact survives any stdout mangling.
    val loadsJson = loads.map(l => f"$l%.2f").mkString("[", ",", "]")
    // ---- cross-RUN statistics (round-14 verdict #7): bench_full.json
    // used to hold only the LAST run of a round — often the noisiest.
    // Merge with the previous bench_full.json of the SAME sf: per-query
    // minimum across every run of the round (min can only improve by
    // the plan doing less work), the best run total, and the run
    // count. The file is self-authored, so a pinned-shape regex parse
    // is safe; any parse failure just degrades to this-run-only stats.
    val prevTxt =
      try {
        val f = new java.io.File("bench_full.json")
        if (f.isFile) Some(new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    def mapOf(src: String, key: String): Map[String, Double] =
      ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(src)
        .map(_.group(1)).toSeq.flatMap { body =>
          "\"([^\"]+)\":([-0-9.eE]+)".r.findAllMatchIn(body)
            .map(x => x.group(1) -> x.group(2).toDouble)
        }.toMap
    // minimums are only comparable across runs of the SAME code on the
    // SAME sf: a head OR working-tree change resets the merge (a
    // legitimately-slower query would otherwise hide behind a stale
    // faster min). The key is `git rev-parse HEAD` (packed-refs-safe —
    // the old raw .git/refs read returned "unknown" after a git gc and
    // silently merged across code versions) plus, when the CODE paths
    // are dirty, a digest of their diff — bench artifacts themselves
    // (bench_full.json et al.) are excluded so the close procedure's
    // back-to-back runs still merge. An unresolvable key skips merging
    // instead of merging under a sentinel.
    def gitKey(): Option[String] =
      try {
        def run(cmd: String*): Option[String] = {
          val pr = new ProcessBuilder(cmd: _*).start()
          val out = new String(pr.getInputStream.readAllBytes(), "UTF-8")
          if (pr.waitFor() == 0) Some(out) else None
        }
        val codePaths = Seq("src", "build.sbt", "project", "scripts")
        for {
          head <- run("git" +: "rev-parse" +: "HEAD" +: Nil: _*).map(_.trim)
          diff <- run("git" +: "diff" +: "HEAD" +: "--" +: codePaths: _*)
          stat <- run(
            "git" +: "status" +: "--porcelain" +: "--" +: codePaths: _*)
        } yield
          if (diff.isEmpty && stat.isEmpty) head
          else {
            val md = java.security.MessageDigest.getInstance("SHA-256")
            val dig = md.digest((diff + "\u0000" + stat).getBytes("UTF-8"))
              .take(6).map(b => f"$b%02x").mkString
            s"$head-dirty-$dig"
          }
      } catch { case scala.util.control.NonFatal(_) => None }
    val keyNow = gitKey()
    val headNow = keyNow.getOrElse("unresolved")
    val sameSf = keyNow.isDefined &&
      prevTxt.exists(_.contains("\"sf\":\"" + sfDir + "\"")) &&
      prevTxt.exists(_.contains("\"git_head\":\"" + headNow + "\""))
    val prevX =
      if (!sameSf) Map.empty[String, Double]
      else prevTxt.map { p =>
        val x = mapOf(p, "queries_min_xrun")
        if (x.nonEmpty) x else mapOf(p, "queries_min")
      }.getOrElse(Map.empty)
    val prevBest =
      if (!sameSf) None
      else prevTxt.flatMap(p => "\"best_total\":([0-9.]+)".r
        .findFirstMatchIn(p).map(_.group(1).toDouble))
    val prevRuns =
      if (!sameSf) 0
      else prevTxt.flatMap(p => "\"bench_runs\":([0-9]+)".r
        .findFirstMatchIn(p).map(_.group(1).toInt)).getOrElse(1)
    val xrun = results.map(r =>
      (r._1, math.min(r._3, prevX.getOrElse(r._1, Double.MaxValue))))
    val xrunJson = jmap(xrun)
    val xrunTotal = xrun.map(_._2).sum
    val bestTotal = math.min(total, prevBest.getOrElse(Double.MaxValue))
    val benchRuns = prevRuns + 1
    val coldJson = jmap(cold)
    val totalCold = cold.map(_._2).sum
    val json = s"""{"metric":"total","value":${r4(total)},"total_min":${r4(totalMin)},"total_cold":${r4(totalCold)},"cold_mode":${if (coldMode) 1 else 0},"unit":"sec","sf":"$sfDir","reps":$reps,"agg":"median","rep_order":"round_robin","git_head":"$headNow","bench_runs":$benchRuns,"best_total":${r4(bestTotal)},"xrun_min_total":${r4(xrunTotal)},"loadavg":$loadsJson,"failed":$failed,"queries":$qs,"queries_min":$qsMin,"queries_min_xrun":$xrunJson,"queries_cold":$coldJson}"""
    for (path <- Seq("target/bench.json", "bench_full.json")) {
      try {
        val f = new java.io.File(path)
        Option(f.getParentFile).foreach(_.mkdirs())
        val w = new java.io.PrintWriter(f, "UTF-8")
        try w.println(json) finally w.close()
      } catch {
        case e: java.io.IOException =>
          System.err.println(s"[bench] could not write $path: $e")
      }
    }
    println(json)
    // LAST line: a compact self-contained JSON sized for the driver's
    // bounded tail capture (totals + the slowest 15 medians + where the
    // full per-query map lives), so the canonical BENCH artifact parses
    // standalone even after sbt's trailing [success] line spends some
    // of the tail budget
    val slow = results.sortBy(-_._2).take(15)
    val compact = s"""{"metric":"total","value":${r4(total)},"total_min":${r4(totalMin)},"total_cold":${r4(totalCold)},"unit":"sec","sf":"$sfDir","reps":$reps,"agg":"median","n_queries":${results.size},"bench_runs":$benchRuns,"best_total":${r4(bestTotal)},"xrun_min_total":${r4(xrunTotal)},"loadavg":$loadsJson,"failed":$failed,"full_queries_in":"bench_full.json","slowest":${jmap(slow.map(r => (r._1, r._2)))}}"""
    println(compact)
    spark.stop()
    // a broken query must fail the bench run loudly, not vanish into a
    // smaller total
    if (failures.nonEmpty) sys.exit(1)
  }
}
