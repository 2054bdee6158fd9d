package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Session-scoped memo for EXPENSIVE BUILD ARTIFACTS — postings
  * indexes, trained quantizer models, backtest folds, candidate lists —
  * the [[graft.sources.Sources.readTable]] discipline extended from
  * "don't re-list the same parquet directory per query" to "don't
  * re-build the same index/model per query".
  *
  * One keying rule. Every build is keyed on
  *
  *  - the caller's tag (which build this is) and params string (every
  *    parameter the build reads besides its input frames),
  *  - the CANONICALIZED analyzed plans of its INPUT frames, and
  *  - the digest of those inputs' file listings, computed here.
  *
  * Why input plans, not the output plan: a result depends on exactly
  * its inputs plus its parameters, so that is what the key names.
  * Output plans are also often unusable as keys — MapData literals
  * have no value equality and lambda-bound operators (`mapGroups`,
  * `flatMapGroupsWithState`) never canonicalize equal — and some
  * builds run Spark jobs while CONSTRUCTING their result, which an
  * output-plan key would re-pay on every hit. Input plans are plain
  * reads and projections and carry neither. Two inputs that
  * canonicalize equal read the same data by construction, so a hit is
  * result-identical to a miss (BuildMemoSpec pins this).
  *
  * Why the file digest: two file-source relations over the same root
  * path canonicalize EQUAL even after the directory is rewritten, so
  * the concrete file names join the key. Spark-written data carries
  * UUID part-file names, making any overwrite a new key. An external
  * writer reusing identical file names in place is the residual
  * staleness window; that is the documented
  * [[graft.sources.Sources.invalidate]] case.
  *
  * One fallback. Plan-keyed reuse is only sound when the plan pins its
  * data, so memoization engages ONLY when every input is a batch frame
  * whose analyzed-plan leaves are immutable by construction:
  * `LogicalRelation` (file-source read), `LocalRelation` /
  * `OneRowRelation` / `Range` (data or bounds embedded in the plan) or
  * `LogicalRDD` (a checkpointed frame — canonicalization compares RDD
  * identity, so distinct materializations never cross-hit). Otherwise
  * — streaming sources, mutable in-memory or hive tables, no inputs at
  * all — the build runs and is returned unchanged, bit-for-bit the
  * unmemoized behavior.
  *
  * Lifetime. Entries are LRU-bounded (a long-lived service cycling
  * corpora cannot pin unbounded checkpoint blocks; evicted frames
  * release their RDD blocks via the ContextCleaner once unreferenced)
  * and the whole memo drops on [[clear]] —
  * [[graft.sources.Sources.invalidate]] calls it, so the one hook a
  * dataset-rewriting caller must already use covers derived builds
  * too.
  */
object BuildMemo {

  /** Max retained entries (frames + values share the budget): big
    * enough for a full Verify/Bench suite's distinct builds, small
    * enough that a corpus-cycling service stays bounded.
    */
  private val MaxEntries = 256

  private final case class Key(session: SparkSession, tag: String,
    plans: Seq[LogicalPlan], params: String, files: String)

  /** access-ordered LRU; all access synchronized (builds run OUTSIDE
    * the lock — a racing double-build is benign, both sides produce
    * the same result and one wins the put).
    */
  private val cache =
    new java.util.LinkedHashMap[Key, AnyRef](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, AnyRef]): Boolean =
        size() > MaxEntries
    }

  // hit/miss counters: observability for the memo-hit ≡ memo-miss spec
  private val hitCount = new java.util.concurrent.atomic.AtomicLong
  private val missCount = new java.util.concurrent.atomic.AtomicLong
  def hits: Long = hitCount.get
  def misses: Long = missCount.get
  def size: Int = cache.synchronized { cache.size }

  /** Drop every memoized build (all sessions). Evicted checkpoint
    * blocks are reclaimed by Spark's ContextCleaner once the frames
    * are unreferenced.
    */
  def clear(): Unit = cache.synchronized { cache.clear() }

  private val SafeLeaves = Set("LogicalRelation", "LocalRelation",
    "OneRowRelation", "Range", "LogicalRDD")

  private def memoizable(df: DataFrame): Boolean =
    !df.isStreaming && df.queryExecution.analyzed.collectLeaves()
      .forall(l => SafeLeaves.contains(l.getClass.getSimpleName))

  private def filesDigest(dfs: Seq[DataFrame]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    dfs.foreach(_.inputFiles.sorted
      .foreach(f => md.update(f.getBytes("UTF-8"))))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The key of a build over `inputs`, or None when the fallback
    * applies (see the header).
    */
  private def keyOf(inputs: Seq[DataFrame], tag: String,
      params: String): Option[Key] =
    if (inputs.isEmpty || !inputs.forall(memoizable)) None
    else Some(Key(inputs.head.sparkSession, tag,
      inputs.map(_.queryExecution.analyzed.canonicalized), params,
      filesDigest(inputs)))

  private def lookup[T <: AnyRef](key: Key)(build: => T): T = {
    val cached = cache.synchronized { cache.get(key) }
    if (cached ne null) {
      hitCount.incrementAndGet()
      cached.asInstanceOf[T]
    } else {
      missCount.incrementAndGet()
      val built = build
      cache.synchronized {
        // first writer wins: a racing build of the same key must not
        // leave two competing materializations in circulation
        val prev = cache.get(key)
        if (prev ne null) prev.asInstanceOf[T]
        else { cache.put(key, built); built }
      }
    }
  }

  /** Memoized frame derived from `inputs`: on a miss the build runs
    * once and its result is materialized ([[Lineage.cut]]) and
    * retained; a hit returns the SAME frame — zero jobs. To memoize the
    * materialization of a frame `x` itself, pass it as both:
    * `frame(Seq(x), tag)(x)`.
    */
  def frame(inputs: Seq[DataFrame], tag: String, params: String = "")
      (build: => DataFrame): DataFrame =
    keyOf(inputs, s"frame|$tag", params) match {
      case Some(k) => lookup(k)(Lineage.cut(build))
      case None => build
    }

  /** Memoized driver-side VALUE derived from `inputs`: trained models,
    * collected stats, backtest fold results. Values must be treated as
    * immutable by all callers.
    */
  def value[T <: AnyRef](inputs: Seq[DataFrame], tag: String,
      params: String = "")(build: => T): T =
    keyOf(inputs, s"value|$tag", params) match {
      case Some(k) => lookup(k)(build)
      case None => build
    }
}
