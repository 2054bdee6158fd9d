package graft.textstats

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions

/** Multinomial Naive Bayes text classifier with add-one smoothing — the
  * model-based quality-filter primitive of a training-data pipeline
  * (the role fastText classifiers play in CCNet / LLaMA-style curation:
  * train target-vs-background on a trusted reference subset, score the
  * whole corpus, keep what scores target-like). Multi-class by
  * construction, so the same operator does topic / domain routing.
  *
  * Scale design:
  *  - training is ONE corpus pass: tokenize in the scan stage, one hash
  *    aggregation on (label, word). The count table is
  *    vocabulary-bounded (≪ corpus), capped at the top `maxVocab` words
  *    by total frequency (count desc, word asc — deterministic cutoff)
  *    and collected to the driver — the same bounded-model discipline
  *    as the BPE dictionary and the IVF quantizer; a fastText-style
  *    model fits in memory by design.
  *  - scoring is ZERO-shuffle: the model rides the plan as a reference
  *    object inside a codegen'd scan-stage expression
  *    ([[graft.functions.NbTokenScores]]) that folds every label's
  *    Σ log-likelihood in one walk of the token array. No token stream
  *    ever shuffles; the only exchange in a typical scoring query is
  *    whatever the caller aggregates afterwards.
  *
  * Determinism: all counts are integers; each log-likelihood is one
  * `ln` of a ratio of integers; per-doc sums fold in token-position
  * order (row-local). The per-(doc,label) score is therefore
  * bit-stable on any partitioning, and cross-engine up to the
  * documented 1-ulp `ln` residual (absorbed by round-6 in the oracle
  * query, like lmScore).
  *
  * Semantics, pinned: vocabulary = top `maxVocab` train words by total
  * count; V = |vocabulary|; for label l with train-token total T_l
  * (over vocabulary words), P(w|l) = (c_{w,l} + 1) / (T_l + V), with
  * any word outside the vocabulary — or unseen for l — taking c = 0.
  * Prior P(l) = docs_l / total_docs. score(d, l) = ln P(l) +
  * Σ_{tokens} ln P(w|l).
  */
object NaiveBayes {

  /** Driver-side model: labels sorted ascending; parallel arrays per
    * label. `loglik` holds one per-label vector for every vocabulary
    * word; `oovLp` is the all-labels vector for out-of-vocabulary
    * words. Bounded by maxVocab × |labels|.
    */
  final case class NbModel(
      labels: Seq[String],
      docCounts: Seq[Long],
      tokenTotals: Seq[Long],
      vocabSize: Long,
      counts: Map[String, Array[Long]]) {
    require(labels.nonEmpty && labels == labels.sorted,
      "labels must be non-empty and sorted")
    val totalDocs: Long = docCounts.sum

    def logPrior(i: Int): Double =
      math.log(docCounts(i).toDouble / totalDocs.toDouble)

    private def lp(c: Long, i: Int): Double =
      math.log((c + 1L).toDouble / (tokenTotals(i) + vocabSize).toDouble)

    private[textstats] def oovLp: Array[Double] =
      Array.tabulate(labels.length)(i => lp(0L, i))

    private[textstats] def lookup
        : java.util.HashMap[UTF8String, Array[Double]] = {
      val m = new java.util.HashMap[UTF8String, Array[Double]]()
      counts.foreach { case (w, cs) =>
        m.put(UTF8String.fromString(w),
          Array.tabulate(labels.length)(i => lp(cs(i), i)))
      }
      m
    }
  }

  // a NULL text scores like an empty document (prior only) rather than
  // poisoning the row with null scores — the oracle's left-join +
  // coalesce(0) semantics
  private def tokens(c: Column): Column =
    coalesce(graft.text.TextPipeline.tokenize(c),
      array().cast("array<string>"))

  /** Train on the rows of `df` (each row is one labeled document). The
    * distributed work is one (label, word) count aggregation; the
    * capped count table and the per-label doc counts collect to the
    * driver (bounded by construction).
    */
  def train(df: DataFrame, textCol: String, labelCol: String,
      maxVocab: Int = 1 << 16): NbModel = {
    require(maxVocab >= 1, s"maxVocab must be positive, got $maxVocab")
    // session-memoized trained model (the BuildMemo value discipline —
    // same as the IVF/PQ codebooks): training runs a collect + count
    // aggregation + checkpoint per call; repeated scoring over the same
    // train frame shares one model. Non-memoizable inputs fall through.
    graft.ops.BuildMemo.value(Seq(df), "nbModel",
        params = s"$textCol|$labelCol|$maxVocab") {
      trainBuild(df, textCol, labelCol, maxVocab)
    }
  }

  private def trainBuild(df: DataFrame, textCol: String, labelCol: String,
      maxVocab: Int): NbModel = {
    val docCounts = df.groupBy(col(labelCol).as("__lb"))
      .agg(count(lit(1)).as("__nd"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    require(docCounts.nonEmpty, "no training documents")
    require(docCounts.forall(_._1 != null), "null training labels")
    val labels = docCounts.map(_._1)
    val idx = labels.zipWithIndex.toMap

    // ONE token pass: the (label, word) count table is vocab-bounded —
    // cut it (localCheckpoint unless a checkpoint dir is configured) so
    // the cap's TakeOrdered and the kept-join don't each re-run the
    // corpus explode+aggregate
    val cnts0 = df.select(col(labelCol).as("__lb"),
        explode(tokens(col(textCol))).as("__w"))
      .groupBy("__lb", "__w").agg(count(lit(1)).as("__c"))
    val cnts = graft.ops.Lineage.cut(cnts0)
    // cap the vocabulary at the top maxVocab words by TOTAL count —
    // a TakeOrdered over the vocab-bounded count table, then one
    // broadcast semi-join to keep only capped words
    val vocab = cnts.groupBy("__w").agg(sum(col("__c")).as("__tc"))
      .orderBy(col("__tc").desc, col("__w"))
      .limit(maxVocab)
      .select(col("__w"))
    val kept = cnts.join(broadcast(vocab), Seq("__w"), "left_semi")
      .collect() // bounded: ≤ maxVocab × |labels| rows
      .map(r => (r.getString(1), r.getString(0), r.getLong(2)))
    require(kept.nonEmpty,
      "training corpus has no tokens: every log-likelihood would be " +
        "ln(x/0) — label some non-empty documents")

    val counts = kept.groupBy(_._2).map { case (w, rows) =>
      val arr = new Array[Long](labels.length)
      rows.foreach { case (lb, _, c) => arr(idx(lb)) = c }
      (w, arr)
    }
    val totals = labels.map(i => counts.values.map(_(idx(i))).sum)
    NbModel(labels.toSeq, docCounts.map(_._2).toSeq, totals.toSeq,
      counts.size.toLong, counts)
  }

  /** Per-document per-label scores, long form (id, label, score): the
    * token fold is a codegen'd scan-stage expression, the label explode
    * row-local — zero shuffles.
    */
  def score(df: DataFrame, idCol: String, textCol: String,
      model: NbModel): DataFrame = {
    val ts = TextFunctions.nbTokenScores(tokens(col(textCol)),
      model.lookup, model.oovLp)
    val rows = model.labels.zipWithIndex.map { case (lb, i) =>
      struct(lit(lb).as("label"),
        (col("__ts").getItem(i) + lit(model.logPrior(i))).as("score"))
    }
    df.select(col(idCol), ts.as("__ts"))
      .select(col(idCol), explode(array(rows: _*)).as("__r"))
      .select(col(idCol), col("__r.label").as("label"),
        col("__r.score").as("score"))
  }

  /** Convenience argmax: (id, pred, margin) with deterministic
    * tie-break (score desc, label asc); margin = best − runner-up
    * (single-label models get margin 0). Entirely row-local — the
    * argmax runs over the in-row score array (struct max keyed by
    * (score, −labelIndex), so a score tie picks the SMALLEST label),
    * zero shuffles.
    */
  def classify(df: DataFrame, idCol: String, textCol: String,
      model: NbModel): DataFrame = {
    val ts = TextFunctions.nbTokenScores(tokens(col(textCol)),
      model.lookup, model.oovLp)
    val st = array(model.labels.indices.map { i =>
      struct((col("__ts").getItem(i) + lit(model.logPrior(i))).as("s"),
        lit(-i).as("k"))
    }: _*)
    val labelArr = array(model.labels.map(lit): _*)
    df.select(col(idCol), ts.as("__ts"))
      .select(col(idCol), col("__ts"), array_max(st).as("__b"),
        array_max(array_remove(st, array_max(st))).as("__r2"))
      .select(col(idCol),
        element_at(labelArr, -col("__b.k") + 1).as("pred"),
        coalesce(col("__b.s") - col("__r2.s"), lit(0.0)).as("margin"))
  }

  /** The model as a persistable table: word rows (label, word, cnt) plus
    * one null-word row per label carrying (docCount, tokenTotal) — the
    * bm25Index-style artifact, rebuildable via [[modelFromTable]].
    */
  def modelTable(spark: SparkSession, m: NbModel): DataFrame = {
    import spark.implicits._
    val wordRows = m.counts.toSeq.flatMap { case (w, cs) =>
      m.labels.indices.flatMap { i =>
        if (cs(i) != 0L) Some((m.labels(i), Option(w), cs(i))) else None
      }
    }
    val statRows = m.labels.indices.map { i =>
      (m.labels(i), None: Option[String], m.docCounts(i))
    }
    (wordRows ++ statRows).toDF("label", "word", "cnt")
  }

  /** Rebuild a model from [[modelTable]] output (plus the vocabulary,
    * which the word rows imply). Zero-count (label, word) cells are
    * implicit, exactly as in training.
    */
  def modelFromTable(df: DataFrame): NbModel = {
    val rows = df.collect() // bounded: model-sized by construction
    val stats = rows.filter(_.isNullAt(1))
      .map(r => (r.getString(0), r.getLong(2))).sortBy(_._1)
    require(stats.nonEmpty, "model table has no label stat rows")
    val labels = stats.map(_._1)
    val idx = labels.zipWithIndex.toMap
    val counts = rows.filter(!_.isNullAt(1))
      .groupBy(_.getString(1)).map { case (w, rs) =>
        val arr = new Array[Long](labels.length)
        rs.foreach(r => arr(idx(r.getString(0))) = r.getLong(2))
        (w, arr)
      }
    val totals = labels.indices.map(i => counts.values.map(_(i)).sum)
    NbModel(labels.toSeq, stats.map(_._2).toSeq, totals,
      counts.size.toLong, counts)
  }
}
