package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Hashed-feature linear quality classifier — the "fastText-style"
  * filtering device of the published LLM data pipelines (GPT-3 / LLaMA
  * curation trains a linear classifier on hashed bag-of-words features
  * to score documents against a trusted target domain; Joulin et al.
  * 2016 for the architecture, Weinberger et al. 2009 for the hashing
  * trick). The trainer here is the BATCH PERCEPTRON (Rosenblatt's rule
  * applied once per full pass: `w += Σ_misclassified y·x`) rather than
  * logistic regression — deliberately: with integer token counts and a
  * unit learning rate every weight, margin, and gradient is exact Long
  * arithmetic, so the whole training trajectory replays bit-for-bit in
  * the DuckDB oracle with NO transcendentals anywhere (the d53 lesson:
  * exp/ln are the one place the cross-engine contract can silently
  * break; here there is nothing to round at all).
  *
  * Features: each whitespace token hashes to one of `nBuckets` buckets
  * via the shared 60-bit md5 device ([[Dedup.hash60]] mod B — collisions
  * are the hashing trick's point, and are identical in both engines);
  * bucket `nBuckets` is the bias feature (constant 1 per document).
  * Labels: `y = +1` where `labelPred` holds, `−1` elsewhere.
  *
  * Scale shape: the feature stream is built once and localCheckpointed
  * (one text scan total, like the gram stream in [[TextAnalysis]]); each
  * training pass is one margin aggregation (feature stream joined to the
  * B+1-row broadcast weight table, map-side-combined sum per doc) plus
  * one gradient aggregation (misclassified docs' features re-keyed by
  * bucket), collecting exactly B+1 rows to the driver per pass — the
  * [[Similarity]] kmeans discipline: driver-resident state is
  * model-scale, every collected value originates from a distributed
  * aggregation. At 100 TB nothing on the driver grows with the corpus;
  * the per-pass shuffle is the (doc_id) margin aggregation, whose width
  * is docs × avg-distinct-buckets — bounded by B per doc.
  */
object Classifier {

  /** Bias bucket id = nBuckets; weights vector has nBuckets+1 entries. */
  def hashedFeatures(docs: DataFrame, nBuckets: Int): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    tok.select(col("doc_id"), (Dedup.hash60(col("token")) % nBuckets).as("bucket"))
      .unionAll(docs.select(col("doc_id"), lit(nBuckets.toLong).as("bucket")))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("x"))
  }

  /** Train `passes` batch-perceptron passes; returns the weight vector
    * as (bucket, w) rows, one per bucket 0..nBuckets (bias last), all
    * BIGINT. Pass 1 starts from w=0, so every margin is 0, every doc is
    * misclassified (the `y·m ≤ 0` rule counts ties), and the first
    * update is the class-difference vector `Σ y·x` — the same chain the
    * oracle replays CTE by CTE.
    */
  def trainPerceptron(docs: DataFrame, labelPred: Column,
      nBuckets: Int = 64, passes: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val (feats, labels) = featsAndLabels(docs, labelPred, nBuckets)
    val w = trainedWeights(feats, labels, nBuckets, passes)
    spark.createDataFrame(w.toSeq.sortBy(_._1)).toDF("bucket", "w")
  }

  /** Score every document under the trained weights: margin = w·x (exact
    * Long), predicted = margin > 0, correct = predicted == (y = +1).
    * Training and scoring share one feature stream (text scanned once).
    */
  def classifyPerceptron(docs: DataFrame, labelPred: Column,
      nBuckets: Int = 64, passes: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val (feats, labels) = featsAndLabels(docs, labelPred, nBuckets)
    val w = trainedWeights(feats, labels, nBuckets, passes)
    val wdf = broadcast(spark.createDataFrame(w.toSeq).toDF("bucket", "wt"))
    feats.join(wdf, Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * col("wt")).cast("long").as("margin"))
      .join(labels, Seq("doc_id"))
      .select(col("doc_id"), col("margin"),
        (col("margin") > 0).as("predicted"), col("y"),
        ((col("margin") > 0) === (col("y") === 1)).as("correct"))
  }

  /** Persist a trained classifier as a manifest-gated artifact — the
    * [[TextAnalysis.saveBigramLm]] pattern for the classifier family:
    * train once on the labeled reference corpus, score any corpus (or
    * stream) forever without retraining. The artifact is the B+1-row
    * weight table plus a MANIFEST.json carrying the training params and
    * the corpus watermark (staleness and kind mismatches fail loudly).
    */
  def saveClassifier(docs: DataFrame, labelPred: Column, path: String,
      nBuckets: Int = 64, passes: Int = 3): Unit = {
    graft.sources.IndexManifest.rebuild(path, "perceptron", false, docs, "doc_id",
      _ => Map("n_buckets" -> nBuckets.toLong, "passes" -> passes.toLong))(
      () => trainPerceptron(docs, labelPred, nBuckets, passes)
        .write.mode("overwrite").parquet(s"$path/weights"))
  }

  /** Score any corpus against a persisted [[saveClassifier]] artifact:
    * (doc_id, margin, predicted) — the label columns of
    * [[classifyPerceptron]] don't exist at serving time. The weight
    * table is B+1 rows, broadcast; the corpus is never shuffled beyond
    * the per-doc margin aggregation.
    */
  def classifyIndexed(docs: DataFrame, path: String): DataFrame = {
    import graft.sources.IndexManifest
    val m = IndexManifest.require(path, "perceptron")
    val spark = docs.sparkSession
    val wdf = broadcast(Tables.readParquet(spark, s"$path/weights")
      .withColumnRenamed("w", "wt"))
    hashedFeatures(docs, m.params("n_buckets").toInt)
      .join(wdf, Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * col("wt")).cast("long").as("margin"))
      .select(col("doc_id"), col("margin"), (col("margin") > 0).as("predicted"))
  }

  private def featsAndLabels(docs: DataFrame, labelPred: Column,
      nBuckets: Int): (DataFrame, DataFrame) = {
    val feats = hashedFeatures(docs, nBuckets).localCheckpoint(true)
    val labels = docs.select(col("doc_id"),
      when(labelPred, 1L).otherwise(-1L).as("y")).localCheckpoint(true)
    (feats, labels)
  }

  /** The driver loop: B+1 Longs of state, one (margin, gradient) round
    * per pass, gradient rows collected FROM a distributed aggregation
    * and fed back as the next pass's broadcast literals. Returns the
    * final weights; `sumAcc`, when given, additionally accumulates the
    * SUM of the post-pass weight vectors (the averaged-perceptron
    * numerator — kept as the exact integer sum, never divided).
    */
  private def trainedWeights(feats: DataFrame, labels: DataFrame,
      nBuckets: Int, passes: Int,
      init: Map[Long, Long] = Map.empty,
      sumAcc: scala.collection.mutable.Map[Long, Long] = null)
      : scala.collection.mutable.Map[Long, Long] = {
    require(passes >= 1, s"passes=$passes")
    val spark = feats.sparkSession
    val w = scala.collection.mutable.Map.empty[Long, Long]
    (0L to nBuckets.toLong).foreach(b => w(b) = init.getOrElse(b, 0L))
    for (_ <- 1 to passes) {
      val wdf = broadcast(spark.createDataFrame(w.toSeq).toDF("bucket", "wt"))
      val margins = feats.join(wdf, Seq("bucket"))
        .groupBy(col("doc_id"))
        .agg(sum(col("x") * col("wt")).cast("long").as("m"))
      val grad = margins.join(labels, Seq("doc_id"))
        .filter(col("y") * col("m") <= 0)
        .join(feats, Seq("doc_id"))
        .groupBy(col("bucket"))
        .agg(sum(col("y") * col("x")).cast("long").as("g"))
        .collect()
      grad.foreach { r =>
        val b = r.getLong(0); w(b) = w(b) + r.getLong(1)
      }
      if (sumAcc != null)
        w.foreach { case (b, v) => sumAcc(b) = sumAcc.getOrElse(b, 0L) + v }
    }
    w
  }

  /** AVERAGED perceptron scoring (d74) — Freund & Schapire 1999's
    * variance-reduction variant: classify under the average of the
    * post-pass weight vectors instead of the final one (late passes
    * that thrash on non-separable data stop dominating the decision).
    * The average is kept as the exact integer SUM Σ_k w_k — a positive
    * scaling that cannot change any sign, so `predicted` is the
    * published rule while margins stay exact Longs and the whole
    * construction replays in the oracle as a k-way join of the pass
    * CTEs. Output shape = [[classifyPerceptron]] (margin is the summed
    * one).
    */
  def classifyAveraged(docs: DataFrame, labelPred: Column,
      nBuckets: Int = 64, passes: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val (feats, labels) = featsAndLabels(docs, labelPred, nBuckets)
    val sumW = scala.collection.mutable.Map.empty[Long, Long]
    trainedWeights(feats, labels, nBuckets, passes, sumAcc = sumW)
    val wdf = broadcast(spark.createDataFrame(sumW.toSeq).toDF("bucket", "wt"))
    feats.join(wdf, Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * col("wt")).cast("long").as("margin"))
      .join(labels, Seq("doc_id"))
      .select(col("doc_id"), col("margin"),
        (col("margin") > 0).as("predicted"), col("y"),
        ((col("margin") > 0) === (col("y") === 1)).as("correct"))
  }

  /** Margin rank-cut selection (d86) — the d54 budget-cut device
    * applied to the trained classifier: keep the top `num/den` of the
    * corpus by margin. This is the published deployment shape for
    * quality classifiers (FineWeb-Edu-style score budgets): a corpus
    * keeps its best-scored fraction, NOT the raw sign rule — which this
    * corpus measures as degenerate (the non-separable training set
    * lands an all-negative final weight vector; d69 and the cls-gate
    * both measure all-drop). Ranking uses the d46 bucketed distributed
    * rank: bucket = the negated margin arithmetic-shifted by 8 (both
    * engines floor-shift signed integers, spec-relevant for negative
    * margins), within-bucket row_numbers + cumulative bucket offsets,
    * ties on doc_id — no single-partition corpus window.
    *
    * Returns (doc_id, margin, rnk, selected) — rnk 1 = highest margin,
    * selected = (rnk−1)·den < n_total·num.
    */
  def classifySelectTop(docs: DataFrame, labelPred: Column,
      nBuckets: Int = 64, passes: Int = 3,
      num: Int = 1, den: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(num >= 1 && den >= num, s"cut $num/$den")
    val m = classifyPerceptron(docs, labelPred, nBuckets, passes)
      .select(col("doc_id"), col("margin")).localCheckpoint(true)
    val scored = m.withColumn("bkt", expr("shiftright(-margin, 8)"))
    val counts = scored.groupBy(col("bkt")).agg(count(lit(1)).as("bc"))
    val offsets = counts.select(col("bkt"),
      (sum(col("bc")).over(Window.orderBy(col("bkt"))) - col("bc")).as("off"))
    val total = m.agg(count(lit(1)).cast("long").as("n_total"))
    val inBkt = Window.partitionBy(col("bkt"))
      .orderBy(col("margin").desc, col("doc_id"))
    scored.join(offsets, Seq("bkt"))
      .withColumn("rnk", (col("off") + row_number().over(inBkt)).cast("long"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("margin"), col("rnk"),
        expr(s"(rnk - 1) * $den < n_total * $num").as("selected"))
  }

  /** Continue training a persisted classifier on NEW labeled documents
    * only (d75) — warm start from the stored weights, `passes` rounds
    * over the increment, write back. The perceptron is an ONLINE
    * algorithm, so continuation is its native update mode; unlike the
    * frozen-codebook index appends (where append ≡ rebuild
    * bit-for-bit), continuation is order-dependent BY DESIGN — the
    * model that saw history-then-increment differs from one retrained
    * from scratch, exactly as in the published online setting. The
    * manifest watermark advances over the increment, so staleness
    * gates keep working; history text is never re-read.
    */
  def updateClassifier(newDocs: DataFrame, labelPred: Column, path: String,
      passes: Int = 1): Unit = {
    import graft.sources.IndexManifest
    val m = IndexManifest.require(path, "perceptron")
    val nBuckets = m.params("n_buckets").toInt
    val spark = newDocs.sparkSession
    val init = Tables.readParquet(spark, s"$path/weights").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (feats, labels) = featsAndLabels(newDocs, labelPred, nBuckets)
    val w = trainedWeights(feats, labels, nBuckets, passes, init = init)
    spark.createDataFrame(w.toSeq.sortBy(_._1)).toDF("bucket", "w")
      .write.mode("overwrite").parquet(s"$path/weights")
    val (newRows, newMax) = IndexManifest.watermark(newDocs, "doc_id")
    IndexManifest.write(path, IndexManifest.Manifest("perceptron",
      m.params + ("passes" -> (m.params("passes") + passes)),
      m.corpusRows + newRows, math.max(m.corpusMaxId, newMax)))
  }

  /** Idempotent classifier maintenance (d76): the shared
    * [[graft.sources.IndexManifest.sync]] policy, whose append arm is
    * [[updateClassifier]] on the new docs alone (the online-learning
    * path) and is reported as "update" ("fresh" | "update" | "rebuild").
    */
  def classifierSync(docs: DataFrame, labelPred: Column, path: String,
      nBuckets: Int = 64, passes: Int = 3, updatePasses: Int = 1): String =
    graft.sources.IndexManifest.sync(docs, "doc_id", path, "perceptron",
      Map("n_buckets" -> nBuckets.toLong))(
      updateClassifier(_, labelPred, path, updatePasses))(
      saveClassifier(docs, labelPred, path, nBuckets, passes)) match {
      case "append" => "update"
      case action => action
    }
}
