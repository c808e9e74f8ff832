package graft

import graft.operators.Similarity
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Measurement harness for the ANN index-quality levers (round-7 verdict
  * items #3/#4): prints mean recall@k of the composed IVF-PQ index vs
  * the exact cosine baseline, over the RAW corpus (e15's registered
  * configuration) and the unit-NORMALIZED corpus (e16's), at 1..3 PQ
  * training passes each. The normalized column isolates index quality
  * from the ADC-L2-vs-cosine metric mismatch; the passes axis answers
  * "does iterating Lloyd on the sub-codebooks pay?" with e15's own
  * device. Findings land in BENCH_NOTES.md.
  */
object ProfileRecall {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession()

    // Resolution levers: the registered rows use mod=50, k=3 (10 queries
    // × 3 slots at sf0.01 — one hit moves the mean by 0.033); measuring
    // with more queries and deeper k separates signal from quantization.
    val mod = sys.env.getOrElse("SPARK_GRAFT_RECALL_MOD", "10").toInt
    val k = sys.env.getOrElse("SPARK_GRAFT_RECALL_K", "10").toInt

    val raw = Tables.embeddings(spark, sfDir)
    val unit = Similarity.unitNormalized(raw)
    val pred = col("vec_id") % mod === 0

    def mean(corpusName: String, corpus: org.apache.spark.sql.DataFrame, passes: Int): Unit = {
      val r = Similarity.annRecall(corpus, pred, k, 16, 4, 8, 16, passes)
        .agg(avg(col("recall")).as("mean_recall"), count(lit(1)).as("n_queries"))
        .collect().head
      println(f"RECALL corpus=$corpusName%-10s passes=$passes k=$k mod=$mod  " +
        f"mean_recall=${r.getDouble(0)}%.4f  n_queries=${r.getLong(1)}")
    }

    for (p <- 1 to 3) mean("raw", raw, p)
    for (p <- 1 to 3) mean("normalized", unit, p)

    // ---- SQ8 (e24/e25): the 4×-compression rung ----
    {
      val r = Similarity.annRecallSq8(raw, pred, k)
        .agg(avg(col("recall")).as("mean_recall")).collect().head
      println(f"SQ8 k=$k mod=$mod  mean_recall=${r.getDouble(0)}%.4f")
    }

    // ---- IVF+SQ8 (e26/e27): the probe-coverage ceiling isolated ----
    {
      val r = Similarity.annRecallIvfSq8(raw, pred, k, 16, 4)
        .agg(avg(col("recall")).as("mean_recall")).collect().head
      println(f"IVFSQ8 k=$k mod=$mod  mean_recall=${r.getDouble(0)}%.4f")
    }

    // ---- residual IVF-PQ (e22/e23): what residual encoding buys ----
    // same cells/probes/books as the raw-vector composition; the only
    // change is PQ quantizing x − centroid(cell) instead of x
    for (p <- 1 to 2) {
      val r = Similarity.annRecallResidual(raw, pred, k, 16, 4, 8, 16, p)
        .agg(avg(col("recall")).as("mean_recall")).collect().head
      println(f"RESIDUAL passes=$p k=$k mod=$mod  mean_recall=${r.getDouble(0)}%.4f")
    }

    // ---- two-stage re-rank (e20/e21): what shortlist depth buys ----
    // depth=k is the raw index (re-ranking a k-deep shortlist is a
    // no-op on recall); each doubling recovers more true-top-k members
    // the ADC order had seen but mis-ranked, at shortlist× exact-scoring
    // cost per query. The knee of this curve is the config an ANN
    // deployment actually serves.
    for (depth <- Seq(k, 2 * k, 4 * k, 8 * k)) {
      val r = Similarity.annRecallReranked(raw, pred, k, depth, 16, 4, 8, 16, 2)
        .agg(avg(col("recall")).as("mean_recall")).collect().head
      println(f"RERANK depth=$depth%3d k=$k mod=$mod  mean_recall=${r.getDouble(0)}%.4f")
    }

    // ---- index auto-tuning sweep (TODO candidate #8) ----
    // The table an ANN deployment builds before picking its index:
    // (cells, probes, codebook size) × measured recall + wall time.
    // Candidate volume scales ~probes/cells of the corpus per query, so
    // cost and recall move together — the sweep makes the trade visible
    // with the same oracle-checked device the registered rows use.
    if (sys.env.get("SPARK_GRAFT_RECALL_SWEEP").contains("1")) {
      val configs = for {
        cells <- Seq(8, 16, 32)
        probes <- Seq(1, 2, 4, 8) if probes <= cells
        ks <- Seq(16, 32)
      } yield (cells, probes, ks)
      configs.foreach { case (cells, probes, ks) =>
        val t0 = System.nanoTime()
        val r = Similarity.annRecall(raw, pred, k, cells, probes, 8, ks, 2)
          .agg(avg(col("recall"))).collect().head.getDouble(0)
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"SWEEP cells=$cells%2d probes=$probes%2d ks=$ks%2d  " +
          f"recall=$r%.4f  time=$secs%6.2f s")
      }
    }
    spark.stop()
  }
}
