package graft.operators

import graft.{JobCount, SparkEntry, SparkTestSession}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the batch slice's eager driver-side work, counted with
  * a listener on sf0.001: the beam walk's per-round cost, and the build
  * job counts of the two job-heavy slice rows, so that a change cannot
  * add jobs back without this spec saying so.
  */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // walk rounds 1 → 3 measured 13 → 19 jobs here (21 → 45 before the
  // adjacency-table walk)
  test("a beam walk runs at most three jobs per round") {
    val emb = Tables.embeddings(spark, dir)
    def jobs(rounds: Int): Int = JobCount(spark)(
      Similarity.graphBeamSearch(emb, col("vec_id") % 50 === 0, 5, 8, rounds, 3))._2
    val (one, three) = (jobs(1), jobs(3))
    assert(three - one <= 6, s"rounds=1: $one jobs, rounds=3: $three jobs")
  }

  // the budgets are the counts measured here (30 and 43 before the
  // driver-side schemas, the three-job walk round, the one-agg BM25 save
  // and the one-probe orphan guard)
  test("d159_bm25_appended and e57_graph_beam_indexed build within their job budgets") {
    for ((q, budget) <- Seq("d159_bm25_appended" -> 20, "e57_graph_beam_indexed" -> 22)) {
      val jobs = JobCount(spark)(SparkEntry.queries(q)(spark, dir))._2
      assert(jobs <= budget, s"$q built with $jobs jobs, budget $budget")
    }
  }
}
