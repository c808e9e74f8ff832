package graft.streaming

import graft.SourceCode.{codeLines, scalaFiles}
import graft.SparkTestSession
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Each ingest gate is defined once in [[EventTimeOps]] (the gate
  * definitions' doc): the standalone gates, the chained gate and the
  * gated log sink all call that definition, so a gate's artifact is
  * checked and loaded in one place and its kernel cannot drift between
  * callers.
  */
class GateDefinitionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("each gate artifact kind is passed to IndexManifest.require in one place under graft/streaming") {
    val root = Paths.get("src/main/scala/graft/streaming")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    // the call's arguments, one level of nested parentheses allowed
    val call = """IndexManifest\.require\(((?:[^()]|\([^()]*\))*)\)""".r
    val sites = scalaFiles(root).flatMap { f =>
      val code = codeLines(f).map(_._2).mkString.replaceAll("\\s", "")
      call.findAllMatchIn(code).map(m => m.group(1).split(",").last -> f.getFileName.toString)
    }
    val at = Seq("\"bigram-lm\"", "\"perceptron\"", "\"lsh\"")
      .map(kind => kind -> sites.collect { case (k, f) if k == kind => f })
    assert(at.forall(_._2.size == 1), s"require sites per artifact kind: $at")
  }

  test("bloomDedupIngest: a batch's exact-verify join reads the pinned history digests, not the history's scan") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val histDir = Files.createTempDirectory("graft-bloom-hist-").resolve("h").toString
    Seq((100L, "h1"), (101L, "h2")).toDF("doc_id", "text").write.parquet(histDir)
    val history = spark.read.parquet(histDir)
    val input = MemoryStream[(Long, String, Long)]
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    val (writer, _) = EventTimeOps.bloomDedupIngest(
      input.toDF().toDF("doc_id", "text", "created_utc"), history) { (out, _) =>
      plans.add(out.queryExecution.optimizedPlan)
      out.collect()
    }
    val q = writer.start()
    try {
      input.addData((1L, "h1", 600L), (2L, "n1", 601L))
      q.processAllAvailable()
      input.addData((3L, "h2", 602L))
      q.processAllAvailable()
    } finally q.stop()
    assert(plans.size == 2)
    plans.forEach { plan =>
      assert(plan.collect { case r: InMemoryRelation => r }.size == 1, plan.treeString)
      assert(plan.collect { case r: LogicalRelation => r }.isEmpty, plan.treeString)
    }
  }
}
