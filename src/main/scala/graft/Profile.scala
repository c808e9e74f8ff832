package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev profiler for registered queries, on the session [[Bench]] times
  * (set SPARK_GRAFT_CPUS as for the bench):
  *
  *   runMain graft.Profile <sfDir> <query>...
  *
  * For each query it prints the formatted plan on stdout, then forces the
  * query with a noop write while a listener prints, on stderr, every job
  * (`[job]`: its time, stage count, SQL execution id and the first
  * `graft.` frame of the action that submitted it, taken from the
  * execution's call site, so adaptive stage jobs, which run on a pool
  * thread, still name their query code) and every stage over 100 ms
  * (`[stage]`), followed by the
  * query's build and run wall times (`[query]`) and the blocks still
  * pinned when it completes (`[store]`, before the bench's hygiene pass
  * frees them). The eager driver-side jobs a query runs while its
  * DataFrame is built print before its plan.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Profile <sfDir> <query>...")
    val sfDir = args.head
    val spark = GraftSession()
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    def graftFrame(callSite: String): Option[String] =
      callSite.linesIterator.map(_.trim).find(_.startsWith("graft."))
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          graftFrame(x.details).foreach(execSite.put(x.executionId, _))
        case _ => ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for { a <- si.completionTime; b <- si.submissionTime }
          yield a - b).getOrElse(-1L)
        if (ms > 100)
          System.err.println(f"[stage] $ms%6d ms  tasks=${si.numTasks}%3d  ${si.name.take(100)}")
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val exec = Option(e.properties).flatMap(p =>
          Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).map(_.toLong)
        val site = exec.flatMap(x => Option(execSite.get(x)))
          .orElse(e.stageInfos.lastOption.flatMap(si => graftFrame(si.details)))
        jobStart.put(e.jobId, (System.nanoTime(), f"stages=${e.stageInfos.size}%2d  " +
          s"sql=${exec.fold("-")(_.toString)}  at ${site.getOrElse("-")}"))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val (t0, what) = Option(jobStart.remove(e.jobId)).getOrElse((-1L, ""))
        val ms = if (t0 < 0) -1L else (System.nanoTime() - t0) / 1000000L
        System.err.println(f"[job]   $ms%6d ms  id=${e.jobId}%4d  $what")
      }
    })
    Seq("documents", "embeddings").foreach(t =>
      graft.sources.Tables.load(spark, sfDir, t).count())
    args.tail.foreach { q =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, sfDir)
      val build = (System.nanoTime() - t0) / 1e9
      println(s"########## $q")
      df.explain("formatted")
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      System.err.println(f"[query] build=$build%7.2f s  run=${(System.nanoTime() - t1) / 1e9}%7.2f s  $q")
      val st = spark.sparkContext.getRDDStorageInfo
      System.err.println(f"[store] rdds=${st.length}%3d  " +
        f"mem=${st.map(_.memSize).sum / 1048576.0}%9.1f MiB  " +
        f"disk=${st.map(_.diskSize).sum / 1048576.0}%9.1f MiB  $q")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
