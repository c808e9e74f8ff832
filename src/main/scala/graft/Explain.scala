package graft
/** Dev tool: print formatted plans for selected queries, from the
  * session [[Bench]] times (set SPARK_GRAFT_CPUS as for the bench).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    args.tail.foreach { q =>
      println(s"########## $q")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
