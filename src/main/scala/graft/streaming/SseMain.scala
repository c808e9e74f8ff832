package graft.streaming

/** CLI entry point: serve the SSE feed over a pair of log directories.
  *
  *   runMain graft.streaming.SseMain <rcDir> <rsDir> [port]
  *
  * Query surface = the reference's README.md:15-27 param table (type,
  * author, subreddit, domain, over_18, is_self, filter, backfill and
  * start_id per type), served at `GET /`.
  */
object SseMain {
  def main(args: Array[String]): Unit = {
    // usage: rcDir rsDir [port [rrDir]] — rrDir opts into the rr
    // superset feed (SseServer "rr" scaladoc)
    val Array(rcDir, rsDir, rest @ _*) = args
    val port = rest.headOption.map(_.toInt).getOrElse(8642)
    val rrDir = rest.lift(1).orNull
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    val server = new SseServer(spark, rcDir, rsDir, rrPath = rrDir, port = port).start()
    println(s"[sse] serving on http://localhost:${server.boundPort}/ (logs: $rcDir, $rsDir" +
      Option(rrDir).map(d => s", $d").getOrElse("") + ")")
    sys.addShutdownHook(server.stop())
    Thread.currentThread().join()
  }
}
