package layerbench

import graft.api.ParamSpec
import graft.operators.RedditOps
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Checks of the benchmark's own parts (`run.py --selftest`):
  *  - the seeded generators repeat for a seed and differ across seeds;
  *  - the frame model agrees with the program's parser and predicate
  *    compiler (`ParamSpec.parse` + `RedditOps.pred`/`projectPayload`) on
  *    a sampled envelope set, so the checker cannot drift from the program
  *    unnoticed;
  *  - the percentile helper equals a brute-force order statistic.
  * Any disagreement throws, and the JVM exits non-zero.
  */
object SelfTest {
  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(s"selftest: $what")

  def run(spark: SparkSession): Unit = {
    generators()
    percentiles()
    model(spark)
    spark.stop()
    println("layerbench selftest ok")
  }

  private def generators(): Unit = {
    val a = Gen.history(7, "rc", 1, 3000, 1000, 500).toSeq
    val b = Gen.history(7, "rc", 1, 3000, 1000, 500).toSeq
    val c = Gen.history(8, "rc", 1, 3000, 1000, 500).toSeq
    check(a == b, "history is not deterministic for a seed")
    check(a != c, "history does not depend on the seed")
    val rc = Gen.history(7, "rc", 1, 5000, 1000, 500)
    val rs = Gen.history(7, "rs", 1, 1000, 1000, 100)
    for (c <- 0 until 2; slot <- 0 until Catchup.Rungs) {
      val r1 = Catchup.resume(3, c, 1, slot, rc, rs)
      val r2 = Catchup.resume(3, c, 1, slot, rc, rs)
      check(r1.spec == r2.spec && r1.frames.toSeq == r2.frames.toSeq, s"resume $c/$slot is not deterministic")
    }
    check((0 until Catchup.Rungs).exists(s =>
      Catchup.resume(3, 0, 0, s, rc, rs).spec != Catchup.resume(4, 0, 0, s, rc, rs).spec),
      "resume specs do not depend on the seed")
    println("selftest: generators deterministic")
  }

  /** [[Stats.percentile]] against a brute-force order statistic: the k-th
    * smallest is the value with at most k values below it and more than k
    * at or below it.
    */
  private def percentiles(): Unit = {
    def kth(xs: Array[Double], k: Int): Double =
      xs.find(x => xs.count(_ < x) <= k && xs.count(_ <= x) > k).get
    val rng = new SplittableRandom(11)
    for (trial <- 0 until 200) {
      val n = 1 + rng.nextInt(100)
      // few distinct values in half the trials, so ties are exercised
      val xs = Array.fill(n)(if (trial % 2 == 0) rng.nextInt(7).toDouble else rng.nextDouble() * 1000)
      for (p <- Seq(0.0, 0.1, 0.5, 0.99, 1.0, rng.nextDouble())) {
        val h = p * (n - 1)
        val lo = kth(xs, math.floor(h).toInt)
        val brute = lo + (h - math.floor(h)) * (kth(xs, math.ceil(h).toInt) - lo)
        check(Stats.percentile(xs, p) == brute, s"percentile($p) of n=$n: ${Stats.percentile(xs, p)} != $brute")
      }
    }
    println("selftest: percentile matches a brute-force order statistic")
  }

  private def model(spark: SparkSession): Unit = {
    import spark.implicits._
    val envs = Gen.history(5, "rc", 1, 3000, 1000, 500) ++ Gen.history(5, "rs", 1, 2000, 1000, 100) ++
      // edge rows: null domain and attributes, mixed-case flags
      Seq(Env(900001, "rs", 1001, "user01", "sub1", null, "TRUE", "False", """{"id":900001}"""),
        Env(900002, "rs", 1001, "user02", "sub2", "Example.COM", null, null, """{"id":900002}"""),
        Env(900003, "rc", 1001, "user03", "sub3", null, null, null, """{"id":900003,"body":"x"}"""))
    val df = envs.toSeq.toDS().toDF().cache()
    val rc = Gen.history(5, "rc", 1, 3000, 1000, 500)
    val rs = Gen.history(5, "rs", 1, 2000, 1000, 100)
    val specs = Live.Specs ++ (0 until 2 * Catchup.Rungs).map(i => Catchup.resume(9, i % 2, 0, i / 2, rc, rs).spec) ++ Seq(
      ClientSpec("domain" -> "example.com,news.org"),
      ClientSpec("type" -> "submissions", "is_self" -> "TRUE", "over_18" -> "false"),
      ClientSpec("type" -> "rs", "author" -> "user03", "author" -> "user04,user05"),
      ClientSpec("type" -> "nonsense"),
      ClientSpec("subreddit" -> "sub1", "domain" -> "self.sub", "filter" -> "title,domain"),
      ClientSpec("filter" -> "body,missing_key"))
    for (s <- specs) {
      val ps = ParamSpec.parse(s.paramMap) match {
        case Right(p) => p
        case Left(e) => throw new AssertionError(s"selftest: program rejected ${s.query}: $e")
      }
      val program = df.filter(RedditOps.pred(ps))
        .select(col("event"), col("id"), RedditOps.projectPayload(ps, col("json")).as("data"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      val mine = envs.filter(s.matches).map(e => (e.event, e.id, s.data(e))).toSet
      check(program == mine, s"model and program disagree on ${s.query}: " +
        s"${(program -- mine).take(3)} vs ${(mine -- program).take(3)}")
    }
    println(s"selftest: frame model agrees with the program on ${specs.size} specs x ${envs.length} envelopes")
  }
}
