package layerbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import java.io.File
import java.security.MessageDigest
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `batch-slice`: a fixed, named slice of the registered queries, each
  * timed as build (the call that returns the DataFrame, with every eager
  * job it runs) and execute (the noop write), on one thread.
  *
  * The slice is the list of queries named in expected/batch_slice.json. The
  * tables are generated from a fixed seed, so the recorded row counts and
  * content hashes there hold for every run; the run's seed permutes the
  * query order of each pass.
  */
object BatchSlice {
  /** Job-heavy rows named in the ROADMAP that fit the run length. */
  val Heavy = Seq("d159_bm25_appended", "e57_graph_beam_indexed")
  val DataSeed = 42L
  val TableReps = 3

  /** The slice: every recorded query, except the ones whose recorded result
    * is not usable, which are listed with the reason. A recorded name that
    * `SparkEntry.queries` no longer registers stays in the slice and fails.
    */
  def slice(expected: Map[String, Expected]): (Seq[String], Map[String, String]) = {
    val out = expected.collect {
      case (n, e) if e.error.nonEmpty => n -> s"fails on the generated tables: ${e.error}"
      case (n, e) if !e.stable => n -> "result hash not stable across two runs"
    }
    (expected.keys.toSeq.sorted.filterNot(out.contains), out)
  }

  final case class Expected(rows: Long, hash: String, stable: Boolean, error: String)

  def readExpected(path: String): Map[String, Expected] = {
    val f = new File(path)
    if (!f.isFile) return Map.empty
    val n = new ObjectMapper().readTree(f).get("queries")
    n.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(v.get("rows").asLong(), v.get("hash").asText(),
        v.get("stable").asBoolean(), Option(v.get("error")).map(_.asText()).getOrElse(""))
    }.toMap
  }

  // ---------------- generated tables ----------------

  private val Words = ("key agg row scan slow fast table value part hash merge batch " +
    "spark a the line sort window join small big data column query group order " +
    "filter stream vector customer").split(' ')
  private val OtherLangs = Array("zh", "es", "de", "fr")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  /** Row counts of the sf0.1 testdata tables. */
  val Documents = 5000
  val Embeddings = 2000
  val Events = 100000

  /** documents, embeddings and events with the program's table schemas and
    * the sf0.1 testdata's row counts and shape, written as parquet under
    * `dir` (layerbench/NOTES.md lists the measured sf0.1 figures each
    * choice follows).
    */
  def writeTables(spark: SparkSession, dir: String): Unit = {
    val rng = new SplittableRandom(DataSeed)
    val texts = ArrayBuffer[String]()
    val docs = (0 until Documents).map { i =>
      val r = rng.nextInt(1000)
      val text =
        if (i >= 100 && r < 50) { // ~5 %: an earlier doc with a trailing "dup" added or removed
          val base = texts(rng.nextInt(texts.length))
          if (base.endsWith(" dup")) base.stripSuffix(" dup") else base + " dup"
        } else if (i >= 100 && r == 50) texts(rng.nextInt(texts.length)) // exact copy
        else Seq.fill(10 + rng.nextInt(91))(Words(rng.nextInt(Words.length))).mkString(" ")
      texts += text
      val l = rng.nextInt(20) // en 40 %, the other four 15 % each
      val lang = if (l < 8) "en" else OtherLangs((l - 8) / 3)
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    // unit-norm Gaussian vectors with uniform labels: sf0.1 has no cluster
    // structure (each label's mean cosine to its centroid is ~0.07)
    val embs = (0 until Embeddings).map { i =>
      val v = Array.fill(64)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rng.nextInt(10))
    }
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)), StructField("label", IntegerType)))
    // time-ordered over 30 days (exponential gaps, mean 25.92 s), values
    // exponential with mean 50, to the cent
    var tsUs = 1704067200000000L // 2024-01-01, microseconds
    val events = (0 until Events).map { i =>
      tsUs += (-math.log(1 - rng.nextDouble()) * 25.92e6).toLong
      Row(i.toLong, new java.sql.Timestamp(tsUs / 1000),
        rng.nextInt(1500).toLong, EventTypes(rng.nextInt(EventTypes.length)),
        math.round(-math.log(1 - rng.nextDouble()) * 5000) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
    }
    val evSchema = StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    def write(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write(docs, docSchema, "documents")
    write(embs, embSchema, "embeddings")
    write(events, evSchema, "events")
  }

  // ---------------- result hashing ----------------

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case x => x.toString
  }

  /** Row count and an order-insensitive content hash of a result. */
  def digest(df: DataFrame): (Long, String) = {
    val header = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString("|")
    val rows = df.collect().map(r => r.toSeq.map(canon).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes("UTF-8"))
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  /** Drops what a query left persisted, outside any timed region, as the
    * program's own bench harness does between queries.
    */
  private def cleanUp(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val rt = Runtime.getRuntime
    if (rt.totalMemory - rt.freeMemory > rt.maxMemory / 2) System.gc()
  }

  // ---------------- the workload ----------------

  private final case class Exec(name: String, pass: Int, startNs: Long, builtNs: Long,
      endNs: Long, pinnedBytes: Long, planMs: Double)

  def run(ctx: Ctx, expectedPath: String): Outcome = {
    val spark = ctx.spark
    val expected = readExpected(expectedPath)
    val (names, excluded) = slice(expected)
    require(names.nonEmpty, s"empty batch slice (expected values at $expectedPath)")
    val fns = SparkEntry.queries

    // set-up: tables (several times, median), then one cold pass that
    // builds the stores and checks every result
    val tableTimes = (1 to TableReps).map { rep =>
      val d = new File(ctx.work, s"tables-$rep").getPath
      val t0 = System.nanoTime()
      writeTables(spark, d)
      (System.nanoTime() - t0) / 1e9
    }
    (1 until TableReps).foreach(rep => Main.deleteTree(new File(ctx.work, s"tables-$rep")))
    val dataDir = new File(ctx.work, s"tables-$TableReps").getAbsolutePath
    val wrong = mutable.LinkedHashMap[String, String]()
    val c0 = System.nanoTime()
    for (n <- names) {
      val e = expected(n)
      try {
        val (rows, hash) = digest(fns(n)(spark, dataDir))
        if (rows != e.rows || hash != e.hash) wrong(n) = s"rows $rows hash ${hash.take(12)} " +
          s"(expected ${e.rows} ${e.hash.take(12)})"
      } catch { case t: Throwable => wrong(n) = s"threw ${t.getClass.getSimpleName}: ${t.getMessage}" }
      cleanUp(spark)
    }
    val coldS = (System.nanoTime() - c0) / 1e9
    // and one untimed warm pass in the order of the first timed one, so
    // the timed passes do not carry the JIT's warm-up by position
    val warm0 = System.nanoTime()
    for (n <- shuffled(names, new SplittableRandom(ctx.seed * 31L))) {
      try fns(n)(spark, dataDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // a failing query is counted in the timed passes
      cleanUp(spark)
    }
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = Stats.median(tableTimes) + coldS + warmS

    // timed passes: one per 6 s of run length, each in its own seeded
    // order
    val passes = math.max(1, ctx.seconds / 6)
    val execs = ArrayBuffer[Exec]()
    var failed = 0L
    val w0 = System.nanoTime()
    for (pass <- 0 until passes) {
      val order = shuffled(names, new SplittableRandom(ctx.seed * 31L + pass))
      for (n <- order) {
        ctx.plans.foreach(_.noopWrites.clear())
        val t0 = System.nanoTime()
        var ok = !wrong.contains(n)
        var t1 = t0
        var pinned = 0L
        try {
          val df = fns(n)(spark, dataDir)
          t1 = System.nanoTime()
          if (ctx.trace.enabled)
            pinned = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          df.write.format("noop").mode("overwrite").save()
        } catch { case t: Throwable =>
          ok = false
          System.err.println(s"[layerbench] $n failed: ${t.getMessage}")
        }
        val t2 = System.nanoTime()
        val planMs = ctx.plans.flatMap(p => Option(p.noopWrites.poll(2, java.util.concurrent.TimeUnit.SECONDS)))
          .getOrElse(0.0)
        cleanUp(spark)
        if (!ok) failed += 1
        execs += Exec(n, pass, t0, t1, t2, pinned, planMs)
      }
    }
    val w1 = System.nanoTime()

    val perQuery = execs.groupBy(_.name).map { case (n, es) =>
      n -> (Stats.median(es.map(e => (e.endNs - e.startNs) / 1e9).toSeq),
        Stats.median(es.map(e => (e.builtNs - e.startNs) / 1e9).toSeq),
        Stats.median(es.map(e => (e.endNs - e.builtNs) / 1e9).toSeq))
    }
    val walls = perQuery.values.map(_._1).toArray
    val totalS = walls.sum
    val e2e = Map("setup_s" -> setupS, "ops_per_s" -> walls.length / totalS)
    val layer = mutable.LinkedHashMap[String, Double]()
    layer("batch.total_s") = totalS
    layer("batch.query_p50_s") = Stats.percentile(walls, 0.5)
    layer("batch.queries") = names.size.toDouble
    layer("batch.passes") = passes.toDouble
    if (ctx.trace.enabled) {
      val jobs = ctx.probe.get.within(Clock.wallMs(w0), Clock.wallMs(w1))
      def jobsIn(a: Long, b: Long) = jobs.filter(j => j.startMs >= Clock.wallMs(a) && j.startMs < Clock.wallMs(b))
      val buildJobs = execs.map(e => jobsIn(e.startNs, e.builtNs).size)
      layer("queries.build_s") = perQuery.values.map(_._2).sum
      layer("queries.exec_s") = perQuery.values.map(_._3).sum
      layer("queries.build_jobs_per_query.mean") = buildJobs.sum.toDouble / execs.size
      for (h <- Heavy) {
        val es = execs.filter(_.name == h)
        layer(s"queries.$h.build_s") = perQuery.get(h).map(_._2).getOrElse(0.0)
        layer(s"queries.$h.jobs") =
          if (es.isEmpty) 0.0 else es.map(e => jobsIn(e.startNs, e.endNs).size).sum.toDouble / es.size
      }
      layer("queries.plan_ms") = Stats.median(execs.map(_.planMs).toSeq)
      val wallMs = execs.map(e => (e.endNs - e.startNs) / 1e6).sum
      layer("queries.task_util") = jobs.map(_.runMs).sum / (wallMs * ctx.cores)
      layer("queries.pinned_bytes.max") = execs.map(_.pinnedBytes).max.toDouble
      layer ++= Main.sparkLayer(jobs, (w1 - w0) / 1e9, ctx.cores)
      val tr = ctx.trace
      for (e <- execs) {
        val tid = s"${e.name}#${e.pass}"
        val root = tr.span(s"query:${e.name}", "e2e", Clock.wallMs(e.startNs), Clock.wallMs(e.endNs), 0L, tid)
        val b = tr.span("build", "queries", Clock.wallMs(e.startNs), Clock.wallMs(e.builtNs), root, tid)
        val x = tr.span("execute", "operators", Clock.wallMs(e.builtNs), Clock.wallMs(e.endNs), root, tid)
        for (j <- jobsIn(e.startNs, e.endNs) if j.endMs > 0)
          tr.span(s"spark.job.${j.jobId}", "spark", j.startMs, j.endMs,
            if (j.startMs < Clock.wallMs(e.builtNs)) b else x, tid)
      }
    }
    Outcome(execs.size.toLong, failed, e2e, layer.toMap,
      Map("slice" -> names.mkString(","),
        "excluded" -> excluded.map { case (k, v) => s"$k ($v)" }.mkString("; "),
        "wrong_results" -> wrong.map { case (k, v) => s"$k: $v" }.mkString("; "),
        "table_reps_s" -> tableTimes.map(x => f"$x%.3f").mkString(","),
        "cold_pass_s" -> f"$coldS%.3f", "warm_pass_s" -> f"$warmS%.3f"))
  }

  private def shuffled(xs: Seq[String], rng: SplittableRandom): Seq[String] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  // ---------------- recording the expected results ----------------

  /** Runs every query named in `out` twice on the generated tables and
    * rewrites `out` with each one's row count, content hash, whether the
    * hash repeated, its error if it failed, and its second-run seconds. To
    * change the slice, edit the names in `out` and record again.
    */
  def record(spark: SparkSession, work: File, out: String): Unit = {
    val names = new ObjectMapper().readTree(new File(out)).get("queries").fieldNames().asScala.toSeq.sorted
    val dataDir = new File(work, "tables").getAbsolutePath
    writeTables(spark, dataDir)
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("data_seed", DataSeed)
    val qs = root.putObject("queries")
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      def once(): Either[String, (Long, String, Double)] = {
        val t0 = System.nanoTime()
        try {
          val (rows, hash) = digest(fn(spark, dataDir))
          Right((rows, hash, (System.nanoTime() - t0) / 1e9))
        } catch { case t: Throwable =>
          Left(s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(160)}")
        } finally cleanUp(spark)
      }
      val o = qs.putObject(n)
      (once(), once()) match {
        case (Right((r1, h1, _)), Right((r2, h2, s2))) =>
          o.put("rows", r1); o.put("hash", h1); o.put("stable", r1 == r2 && h1 == h2); o.put("seconds", s2)
        case (a, b) =>
          o.put("rows", -1L); o.put("hash", ""); o.put("stable", false); o.put("seconds", -1.0)
          o.put("error", Seq(a, b).collectFirst { case Left(e) => e }.getOrElse(""))
      }
      System.err.println(s"[layerbench] recorded $n: $o")
    }
    m.writerWithDefaultPrettyPrinter().writeValue(new File(out), root)
  }
}
