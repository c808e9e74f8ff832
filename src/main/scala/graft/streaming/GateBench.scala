package graft.streaming

import graft.GraftSession
import graft.operators.{Classifier, Dedup, Packing, TextAnalysis}
import graft.sources.Tables
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Prices every ingest gate of [[EventTimeOps]] against a pass-through
  * twin on the same stream (BENCH_NOTES.md, rounds 10-13):
  *
  *   runMain graft.streaming.GateBench
  *
  * Each table row names a gate and its input: 20 000 rows fed in fixed
  * chunks, each chunk processed before the next. One harness runs every
  * row the same way: a warm-up pass-through run (stream machinery and
  * JIT out of both timings), a timed pass-through run, then the timed
  * gated run. A row whose runs miss its validity check aborts with
  * `INVALID RUN` instead of printing a rate. The SSE delivery path
  * (sink → log → source → fan-out → clients) is measured by
  * `layerbench`'s `sse-live` workload, not here.
  */
object GateBench {
  private val total = 20000

  /** What one run saw reach its sink, plus the gate's own readout
    * (reservoir rows, cursor docs, card `n_docs`) and batch count (a
    * gate without a sink) where it has one. */
  private final class Tally {
    val seen, kept, batches = new AtomicLong
    @volatile var readout: Option[() => Long] = None
    @volatile var gateBatches: Option[() => Long] = None
    override def toString: String = s"seen=$seen kept=$kept batches=$batches" +
      readout.fold("")(r => s" readout=${r()}") +
      gateBatches.fold("")(b => s" gate_batches=${b()}")
  }

  /** `total` rows fed to a fresh MemoryStream in `chunk`-row batches. */
  private final class Input[T: Encoder](rows: Seq[T], val chunk: Int, cols: String*) {
    require(rows.size == total && total % chunk == 0)
    def batches: Long = total / chunk
    /** Wall seconds to feed every chunk through `writer`'s query. */
    def timed(writer: DataFrame => DataStreamWriter[Row])(implicit sql: SQLContext): Double = {
      val mem = MemoryStream[T]
      val q = writer(mem.toDF().toDF(cols: _*)).start()
      val t0 = System.nanoTime()
      try rows.grouped(chunk).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      finally q.stop()
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** One priced gate: `build` wires it over the stream, counting into the
    * tally; `invalid` names what a finished gated run got wrong. */
  private final case class Gate(name: String, input: Input[_],
      build: (DataFrame, Tally) => DataStreamWriter[Row],
      invalid: Tally => Option[String])

  /** Sink of the keep/drop gates: tallies the batch's boolean verdicts. */
  private def verdicts(t: Tally, c: String = "keep")(out: DataFrame, id: Long): Unit = {
    val v = out.select(c).collect()
    t.seen.addAndGet(v.length)
    t.kept.addAndGet(v.count(_.getBoolean(0)))
    t.batches.incrementAndGet()
  }

  /** Sink that forces the batch's output and counts its rows. */
  private def drained(t: Tally)(out: DataFrame, id: Long): Unit = {
    t.seen.addAndGet(out.count())
    t.batches.incrementAndGet()
  }

  private def want(what: String, got: Long, expect: Long): Option[String] =
    Option.when(got != expect)(s"$what $got of $expect")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    import spark.implicits._
    implicit val sql: SQLContext = spark.sqlContext
    val tmp = Files.createTempDirectory("gatebench")
    def dir(name: String): String = tmp.resolve(name).toString
    try {
      val refDocs = Tables.documents(spark, "/root/testdata/sf0.001")
      val texts = refDocs.select($"text").limit(500).collect().map(_.getString(0))
      val stops = TextAnalysis.markers.head._2
      val lmPath = dir("lm")
      TextAnalysis.saveBigramLm(refDocs.filter($"lang" === "en"), lmPath)
      val lshPath = dir("lsh")
      Dedup.saveLshIndex(refDocs, lshPath, 64, 16)
      // the en-trained model is measured all-negative on this corpus
      // (kept 0): an all-drop run prices the same per-batch compute
      val clsPath = dir("cls")
      Classifier.saveClassifier(refDocs, $"lang" === "en", clsPath)
      // the chain's parity-trained (non-separable) model splits the
      // stream both ways, so docs reach all five stages
      val chainClsPath = dir("chain-cls")
      Classifier.saveClassifier(refDocs, $"doc_id" % 2 === 0, chainClsPath)
      def medianNll(docs: DataFrame): Double =
        TextAnalysis.bigramLmScoreIndexed(docs, lmPath)
          .agg(expr("percentile(avg_nll, 0.5)")).head().getDouble(0)

      val docRows = (0 until total).map(i => (i.toLong, texts(i % texts.length)))
      val docs = new Input(docRows, 2000, "doc_id", "text")
      // half history twins, half per-doc-unique text: the LSH gate divides it
      val lshDocs = new Input((0 until total).map { i =>
        if (i % 2 == 0) (i.toLong, texts((i / 2) % texts.length))
        else (i.toLong, (1 to 30).map(w => s"fresh${i}w$w").mkString(" "))
      }, 2000, "doc_id", "text")
      // drop-heavy: 80% rule violators, 20% corpus-like docs, every text
      // unique in-stream (the watermark dedup must not swallow rows). A
      // corpus-like doc is a corpus text's words reshuffled with the doc's
      // own seed: the corpus's vocabulary for rules, classifier and LM, but
      // word 3-shingles new to the LSH history, so docs reach the accept
      // path. 10k-row batches: per-row kernel cost dominates per-batch
      // fixed cost, the regime the short-circuit exists for
      val chainRows = (0 until total).map { i =>
        val t = if (i % 5 < 4) s"junk doc $i"
          else new scala.util.Random(i).shuffle(texts(i % texts.length).split(" ").toSeq).mkString(" ")
        (i.toLong, t, 600L + i)
      }
      require(chainRows.map(_._2).distinct.size == total, "chain texts repeat")
      val chainDocs = new Input(chainRows, 10000, "doc_id", "text", "created_utc")
      val strataRows = (0 until total).map(i => (i.toLong, texts(i % texts.length), s"s${i % 4}"))
      val strata = new Input(strataRows, 2000, "doc_id", "text", "stratum")
      val words = Array("the", "spark", "hash", "join", "table", "scan",
        "query", "stream", "vector", "batch")
      // ids from 1: the shard store is seeded with doc 0 and appends must
      // sit above its watermark
      val wordDocs = new Input((1 to total).map { i =>
        (i.toLong, (0 until 12).map(j => words((i * 7 + j * 3) % words.length)).mkString(" "))
      }, 2000, "doc_id", "text")
      val values = new Input((0 until total).map(i => (i.toLong, (50 + i % 400).toDouble)),
        2000, "doc_id", "value")
      val vecs = new Input((0 until total).map { i =>
        (i.toLong, (0 until 64).map(j => ((i * 31 + j * 17) % 97).toDouble / 97.0 - 0.5))
      }, 2000, "vec_id", "embedding")

      // midpoint threshold so the LM gate splits its stream
      val lmThr = medianNll(docRows.take(docs.chunk).toDF("doc_id", "text"))
      val chainThr = medianNll(refDocs)
      // s0/s1 capped at half their stream's tokens, s2/s3 open-ended
      val tokens = strataRows.groupBy(_._3).view
        .mapValues(_.map(_._2.split(" ").length.toLong).sum).toMap
      val alloc = Map("s0" -> tokens("s0") / 2, "s1" -> tokens("s1") / 2,
        "s2" -> Long.MaxValue / 4, "s3" -> Long.MaxValue / 4)
      val seenAll = (t: Tally) => want("saw", t.seen.get, total)
      def allBatches(in: Input[_]) = (t: Tally) => want("batches", t.batches.get, in.batches)

      val gates = Seq(
        Gate("lm-gate", docs,
          (s, t) => EventTimeOps.lmQualityGateIngest(s, lmPath, lmThr)(verdicts(t)), seenAll),
        Gate("rules-gate", docs,
          (s, t) => EventTimeOps.rulesGateIngest(s, stops)(verdicts(t)), seenAll),
        Gate("cls-gate", docs,
          (s, t) => EventTimeOps.classifierGateIngest(s, clsPath)(verdicts(t)), seenAll),
        Gate("lsh-gate", lshDocs,
          (s, t) => EventTimeOps.fuzzyDedupGateIngest(s, lshPath)(verdicts(t)), seenAll),
        Gate("chain-gate", chainDocs,
          (s, t) => EventTimeOps.chainedGateIngest(s, refDocs, chainClsPath, lmPath,
            lshPath, chainThr, stopWords = stops)(verdicts(t))._1,
          t => seenAll(t).orElse(Option.when(t.kept.get == 0)("the chain kept no doc"))),
        // the chain's most expensive member alone on the chain's stream
        Gate("chain-lsh-alone", chainDocs,
          (s, t) => EventTimeOps.fuzzyDedupGateIngest(
            s.select($"doc_id", $"text"), lshPath)(verdicts(t)), seenAll),
        Gate("budget-gate", strata,
          (s, t) => EventTimeOps.stratumBudgetGateIngest(s, alloc)(verdicts(t, "selected"))._1,
          t => seenAll(t).orElse(Option.unless(t.kept.get > total / 2 && t.kept.get < total)(
            s"budgets did not bite (kept ${t.kept} of $total)"))),
        Gate("reservoir", strata, { (s, t) =>
          val (w, h) = EventTimeOps.stratifiedReservoirIngest(
            s.withColumn("w", size(split($"text", " ")).cast("double")), "stratum", $"w", 16)
          t.readout = Some(() => h.sample.values.map(_.size).sum.toLong)
          t.gateBatches = Some(() => h.batchesProcessed)
          w
        }, t => want("reservoirs hold", t.readout.get(), 4 * 16)
          // the reservoirs fill in the first batch, so only the batch
          // count shows a run that dropped later ones
          .orElse(want("reservoir batches", t.gateBatches.get(), strata.batches))),
        Gate("bucket-batch", docs, { (s, t) =>
          val (w, h) = EventTimeOps.bucketBatchIngest(s, 16, 16)(drained(t))
          t.readout = Some(() => h.docsSeen.values.sum)
          w
        }, t => seenAll(t).orElse(want("cursors saw", t.readout.get(), total))),
        Gate("card", docs, { (s, t) =>
          val (w, h) = EventTimeOps.cardIngest(s)
          t.readout = Some(() => h.card.toMap.apply("n_docs").toLong)
          w
        }, t => want("card counted", t.readout.get(), total)),
        Gate("ksdrift", values, (s, t) => EventTimeOps.ksDriftIngest(s,
          refDocs.select($"n_chars".cast("double").as("value")))(drained(t)), allBatches(values)),
        Gate("tokendrift", wordDocs, (s, t) => EventTimeOps.tokenDriftIngest(s,
          refDocs.select($"doc_id", $"text"))(drained(t)), allBatches(wordDocs)),
        Gate("embeddrift", vecs, (s, t) => EventTimeOps.embedDriftIngest(s,
          Tables.embeddings(spark, "/root/testdata/sf0.001").select($"vec_id", $"embedding"))(
          drained(t)), allBatches(vecs)),
        // a fresh store per run: a reused one would reject the rerun's ids
        Gate("shardingest", wordDocs, { (s, t) =>
          val path = Files.createTempDirectory(tmp, "shards").toString
          Packing.saveTokenShards(Seq((0L, "seed")).toDF("doc_id", "text"), path, 65536L)
          EventTimeOps.shardStoreIngest(s, path)(drained(t))
        }, allBatches(wordDocs)))

      def passThrough(t: Tally)(s: DataFrame): DataStreamWriter[Row] =
        s.writeStream.foreachBatch((b: Dataset[Row], id: Long) => drained(t)(b.toDF(), id))
      gates.foreach { g =>
        g.input.timed(passThrough(new Tally))
        val base = new Tally
        val wBase = g.input.timed(passThrough(base))
        require(base.seen.get == total && base.batches.get == g.input.batches,
          s"INVALID RUN: ${g.name} pass-through $base")
        val gated = new Tally
        val wGate = g.input.timed(g.build(_, gated))
        g.invalid(gated).foreach(m => throw new IllegalArgumentException(
          s"INVALID RUN: ${g.name} $m ($gated)"))
        println(f"GATEBENCH ${g.name}%-15s total=$total passthrough=${total / wBase}%.0f ev/s " +
          f"gated=${total / wGate}%.0f ev/s (x${wGate / wBase}%.1f cost) $gated")
      }
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
  }
}
