package graft.streaming

import graft.operators.{Classifier, Dedup, TextAnalysis}
import graft.sources.{IndexManifest, Tables}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.util.sketch.BloomFilter
import scala.jdk.CollectionConverters._

/** One closed per-author activity session (top-level for Encoder codegen). */
case class AuthorSession(author: String, start_utc: Long, end_utc: Long,
    n_events: Long)

/** Keyed session state (top-level for Encoder codegen). */
case class SessionState(start: Long, end: Long, n: Long)

/** One window's heavy-hitter row (top-level for Encoder codegen). */
case class WindowTopAuthor(window_start: Long, rk: Int, author: String,
    est_count: Long, window_events: Long)

/** Misra-Gries summary state for one window (top-level for Encoder
  * codegen): at most `capacity` live counters + the window's event count.
  */
case class MgState(counters: Map[String, Long], n: Long)

/** HLL register state for one open window (≤ 2^p map entries). */
case class HllWinState(regs: Map[Int, Int], n: Long)

/** One closed window's cardinality estimate. */
case class WindowCardinality(window_start: Long, n_events: Long,
    hll_est: Double)

/** Count-Min counter state for one open window (≤ depth×width live
  * cells — bounded whatever the window's traffic).
  */
case class CmsWinState(counters: Map[Int, Long], n: Long)

/** One closed window's Count-Min estimate for one queried key. */
case class WindowTermEstimate(window_start: Long, term: String, est: Long,
    window_events: Long)

/** Word-count state for one open window (window-vocabulary-scale). */
case class DriftWinState(counts: Map[String, Long], n: Long)

/** One closed window's drift report against the reference histogram. */
case class WindowDrift(window_start: Long, n_tokens: Long, js_div: Double,
    oov_mass_new: Double, oov_mass_ref: Double)

/** Event-time streaming operators over the envelope stream — the
  * categories the reference lacks entirely (SURVEY.md §2.1: watermarks,
  * event-time windows, late data, keyed state). The reference is
  * arrival-order only with a per-batch sort; these give the engine real
  * event-time semantics on the same source.
  */
object EventTimeOps {

  /** STREAM-STREAM interval join — the attribution shape (every ads /
    * conversion pipeline's canonical example: join each click to the
    * same user's purchases within `maxDelaySec` after it), and the one
    * Structured Streaming join form the module lacked: both sides are
    * unbounded, so BOTH carry watermarks and the event-time range
    * condition is what lets Spark BOUND the join state — a buffered
    * click ages out once the purchase watermark passes
    * click_ts + maxDelay, a buffered purchase once the click watermark
    * passes its timestamp; without the range the state grows forever.
    * Inner join, append mode; matches emit as both sides arrive.
    *
    * Contract: `clicks` = (event_id, user_id, ts: TIMESTAMP);
    * `purchases` = (event_id, user_id, ts: TIMESTAMP, value). Interval
    * endpoints are INCLUSIVE on both ends (spec-pinned against the
    * batch kernel — the q05 attribution family's batch twin).
    * Returns (click_id, user_id, cts, purchase_id, pts, value).
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      maxDelaySec: Int = 600, watermark: String = "10 seconds"): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("cts"))
      .withWatermark("cts", watermark)
    val p = purchases.select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("pts"), col("value"))
      .withWatermark("pts", watermark)
    c.join(p, col("c_user") === col("p_user") &&
        col("pts") >= col("cts") &&
        col("pts") <= col("cts") + expr(s"interval $maxDelaySec seconds"))
      .select(col("click_id"), col("c_user").as("user_id"), col("cts"),
        col("purchase_id"), col("pts"), col("value"))
  }

  /** Tumbling event-time window counts per subreddit with a watermark:
    * late events beyond `lateness` are dropped, final rows emit once the
    * watermark passes window end (append mode).
    */
  def windowedCounts(envelope: DataFrame, windowLen: String = "1 minute",
      lateness: String = "2 minutes"): DataFrame =
    envelope
      .withColumn("event_time", timestamp_seconds(col("created_utc")))
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), windowLen), col("subreddit"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event") === "rc", lit(1))).as("n_comments"))
      .select(col("window.start").as("window_start"), col("subreddit"),
        col("n"), col("n_comments"))

  /** Windowed DISTINCT-AUTHOR estimates with O(k) state per window —
    * the sketch-in-streaming-state composition: an exact windowed
    * `countDistinct` is unsupported in streaming precisely because its
    * state is unbounded (every distinct value per open window); the KMV
    * sketch ([[graft.functions.KmvSketch]]) is associative/commutative
    * with a bounded buffer, so it rides the normal watermarked
    * aggregation — partial-merged across micro-batches, state freed
    * when the watermark closes the window. Below k distinct authors the
    * buffer IS the distinct set, so small windows report exactly.
    * Author hashing is [[graft.operators.Dedup.hash60]] — the single
    * shared engine-portable md5 construction (one definition, every
    * call site).
    */
  def windowedDistinctAuthors(envelope: DataFrame,
      windowLen: String = "1 minute", lateness: String = "2 minutes",
      k: Int = 64): DataFrame = {
    val kmv = udaf(new graft.functions.KmvSketch(k))
    envelope
      .withColumn("event_time", timestamp_seconds(col("created_utc")))
      .withWatermark("event_time", lateness)
      .withColumn("ah", graft.operators.Dedup.hash60(col("author")))
      .groupBy(window(col("event_time"), windowLen))
      .agg(count(lit(1)).as("n_events"), kmv(col("ah")).as("distinct_authors"))
      .select(col("window.start").as("window_start"),
        col("n_events"), col("distinct_authors"))
  }

  /** Windowed payload QUANTILES with bounded per-window state — the
    * third member of the windowed-sketch trio beside
    * [[windowedDistinctAuthors]] (KMV distinct) and
    * [[windowedTopAuthors]] (Misra-Gries top-k): an exact windowed
    * percentile is unsupported in streaming because its state is every
    * value per open window; `approx_percentile`'s quantile summary is
    * mergeable with an O(accuracy) buffer, so it rides the normal
    * watermarked aggregation — partial-merged across micro-batches,
    * freed when the watermark closes the window. Below `accuracy`
    * values per window the summary holds everything and the quantiles
    * are EXACT (the same below-capacity-exact contract the other two
    * sketches carry, spec-pinned).
    *
    * The measured value is the envelope's JSON payload field `$.k`,
    * parsed scan-side — the P1 lazy-parse discipline: the opaque json
    * column is opened only for the one field the sketch needs, rows
    * without it simply don't contribute (count rides beside to make
    * the missing share readable).
    */
  def windowedPayloadQuantiles(envelope: DataFrame,
      windowLen: String = "1 minute", lateness: String = "2 minutes",
      accuracy: Int = 1000): DataFrame =
    envelope
      .withColumn("event_time", timestamp_seconds(col("created_utc")))
      .withWatermark("event_time", lateness)
      .withColumn("v", get_json_object(col("json"), "$.k").cast("double"))
      .groupBy(window(col("event_time"), windowLen))
      .agg(count(lit(1)).as("n_events"), count(col("v")).as("n_scored"),
        percentile_approx(col("v"), lit(0.5), lit(accuracy)).as("p50"),
        percentile_approx(col("v"), lit(0.95), lit(accuracy)).as("p95"))
      .select(col("window.start").as("window_start"),
        col("n_events"), col("n_scored"), col("p50"), col("p95"))

  /** `stream`'s writer, calling `f` on each NON-EMPTY micro-batch:
    * watermark-advance batches carry no rows, so they get no decisions,
    * no broadcasts and no sink call (and `stat.bloomFilter` NPEs on an
    * empty frame).
    */
  private[streaming] def eachBatch(stream: DataFrame)(
      f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      if (!batch.isEmpty) f(batch, batchId)
    }

  // ---- the five ingest gates, each defined once ----
  //
  // A gate definition runs at stream build: it checks its artifact's
  // manifest, then loads and persists the artifact. The function it
  // returns judges one batch: (doc_id, text) → the gate's verdict frame.
  // The standalone `*GateIngest` operators emit that frame, the chain
  // projects it to its `ok_*` bit, and RedditLogSink.appendStreamGated
  // drops what the LM gate drops.

  /** Quality rules (d56): the full rule row (doc_id, signals, rule
    * bits, keep) of [[graft.operators.TextAnalysis.gopherRules]]. Pure
    * scan-side expressions; no artifact.
    */
  private[streaming] def rulesGate(stopWords: Seq[String]): DataFrame => DataFrame =
    docs => TextAnalysis.gopherRules(docs.select(col("doc_id"), col("text")), stopWords)

  /** Persisted perceptron ([[graft.operators.Classifier.saveClassifier]]):
    * (doc_id, margin, keep = margin > 0), one margin aggregation against
    * the B+1-row weight table, which loads once, broadcast and persisted.
    */
  private[streaming] def classifierGate(spark: SparkSession,
      clsPath: String): DataFrame => DataFrame = {
    val nBuckets = IndexManifest.require(clsPath, "perceptron")
      .params("n_buckets").toInt
    val wdf = broadcast(Tables.readParquet(spark, s"$clsPath/weights")
      .withColumnRenamed("w", "wt")).persist()
    docs => Classifier.hashedFeatures(docs.select(col("doc_id"), col("text")), nBuckets)
      .join(wdf, Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * col("wt")).cast("long").as("margin"))
      .select(col("doc_id"), col("margin"), (col("margin") > 0).as("keep"))
  }

  /** Persisted bigram LM ([[graft.operators.TextAnalysis.saveBigramLm]],
    * scored by [[graft.operators.TextAnalysis.scoreWithBigramModel]]):
    * (doc_id, avg_nll, keep = avg_nll ≤ maxAvgNll). Docs too short to
    * have bigrams score null and are kept. The model tables load once
    * and stay persisted.
    */
  private[streaming] def lmGate(spark: SparkSession, lmPath: String,
      maxAvgNll: Double): DataFrame => DataFrame = {
    IndexManifest.require(lmPath, "bigram-lm")
    val model = Tables.readParquet(spark, s"$lmPath/model").persist()
    val ctx = Tables.readParquet(spark, s"$lmPath/ctx").persist()
    val oov = Tables.readParquet(spark, s"$lmPath/consts").head().getDecimal(1)
    docs => docs.select(col("doc_id"))
      .join(TextAnalysis.scoreWithBigramModel(
          docs.select(col("doc_id"), col("text")), model, ctx, oov)
        .select(col("doc_id"), col("avg_nll")), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("avg_nll"),
        (col("avg_nll").isNull || col("avg_nll") <= maxAvgNll).as("keep"))
  }

  /** Persisted MinHash-LSH index ([[graft.operators.Dedup.saveLshIndex]],
    * probed by [[graft.operators.Dedup.probeWithLshIndex]]):
    * (doc_id, n_cand, dup_of, best_est, is_dup, keep = !is_dup). Docs
    * too short to shingle carry a null verdict and are kept. The index
    * frames load, bucket-capped, once and stay persisted.
    */
  private[streaming] def fuzzyGate(spark: SparkSession, indexPath: String,
      threshold: Double, maxBucket: Long): DataFrame => DataFrame = {
    val m = IndexManifest.require(indexPath, "lsh")
    val (k, bands) = (m.params("k").toInt, m.params("bands").toInt)
    val hsig = Tables.readParquet(spark, s"$indexPath/sig").persist()
    val hb = Dedup.cappedBands(Tables.readParquet(spark, s"$indexPath/bands"),
      maxBucket).persist()
    docs => docs.select(col("doc_id"))
      .join(Dedup.probeWithLshIndex(docs.select(col("doc_id"), col("text")),
        hsig, hb, k, bands, threshold), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_cand"), col("dup_of"),
        col("best_est"), col("is_dup"),
        (!coalesce(col("is_dup"), lit(false))).as("keep"))
  }

  /** Observable lifecycle of one [[bloomDedupIngest]] stream: batch
    * count and every per-batch broadcast handle AFTER its destroy — so
    * specs (and ops dashboards) can assert that executor memory carries
    * exactly one live sketch generation, not one per elapsed batch.
    */
  final class BloomIngestHandle private[streaming] () {
    private[streaming] val destroyed =
      new java.util.concurrent.CopyOnWriteArrayList[Broadcast[BloomFilter]]
    @volatile private[streaming] var batches: Long = 0L
    def batchesProcessed: Long = batches
    def destroyedBroadcasts: Seq[Broadcast[BloomFilter]] = destroyed.asScala.toSeq
  }

  /** Exact dedup against a history corpus (d11's Bloom probe with exact
    * verify), the gate definition behind [[bloomDedupIngest]] and
    * [[chainedGateIngest]].
    *
    * Built once per stream: the history's distinct content digests are
    * persisted and stay PINNED for the stream's lifetime — every batch's
    * exact-verify join reads them, so no batch re-scans history or
    * recomputes sha2 + distinct. The history master sketch is built from
    * them by one distributed treeAggregate; the accepted master starts
    * empty on the driver.
    */
  private[streaming] final class BloomGate(history: DataFrame,
      expectedItems: Long, fpp: Double) {
    private val histDigests = history
      .select(sha2(col("text"), 256).as("digest"))
      .filter(col("digest").isNotNull).distinct().persist()
    private val histMaster = histDigests.stat.bloomFilter("digest", expectedItems, fpp)
    private val accMaster = BloomFilter.create(expectedItems, fpp)
    val handle = new BloomIngestHandle

    /** `stream` with its content `digest`, minus its exact duplicates
      * within the watermark horizon (null digests are keyed by doc_id,
      * so null text is never "equal" to other null text — the d11
      * NULL-never-dups policy).
      */
    def withinWatermark(stream: DataFrame, lateness: String,
        timeCol: String): DataFrame =
      stream
        .withColumn("event_time", timestamp_seconds(col(timeCol)))
        .withWatermark("event_time", lateness)
        .withColumn("digest", sha2(col("text"), 256))
        .withColumn("dedup_key",
          coalesce(col("digest"), concat(lit("null:"), col("doc_id"))))
        .dropDuplicatesWithinWatermark("dedup_key")

    /** One batch under fresh broadcasts of both sketches. `body` gets
      * the verdict kernel, (doc_id, digest) → (doc_id, is_dup,
      * dup_kind), and returns the batch's ACCEPTED rows with their
      * `digest`. Those digests fold into the accepted master through a
      * sketch of the batch alone (same (expectedItems, fpp), so it
      * merges). The broadcasts are destroyed, and recorded in
      * [[handle]], however `body` ends.
      */
    def onBatch(body: (DataFrame => DataFrame) => DataFrame): Unit = {
      val sc = history.sparkSession.sparkContext
      val bcHist = sc.broadcast(histMaster)
      val bcAcc = sc.broadcast(accMaster)
      try {
        val hitHist = udf((d: String) => d != null && bcHist.value.mightContainString(d))
        val hitAcc = udf((d: String) => d != null && bcAcc.value.mightContainString(d))
        val accepted = body { docs =>
          val digests = docs.select(col("doc_id"), col("digest"))
          // misses of BOTH sketches short-circuit scan-side (no false
          // negatives → provably clean) and never shuffle
          digests.filter(!hitHist(col("digest")) && !hitAcc(col("digest")))
            .select(col("doc_id"), lit(false).as("is_dup"),
              lit(null).cast("string").as("dup_kind"))
            .unionByName(digests
              .filter(hitHist(col("digest")) || hitAcc(col("digest")))
              .withColumn("acc_hit", hitAcc(col("digest")))
              .join(histDigests.withColumn("hist_mark", lit(true)),
                Seq("digest"), "left_outer")
              .select(col("doc_id"),
                (coalesce(col("hist_mark"), lit(false)) || col("acc_hit")).as("is_dup"),
                when(coalesce(col("hist_mark"), lit(false)), lit("history"))
                  .when(col("acc_hit"), lit("ingested"))
                  .otherwise(lit(null).cast("string")).as("dup_kind")))
        }.filter(col("digest").isNotNull)
        // a batch that accepts nothing folds nothing (an empty-frame
        // sketch build would NPE)
        if (!accepted.isEmpty)
          accMaster.mergeInPlace(
            accepted.stat.bloomFilter("digest", expectedItems, fpp))
        handle.batches += 1
      } finally {
        bcHist.destroy(); bcAcc.destroy()
        handle.destroyed.add(bcHist); handle.destroyed.add(bcAcc)
      }
    }
  }

  /** Ingest-time curation twin of the batch keep-list — the streaming
    * half of [[graft.operators.Dedup.bloomDedup]] (d11) that feeds
    * [[graft.operators.Curation.keepList]]'s batch side: per-micro-batch
    * Bloom dedup of an arriving document stream (doc_id, text, time)
    * against a history corpus, composed with Spark's exact
    * bounded-state dedup for the recent horizon.
    *
    * Division of labor (each regime gets the cheapest sound tool):
    *  - duplicates WITHIN the watermark horizon never reach the sketch:
    *    `dropDuplicatesWithinWatermark` on the content digest removes
    *    them EXACTLY with watermark-bounded state (null digests are
    *    keyed by doc_id so null text is never "equal" to other null
    *    text — the d11 NULL-never-dups policy);
    *  - duplicates of the HISTORY corpus bloom-hit the history sketch
    *    and are exactness-verified by a semi-join carrying only the hit
    *    stream (false positives cannot drop a history-clean doc —
    *    identical contract to d11);
    *  - duplicates of docs ACCEPTED in batches beyond the horizon hit
    *    the accepted-sketch and are dropped at bloom confidence — the
    *    documented ~fpp false-drop trade every production ingest
    *    pipeline makes, because exact state for all-time accepted
    *    content is precisely the unbounded state streaming cannot hold.
    *
    * Scale shape (the 100 TB contract):
    *  - history is aggregated ONCE per stream — the master sketch is
    *    built by one distributed treeAggregate before the first batch;
    *    micro-batches never re-scan history to build sketches (the
    *    exact-verify join scans only the hit stream against the history
    *    digest relation, which stays persisted for the stream's
    *    lifetime — [[BloomGate]]);
    *  - per batch, both sketches are broadcast, applied scan-side, and
    *    DESTROYED once the caller's `sink` returns (the sink must
    *    materialize the decisions first — foreachBatch output is
    *    consumed inside the callback);
    *  - accepted digests fold back into the driver-resident accepted
    *    master via a tiny per-batch sketch built from the batch alone
    *    (same (expectedItems, fpp) → mergeable), so the accepted filter
    *    grows by merge, never by re-aggregation.
    *
    * Emits per batch via `sink`: (doc_id, is_dup, dup_kind) with
    * dup_kind ∈ ('history' — exact-verified | 'ingested' —
    * sketch-believed | null — kept). Returns the un-started writer plus
    * the lifecycle [[BloomIngestHandle]].
    */
  def bloomDedupIngest(stream: DataFrame, history: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.03,
      lateness: String = "2 minutes", timeCol: String = "created_utc")(
      sink: (DataFrame, Long) => Unit): (DataStreamWriter[Row], BloomIngestHandle) = {
    val bloom = new BloomGate(history, expectedItems, fpp)
    val writer = eachBatch(bloom.withinWatermark(stream, lateness, timeCol)) {
      (batch, batchId) => bloom.onBatch { verdict =>
        val out = verdict(batch)
        sink(out, batchId)
        out.filter(!col("is_dup")).join(batch.select(col("doc_id"), col("digest")), Seq("doc_id"))
      }
    }
    (writer, bloom.handle)
  }

  /** CCNet's perplexity filter running AT INGEST: every micro-batch is
    * scored against a persisted
    * [[graft.operators.TextAnalysis.saveBigramLm]] store and split
    * keep/drop by an `avg_nll` ceiling — the curation twin of
    * [[bloomDedupIngest]], gating on quality instead of duplication.
    * The scoring kernel is the BATCH operator
    * ([[graft.operators.TextAnalysis.scoreWithBigramModel]] — the
    * batch-twin discipline every streaming op here follows), so the
    * gate's semantics are the oracle-verified d49 semantics per batch.
    *
    * Scale shape: the model tables are loaded and persisted ONCE at
    * stream build (manifest-gated; they are reference-corpus-scale, not
    * stream-scale) and joined against each micro-batch's gram stream;
    * no per-batch disk re-open, no driver-side scoring, no keyed
    * streaming state at all — a stateless map over batches, which is
    * why no watermark is needed. Docs too short to have bigrams carry a
    * null score and are KEPT (a length gate is d07/d14's job, not the
    * LM's).
    *
    * Emits per non-empty batch via `sink`: (doc_id, avg_nll, keep).
    */
  def lmQualityGateIngest(stream: DataFrame, lmPath: String,
      maxAvgNll: Double)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val lm = lmGate(stream.sparkSession, lmPath, maxAvgNll)
    eachBatch(stream)((batch, batchId) => sink(lm(batch), batchId))
  }

  /** Streaming KS DRIFT monitor — the live twin of the d149 batch test
    * (the shape a serving pipeline runs against every incoming slice:
    * "does this batch's numeric distribution still look like the
    * reference?"): each micro-batch's `value` column is KS-tested
    * against a FIXED reference sample with the batch kernel verbatim
    * ([[graft.operators.Sampling.ksTwoSample]] — spec-pinned equal), so
    * the streamed statistic cannot drift from the registered batch
    * semantics. The reference is localCheckpointed once (bounded — a
    * reference SAMPLE, not a corpus) and re-joined per batch; per-batch
    * cost is the merged distinct-value aggregate, no keyed state, no
    * watermark. Emits (n1 = reference, n2 = batch, ks_d) per non-empty
    * batch via `sink`; a monitoring deployment alarms on ks_d.
    */
  def ksDriftIngest(stream: DataFrame, reference: DataFrame)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val ref = reference.select(col("value").cast("double").as("value"))
      .localCheckpoint(true)
    eachBatch(stream) { (batch, batchId) =>
      val merged = ref.withColumn("isA", lit(true))
        .unionByName(batch.select(col("value").cast("double").as("value"))
          .withColumn("isA", lit(false)))
      sink(graft.operators.Sampling.ksTwoSample(
        merged, col("isA"), col("value")), batchId)
    }
  }

  /** TOKEN-DRIFT monitor at ingest — the d119 text twin of
    * [[ksDriftIngest]] (KS watches a numeric column, this watches the
    * token distribution; together they are the drift pair a corpus
    * ingest runs continuously): each micro-batch's unigram counts are
    * scored against a FIXED reference vocabulary with the batch
    * kernel's arithmetic VERBATIM
    * ([[graft.operators.TextAnalysis.tokenDriftFromCounts]] — the same
    * decimal-quantized Jensen-Shannon + OOV-mass formula the registered
    * d119 row hashes against DuckDB), so the streamed statistic cannot
    * drift from the registered batch semantics.
    *
    * Scale shape: the reference is TOKENIZED ONCE at stream build into
    * a (word, ca) count table (vocabulary-scale, localCheckpointed —
    * the LM-gate artifact discipline, NOT a per-batch re-tokenization
    * of the reference corpus); each batch adds one token-stream groupBy
    * over the batch's own text plus a vocabulary-scale outer join. No
    * keyed state, no watermark. Distinct from [[windowedTokenDrift]]
    * on purpose: that operator answers "which event-time WINDOW
    * drifted" with per-window JVM state; this one is the stateless
    * per-batch gate on the priced ingest ladder.
    *
    * Emits per non-empty batch via `sink`: (n_ref_tokens,
    * n_new_tokens, js_div, oov_mass_new, oov_mass_ref).
    */
  def tokenDriftIngest(stream: DataFrame, reference: DataFrame)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val refCounts = reference
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("ca"))
      .localCheckpoint(true)
    eachBatch(stream) { (batch, batchId) =>
      val batchCounts = batch
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cb"))
      // full outer: reference-only words carry cb = 0 (OOV-ref mass),
      // batch-only words ca = 0 (OOV-new mass) — exactly the count
      // frame the batch kernel builds from the merged token stream
      val counts = refCounts.join(batchCounts, Seq("word"), "full_outer")
        .select(col("word"), coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      sink(TextAnalysis.tokenDriftFromCounts(counts), batchId)
    }
  }

  /** EMBEDDING-DRIFT monitor at ingest — the third member of the drift
    * trio ([[ksDriftIngest]] watches a numeric column,
    * [[tokenDriftIngest]] the token distribution, this the embedding
    * distribution — encoder drift / upstream content shift, the e51
    * monitoring row live): each micro-batch's per-dimension moment
    * stats are folded against a FIXED reference slice's stats with the
    * batch kernel's arithmetic VERBATIM
    * ([[graft.operators.Similarity.embedDriftFromStats]] — the e51
    * formula the registered row hashes against DuckDB).
    *
    * Scale shape: the reference is reduced ONCE at stream build to a
    * DIMS-ROW stat table (count + decimal component sums — not the
    * reference vectors themselves); each batch pays one exploded
    * groupBy over its own vectors plus a dims-row join. No keyed
    * state, no watermark.
    *
    * Emits per non-empty batch via `sink`: (n_ref, n_new,
    * l2sq_mean_diff, mean_var_ratio).
    */
  def embedDriftIngest(stream: DataFrame, reference: DataFrame)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import graft.operators.Similarity
    val refStats = Similarity.embedStats(reference)
      .select(col("dim"), col("n").as("na"),
        col("sx").as("sxa"), col("sxx").as("sxxa"))
      .localCheckpoint(true)
    eachBatch(stream) { (batch, batchId) =>
      val batchStats = Similarity.embedStats(batch)
        .select(col("dim"), col("n").as("nb"),
          col("sx").as("sxb"), col("sxx").as("sxxb"))
      sink(Similarity.embedDriftFromStats(refStats, batchStats), batchId)
    }
  }

  /** Quality-RULES gate at ingest — the d56 Gopher filter as the third
    * member of the ingest-gate family (bloomDedupIngest drops
    * duplicates, [[lmQualityGateIngest]] drops high-perplexity, this
    * drops published-rule violators): each micro-batch runs the batch
    * kernel ([[graft.operators.TextAnalysis.gopherRules]], through
    * [[rulesGate]]). The rules are pure scan-side expressions, so the
    * gate is even lighter than the LM's — nothing to persist, no join,
    * no keyed state, no watermark; one projection added per batch.
    *
    * Emits per non-empty batch via `sink`: the full rule row
    * (doc_id, signals, rule bits, keep).
    */
  def rulesGateIngest(stream: DataFrame,
      stopWords: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"))(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val rules = rulesGate(stopWords)
    eachBatch(stream)((batch, batchId) => sink(rules(batch), batchId))
  }

  /** CLASSIFIER gate at ingest — the fourth ingest-gate family member
    * (bloom drops duplicates, LM drops high-perplexity, rules drop
    * published-rule violators, this drops what a TRAINED model rejects):
    * each micro-batch is scored against a persisted
    * [[graft.operators.Classifier.saveClassifier]] artifact — hashed
    * features, one margin aggregation per batch against the B+1-row
    * broadcast weight table, keep = margin > 0. Between the rules gate
    * (pure projection, no model) and the LM gate (vocabulary-scale model
    * joins) in weight: there IS a model, but it's B+1 rows loaded once
    * and broadcast — no vocabulary-scale join, no state, no watermark.
    *
    * Emits per non-empty batch via `sink`: (doc_id, margin, keep).
    */
  def classifierGateIngest(stream: DataFrame, clsPath: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val cls = classifierGate(stream.sparkSession, clsPath)
    eachBatch(stream)((batch, batchId) => sink(cls(batch), batchId))
  }

  /** FUZZY-DEDUP gate at ingest — the fifth ingest-gate family member
    * (bloom drops exact-ID duplicates, LM drops high-perplexity, rules
    * drop violators, the classifier drops model-rejected docs; this
    * drops near-duplicates OF HISTORY by content): each micro-batch is
    * probed against a persisted [[graft.operators.Dedup.saveLshIndex]]
    * artifact with the batch kernel
    * ([[graft.operators.Dedup.probeWithLshIndex]]) — MinHash the batch,
    * band-join the index, signature-agreement estimate, verdict.
    *
    * Scale shape: the index frames are loaded, bucket-capped, and
    * persisted ONCE at stream build (they are history-scale, not
    * stream-scale); each batch adds one signature build over the
    * batch's text and the candidate equi-join — no keyed streaming
    * state, no watermark, stateless over batches. Docs too short to
    * shingle (< 3 tokens) carry a null verdict and are KEPT (the LM
    * gate's convention: judging shortness is another gate's job).
    * History appended to the index mid-serve is NOT seen until the
    * stream restarts — the persisted frames are the gate's snapshot,
    * the same trade every artifact-serving gate makes.
    *
    * Emits per non-empty batch via `sink`:
    * (doc_id, n_cand, dup_of, best_est, is_dup, keep = !is_dup).
    */
  def fuzzyDedupGateIngest(stream: DataFrame, indexPath: String,
      threshold: Double = 0.5, maxBucket: Long = 1000L)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val fuzzy = fuzzyGate(stream.sparkSession, indexPath, threshold, maxBucket)
    eachBatch(stream)((batch, batchId) => sink(fuzzy(batch), batchId))
  }

  /** TRAINING-SHARD STORE ingest — the ingest family's STORE-WRITER
    * member: where the gates FILTER a stream, this one lands it. Each
    * micro-batch appends to a persisted
    * [[graft.operators.Packing.saveTokenShards]] store via the batch
    * appender VERBATIM ([[graft.operators.Packing.appendTokenShards]]):
    * history shard files stay byte-frozen, the increment placed after
    * the frozen token stream, and every non-empty batch becomes a new
    * SNAPSHOT VERSION — so dataloaders keep reading PINNED versions
    * ([[graft.operators.Packing.readShardStoreAt]]) while ingest runs,
    * and "reproduce what run X trained on" holds for a live store. The
    * continuous corpus→training-shards flow, closed end to end.
    *
    * Delivery contract: batches must arrive id-monotone ACROSS batches
    * (the appendTokenShards contract — the RedditLog-style
    * single-writer ingest provides exactly this; within a batch order
    * is free, the deterministic prefix sum owns placement). foreachBatch
    * is at-least-once, so the gate is made IDEMPOTENT per epoch: the
    * applied batchId rides the SAME manifest flip as the append
    * (`last_batch_id` — atomic by construction), and a replayed epoch
    * is detected and skipped instead of re-appended. A crash between
    * the data-file writes and the manifest flip is the shared appender
    * crash window: the orphan guard fails the retry loudly
    * (requireNoOrphans) rather than duplicating rows — recover with a
    * rebuild, the maintenance-sync convention.
    *
    * Emits per non-empty batch via `sink` one bounded summary row:
    * (version, n_docs_total, n_tokens_total, replayed).
    */
  def shardStoreIngest(stream: DataFrame, path: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    eachBatch(stream) { (batch, batchId) =>
      sink(shardIngestBatch(batch, path, batchId), batchId)
    }

  /** The per-epoch body of [[shardStoreIngest]] (package-visible so the
    * replay path is directly testable): skip if `batchId` is already
    * recorded in the manifest, else append with the batchId riding the
    * manifest flip. Returns the one-row summary frame.
    */
  private[streaming] def shardIngestBatch(batch: DataFrame, path: String,
      batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val applied = IndexManifest.read(path).params.get("last_batch_id")
    val replayed = applied.contains(batchId)
    if (!replayed)
      graft.operators.Packing.appendTokenShards(
        batch.select(col("doc_id"), col("text")), path,
        Map("last_batch_id" -> batchId))
    val man = IndexManifest.read(path)
    Seq((IndexManifest.versions(path).lastOption.getOrElse(0).toLong,
      man.corpusRows, man.params("n_tokens_total"), replayed))
      .toDF("version", "n_docs_total", "n_tokens_total", "replayed")
  }

  /** CHAINED multi-gate ingest — the PRODUCTION composition of the five
    * gate-family members in ONE foreachBatch pass, ordered cheap-first
    * (rules → exact-dedup → classifier → LM → fuzzy-LSH) with
    * SHORT-CIRCUIT: a document dropped by an earlier gate never reaches
    * a later gate's kernel. On a drop-heavy stream the chain therefore
    * prices near its cheap members instead of the sum of all five
    * (BENCH_NOTES.md, "Round 11: the chained gate priced"). Each stage
    * calls the same gate definition as the standalone gate
    * ([[rulesGate]], [[BloomGate]], [[classifierGate]], [[lmGate]],
    * [[fuzzyGate]]) and keeps only its verdict bit, so a chained
    * verdict cannot drift from the standalone one.
    *
    * Ordering rationale (cost-per-doc, measured round 10): rules are
    * pure scan-side expressions (×2.2); the exact-dedup probe is two
    * sketch lookups with an equi-join only for hits; the classifier is
    * one feature explode against a B+1-row broadcast (×2.9); the LM
    * joins the vocabulary-scale model (×3.7); LSH builds a k-wide
    * MinHash signature and band-joins history (×9.4). Cheap gates
    * shrink the expensive gates' input — the chain is the reason the
    * family exists as five separate operators.
    *
    * Artifacts (classifier weights, LM model, LSH index frames,
    * history digests + master sketch) load ONCE at stream build;
    * per-batch state is the two broadcast sketches, destroyed after
    * each batch ([[BloomIngestHandle]]). The accepted-content sketch
    * folds in only docs the WHOLE chain admitted: a doc dropped by a
    * later gate did not ingest, so it must not suppress a future twin
    * (which would be re-judged and dropped by the same gate anyway).
    * In-stream exact duplicates within the watermark horizon are
    * removed upstream by `dropDuplicatesWithinWatermark`, before any
    * gate — the cheapest possible drop ([[bloomDedupIngest]]'s
    * division-of-labor, unchanged).
    *
    * Emits per non-empty batch via `sink`: one row per surviving-input
    * doc (doc_id, ok_rules, ok_exact, ok_cls, ok_lm, ok_fuzzy, keep) —
    * bits PAST the dropping gate are NULL (never evaluated; that is
    * the short-circuit, visible in the output), and
    * keep = ok_fuzzy = the whole conjunction by construction.
    */
  def chainedGateIngest(stream: DataFrame, history: DataFrame,
      clsPath: String, lmPath: String, lshPath: String, maxAvgNll: Double,
      stopWords: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      threshold: Double = 0.5, maxBucket: Long = 1000L,
      expectedItems: Long = 1000000L, fpp: Double = 0.03,
      lateness: String = "2 minutes", timeCol: String = "created_utc")(
      sink: (DataFrame, Long) => Unit): (DataStreamWriter[Row], BloomIngestHandle) = {
    val spark = history.sparkSession
    val rules = rulesGate(stopWords)
    val bloom = new BloomGate(history, expectedItems, fpp)
    val cls = classifierGate(spark, clsPath)
    val lm = lmGate(spark, lmPath, maxAvgNll)
    val fuzzy = fuzzyGate(spark, lshPath, threshold, maxBucket)
    val writer = eachBatch(bloom.withinWatermark(stream, lateness, timeCol)) {
      (batch, batchId) => bloom.onBatch { exact =>
        // per-stage verdict frames are (doc_id, bit) — eagerly
        // checkpointed so the decisions join and the next stage's
        // semi-join don't each replay the whole upstream chain. The
        // short-circuit is DRIVER-SIDE too: a stage whose input is
        // empty contributes an empty verdict WITHOUT planning its
        // kernel — the LM's vocabulary-scale model join and the LSH
        // band join cost real per-batch work even over zero probe
        // rows (the index side still plans/scans), which on an
        // all-drop batch would make the "short-circuited" chain pay
        // every gate's fixed cost anyway (measured: the round-11
        // pricing's first cut ran 8× the LSH-alone gate on exactly
        // that regime).
        val docs = batch.select(col("doc_id"), col("text"), col("digest"))
          .localCheckpoint(true)
        // survivor sets are checkpointed too: each is read by the next
        // kernel AND the next survivor join AND its own emptiness
        // check — left lazy, the semi-join trees nest and the replay
        // overhead exceeds what the short-circuit saves (measured in
        // the round-11 pricing's second cut)
        def survivors(prev: DataFrame, verdict: DataFrame, bit: String) =
          prev.join(verdict.filter(col(bit)).select("doc_id"),
            Seq("doc_id"), "left_semi").localCheckpoint(true)
        def stage(in: DataFrame, bit: String, gate: DataFrame => DataFrame,
            ok: Column): DataFrame =
          if (in.isEmpty)
            in.select(col("doc_id"), lit(true).as(bit)).limit(0)
              .localCheckpoint(true)
          else gate(in).select(col("doc_id"), ok.as(bit)).localCheckpoint(true)
        val rulesV = stage(docs, "ok_rules", rules, col("keep"))
        val s1 = survivors(docs, rulesV, "ok_rules")
        val exactV = stage(s1, "ok_exact", exact, !col("is_dup"))
        val s2 = survivors(s1, exactV, "ok_exact")
        val clsV = stage(s2, "ok_cls", cls, col("keep"))
        val s3 = survivors(s2, clsV, "ok_cls")
        val lmV = stage(s3, "ok_lm", lm, col("keep"))
        val s4 = survivors(s3, lmV, "ok_lm")
        val lshV = stage(s4, "ok_fuzzy", fuzzy, col("keep"))
        // checkpointed: the sink reads it, then the accepted fold
        // re-reads it — without this the 6-join plan runs twice
        val out = Seq(rulesV, exactV, clsV, lmV, lshV)
          .foldLeft(docs.select(col("doc_id")))(_.join(_, Seq("doc_id"), "left_outer"))
          .withColumn("keep", coalesce(col("ok_fuzzy"), lit(false)))
          .localCheckpoint(true)
        sink(out, batchId)
        // accepted fold: only whole-chain admissions enter the sketch
        out.filter(col("keep")).join(docs.select(col("doc_id"), col("digest")), Seq("doc_id"))
      }
    }
    (writer, bloom.handle)
  }

  /** Observable state of one [[stratumBudgetGateIngest]] stream: the
    * per-stratum token positions consumed so far and the batch count.
    */
  final class StratumBudgetHandle private[streaming] () {
    private[streaming] val used =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
    @volatile private[streaming] var batches: Long = 0L
    def tokensSeen: Map[String, Long] =
      used.asScala.map { case (k, v) => k -> v.longValue }.toMap
    def batchesProcessed: Long = batches
  }

  /** STRATUM-BUDGET gate at ingest — the streaming twin of the d82
    * UniMax realization ([[graft.operators.Curation.unimaxSelect]]),
    * completing the mixture family's streaming side: each stratum
    * (language, domain, source) carries a token allocation, and an
    * arriving document is selected iff its stratum's stream position
    * STARTS strictly below the allocation — the boundary document rides
    * the budget (the d47/d82 convention), after which the stratum is
    * CLOSED and everything later in it flows through unselected. The
    * batch kernel's semantics per prefix: decisions equal the budget-cut
    * realization applied to the concatenated stream in arrival order
    * (spec-pinned), where "arrival order" is batch order with the
    * deterministic doc_id tie-break inside a micro-batch (micro-batch
    * contents have no defined internal order; the tie-break makes the
    * gate replayable).
    *
    * State is ONE counter per stratum held driver-side (#strata longs —
    * the mixture tables' own scale, same discipline as the accepted
    * Bloom master): per batch, within-batch positions come from a
    * window partitioned by (stratum) over the MICRO-BATCH only
    * (bounded), offset by the counters folded in as a literal CASE, and
    * the counters advance by the batch's per-stratum token totals —
    * selected or not, because stream position counts every doc exactly
    * as d82's start_tok does. Strata without an allocation (or NULL)
    * fail loudly (raise_error — the d82/unimaxMixture discipline): a
    * silently-admitted unbudgeted stratum is a mixture-control bypass.
    * At-least-once caveat (the same class as the counter residue
    * documented won't-fix since round 7, and the accepted-Bloom
    * fold's): a replayed batch re-advances counters already advanced
    * before the crash, double-counting its tokens — budgets then close
    * EARLY, never over-admit, the safe failure direction for a budget.
    *
    * Emits per non-empty batch via `sink`:
    * (doc_id, stratum, n_tokens, start_tok, selected).
    */
  def stratumBudgetGateIngest(stream: DataFrame, alloc: Map[String, Long],
      strataCol: String = "stratum")(
      sink: (DataFrame, Long) => Unit): (DataStreamWriter[Row], StratumBudgetHandle) = {
    require(alloc.nonEmpty, "stratumBudgetGateIngest: empty allocation")
    val handle = new StratumBudgetHandle
    val allocCase = alloc.toSeq.sortBy(_._1).foldLeft(
      raise_error(concat(lit("stratumBudgetGateIngest: stratum without allocation: "),
        coalesce(col("stratum").cast("string"), lit("NULL")))).cast("double")
    ) { case (acc, (s, a)) =>
      when(col("stratum") === s, lit(a.toDouble)).otherwise(acc)
    }
    val writer = eachBatch(stream) { (batch, batchId) =>
      val inStratum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("stratum")).orderBy(col("doc_id"))
      val usedCase = alloc.keys.toSeq.sorted.foldLeft(lit(0L)) { (acc, s) =>
        when(col("stratum") === s,
          lit(Option(handle.used.get(s)).map(_.longValue).getOrElse(0L)))
          .otherwise(acc)
      }
      val decided = batch
        .select(col("doc_id"), col(strataCol).as("stratum"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(inStratum))
        .select(col("doc_id"), col("stratum"), col("n_tokens"),
          (usedCase + col("cum") - col("n_tokens")).as("start_tok"))
        .withColumn("selected", col("start_tok").cast("double") < allocCase)
        .localCheckpoint(true)
      sink(decided, batchId)
      decided.groupBy(col("stratum"))
        .agg(sum(col("n_tokens")).as("t")).collect()
        .foreach { r =>
          val s = r.getString(0)
          handle.used.merge(s, java.lang.Long.valueOf(r.getLong(1)),
            (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))
        }
      handle.batches += 1
    }
    (writer, handle)
  }

  /** Observable state of one [[bucketBatchIngest]] stream: docs seen so
    * far per length bucket (the batch-fill cursors) and the batch count.
    */
  final class BucketBatchHandle private[streaming] () {
    private[streaming] val used =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]
    @volatile private[streaming] var batches: Long = 0L
    def docsSeen: Map[Long, Long] =
      used.asScala.map { case (k, v) => (k.longValue, v.longValue) }.toMap
    def batchesProcessed: Long = batches
  }

  /** ONLINE length-bucketed dynamic batching — the streaming twin of
    * [[graft.operators.Packing.bucketBatches]] for an inference/ingest
    * loop that must emit padded batches as documents arrive: each doc
    * joins its length bucket's currently-filling batch in ARRIVAL order
    * (a stream cannot sort the future; within one micro-batch the
    * doc_id tie-break makes the gate replayable), and a batch id/slot
    * is assigned the moment the doc is seen.
    *
    * State is ONE cursor per length bucket held driver-side (#buckets ≤
    * max_len/bucketWidth longs — bounded by the context length, not the
    * corpus): per batch, within-batch positions come from a window
    * partitioned by bucket over the MICRO-BATCH only, offset by the
    * cursors folded in as a broadcast (bkt, used) table, and the
    * cursors advance by the batch's per-bucket doc counts. Batches FILL
    * ACROSS micro-batches — a half-full batch stays open until its
    * bucket sees more docs. At-least-once caveat (the counter-residue
    * class, documented won't-fix): a replayed micro-batch re-advances
    * cursors, leaving under-filled batches behind — padding waste,
    * never a corrupted batch.
    *
    * Emits per non-empty batch via `sink`:
    * (doc_id, n_tokens, bkt, batch_id, slot).
    */
  def bucketBatchIngest(stream: DataFrame, batchSize: Int, bucketWidth: Int)(
      sink: (DataFrame, Long) => Unit): (DataStreamWriter[Row], BucketBatchHandle) = {
    require(batchSize > 0 && bucketWidth > 0)
    val handle = new BucketBatchHandle
    val writer = eachBatch(stream) { (batch, batchId) =>
      val inBkt = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bkt")).orderBy(col("doc_id"))
      // cursors fold in as a literal CASE over the handle's buckets
      // (the budget-gate device) — a per-batch broadcast JOIN here
      // measured ×4.3 vs the pass-through twin; the CASE prices ×2ish
      val usedCase = handle.used.asScala.toSeq
        .sortBy(_._1.longValue)
        .foldLeft(lit(0L)) { case (acc, (b, u)) =>
          when(col("bkt") === b.longValue, lit(u.longValue)).otherwise(acc)
        }
      val decided = batch
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("bkt", expr(s"CAST(n_tokens DIV $bucketWidth AS BIGINT)"))
        .withColumn("rn", row_number().over(inBkt).cast("long"))
        .withColumn("pos", usedCase + col("rn") - 1L)
        .select(col("doc_id"), col("n_tokens"), col("bkt"),
          expr(s"CAST(pos DIV $batchSize AS BIGINT)").as("batch_id"),
          expr(s"CAST(pos % $batchSize AS BIGINT)").as("slot"))
        .localCheckpoint(true)
      sink(decided, batchId)
      decided.groupBy(col("bkt")).agg(count(lit(1)).as("c")).collect()
        .foreach { r =>
          handle.used.merge(java.lang.Long.valueOf(r.getLong(0)),
            java.lang.Long.valueOf(r.getLong(1)),
            (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))
        }
      handle.batches += 1
    }
    (writer, handle)
  }

  /** Observable state of one [[cardIngest]] stream: the mergeable
    * card state (HLL registers + decimal counters) and the live
    * (metric, value) card derived from it.
    */
  final class CardIngestHandle private[streaming] (p: Int) {
    private[streaming] val lock = new Object
    private[streaming] var regs = Map.empty[(String, Long), Int]
    private[streaming] var state = Map.empty[String, java.math.BigDecimal]
    @volatile private[streaming] var batches: Long = 0L
    private[streaming] def merge(incRegs: Seq[((String, Long), Int)],
        incState: Seq[(String, java.math.BigDecimal)]): Unit =
      lock.synchronized {
        incRegs.foreach { case (k, mj) =>
          regs = regs.updated(k, math.max(regs.getOrElse(k, 0), mj))
        }
        incState.foreach { case (k, v) =>
          state = state.updated(k,
            if (k == "max_id")
              state.get(k).map(_.max(v)).getOrElse(v)
            else state.get(k).map(_.add(v)).getOrElse(v))
        }
      }
    /** The live card — the exact fold [[graft.operators.TextAnalysis
      * .cardFromStore]] runs over a persisted store.
      */
    def card: Seq[(String, Double)] = lock.synchronized {
      graft.operators.TextAnalysis.cardMetrics(regs, state, p)
    }
    def batchesProcessed: Long = batches
  }

  /** STREAMING dataset card — the live twin of the d132 mergeable card
    * store, for the monitoring dashboard an ingest loop feeds: each
    * micro-batch runs the d132 increment kernel VERBATIM (the gate
    * discipline — registers + decimal counters from the same
    * expressions the batch builder persists) and folds the bounded
    * results (≤ 2·2^p register rows + ~8 state rows) into driver state;
    * `handle.card` is then BIT-EQUAL to [[graft.operators.TextAnalysis
    * .cardFromStore]] over a store built on the same prefix, because
    * the merge operations are the store's own (register max, decimal
    * add) and the metric fold is shared code. At-least-once caveat (the
    * counter-residue class, documented won't-fix): a replayed batch
    * re-adds its counters — registers are idempotent, counts drift
    * high by one batch.
    */
  def cardIngest(stream: DataFrame, p: Int = 8): (DataStreamWriter[Row], CardIngestHandle) = {
    val handle = new CardIngestHandle(p)
    val writer = eachBatch(stream) { (batch, _) =>
      val (incRegs, incState) =
        graft.operators.TextAnalysis.cardIncrement(batch, p)
      val r = incRegs.collect()
        .map(x => (x.getString(0), x.getLong(1)) -> x.getInt(2)).toSeq
      val s = incState.collect()
        .map(x => x.getString(0) -> x.getDecimal(1)).toSeq
      handle.merge(r, s)
      handle.batches += 1
    }
    (writer, handle)
  }

  /** Observable state of one [[weightedReservoirIngest]] stream: the
    * current k-row reservoir (doc_id, w, priority) in draw order and
    * the batch count.
    */
  final class WeightedReservoirHandle private[streaming] (k: Int) {
    private[streaming] val lock = new Object
    private[streaming] var rows = Vector.empty[(Long, Double, Double)]
    @volatile private[streaming] var batches: Long = 0L
    private[streaming] def merge(top: Seq[(Long, Double, Double)]): Unit =
      lock.synchronized {
        // dedup by doc_id (priorities are pure functions of doc_id, so
        // an at-least-once replay re-offers IDENTICAL rows — idempotent)
        rows = (rows ++ top).distinctBy(_._1)
          .sortBy { case (id, _, p) => (-p, id) }.take(k)
      }
    def sample: Seq[(Long, Double, Double)] = lock.synchronized(rows)
    def batchesProcessed: Long = batches
  }

  /** Streaming WEIGHTED RESERVOIR (A-ES) — the streaming twin of the
    * d70 Efraimidis-Spirakis weighted sample
    * ([[graft.operators.Sampling.weightedSample]]), closing the
    * sampling family's streaming side: maintain the k highest-priority
    * documents seen so far, where priority = ln(u)/w with u the d70
    * deterministic per-doc uniform. Per micro-batch the d70 kernel
    * runs VERBATIM on the batch (its top-k plans as
    * TakeOrderedAndProject), and the k survivors merge into a
    * driver-side k-row reservoir — a semilattice merge: top-k of a
    * union equals top-k of the per-part top-k's, so after any batch
    * the reservoir EQUALS the batch kernel applied to the whole
    * concatenated prefix (spec-pinned), independent of how the stream
    * was batched. Priorities are pure functions of (doc_id, w), which
    * makes at-least-once replay idempotent by construction — replayed
    * rows merge to themselves (no counter-residue caveat: this is the
    * rare gate where exactly-once is free).
    *
    * State is k rows driver-side — the SAMPLE's own scale, never the
    * stream's. Returns the writer (call `.start()` on it) and the
    * observable reservoir handle.
    */
  def weightedReservoirIngest(stream: DataFrame, weight: Column,
      k: Int): (DataStreamWriter[Row], WeightedReservoirHandle) = {
    require(k >= 1, s"weightedReservoirIngest: k=$k")
    val handle = new WeightedReservoirHandle(k)
    val writer = eachBatch(stream) { (batch, _) =>
      val top = graft.operators.Sampling.weightedSample(batch, weight, k)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      handle.merge(top.toSeq)
      handle.batches += 1
    }
    (writer, handle)
  }

  /** Observable state of one [[stratifiedReservoirIngest]] stream:
    * the per-stratum k-row reservoirs and the batch count.
    */
  final class StratifiedReservoirHandle private[streaming] (k: Int) {
    private[streaming] val lock = new Object
    private[streaming] var rows =
      Map.empty[String, Vector[(Long, Double, Double)]]
    @volatile private[streaming] var batches: Long = 0L
    private[streaming] def merge(
        top: Seq[(String, Long, Double, Double)]): Unit =
      lock.synchronized {
        top.groupBy(_._1).foreach { case (s, rs) =>
          rows = rows.updated(s,
            (rows.getOrElse(s, Vector.empty) ++
              rs.map(t => (t._2, t._3, t._4)))
              .distinctBy(_._1)
              .sortBy { case (id, _, p) => (-p, id) }.take(k))
        }
      }
    def sample: Map[String, Seq[(Long, Double, Double)]] =
      lock.synchronized(rows)
    def batchesProcessed: Long = batches
  }

  /** STRATIFIED streaming weighted reservoir — k draws PER STRATUM
    * (language, source, quality tier), the grouped twin of
    * [[weightedReservoirIngest]] and the streaming side of the d16/d70
    * sampling pair. Per micro-batch: the shared
    * [[graft.operators.Sampling.esPriority]] draw expression, a
    * rank ≤ k cut windowed per stratum over the MICRO-BATCH only
    * (bounded), then a per-stratum semilattice merge into
    * driver-side k-row reservoirs. Each stratum's reservoir equals
    * [[graft.operators.Sampling.weightedSample]] applied to that
    * stratum's slice of the concatenated prefix (spec-pinned), and
    * replay is idempotent for the same reason as the global gate.
    * State: #strata × k rows driver-side — the sample's scale.
    */
  def stratifiedReservoirIngest(stream: DataFrame, strataCol: String,
      weight: Column, k: Int): (DataStreamWriter[Row], StratifiedReservoirHandle) = {
    require(k >= 1, s"stratifiedReservoirIngest: k=$k")
    val handle = new StratifiedReservoirHandle(k)
    val writer = eachBatch(stream) { (batch, _) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("stratum"))
        .orderBy(col("priority").desc, col("doc_id"))
      val top = batch
        .select(col(strataCol).as("stratum"), col("doc_id"),
          weight.cast("double").as("w"))
        .filter(col("w") > 0)
        .select(col("stratum"), col("doc_id"), col("w"),
          graft.operators.Sampling.esPriority(col("doc_id"), col("w"))
            .as("priority"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3)))
      handle.merge(top.toSeq)
      handle.batches += 1
    }
    (writer, handle)
  }

  /** Stream-stream inner join: comments matched to submissions in the
    * same subreddit within ±`withinSeconds` of event time. Watermarks on
    * BOTH sides bound the join state — Spark can drop buffered rows once
    * the other side's watermark passes the time window, which is what
    * makes an unbounded two-stream join feasible at all.
    */
  def commentSubmissionJoin(comments: DataFrame, submissions: DataFrame,
      withinSeconds: Long = 300L, lateness: String = "2 minutes"): DataFrame = {
    val c = comments
      .withColumn("c_time", timestamp_seconds(col("created_utc")))
      .withWatermark("c_time", lateness)
      .select(col("id").as("c_id"), col("author").as("c_author"),
        col("subreddit").as("c_subreddit"), col("c_time"))
    val s = submissions
      .withColumn("s_time", timestamp_seconds(col("created_utc")))
      .withWatermark("s_time", lateness)
      .select(col("id").as("s_id"), col("subreddit").as("s_subreddit"),
        col("s_time"))
    c.join(s,
      col("c_subreddit") === col("s_subreddit") &&
        col("c_time") >= col("s_time") - expr(s"interval $withinSeconds seconds") &&
        col("c_time") <= col("s_time") + expr(s"interval $withinSeconds seconds"))
      .select(col("c_id"), col("s_id"), col("c_subreddit").as("subreddit"),
        col("c_author"))
  }

  /** Streaming deduplication with bounded state: drops repeated ids
    * (at-least-once upstream protection — e.g. a producer retrying a
    * segment write) while the watermark bounds how long each id is
    * remembered. `dropDuplicates` alone would grow state forever; the
    * within-watermark form frees an id's state once the event-time
    * watermark passes it — the only dedup shape that survives an
    * unbounded stream.
    */
  def dedupStream(envelope: DataFrame, lateness: String = "2 minutes"): DataFrame =
    envelope
      .withColumn("event_time", timestamp_seconds(col("created_utc")))
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark("id", "event")

  /** Windowed TOP-K AUTHORS with O(capacity) state per window — the
    * heavy-hitters composition the reference's global counters cannot
    * express: per tumbling event-time window, the k most frequent
    * authors, tracked by a Misra-Gries summary held as keyed streaming
    * state. An exact windowed top-k needs a counter per distinct author
    * per open window (unbounded — the same reason exact windowed
    * `countDistinct` is unsupported); the MG summary caps state at
    * `capacity` counters per window with the classic deterministic
    * guarantee: every author with true count > n/(capacity+1) SURVIVES
    * in the summary, and each kept estimate is within n/(capacity+1)
    * below its true count (never above). Below `capacity` distinct
    * authors the summary IS the exact count map — small windows report
    * exactly, whatever the arrival order.
    *
    * Micro-batch mechanics: events fold into the window's summary per
    * batch (increment if present; insert if room; else the
    * decrement-all step); the window emits ONCE, when the event-time
    * timeout fires after the watermark passes window end — rows ranked
    * (est desc, author asc), state freed. Summary contents in the
    * OVERFLOW regime depend on arrival order (inherent to MG); the
    * guarantee above is the operator's contract, and the spec asserts
    * it, not specific overflow-regime counters.
    */
  def windowedTopAuthors(spark: SparkSession, envelope: DataFrame,
      windowSeconds: Long = 60L, lateness: String = "2 minutes",
      capacity: Int = 8, k: Int = 3): Dataset[WindowTopAuthor] = {
    import spark.implicits._
    require(k >= 1 && capacity >= k,
      s"need capacity >= k >= 1, got capacity=$capacity k=$k")
    envelope
      .withColumn("event_time", timestamp_seconds(col("created_utc")))
      .withWatermark("event_time", lateness)
      .withColumn("window_start",
        (col("created_utc") - (col("created_utc") % windowSeconds)).cast("long"))
      // the watermark column must flow into the stateful operator
      .select(col("window_start"), col("author"), col("event_time"))
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[MgState, WindowTopAuthor](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (wstart: Long, events: Iterator[(Long, String, java.sql.Timestamp)],
            state: GroupState[MgState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            s.counters.toSeq.sortBy { case (a, c) => (-c, a) }.take(k)
              .zipWithIndex
              .map { case ((a, c), i) => WindowTopAuthor(wstart, i + 1, a, c, s.n) }
              .iterator
          } else {
            val prev = state.getOption.getOrElse(MgState(Map.empty, 0L))
            val m = collection.mutable.Map(prev.counters.toSeq: _*)
            var n = prev.n
            events.foreach { case (_, author, _) =>
              n += 1
              m.get(author) match {
                case Some(c) => m(author) = c + 1
                case None if m.size < capacity => m(author) = 1L
                case None =>
                  // the Misra-Gries step: charge one to every counter
                  m.mapValuesInPlace((_, c) => c - 1)
                  m.filterInPlace((_, c) => c > 0)
              }
            }
            state.update(MgState(m.toMap, n))
            // close at window end once the watermark allows; a timeout in
            // the watermark's past is rejected by Spark, so clamp forward
            state.setTimeoutTimestamp(math.max(
              (wstart + windowSeconds) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  /** Windowed DISTINCT-AUTHOR cardinality with O(2^p) state per window
    * — the cardinality member of the windowed-sketch trio (Misra-Gries
    * top-k, approx quantiles, this): per tumbling event-time window,
    * the d81 deterministic dense HyperLogLog of the author stream,
    * emitted once when the watermark closes the window. An exact
    * windowed countDistinct needs a counter per distinct author per
    * open window (unbounded — why Spark forbids it in streaming); the
    * HLL caps state at 2^p register maxes per window, and duplicate
    * arrivals are free by construction (registers are maxes).
    *
    * The SAME sketch as the batch d81 row: identical 60-bit hash
    * ([[graft.operators.Dedup.hash60Jvm]], spec-pinned equal to the
    * Column form), identical register/rank arithmetic, identical
    * α·m²·2^(L+1) numerator ([[graft.operators.Dedup.hllAlphaNum]]) —
    * so a window's streamed estimate equals the batch kernel run on
    * the window's rows exactly (spec-asserted), and raw-regime caveats
    * carry over unchanged (small windows sit in the biased-high
    * small-range regime; the registered batch row documents it).
    */
  def windowedAuthorCardinality(spark: SparkSession, envelope: DataFrame,
      windowSeconds: Long = 60L, lateness: String = "2 minutes",
      p: Int = 8): Dataset[WindowCardinality] = {
    import spark.implicits._
    require(p >= 4 && p <= 16, s"p=$p out of range")
    val m = 1 << p
    val L1 = 60 - p + 1
    val alphaNum = Dedup.hllAlphaNum(p).toDouble
    envelope
      .withColumn("event_time", timestamp_seconds(col("created_utc")))
      .withWatermark("event_time", lateness)
      .withColumn("window_start",
        (col("created_utc") - (col("created_utc") % windowSeconds)).cast("long"))
      .select(col("window_start"), col("author"), col("event_time"))
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HllWinState, WindowCardinality](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (wstart: Long, events: Iterator[(Long, String, java.sql.Timestamp)],
            state: GroupState[HllWinState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            var sum = 0L
            var j = 0
            while (j < m) {
              sum += 1L << (L1 - s.regs.getOrElse(j, 0)); j += 1
            }
            Iterator.single(
              WindowCardinality(wstart, s.n, alphaNum / sum.toDouble))
          } else {
            val prev = state.getOption.getOrElse(HllWinState(Map.empty, 0L))
            val regs = collection.mutable.Map(prev.regs.toSeq: _*)
            var n = prev.n
            events.foreach { case (_, author, _) =>
              n += 1
              val h = Dedup.hash60Jvm(author)
              val j = (h % m).toInt
              val w = h / m
              val rho =
                if (w == 0L) L1
                else L1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
              if (rho > regs.getOrElse(j, 0)) regs(j) = rho
            }
            state.update(HllWinState(regs.toMap, n))
            state.setTimeoutTimestamp(math.max(
              (wstart + windowSeconds) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  /** Windowed Count-Min frequency estimates (the d99 sketch's streaming
    * twin — completing the windowed-sketch family beside Misra-Gries
    * top-k and the HLL cardinality): per tumbling event-time window,
    * a depth×width CMS over the SUBREDDIT stream held as keyed state
    * (≤ depth·width live counters per open window, whatever the
    * traffic), queried at window close for a fixed key list. The
    * increment uses [[graft.operators.Dedup.hash60Jvm]] on
    * "<row>:<key>" — bit-identical to the batch kernel's Column hash
    * ([[graft.operators.TextAnalysis.countMinEstimate]]), so the
    * streamed estimate for a window EQUALS the batch kernel run over
    * that window's slice exactly (spec-pinned). Estimates are
    * one-sided (≥ truth) per CMS construction.
    */
  def windowedSubredditCms(spark: SparkSession, envelope: DataFrame,
      queryKeys: Seq[String], depth: Int = 4, width: Int = 64,
      windowSeconds: Long = 60L, lateness: String = "2 minutes")
      : Dataset[WindowTermEstimate] = {
    import spark.implicits._
    require(depth >= 1 && width >= 1, s"depth=$depth width=$width")
    require(queryKeys.nonEmpty, "need query keys")
    envelope
      .withColumn("event_time", timestamp_seconds(col("created_utc")))
      .withWatermark("event_time", lateness)
      .withColumn("window_start",
        (col("created_utc") - (col("created_utc") % windowSeconds)).cast("long"))
      .select(col("window_start"), col("subreddit"), col("event_time"))
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CmsWinState, WindowTermEstimate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (wstart: Long, events: Iterator[(Long, String, java.sql.Timestamp)],
            state: GroupState[CmsWinState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            queryKeys.sorted.iterator.map { k =>
              var est = Long.MaxValue
              var r = 0
              while (r < depth) {
                val b = (Dedup.hash60Jvm(s"$r:$k") % width).toInt
                est = math.min(est, s.counters.getOrElse(r * width + b, 0L))
                r += 1
              }
              WindowTermEstimate(wstart, k, est, s.n)
            }
          } else {
            val prev = state.getOption.getOrElse(CmsWinState(Map.empty, 0L))
            val counters = collection.mutable.Map(prev.counters.toSeq: _*)
            var n = prev.n
            events.foreach { case (_, key, _) =>
              n += 1
              var r = 0
              while (r < depth) {
                val b = (Dedup.hash60Jvm(s"$r:$key") % width).toInt
                val idx = r * width + b
                counters(idx) = counters.getOrElse(idx, 0L) + 1L
                r += 1
              }
            }
            state.update(CmsWinState(counters.toMap, n))
            state.setTimeoutTimestamp(math.max(
              (wstart + windowSeconds) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  /** Windowed TOKEN-DRIFT monitor — the streaming twin of the d119
    * batch report: per closed event-time window, the Jensen-Shannon
    * divergence + bidirectional OOV mass of the window's token
    * distribution against a REFERENCE histogram (computed once from a
    * trusted corpus and shipped as a driver map — vocabulary-scale,
    * the classifier/LM-gate artifact discipline). The live drift
    * alarm a production ingest runs: a broken upstream filter or a
    * topical flood shows up as a JS spike in the window it happens.
    *
    * Emitted values are BIT-EQUAL to the batch operator on the same
    * slices ([[graft.operators.TextAnalysis.tokenDriftJvm]] — the
    * hash60Jvm ≡ Column-hash bridge carried to a metric; spec-pinned
    * against a batch [[graft.operators.TextAnalysis.tokenDrift]] run
    * per window). State per open window is its word-count map —
    * window-vocabulary-scale; a deployment monitoring an unbounded
    * vocabulary caps to the reference top-K plus an OOV bucket (the
    * published monitoring convention), which this kernel reduces to
    * when the stream vocabulary is the reference's.
    */
  def windowedTokenDrift(spark: SparkSession, stream: DataFrame,
      refCounts: Map[String, Long], windowSeconds: Long = 60L,
      lateness: String = "2 minutes"): Dataset[WindowDrift] = {
    import spark.implicits._
    require(refCounts.nonEmpty, "windowedTokenDrift: empty reference")
    stream
      .withColumn("event_time", timestamp_seconds(col("created_utc")))
      .withWatermark("event_time", lateness)
      .withColumn("window_start",
        (col("created_utc") - (col("created_utc") % windowSeconds)).cast("long"))
      .select(col("window_start"), col("text"), col("event_time"))
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DriftWinState, WindowDrift](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (wstart: Long, events: Iterator[(Long, String, java.sql.Timestamp)],
            state: GroupState[DriftWinState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            if (s.n == 0L) Iterator.empty
            else {
              val (js, oovNew, oovRef) =
                graft.operators.TextAnalysis.tokenDriftJvm(refCounts, s.counts)
              Iterator.single(WindowDrift(wstart, s.n, js, oovNew, oovRef))
            }
          } else {
            val prev = state.getOption.getOrElse(DriftWinState(Map.empty, 0L))
            val counts = collection.mutable.Map(prev.counts.toSeq: _*)
            var n = prev.n
            events.foreach { case (_, text, _) =>
              text.split(" ").foreach { w =>
                counts(w) = counts.getOrElse(w, 0L) + 1L
                n += 1
              }
            }
            state.update(DriftWinState(counts.toMap, n))
            state.setTimeoutTimestamp(math.max(
              (wstart + windowSeconds) * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  /** Gap-based sessionization per author via flatMapGroupsWithState:
    * a session closes when no event arrives within `gapSeconds` of
    * event time (tracked with an event-time timeout against the
    * watermark). Emits one row per closed session.
    */
  def sessionize(spark: SparkSession, envelope: DataFrame,
      gapSeconds: Long = 300L, lateness: String = "2 minutes"): Dataset[AuthorSession] = {
    import spark.implicits._
    envelope
      .withColumn("event_time", timestamp_seconds(col("created_utc")))
      .withWatermark("event_time", lateness)
      // the watermark column must flow into the stateful operator
      .select(col("author"), col("created_utc"), col("event_time"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, AuthorSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (author: String, events: Iterator[(String, Long, java.sql.Timestamp)],
            state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(AuthorSession(author, s.start, s.end, s.n))
          } else {
            // Gap-merge the batch's events WITH the open session as one
            // interval timeline: sorting by start means an out-of-order
            // (non-late) event merges into the open session only when it
            // is within gapSeconds of the session's nearest edge — an
            // event more than a gap before the session start forms its
            // own (earlier) session instead of extending backward
            // unboundedly. All but the newest merged session are closed;
            // the newest stays open awaiting the watermark timeout.
            val items = (events.map(t => SessionState(t._2, t._2, 1)).toSeq ++
              state.getOption).sortBy(s => (s.start, s.end))
            val merged = items.foldLeft(List.empty[SessionState]) { (acc, x) =>
              acc match {
                case h :: rest if x.start - h.end <= gapSeconds =>
                  SessionState(h.start, math.max(h.end, x.end), h.n + x.n) :: rest
                case _ => x :: acc
              }
            }.reverse
            val open = merged.last
            state.update(open)
            state.setTimeoutTimestamp((open.end + gapSeconds) * 1000L)
            merged.init.map(s => AuthorSession(author, s.start, s.end, s.n)).iterator
          }
      }
  }
}
