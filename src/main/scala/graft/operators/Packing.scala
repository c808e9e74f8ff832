package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus → training-shards tail of the pipeline: a deterministic
  * global shuffle, token-budgeted shard assignment, and fixed-length
  * context-window packing (the concat-and-chunk layout GPT-style
  * training jobs consume). (Extension territory — SURVEY.md §2.1.)
  *
  * All three need one primitive Spark lacks as a scalable built-in: a
  * corpus-wide cumulative token sum over a deterministic order. A naive
  * `Window.orderBy(...)` is a SINGLE-partition sort — a non-starter at
  * 100 TB. [[tokenOffsets]] implements the classic distributed
  * prefix-sum instead: order by the shared cross-engine
  * [[Dedup.hash60]] key, bucket by the key's high bits (so buckets ARE
  * contiguous key ranges), take within-bucket running sums from a
  * window PARTITIONED by bucket, and add per-bucket base offsets from a
  * cumulative sum over the tiny per-bucket-totals table. Parallelism is
  * bounded by 2^bucketBits, never 1; the only global window runs over
  * one row per bucket.
  */
object Packing {

  /** Deterministic pseudo-random order key: the shared 60-bit md5 hash
    * of the doc id — both engines compute it identically, so "shuffled
    * corpus order" is itself oracle-checkable.
    */
  private def orderKey: Column = Dedup.hash60(col("doc_id").cast("string"))

  /** (doc_id, n_tokens, start_token): each document's token-count and
    * its first token's position in the deterministically-shuffled
    * corpus-wide token stream — the distributed prefix-sum described in
    * the object doc. `bucketBits` trades window-partition size against
    * offsets-table size: 8 bits → 256-way parallelism (fine at test
    * scale); a 100 TB run wants 14-16 bits so each bucket's sort fits
    * an executor core's chunk while the offsets table stays thousands
    * of rows.
    */
  def tokenOffsets(docs: DataFrame, bucketBits: Int = 8): DataFrame = {
    require(bucketBits > 0 && bucketBits < 60, s"bucketBits=$bucketBits")
    offsetsChain(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        orderKey.as("k"))
      .withColumn("bkt", expr(s"shiftright(k, ${60 - bucketBits})")))
      .select(col("doc_id"), col("n_tokens"), col("start_token"))
  }

  /** The distributed prefix-sum proper over a prepared
    * (doc_id, n_tokens, k, bkt[, extras]) base — the chain shared by
    * [[tokenOffsets]] (60-bit hash60 key) and [[curriculumShards]]
    * (62-bit tier-composite key): within-bucket running sums from a
    * window PARTITIONED by bucket, per-bucket base offsets from a
    * cumulative sum over the tiny totals table. Extra columns pass
    * through. The eager localCheckpoint (the CC-iteration device)
    * drops the text column after one scan instead of re-tokenizing the
    * corpus for the totals side.
    */
  private def offsetsChain(base0: DataFrame): DataFrame = {
    val base = base0.localCheckpoint(true)
    val inBkt = Window.partitionBy(col("bkt")).orderBy(col("k"), col("doc_id"))
    val withCum = base.withColumn("cum", sum(col("n_tokens")).over(inBkt))
    // bucket totals derive from the running sums' own tail (max cum per
    // bucket), not a second aggregation pipeline over the corpus
    val totals = withCum.groupBy(col("bkt")).agg(max(col("cum")).as("bt"))
    val offsets = totals.select(col("bkt"),
      (sum(col("bt")).over(Window.orderBy(col("bkt"))) - col("bt")).as("off"))
    withCum.join(offsets, Seq("bkt"))
      .withColumn("start_token",
        (col("off") + col("cum") - col("n_tokens")).cast("long"))
      .drop("k", "bkt", "cum", "off")
  }

  /** Whole-document fold pairing into fixed context bins (d121) — the
    * no-splitting alternative to [[packSequences]]' concat-and-chunk:
    * documents sort by length descending and rank i folds onto rank
    * n+1−i (longest with shortest), sharing bin i when the two fit the
    * context together; a pair that doesn't fit — and the middle element
    * of an odd corpus — packs alone. The classic depth-2 length-
    * complement heuristic (the shape histogram-packing schemes bottom
    * out in): no document crosses a sequence boundary, so attention
    * masks need no cross-doc reset, at the price of padding
    * [[packEfficiency]] measures against the splitting layout.
    *
    * Scale shape: the global length rank uses the bucketed distributed-
    * rank device with the LENGTH ITSELF as the bucket (ties share a
    * length by definition, so they never straddle buckets): per-length
    * counts make a bounded offsets table (lengths ≤ ctx, so the only
    * global window runs over ≤ ctx rows), within-length row_numbers
    * come from a window PARTITIONED by length, and the partner lookup
    * is one equi-join on the mirrored rank — no corpus-wide window, no
    * shuffle beyond the rank join's.
    *
    * Returns (doc_id, n_tokens, rnk, bin_id, slot): bin_id is the
    * pair's lower rank, slot 1 marks the shorter partner.
    */
  def pairPack(docs: DataFrame, ctxLen: Int): DataFrame = {
    val lens = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .localCheckpoint(true)
    val counts = lens.groupBy(col("n_tokens")).agg(count(lit(1)).as("bc"))
    val offsets = counts.select(col("n_tokens"),
      (sum(col("bc")).over(Window.orderBy(col("n_tokens").desc)) - col("bc"))
        .as("off"))
    val inLen = Window.partitionBy(col("n_tokens")).orderBy(col("doc_id"))
    // read twice (rows + mirrored partner side): both passes re-run the
    // rank chain, but over the CHECKPOINTED (id, len) longs — two
    // key-partitioned window passes, never a corpus re-scan, and the
    // device stays visible in the registered plan (plan-guarded)
    val ranked = lens.join(offsets, Seq("n_tokens"))
      .withColumn("rnk", (col("off") + row_number().over(inLen)).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("rnk"))
    val total = lens.agg(count(lit(1)).cast("long").as("n_total"))
    val partner = ranked.select(col("rnk").as("prnk"),
      col("n_tokens").as("p_tokens"))
    ranked.crossJoin(broadcast(total))
      .withColumn("prnk", col("n_total") + 1L - col("rnk"))
      .join(partner, Seq("prnk"))
      .withColumn("paired",
        col("rnk") =!= col("prnk") &&
          col("n_tokens") + col("p_tokens") <= ctxLen)
      .select(col("doc_id"), col("n_tokens"), col("rnk"),
        when(col("paired"), least(col("rnk"), col("prnk")))
          .otherwise(col("rnk")).cast("long").as("bin_id"),
        when(col("paired") && col("rnk") > col("prnk"), lit(1L))
          .otherwise(lit(0L)).as("slot"))
  }

  /** Length-bucketed batch assembly (d126) — the inference/dataloader
    * dynamic-batching layout: documents group into length buckets of
    * `bucketWidth` tokens, and each bucket fills fixed-size batches in
    * (length, doc_id) order, so every batch pads only to ITS OWN max
    * length instead of the corpus max. Entirely key-partitioned: the
    * within-bucket rank is a window PARTITIONED by bucket, the batch id
    * integer arithmetic on the rank — no global window, no shuffle
    * beyond the bucket exchange.
    *
    * Returns (doc_id, n_tokens, bkt, batch_id, slot) — batch_id local
    * to the bucket, slot the position within the batch.
    */
  def bucketBatches(docs: DataFrame, batchSize: Int,
      bucketWidth: Int): DataFrame = {
    require(batchSize > 0 && bucketWidth > 0)
    val lens = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("bkt"))
      .orderBy(col("n_tokens"), col("doc_id"))
    lens.withColumn("bkt", expr(s"CAST(n_tokens DIV $bucketWidth AS BIGINT)"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("bkt"),
        expr(s"CAST((rn - 1) DIV $batchSize AS BIGINT)").as("batch_id"),
        expr(s"CAST((rn - 1) % $batchSize AS BIGINT)").as("slot"))
  }

  /** Dynamic-batching padding bill (d127): pad-to-batch-max cost of
    * [[bucketBatches]] versus batching the deterministically shuffled
    * corpus in arrival order (the no-sorting baseline a naive loader
    * pays). The shuffled leg's global rank rides the [[tokenOffsets]]
    * prefix-sum device with a UNIT weight — prefix COUNT is prefix sum
    * of ones — so neither strategy ever sees a corpus-wide window.
    * One bounded row per strategy: (strategy, n_batches, pad_tokens).
    */
  def bucketBatchStats(docs: DataFrame, batchSize: Int, bucketWidth: Int,
      bucketBits: Int = 8): DataFrame = {
    val bucketed = bucketBatches(docs, batchSize, bucketWidth)
      .groupBy(col("bkt"), col("batch_id"))
      .agg(count(lit(1)).as("n"), max(col("n_tokens")).as("mx"),
        sum(col("n_tokens")).as("s"))
      .agg(count(lit(1)).cast("long").as("n_batches"),
        sum(col("n") * col("mx") - col("s")).cast("long").as("pad_tokens"))
      .select(lit("bucketed").as("strategy"), col("n_batches"),
        col("pad_tokens"))
    val base = docs.select(col("doc_id"), lit(1L).as("n_tokens"),
        size(split(col("text"), " ")).cast("long").as("len"),
        orderKey.as("k"))
      .withColumn("bkt", expr(s"shiftright(k, ${60 - bucketBits})"))
    val shuffled = offsetsChain(base)
      .select(col("doc_id"), col("len"),
        expr(s"CAST(start_token DIV $batchSize AS BIGINT)").as("batch_id"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n"), max(col("len")).as("mx"),
        sum(col("len")).as("s"))
      .agg(count(lit(1)).cast("long").as("n_batches"),
        sum(col("n") * col("mx") - col("s")).cast("long").as("pad_tokens"))
      .select(lit("shuffled").as("strategy"), col("n_batches"),
        col("pad_tokens"))
    bucketed.unionByName(shuffled)
  }

  /** Packing-efficiency report (d122): the padding bill of three
    * layouts over one corpus and context length — `paired`
    * ([[pairPack]] bins), `singleton` (one doc per sequence, the
    * no-packing baseline), and `concat` ([[packSequences]]' split
    * layout, which pads only the final sequence but cuts documents at
    * boundaries). Padding per bin is greatest(0, ctx − fill) — an
    * overlong singleton overflows rather than earning negative pad.
    * One bounded row per strategy: (strategy, n_bins, pad_tokens).
    */
  def packEfficiency(docs: DataFrame, ctxLen: Int): DataFrame = {
    val lens = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .localCheckpoint(true)
    val paired = pairPack(docs, ctxLen)
      .groupBy(col("bin_id")).agg(sum(col("n_tokens")).as("fill"))
      .agg(count(lit(1)).cast("long").as("n_bins"),
        sum(greatest(lit(0L), lit(ctxLen.toLong) - col("fill")))
          .cast("long").as("pad_tokens"))
      .select(lit("paired").as("strategy"), col("n_bins"), col("pad_tokens"))
    val single = lens.agg(count(lit(1)).cast("long").as("n_bins"),
        sum(greatest(lit(0L), lit(ctxLen.toLong) - col("n_tokens")))
          .cast("long").as("pad_tokens"))
      .select(lit("singleton").as("strategy"), col("n_bins"), col("pad_tokens"))
    val concat = lens.agg(sum(col("n_tokens")).as("t"))
      .select(lit("concat").as("strategy"),
        expr(s"CAST((t + $ctxLen - 1) DIV $ctxLen AS BIGINT)").as("n_bins"),
        expr(s"CAST(((t + $ctxLen - 1) DIV $ctxLen) * $ctxLen - t AS BIGINT)")
          .as("pad_tokens"))
    paired.unionByName(single).unionByName(concat)
  }

  /** Curriculum token shards (d62): [[tokenShards]] with the shuffle
    * order REORDERED by quality tier — head (lowest-perplexity) docs
    * fill the first shard files, middles next, tails last, so a
    * dataloader consuming shard files in order reads an easy-to-hard
    * curriculum — while the WITHIN-tier order keeps the same
    * deterministic hash60 shuffle every other packing op uses. One
    * composite key into the shared prefix-sum device:
    * k = tier_idx·2^60 + hash60 (tier_idx ∈ {0,1,2}, a 62-bit key),
    * buckets from the key's high bits as ever — buckets stay
    * contiguous key ranges, so the device is untouched and tiers land
    * as contiguous token-stream blocks BY CONSTRUCTION (spec-pinned).
    * Tiers come from [[TextAnalysis.perplexityTiers]] (CCNet
    * terciles); a doc too short to score (no bigrams) is treated as
    * tail — untiered content sorts last.
    *
    * Returns (doc_id, tier, n_tokens, start_token, shard_id).
    */
  def curriculumShards(docs: DataFrame, budget: Long, bucketBits: Int = 8,
      lmScale: Int = 16): DataFrame = {
    require(budget > 0, s"budget=$budget")
    require(bucketBits > 0 && bucketBits < 62, s"bucketBits=$bucketBits")
    val tiers = TextAnalysis.perplexityTiers(docs, lmScale)
      .select(col("doc_id"), col("tier"))
    val base = docs.join(tiers, Seq("doc_id"), "left")
      .withColumn("tier", coalesce(col("tier"), lit("tail")))
      .select(col("doc_id"), col("tier"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (expr("CASE tier WHEN 'head' THEN CAST(0 AS BIGINT) " +
          "WHEN 'middle' THEN CAST(1 AS BIGINT) ELSE CAST(2 AS BIGINT) END")
          * lit(1L << 60) + orderKey).as("k"))
      .withColumn("bkt", expr(s"shiftright(k, ${62 - bucketBits})"))
    offsetsChain(base)
      .select(col("doc_id"), col("tier"), col("n_tokens"), col("start_token"),
        expr(s"CAST(start_token DIV $budget AS BIGINT)").as("shard_id"))
  }

  /** Token-budgeted shard assignment: documents stay whole and fill
    * shards greedily in shuffled order — shard i owns the docs whose
    * start position falls in [i·budget, (i+1)·budget), so a shard can
    * overrun the budget by at most one document's tail (the standard
    * document-contiguous layout). One integer divide over
    * [[tokenOffsets]]; no extra shuffle beyond the prefix-sum's own.
    *
    * Returns (doc_id, n_tokens, start_token, shard_id).
    */
  def tokenShards(docs: DataFrame, budget: Long, bucketBits: Int = 8): DataFrame = {
    require(budget > 0, s"budget=$budget")
    tokenOffsets(docs, bucketBits)
      .select(col("doc_id"), col("n_tokens"), col("start_token"),
        expr(s"CAST(start_token DIV $budget AS BIGINT)").as("shard_id"))
  }

  /** Write layout for the shard-partitioned store: group by shard_id so
    * each shard lands as one file-group. When the corpus is KNOWN small
    * (the layoutForWrite gates, judged on the scan-rooted `docs` frame
    * — the write frame itself is join-rooted, and Catalyst prices an
    * inner join as the product of its sides, which would read as
    * petabytes and silently disable the gate), the partition count is
    * EXPLICIT (core-count), which AQE cannot coalesce — the bare keyed
    * `repartition(col)` was AQE-coalesced to ~1 partition at bench
    * scale, serializing the whole write into one task (the round-13
    * measured failure mode). At production scale the gates fall through
    * to the original coalescible keyed repartition, preserving the
    * shard-grouped, size-adaptive layout.
    */
  private def shardWriteLayout(asg: DataFrame, docs: DataFrame): DataFrame = {
    val laid = graft.sources.ScanParallelism.layoutForWrite(
      asg, asg.sparkSession.sparkContext.defaultParallelism,
      Seq(col("shard_id")), gate = docs)
    if (laid eq asg) asg.repartition(col("shard_id")) else laid
  }

  /** Persist the sharded training corpus: [[tokenShards]]' assignment
    * joined back to the text and written as parquet PARTITIONED BY
    * shard_id, under the shared index manifest
    * ([[graft.sources.IndexManifest]], kind "shards", params budget +
    * bucketBits, watermarked on the corpus). Each shard is one
    * partition directory of ~budget tokens — the equal-size training
    * files a dataloader consumes — and a single-shard read is pruned at
    * the file-index layer ([[readShard]]), never touching the other
    * shards' files.
    *
    * The text join-back is one equi-join on doc_id (the assignment
    * table is four longs per doc; text rides the join once, on its way
    * to disk). The write itself shuffles on shard_id via a repartition
    * so each shard lands as one file-group, not one file per task
    * ([[shardWriteLayout]]).
    */
  def saveTokenShards(docs: DataFrame, path: String, budget: Long,
      bucketBits: Int = 8): Unit = {
    val asg = tokenShards(docs, budget, bucketBits)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
    // VERSIONED (the d153 device): the store is doc_id-monotone
    // append-only with history shard files byte-frozen and start_tokens
    // recorded verbatim, so a snapshot version IS its watermark — and
    // each version's n_tokens_total param pins where ITS frozen token
    // stream ends. This is the flagship time-travel application:
    // "reproduce the exact shard set training run X consumed" is one
    // id cut ([[readShardStoreAt]]). The total reads the just-written
    // store (a column-pruned two-long scan), never re-tokenizes.
    graft.sources.IndexManifest.rebuild(path, "shards", true, docs, "doc_id",
      _ => Map("budget" -> budget, "bucket_bits" -> bucketBits.toLong,
        "n_tokens_total" -> Tables.readParquet(docs.sparkSession, s"$path/shards")
          .agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0)))(
      // an EMPTY corpus is a legitimate input (a curated selection can
      // come up empty — measured: the decontamination gate admits zero
      // sf0.1 docs), but dynamic partitionBy writes NO files for zero
      // rows and the store becomes unreadable (schema inference fails);
      // write the schema-only empty frame unpartitioned instead
      () =>
        if (docs.isEmpty)
          asg.write.mode("overwrite").parquet(s"$path/shards")
        else shardWriteLayout(asg, docs)
          .write.mode("overwrite").partitionBy("shard_id")
          .parquet(s"$path/shards"))
  }

  /** Shard-store integrity audit (d131) — the bit-rot / partial-write
    * detector a 100 TB store runs on a cadence: every invariant the
    * [[saveTokenShards]] layout promises, checked from the FILES alone
    * and folded to one row per shard:
    *
    *  - `tok_ok`: each row's stored n_tokens matches its text (text
    *    corruption that preserves row counts still flips this);
    *  - `bound_ok`: each row's shard_id is start_token DIV budget (a
    *    row filed under the wrong partition directory);
    *  - within-shard chain: consecutive starts tile exactly
    *    (start = prev start + prev n — a dropped or duplicated row
    *    breaks the chain);
    *  - cross-shard continuity: each shard's first start equals the
    *    running total of all previous shards' tokens (a whole missing
    *    partition shifts every successor).
    *
    * Scale shape: one store scan; the chain check is a lag window
    * PARTITIONED by shard; the cross-shard check is a cumulative sum
    * over the one-row-per-shard totals table (bounded). The oracle
    * recomputes the same per-shard report from the SOURCE corpus — so
    * the registered row proves store ≡ source-derived expectation, and
    * the corruption spec proves the detector actually fires.
    *
    * Returns (shard_id, n_docs, n_tokens, ok).
    */
  def shardAudit(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import graft.sources.IndexManifest
    val m = IndexManifest.read(path)
    require(m.kind == "shards", s"shardAudit: manifest kind ${m.kind}")
    val budget = m.params("budget")
    val st = Tables.readParquet(spark, s"$path/shards")
      .select(col("doc_id"), col("n_tokens"), col("start_token"),
        col("text"), col("shard_id").cast("long").as("shard_id"))
    val inShard = Window.partitionBy(col("shard_id")).orderBy(col("start_token"))
    val rows = st
      .withColumn("tok_ok",
        size(split(col("text"), " ")).cast("long") === col("n_tokens"))
      .withColumn("bound_ok",
        expr(s"CAST(start_token DIV $budget AS BIGINT)") === col("shard_id"))
      .withColumn("prev_end",
        lag(col("start_token") + col("n_tokens"), 1).over(inShard))
      .withColumn("chain_ok",
        coalesce(col("prev_end") === col("start_token"), lit(true)))
    val per = rows.groupBy(col("shard_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        min(col("start_token")).as("first_start"),
        bool_and(col("tok_ok") && col("bound_ok") && col("chain_ok"))
          .as("rows_ok"))
    val w2 = Window.orderBy(col("shard_id")) // one row per shard: bounded
    per.withColumn("expected_start",
        coalesce(sum(col("n_tokens")).over(w2) - col("n_tokens"), lit(0L)))
      .select(col("shard_id"), col("n_docs"), col("n_tokens"),
        (col("rows_ok") && col("first_start") === col("expected_start"))
          .as("ok"))
  }

  /** Materialize the CURATED training corpus (d88) — the last mile a
    * real pipeline runs end-to-end: the selection verdict (d85's
    * `selected` column, or any (doc_id)-keyed keep-list) filters the
    * corpus, and the SURVIVORS are prefix-summed and written as the
    * d50 shard store — so "curate and write the training set" is one
    * operator, not a by-hand composition. The curated stream is packed
    * contiguously from token 0 (dropped docs leave no holes): the
    * shuffle order, prefix sum, shard assignment, partitioned layout,
    * manifest, pruned reads, and [[appendTokenShards]] increments are
    * all [[saveTokenShards]]' own, applied to the selected subset — the
    * store IS a shards store whose corpus is the curated corpus, which
    * is exactly what its manifest watermark certifies.
    *
    * Scale shape: the selection filter is one left-semi equi-join on
    * doc_id (verdict side is doc_id-only columns; at 100 TB both sides
    * are corpus-scale, so no broadcast hint — AQE decides), upstream of
    * the same single text scan the uncurated build pays.
    */
  def saveCuratedShards(docs: DataFrame, keepIds: DataFrame, path: String,
      budget: Long, bucketBits: Int = 8): Unit =
    saveTokenShards(
      docs.join(keepIds.select(col("doc_id")), Seq("doc_id"), "left_semi"),
      path, budget, bucketBits)

  /** Maintenance policy for a CURATED shard store (d91) — the
    * [[graft.sources.IndexManifest.sync]] policy with one crucial
    * difference, so it keeps its own decision: a curated
    * store's membership is NOT append-only by construction. The corpus
    * grows id-monotonically, but the SELECTION over it is corpus-global
    * (classifier ranks, perplexity terciles), so a new corpus version
    * can FLIP an old document's verdict — and a flip that preserves
    * both row count and max id defeats the (rows, maxId) watermark
    * every other sync trusts. This sync therefore verifies membership
    * IDENTITY below the watermark: two anti-join counts between the
    * store's doc_id column and the currently-selected prefix (id-only,
    * column-pruned scans — publish-cadence cost, not query cost). Any
    * drift rebuilds; intact prefix + new selected ids above the
    * watermark appends ([[appendTokenShards]] — history shard files
    * frozen, the d51 contract); no change is FRESH. Idempotent, and
    * the appender's orphan guard rides inside (a crashed prior append
    * is caught and rebuilt). Returns the action taken.
    */
  def curatedShardsSync(docs: DataFrame, keepIds: DataFrame, path: String,
      budget: Long, bucketBits: Int = 8): String = {
    import graft.sources.{IndexManifest, IndexManifestException}
    val selected = docs.join(keepIds.select(col("doc_id")), Seq("doc_id"), "left_semi")
    def rebuild(): String = {
      saveCuratedShards(docs, keepIds, path, budget, bucketBits); "rebuild"
    }
    val man = try Some(IndexManifest.require(path, "shards",
      Map("budget" -> budget, "bucket_bits" -> bucketBits.toLong)))
    catch { case _: IndexManifestException => None }
    man match {
      case Some(m) =>
        val storeIds = Tables.readParquet(docs.sparkSession, s"$path/shards")
          .select(col("doc_id"))
        val selPrefix = selected.filter(col("doc_id") <= m.corpusMaxId)
          .select(col("doc_id"))
        // the two membership anti-join counts are independent reads —
        // overlapped
        val (dA, dB) = graft.Overlap(
          selPrefix.join(storeIds, Seq("doc_id"), "left_anti").count(),
          storeIds.join(selPrefix, Seq("doc_id"), "left_anti").count())
        if (dA + dB > 0) rebuild()
        else if (selected.filter(col("doc_id") > m.corpusMaxId).isEmpty) "fresh"
        else {
          try {
            appendTokenShards(
              selected.filter(col("doc_id") > m.corpusMaxId), path)
            "append"
          } catch { case _: IndexManifestException => rebuild() }
        }
      case None => rebuild()
    }
  }

  /** Incremental append to a [[saveTokenShards]] store — the frozen-book
    * pattern ([[graft.operators.Similarity]] `appendIvfSq8Index` is the
    * template) applied to the training-shard layout: existing shard files
    * are NEVER rewritten (file-level no-recompute, spec-pinned), the
    * increment's documents are placed AFTER the frozen token stream, and
    * the manifest watermark advances so [[readShard]] consumers see one
    * consistent store.
    *
    * Placement semantics: history keeps its deterministic hash60-shuffled
    * order and its start_tokens verbatim; the increment is prefix-summed
    * in the SAME deterministic order among itself and offset by the
    * frozen stream's total length (manifest param `n_tokens_total`). So
    * the boundary shard may gain documents (it was the partially-filled
    * tail) and new tail shards appear — exactly the dataloader-friendly
    * contract: shard files already consumed by a training job are
    * immutable, growth lands in new (or the one partial) shard
    * directories as NEW files only.
    *
    * This is deliberately NOT equal to a full rebuild on the grown
    * corpus: a rebuild re-interleaves the global shuffle and reassigns
    * every start_token (rewriting every shard file). The registered
    * oracle (d51) checks the documented two-stage semantics instead —
    * history chain frozen, increment chain offset by the history total.
    *
    * Requirements (loud, named errors): the store must be a manifested
    * "shards" index with the append params, and the increment passes the
    * shared prelude ([[graft.sources.IndexManifest.beginAppend]]).
    */
  def appendTokenShards(newDocs: DataFrame, path: String,
      extraParams: Map[String, Long] = Map.empty): Unit = {
    import graft.sources.{IndexManifest, IndexManifestException}
    val m = IndexManifest.require(path, "shards")
    val budget = m.params.getOrElse("budget",
      throw new IndexManifestException(s"shards index at $path has no 'budget' param"))
    val bucketBits = m.params.getOrElse("bucket_bits", 8L).toInt
    val base = m.params.getOrElse("n_tokens_total",
      throw new IndexManifestException(
        s"shards index at $path predates incremental append (no 'n_tokens_total') — rebuild once"))
    // appending to an EMPTY store ≡ a fresh build (the frozen stream has
    // zero length), and must BE one: the empty store's schema-only file
    // sits unpartitioned, so a partitioned append would leave a mixed
    // layout partition discovery rejects
    if (m.corpusRows == 0L) {
      if (IndexManifest.beginAppend(newDocs, "doc_id", m, path).isEmpty) return
      saveTokenShards(newDocs, path, budget, bucketBits)
      if (extraParams.nonEmpty) {
        val m2 = IndexManifest.read(path)
        IndexManifest.write(path, m2.copy(params = m2.params ++ extraParams))
      }
      return
    }
    // increment-local prefix sum in the same deterministic order, then
    // offset by the frozen stream's length (both references to the input
    // start_token column — the local offset)
    val asg = tokenOffsets(newDocs, bucketBits)
      .select(col("doc_id"), col("n_tokens"),
        (col("start_token") + base).as("start_token"),
        expr(s"CAST((start_token + $base) DIV $budget AS BIGINT)").as("shard_id"))
    // every append is a new snapshot version (the d153 device): history
    // shard files are byte-frozen and the increment lands strictly after
    // the frozen token stream, so version N is exactly the rows at or
    // below N's watermark. extraParams ride the SAME manifest flip
    // (e.g. the streaming gate's last_batch_id — the atomicity is what
    // makes its replay-skip check trustworthy).
    IndexManifest.append(path, m, true, newDocs, "doc_id",
      Seq("shards" -> "doc_id"),
      _ => m.params ++ extraParams + ("n_tokens_total" ->
        (base + asg.agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0)))) { _ =>
      Seq(() => shardWriteLayout(
          asg.join(newDocs.select(col("doc_id"), col("text")), Seq("doc_id")),
          newDocs)
        .write.mode("append").partitionBy("shard_id")
        .parquet(s"$path/shards"))
    }
  }

  /** Read ONE shard from a [[saveTokenShards]] store — manifest-gated,
    * and the shard_id literal lands in the scan's PartitionFilters
    * (spec-asserted), so exactly one partition directory is read.
    */
  def readShard(spark: org.apache.spark.sql.SparkSession, path: String,
      shardId: Long): DataFrame = {
    graft.sources.IndexManifest.require(path, "shards")
    Tables.readParquet(spark, s"$path/shards").filter(col("shard_id") === shardId)
  }

  /** TIME-TRAVEL read of the shard store (d155) — the training corpus
    * AS OF snapshot `version`, i.e. "the exact token stream training
    * run X consumed": because [[appendTokenShards]] freezes history
    * shard files and records every start_token verbatim (the increment
    * lands strictly AFTER the frozen stream), a version IS its
    * watermark, and the snapshot read is the normal store scan plus one
    * pushed `doc_id <= watermark` cut — no file copies, no per-version
    * metadata beyond one JSON (the d153 device). The cut rows carry
    * their original (start_token, shard_id) placement, so every
    * derived layout — per-shard summaries, [[packShardStoreAt]]
    * windows — reproduces the pre-append store bit-stably
    * (spec-pinned).
    */
  def readShardStoreAt(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Int): DataFrame = {
    import graft.sources.IndexManifest
    IndexManifest.require(path, "shards")
    val snap = IndexManifest.readVersion(path, version)
    Tables.readParquet(spark, s"$path/shards")
      .filter(col("doc_id") <= snap.corpusMaxId)
  }

  /** VERSION DIFF of the shard store (d158) — "what does run B train on
    * that run A didn't": the rows added between snapshots `vFrom` and
    * `vTo`, i.e. the exact document/token increment a retrain at vTo
    * consumed beyond vFrom's corpus. On this id-monotone append-only
    * store the diff IS the half-open watermark interval — one pushed
    * range predicate, no row comparison, no join: additions carry ids
    * above vFrom's watermark by the append contract, and deletions
    * cannot exist (the store qualifies for versioning precisely because
    * membership below a watermark never changes). The audit row every
    * dataset card wants next to "retrained on version N".
    */
  def shardStoreDiff(spark: org.apache.spark.sql.SparkSession,
      path: String, vFrom: Int, vTo: Int): DataFrame = {
    import graft.sources.{IndexManifest, IndexManifestException}
    IndexManifest.require(path, "shards")
    if (vFrom >= vTo)
      throw new IndexManifestException(
        s"shardStoreDiff: vFrom=$vFrom must precede vTo=$vTo")
    val wmFrom = IndexManifest.readVersion(path, vFrom).corpusMaxId
    val wmTo = IndexManifest.readVersion(path, vTo).corpusMaxId
    Tables.readParquet(spark, s"$path/shards")
      .filter(col("doc_id") > wmFrom && col("doc_id") <= wmTo)
  }

  /** Fixed-length context-window packing: the shuffled token stream is
    * cut into ctxLen-token windows and each document is mapped to the
    * span(s) it occupies — one row per (doc, window) with the window
    * id, the offset inside the window, the offset inside the document,
    * and the span length. Training dataloaders consume exactly this
    * (sequence packing with documents split across context windows; an
    * attention mask can be rebuilt from ctx_offset boundaries).
    *
    * Pure integer expression work over [[tokenOffsets]] plus one
    * explode whose width is ceil(n_tokens / ctxLen) + 1 — no joins, no
    * extra shuffle. Every row satisfies
    * sum(len) over ctx_id == ctxLen (except the final partial window),
    * pinned by spec.
    *
    * Returns (doc_id, ctx_id, ctx_offset, doc_offset, len).
    */
  def packSequences(docs: DataFrame, ctxLen: Int, bucketBits: Int = 8): DataFrame = {
    require(ctxLen > 0, s"ctxLen=$ctxLen")
    tokenOffsets(docs, bucketBits)
      .select(col("doc_id"), col("n_tokens"), col("start_token"),
        explode(expr(
          s"sequence(start_token DIV $ctxLen, (start_token + n_tokens - 1) DIV $ctxLen)")).as("ctx_id"))
      .select(col("doc_id"), col("ctx_id").cast("long").as("ctx_id"),
        (greatest(col("start_token"), col("ctx_id") * ctxLen)
          - col("ctx_id") * ctxLen).cast("long").as("ctx_offset"),
        (greatest(col("start_token"), col("ctx_id") * ctxLen)
          - col("start_token")).cast("long").as("doc_offset"),
        (least(col("start_token") + col("n_tokens"), (col("ctx_id") + lit(1)) * ctxLen)
          - greatest(col("start_token"), col("ctx_id") * ctxLen)).cast("long").as("len"))
  }

  /** CONTENT-level context assembly (d92) — the proof that the packed
    * stream actually reconstructs document content: each fixed-length
    * window's token payload is assembled from its [[packSequences]]
    * spans (every doc segment sliced out of the source text at
    * doc_offset, ordered by its in-window position) and digested, so an
    * off-by-one anywhere in the span arithmetic — doc_offset, len,
    * ctx_offset, the window tiling — breaks a VALUE the oracle hashes,
    * not just a count (the d23 chunk_digest discipline applied to the
    * cross-document window layout). A training dataloader emitting
    * real batches performs exactly this assembly; the boundary
    * positions it needs for the attention mask are the span rows
    * themselves.
    *
    * Scale shape: one equi-join of spans to the tokenized text (the
    * corpus's second and last text scan), then one groupBy(ctx_id)
    * whose per-group state is bounded by ctxLen tokens BY CONSTRUCTION
    * (a window holds at most ctxLen tokens across all its segments) —
    * the in-window ordering is a sort_array over that bounded buffer,
    * never a corpus-scale window function. Returns one row per context
    * window: (ctx_id, n_docs, n_tokens, content_digest).
    */
  def packedContexts(docs: DataFrame, ctxLen: Int, bucketBits: Int = 8): DataFrame =
    packSequences(docs, ctxLen, bucketBits)
      .join(docs.select(col("doc_id"), split(col("text"), " ").as("w")),
        Seq("doc_id"))
      .select(col("ctx_id"), col("ctx_offset"),
        expr("slice(w, CAST(doc_offset + 1 AS INT), CAST(len AS INT))").as("seg"),
        col("len"))
      .groupBy(col("ctx_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("len")).cast("long").as("n_tokens"),
        md5(array_join(flatten(expr(
          "transform(sort_array(collect_list(struct(ctx_offset, seg))), s -> s.seg)")),
          " ")).as("content_digest"))

  /** Interleaved MULTIMODAL context packing (m07) — the MMC4/Flamingo
    * layout step applied to this engine's opaque-media columns: each
    * document contributes media patch tokens THEN text tokens
    * (media-first, the deterministic published interleave), its media
    * budget derived from the same frame arithmetic the m03 sampler
    * uses (complete `frameBytes` frames, every `stride`-th kept, times
    * `patchTokens` per sampled frame), and the combined stream is cut
    * into fixed `ctxLen` windows exactly like [[packSequences]] —
    * same hash60 shuffle order, same bucketed distributed prefix sum,
    * so the multimodal stream needs no new machinery, only a wider
    * per-doc token count. Each (doc, window) span reports how many of
    * its tokens are media vs text — the split is pure interval
    * arithmetic against the doc-local media prefix [0, n_media).
    *
    * Returns (doc_id, ctx_id, ctx_offset, doc_offset, len, media_len,
    * text_len); windows tile exactly as in d48, and per doc
    * Σ media_len = n_media, Σ text_len = n_text (spec-pinned).
    */
  def interleavedPack(docs: DataFrame, ctxLen: Int, frameBytes: Int,
      stride: Int, patchTokens: Int, bucketBits: Int = 8): DataFrame = {
    require(ctxLen > 0 && frameBytes > 0 && stride > 0 && patchTokens > 0)
    val base = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_text"),
        expr(s"(((octet_length(cast(text AS BINARY)) div $frameBytes) + ${stride - 1}) div $stride) * $patchTokens")
          .cast("long").as("n_media"),
        orderKey.as("k"))
      .select(col("doc_id"), (col("n_media") + col("n_text")).as("n_tokens"),
        col("k"), expr(s"shiftright(k, ${60 - bucketBits})").as("bkt"),
        col("n_media"))
    offsetsChain(base)
      .select(col("doc_id"), col("n_tokens"), col("start_token"), col("n_media"),
        explode(expr(
          s"sequence(start_token DIV $ctxLen, (start_token + n_tokens - 1) DIV $ctxLen)")).as("ctx_id"))
      .select(col("doc_id"), col("ctx_id").cast("long").as("ctx_id"), col("n_media"),
        (greatest(col("start_token"), col("ctx_id") * ctxLen)
          - col("ctx_id") * ctxLen).cast("long").as("ctx_offset"),
        (greatest(col("start_token"), col("ctx_id") * ctxLen)
          - col("start_token")).cast("long").as("doc_offset"),
        (least(col("start_token") + col("n_tokens"), (col("ctx_id") + lit(1)) * ctxLen)
          - greatest(col("start_token"), col("ctx_id") * ctxLen)).cast("long").as("len"))
      .select(col("doc_id"), col("ctx_id"), col("ctx_offset"),
        col("doc_offset"), col("len"),
        (least(col("n_media"), col("doc_offset") + col("len"))
          - least(col("n_media"), col("doc_offset"))).cast("long").as("media_len"))
      .withColumn("text_len", (col("len") - col("media_len")).cast("long"))
  }

  /** Pack WITHIN each shard of a persisted [[saveTokenShards]] store —
    * the shard-store consumer of the packing layout: each shard file is
    * treated as an INDEPENDENT token stream, and context windows are
    * cut from local position 0 per shard with zero cross-shard
    * coordination. This is the packing a training job actually runs
    * (shard files are handed to dataloader workers; each worker packs
    * its own files locally), and the Spark shape matches it exactly:
    * the only window is PARTITIONED BY shard_id, and the shard-budget
    * contract bounds every partition at ~budget tokens plus one
    * document tail — so parallelism is the shard count and partition
    * size is capped BY CONSTRUCTION, with no corpus-wide prefix sum at
    * all (contrast [[packSequences]], whose global stream needs the
    * bucketed distributed prefix-sum device).
    *
    * Within a shard, documents keep the frozen deterministic order the
    * store recorded (start_token ASC — globally unique), so a shard's
    * local stream is precisely the global stream's slice shifted to
    * local 0, and an [[appendTokenShards]]-grown store packs its frozen
    * history shards to the same windows as before growth (only the
    * boundary shard's tail and the new tail shards change — the
    * dataloader-immutability contract carried through packing).
    *
    * Returns (shard_id, doc_id, ctx_id, ctx_offset, doc_offset, len)
    * with ctx_id LOCAL to the shard.
    */
  def packShardStore(spark: org.apache.spark.sql.SparkSession, path: String,
      ctxLen: Int): DataFrame = {
    graft.sources.IndexManifest.require(path, "shards")
    packShardRows(Tables.readParquet(spark, s"$path/shards"), ctxLen)
  }

  /** [[packShardStore]] AS OF snapshot `version` (d156) — the
    * time-travel consumer: pack exactly the context windows training
    * run X's dataloader saw, from today's (grown) store. The snapshot
    * cut runs BEFORE the per-shard window, and because history
    * start_tokens are frozen verbatim, the windowed local positions —
    * and therefore every (ctx_id, offset, len) span — equal the
    * pre-append store's packing bit-stably (spec-pinned). The cost over
    * a latest read is ONE pushed id cut; the boundary shard's
    * post-snapshot documents simply vanish from its local stream tail.
    */
  def packShardStoreAt(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Int, ctxLen: Int): DataFrame =
    packShardRows(readShardStoreAt(spark, path, version), ctxLen)

  /** The per-shard packing chain over already-read store rows — shared
    * by the latest ([[packShardStore]]) and snapshot
    * ([[packShardStoreAt]]) consumers so the two cannot drift.
    */
  private def packShardRows(store: DataFrame, ctxLen: Int): DataFrame = {
    require(ctxLen > 0, s"ctxLen=$ctxLen")
    val inShard = Window.partitionBy(col("shard_id")).orderBy(col("start_token"))
    store
      .select(col("shard_id").cast("long").as("shard_id"), col("doc_id"),
        col("n_tokens"), col("start_token"))
      .withColumn("local_start",
        (sum(col("n_tokens")).over(inShard) - col("n_tokens")).cast("long"))
      .select(col("shard_id"), col("doc_id"), col("n_tokens"), col("local_start"),
        explode(expr(
          s"sequence(local_start DIV $ctxLen, (local_start + n_tokens - 1) DIV $ctxLen)")).as("ctx_id"))
      .select(col("shard_id"), col("doc_id"), col("ctx_id").cast("long").as("ctx_id"),
        (greatest(col("local_start"), col("ctx_id") * ctxLen)
          - col("ctx_id") * ctxLen).cast("long").as("ctx_offset"),
        (greatest(col("local_start"), col("ctx_id") * ctxLen)
          - col("local_start")).cast("long").as("doc_offset"),
        (least(col("local_start") + col("n_tokens"), (col("ctx_id") + lit(1)) * ctxLen)
          - greatest(col("local_start"), col("ctx_id") * ctxLen)).cast("long").as("len"))
  }
}
