package graft.operators

import graft.sources.{IndexManifest, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end curation verdict: every training document with its
  * keep decision and the reason bits behind it — the composition of the
  * pipeline's registered operators into the one DataFrame a corpus
  * curation run actually writes out. (Extension territory — SURVEY.md
  * §2.1; registered as `d19_curation_keep`.)
  */
object Curation {

  /** Preference-pair construction (d140) — the contrastive dataset row
    * a DPO/RLHF-style alignment pipeline builds from scored documents
    * (Rafailov et al. 2023 consume exactly this (group, chosen,
    * rejected) shape): within each provenance group, CHOSEN = the
    * highest-scoring document and REJECTED = the lowest, with the
    * stopword-density quality signal (d07's stop_ratio — one IEEE
    * divide of two exact longs, cross-engine safe) as the score.
    * Tie-breaks are load-bearing for determinism AND non-degeneracy:
    * chosen breaks ties doc_id ASC, rejected doc_id DESC, so an
    * all-equal-score group still yields two DISTINCT documents; only
    * singleton groups (chosen = rejected) drop.
    *
    * Scale shape: two windows PARTITIONED by source (key-partitioned,
    * parallelism = #groups) over one scan-side scored projection, one
    * group-key equi-join of two #groups-row frames. The margin is one
    * IEEE subtract of two exact divides.
    *
    * Returns (source, chosen_id, chosen_score, rejected_id,
    * rejected_score, margin).
    */
  def preferencePairs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stopWords = graft.operators.TextAnalysis.markers.head._2
    val toks = split(col("text"), " ")
    // quote-escape the marker words (the blocklistFilter discipline):
    // the list is plain words today, but a future marker containing a
    // quote must not break — or silently corrupt — the generated
    // expression (Spark escapes with backslash, not '': ADVICE r12)
    val scored = docs.select(col("doc_id"), col("source"),
      (size(expr(s"filter(split(text, ' '), x -> x IN (${
        stopWords.map(graft.operators.TextAnalysis.sqlLit).mkString(",")}))"))
        .cast("double") /
        size(toks)).as("score"))
    val wCh = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val wRj = Window.partitionBy(col("source"))
      .orderBy(col("score").asc, col("doc_id").desc)
    val ch = scored.withColumn("rn", row_number().over(wCh))
      .filter(col("rn") === 1)
      .select(col("source"), col("doc_id").as("chosen_id"),
        col("score").as("chosen_score"))
    val rj = scored.withColumn("rn", row_number().over(wRj))
      .filter(col("rn") === 1)
      .select(col("source"), col("doc_id").as("rejected_id"),
        col("score").as("rejected_score"))
    ch.join(rj, Seq("source"))
      .filter(col("chosen_id") =!= col("rejected_id"))
      .select(col("source"), col("chosen_id"), col("chosen_score"),
        col("rejected_id"), col("rejected_score"),
        (col("chosen_score") - col("rejected_score")).as("margin"))
  }

  /** Per-source contribution cap (d130) — the anti-domination rule web
    * corpora apply per domain (and code corpora per repository): keep
    * at most `cap` documents from any one provenance source, elected by
    * the deterministic hash60 draw order (a seeded uniform sample of
    * each over-represented source; both engines replay the same draw,
    * so the cut is oracle-checkable). No quality signal enters the
    * election on purpose — a quality-ranked cap composes by substituting
    * the order column, but the BASELINE rule every pipeline documents
    * is the uniform one.
    *
    * Scale shape: one window PARTITIONED by source over (draw, doc_id)
    * — key-partitioned, parallelism = #sources; scan-side hash
    * expression; no joins.
    *
    * Returns (doc_id, source, rnk, keep).
    */
  def sourceCap(docs: DataFrame, cap: Int): DataFrame = {
    require(cap > 0, s"sourceCap: cap=$cap")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("k"), col("doc_id"))
    docs.select(col("doc_id"), col("source"),
        Dedup.hash60(concat(lit("cap:"), col("doc_id").cast("string"))).as("k"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("source"), col("rnk"),
        (col("rnk") <= cap).as("keep"))
  }

  /** One row per TRAIN doc (`!evalPred`):
    * (doc_id, is_rep, clean, ok_len, ok_rep, ok_copy, sampled, keep).
    *
    *  - `is_rep`: the doc is its near-dup cluster's TRAIN-side
    *    representative (minimum train doc_id in the component).
    *    Clustering runs over the WHOLE corpus — eval near-dups must
    *    still collapse train docs — but the representative is picked
    *    among train members only: an eval-anchored component minimum
    *    would silently drop clean train content whose only
    *    "representative" is an eval doc.
    *  - `clean`: no word n-gram shared with the eval split
    *    ([[Dedup.contamination]]).
    *  - `ok_len` / `ok_rep`: length and repetition quality gates
    *    ([[TextAnalysis.repetition]]).
    *  - `ok_copy`: copied-word coverage gate — the fraction of the
    *    doc's words inside winnowing-detected copied spans stays at or
    *    below `maxCopyFrac` ([[Dedup.winnowCopyCoverage]], round 8).
    *    The near-dup gate (`is_rep`) collapses WHOLE-document
    *    duplicates; this one catches heavy PARTIAL copying that
    *    whole-doc Jaccard dilutes below the cluster threshold.
    *  - `sampled`: language-stratified hash-sample membership
    *    ([[Sampling.stratified]]).
    *  - `keep` = the conjunction.
    */
  def keepList(docs: DataFrame, evalPred: Column,
      rates: Map[String, Double], defaultRate: Double,
      k: Int, bands: Int, threshold: Double,
      maxBucket: Long, maxDf: Long,
      minTokens: Int = 20, maxTopNgram: Double = 0.2,
      maxDupToken: Double = 0.8, maxCopyFrac: Double = 0.5): DataFrame = {
    val clusters = Dedup.dedupClusters(docs,
      Dedup.lshNearDupPairs(docs, k, bands, threshold, maxBucket, maxDf))
    val trainRep = clusters.filter(!evalPred)
      .groupBy(col("cluster_id")).agg(min(col("doc_id")).as("train_rep"))
    val contam = Dedup.contamination(docs, evalPred)
    val rep = TextAnalysis.repetition(docs)
    val cover = Dedup.winnowCopyCoverage(docs)
    val samp = Sampling.stratified(
      TextAnalysis.langId(docs).select(col("doc_id"), col("pred_lang")),
      col("pred_lang"), rates, defaultRate)
    contam.select(col("doc_id"), col("contaminated"))
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"))
      .join(trainRep, Seq("cluster_id"))
      .join(rep.select(col("doc_id"), col("n_tokens"),
        col("dup_token_frac"), col("top_ngram_frac")), Seq("doc_id"))
      .join(cover.select(col("doc_id"), col("copy_frac")), Seq("doc_id"))
      .join(samp.select(col("doc_id"), lit(true).as("in_sample")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        (col("doc_id") === col("train_rep")).as("is_rep"),
        (!col("contaminated")).as("clean"),
        (col("n_tokens") >= minTokens).as("ok_len"),
        (col("top_ngram_frac") <= maxTopNgram &&
          col("dup_token_frac") <= maxDupToken).as("ok_rep"),
        (col("copy_frac") <= maxCopyFrac).as("ok_copy"),
        coalesce(col("in_sample"), lit(false)).as("sampled"))
      .withColumn("keep",
        col("is_rep") && col("clean") && col("ok_len") && col("ok_rep") &&
          col("ok_copy") && col("sampled"))
  }

  /** The [[keepList]] gate parameters as a manifest params map — every
    * knob that shapes the verdict, doubles scaled to e6 fixed-point so
    * the map stays integral. The eval predicate is NOT encodable here;
    * it is part of what a `path` MEANS (one artifact slot per
    * (corpus, eval-split) pair), same as the index paths.
    */
  private def keepParams(rates: Map[String, Double], defaultRate: Double,
      k: Int, bands: Int, threshold: Double, maxBucket: Long, maxDf: Long,
      minTokens: Int, maxTopNgram: Double, maxDupToken: Double,
      maxCopyFrac: Double): Map[String, Long] =
    Map("k" -> k.toLong, "bands" -> bands.toLong,
      "threshold_e6" -> (threshold * 1e6).round,
      "max_bucket" -> maxBucket, "max_df" -> maxDf,
      "min_tokens" -> minTokens.toLong,
      "max_top_ngram_e6" -> (maxTopNgram * 1e6).round,
      "max_dup_token_e6" -> (maxDupToken * 1e6).round,
      "max_copy_frac_e6" -> (maxCopyFrac * 1e6).round,
      "default_rate_e6" -> (defaultRate * 1e6).round) ++
      rates.map { case (l, r) => s"rate_$l" -> (r * 1e6).round }

  /** PERSIST the d19 verdict (the d44/e31 build-once pattern applied to
    * curation): [[keepList]] computed once, written as parquet under
    * `path/verdict` with an [[IndexManifest]] recording every gate
    * parameter and the corpus watermark. The verdict is the artifact a
    * curation run actually publishes — every consumer (drop-accounting
    * dashboards, the sampler, the pack planner) reads THIS, not a
    * re-derivation of the whole chain. Columns are (doc_id + booleans)
    * only, so the parquet round trip is trivially bit-exact.
    */
  def saveKeepList(docs: DataFrame, evalPred: Column,
      rates: Map[String, Double], defaultRate: Double,
      k: Int, bands: Int, threshold: Double,
      maxBucket: Long, maxDf: Long, path: String,
      minTokens: Int = 20, maxTopNgram: Double = 0.2,
      maxDupToken: Double = 0.8, maxCopyFrac: Double = 0.5): Unit = {
    IndexManifest.rebuild(path, "keep-list", false, docs, "doc_id",
      _ => keepParams(rates, defaultRate, k, bands, threshold, maxBucket,
        maxDf, minTokens, maxTopNgram, maxDupToken, maxCopyFrac))(
      () => keepList(docs, evalPred, rates, defaultRate, k, bands, threshold,
          maxBucket, maxDf, minTokens, maxTopNgram, maxDupToken, maxCopyFrac)
        .write.mode("overwrite").parquet(s"$path/verdict"))
  }

  /** Read a persisted verdict — manifest-gated (kind check; a missing
    * manifest fails loudly, same contract as the index loaders).
    */
  def loadKeepList(spark: SparkSession, path: String): DataFrame = {
    IndexManifest.require(path, "keep-list")
    Tables.readParquet(spark, s"$path/verdict")
  }

  /** The verdict as a CACHE: serve `path`'s artifact when its manifest
    * matches these exact gate params AND the current corpus watermark;
    * otherwise (re)build it first. This is what makes the artifact
    * pattern safe to put under REGISTERED queries — no ordering
    * dependency between rows (whichever consumer runs first pays the
    * build; the rest scan), and no stale serve (corpus growth or a
    * params change misses the manifest and rebuilds). The staleness
    * check costs one count/max agg over doc ids — watermark-scale.
    */
  def keepListCached(docs: DataFrame, evalPred: Column,
      rates: Map[String, Double], defaultRate: Double,
      k: Int, bands: Int, threshold: Double,
      maxBucket: Long, maxDf: Long, path: String,
      minTokens: Int = 20, maxTopNgram: Double = 0.2,
      maxDupToken: Double = 0.8, maxCopyFrac: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    val params = keepParams(rates, defaultRate, k, bands, threshold,
      maxBucket, maxDf, minTokens, maxTopNgram, maxDupToken, maxCopyFrac)
    val hit = try {
      val m = IndexManifest.require(path, "keep-list", params)
      // require() checks our params exist in the manifest; equality of
      // the full key needs the reverse too (a manifest with EXTRA rate
      // strata is a different verdict)
      m.params == params && IndexManifest.isFresh(path, docs, "doc_id")
    } catch { case _: graft.sources.IndexManifestException => false }
    if (!hit)
      saveKeepList(docs, evalPred, rates, defaultRate, k, bands, threshold,
        maxBucket, maxDf, path, minTokens, maxTopNgram, maxDupToken, maxCopyFrac)
    loadKeepList(spark, path)
  }

  /** The FULL curation verdict (d85's composition as one frame): the
    * [[keepList]] verdict AND the d46 perplexity tier AND the d86
    * classifier top-half cut, joined per train doc into the final
    * selection `keep AND tier <> 'tail' AND cls_keep` — the CCNet
    * head+middle convention under a trained quality budget. Each leg is
    * the registered operator verbatim, so the composition cannot drift
    * from its parts. Returns
    * (doc_id, curation_keep, tier, cls_keep, selected).
    */
  def fullVerdict(docs: DataFrame, keepVerdict: DataFrame, lmScale: Int,
      clsLabel: Column, clsBuckets: Int, clsPasses: Int): DataFrame = {
    val keep = keepVerdict.select(col("doc_id"), col("keep").as("curation_keep"))
    val tier = TextAnalysis.perplexityTiers(docs, lmScale)
      .select(col("doc_id"), col("tier"))
    val cls = Classifier.classifySelectTop(docs, clsLabel, clsBuckets, clsPasses)
      .select(col("doc_id"), col("selected").as("cls_keep"))
    keep.join(tier, Seq("doc_id")).join(cls, Seq("doc_id"))
      .withColumn("selected",
        col("curation_keep") && col("tier") =!= "tail" && col("cls_keep"))
  }

  /** The [[fullVerdict]] as a persisted, manifest-gated ARTIFACT (the
    * keepListCached pattern one level up): built once per
    * (corpus, params) version at `path`, served from parquet by every
    * consumer — the d85 registered row, the d88 curated-store build,
    * any selection-driven sampler — instead of each re-deriving the
    * classifier + tier + keep chains (the same move that took d19 from
    * re-derivation to a 0.3 s artifact read in round 9). The manifest
    * params are the keep-list gate params PLUS the tier/classifier
    * knobs, so ANY knob drift (or corpus growth) misses the cache and
    * rebuilds; the keep leg itself rides [[keepListCached]] at
    * `keepPath`, so a warm full-verdict build reuses a warm keep
    * artifact. Eval predicate and classifier label are part of what the
    * paths MEAN (the keepParams convention).
    */
  def fullVerdictCached(docs: DataFrame, evalPred: Column,
      rates: Map[String, Double], defaultRate: Double,
      k: Int, bands: Int, threshold: Double,
      maxBucket: Long, maxDf: Long,
      lmScale: Int, clsLabel: Column, clsBuckets: Int, clsPasses: Int,
      keepPath: String, path: String,
      minTokens: Int = 20, maxTopNgram: Double = 0.2,
      maxDupToken: Double = 0.8, maxCopyFrac: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    val params = keepParams(rates, defaultRate, k, bands, threshold,
      maxBucket, maxDf, minTokens, maxTopNgram, maxDupToken, maxCopyFrac) ++
      Map("lm_scale" -> lmScale.toLong, "cls_buckets" -> clsBuckets.toLong,
        "cls_passes" -> clsPasses.toLong)
    val hit = try {
      val m = IndexManifest.require(path, "curation", params)
      m.params == params && IndexManifest.isFresh(path, docs, "doc_id")
    } catch { case _: graft.sources.IndexManifestException => false }
    if (!hit) {
      val keep = keepListCached(docs, evalPred, rates, defaultRate, k, bands,
        threshold, maxBucket, maxDf, keepPath, minTokens, maxTopNgram,
        maxDupToken, maxCopyFrac)
      IndexManifest.rebuild(path, "curation", false, docs, "doc_id", _ => params)(
        () => fullVerdict(docs, keep, lmScale, clsLabel, clsBuckets, clsPasses)
          .write.mode("overwrite").parquet(s"$path/verdict"))
    }
    IndexManifest.require(path, "curation")
    Tables.readParquet(spark, s"$path/verdict")
  }

  /** Drop accounting for the COMPOSED pipeline (d93) — [[keepSummary]]'s
    * reading one level up, over a [[fullVerdict]] frame: how many train
    * docs each of the three legs admits (keep-list, head/middle tier,
    * classifier top-half) and how many survive the conjunction — the
    * numbers an operator compares across corpus versions to see WHICH
    * leg moved when the selected count jumps. One map-side-combined
    * aggregate over the persisted verdict artifact, 1 row out.
    */
  def fullVerdictSummary(verdict: DataFrame): DataFrame =
    verdict.agg(
      count(lit(1)).as("n_train"),
      sum(when(col("curation_keep"), 1L).otherwise(0L)).as("n_curation_keep"),
      sum(when(col("tier") === "head", 1L).otherwise(0L)).as("n_head"),
      sum(when(col("tier") === "middle", 1L).otherwise(0L)).as("n_middle"),
      sum(when(col("tier") === "tail", 1L).otherwise(0L)).as("n_tail"),
      sum(when(col("cls_keep"), 1L).otherwise(0L)).as("n_cls_keep"),
      sum(when(col("selected"), 1L).otherwise(0L)).as("n_selected"))

  /** The curation run's operational dashboard (d38): one row of
    * per-reason drop accounting over a [[keepList]] verdict — the
    * numbers an operator watches across corpus versions (a broken gate
    * shows up as a count jump long before anyone reads row-level
    * verdicts). Counts are per REASON, not per unique dropper: a doc
    * failing two gates increments both, which is the reading a
    * gate-health dashboard wants. One map-side-combined aggregate over
    * the verdict, 1 row out.
    */
  def keepSummary(verdict: DataFrame): DataFrame = {
    def drops(c: Column, name: String) =
      sum(when(!c, 1L).otherwise(0L)).as(name)
    verdict.agg(
      count(lit(1)).as("n_train"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
      drops(col("is_rep"), "n_dup"),
      drops(col("clean"), "n_contaminated"),
      drops(col("ok_len"), "n_short"),
      drops(col("ok_rep"), "n_repetitive"),
      drops(col("ok_copy"), "n_copied"),
      drops(col("sampled"), "n_unsampled"))
  }

  /** Sequence-packing plan — the concat-and-chunk packing step that
    * turns a curated corpus into fixed-length training sequences: docs
    * are concatenated in doc_id order and cut into `seqLen`-token
    * windows; each doc's `start_off` is the running token count before
    * it and `seq_idx` the window its first token lands in.
    *
    * A single global running sum would be one unbounded-window
    * partition — the classic scale trap — so the corpus is first split
    * into `nShards` independent streams by [[Dedup.hash60]] of doc_id
    * (deterministic, layout-independent, same construction as
    * [[Sampling]]), and the running sum is per-shard: `nShards`-way
    * parallel, one shuffle, and exactly how a 100 TB packing run writes
    * its output files anyway (one sequence stream per shard).
    *
    * Returns (doc_id, shard, n_tokens, start_off, seq_idx).
    */
  def packPlan(docs: DataFrame, nShards: Int = 8, seqLen: Int = 2048): DataFrame = {
    val t = docs.select(col("doc_id"),
      (Dedup.hash60(col("doc_id").cast("string")) % nShards).as("shard"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    t.withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // integer `div`, not double division + cast: a long→double round
      // trip rounds offsets past 2^53 and the contract is bit-identity
      .withColumn("seq_idx", expr(s"start_off div $seqLen"))
  }

  /** Context-window chunking plan — the doc→training-example split for
    * models with a fixed context: each document becomes overlapping
    * `chunkTokens`-token windows advancing by `strideTokens`
    * (overlap = chunk − stride), the standard retrieval/embedding
    * chunking shape. Short docs yield exactly one (possibly short)
    * chunk; a trailing window shorter than a full chunk is kept (its
    * `tok_len` says so), and no window starts at-or-past the end — so
    * `n_chunks = 1` if `n ≤ chunk` else `⌈(n − chunk)/stride⌉ + 1`.
    *
    * Purely per-row work: tokenize once, explode the chunk index
    * sequence, slice — no shuffle anywhere, embarrassingly parallel at
    * any corpus size (output order is whatever the caller sorts by).
    * The `chunk_digest` (md5 of the space-rejoined token slice) makes
    * the plan END-TO-END verifiable: a off-by-one in the slice
    * arithmetic breaks the oracle hash, not just a count.
    *
    * All arithmetic is integer (`div`, not double division — offsets
    * stay exact past 2^53). Returns (doc_id, chunk_idx, tok_start
    * 0-based, tok_len, chunk_digest).
    */
  def chunkPlan(docs: DataFrame, chunkTokens: Int = 64,
      strideTokens: Int = 48): DataFrame = {
    require(chunkTokens > 0 && strideTokens > 0 && strideTokens <= chunkTokens,
      s"need 0 < stride <= chunk, got chunk=$chunkTokens stride=$strideTokens")
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("n_chunks",
        when(col("n_tokens") <= chunkTokens, lit(1L))
          .otherwise(expr(
            s"(n_tokens - $chunkTokens + ${strideTokens - 1}) div $strideTokens") + lit(1L)))
      .withColumn("chunk_idx", explode(expr("sequence(0L, n_chunks - 1)")))
      .withColumn("tok_start", col("chunk_idx") * strideTokens)
      .withColumn("tok_len", least(lit(chunkTokens.toLong), col("n_tokens") - col("tok_start")))
      .select(col("doc_id"), col("chunk_idx"), col("tok_start"), col("tok_len"),
        md5(concat_ws(" ",
          slice(col("w"), (col("tok_start") + 1).cast("int"), col("tok_len").cast("int"))))
          .as("chunk_digest"))
  }

  /** Content-defined chunking plan — the edit-robust sibling of
    * [[chunkPlan]]: chunk boundaries are decided by the CONTENT
    * (split after any token whose [[Dedup.hash60]] ≡ 0 mod
    * `modulus`), not by fixed offsets, so inserting or deleting a token
    * reshapes only the chunk it lands in — every later chunk's bytes
    * (and digest) are unchanged. That stability is the whole point:
    * chunk digests become join keys for incremental dedup across
    * corpus versions (the rsync/LBFS/CDC trick applied to tokens),
    * where fixed-stride windows would shift every digest after one
    * edit. Expected chunk length = `modulus` tokens; a doc with no
    * boundary token is one chunk.
    *
    * Pure per-row ARRAY work — boundary positions, chunk starts and
    * lengths are linear `filter`/`transform`/`zip_with` passes over the
    * token array, then one `posexplode`: zero shuffles at any corpus
    * size (same plan guarantee as [[chunkPlan]], spec-guarded). The
    * md5 `chunk_digest` makes the slice arithmetic oracle-verifiable
    * end-to-end. Returns (doc_id, chunk_idx, tok_start, tok_len,
    * chunk_digest).
    */
  def cdcChunks(docs: DataFrame, modulus: Int = 8): DataFrame = {
    require(modulus > 0, s"modulus must be positive, got $modulus")
    val hashTok = // hash60 of the token at 0-based position i, inline form
      s"conv(substring(md5(element_at(w, i + 1)), 1, 15), 16, 10) % ${modulus}L = 0"
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")))
      // chunk starts: position 0 plus every boundary-successor still in range
      .withColumn("starts", expr(
        s"filter(concat(array(0), transform(filter(sequence(0, n - 1), i -> $hashTok), b -> b + 1)), s -> s < n)"))
      .withColumn("ends", expr("concat(slice(starts, 2, size(starts) - 1), array(n))"))
      .select(col("doc_id"), col("w"),
        posexplode(expr("zip_with(starts, ends, (s, e) -> struct(s AS ts, e AS te))")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col.ts").cast("long").as("tok_start"),
        (col("col.te") - col("col.ts")).cast("long").as("tok_len"),
        md5(concat_ws(" ",
          expr("slice(w, col.ts + 1, col.te - col.ts)"))).as("chunk_digest"))
  }

  /** Mixture-target sampling SCHEDULE — the inverse of
    * [[mixtureStats]]: given the measured per-stratum token counts, a
    * target share per stratum, and a token budget (`budgetFrac` of the
    * corpus), emit the per-stratum keep rate that realizes the target:
    * `rate = min(1, budget·target / tokens)` — capped at 1 because a
    * stratum cannot yield more tokens than it has (the under-resourced-
    * language case; production pipelines then upsample or re-normalize,
    * a policy choice left to the caller, who can read the shortfall off
    * `exp_tokens`). Feed the rates to [[Sampling.stratified]] for the
    * reproducible membership decision.
    *
    * One groupBy (inherited from the stats input) + a single-row
    * broadcast — scale-free. Targets fold in listed order with `0.0`
    * for unlisted strata (explicitly dropped), mirroring the oracle's
    * CASE. Returns (stratum, n_docs, n_tokens, target_share, rate,
    * exp_tokens).
    */
  def mixSchedule(stats: DataFrame, targets: Seq[(String, Double)],
      budgetFrac: Double): DataFrame = {
    val tot = stats.agg(sum(col("n_tokens")).as("tot_tokens"))
    val target = targets.foldLeft(lit(0.0)) { case (acc, (s, t)) =>
      when(col("stratum") === s, lit(t)).otherwise(acc)
    }
    stats.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_docs"), col("n_tokens"),
        target.as("target_share"),
        least(lit(1.0),
          lit(budgetFrac) * col("tot_tokens").cast("double") * target /
            col("n_tokens").cast("double")).as("rate"))
      .withColumn("exp_tokens", col("rate") * col("n_tokens").cast("double"))
  }

  /** UniMax epoch-capped mixture allocation (d65) — Chung et al. 2023
    * ("UniMax: Fairer and More Effective Language Sampling"): spread a
    * token budget as UNIFORMLY as possible across strata while capping
    * each stratum at `maxEpochs` passes over its own tokens —
    * waterfilling in ascending-cap order, where the i-th visited
    * stratum takes min(cap, remaining / strata_left) and a capped
    * stratum's unused share redistributes to the rest automatically.
    * Contrast [[mixSchedule]], which chases EXTERNAL target shares;
    * UniMax's target is uniformity subject to the repetition cap.
    *
    * Deterministic and oracle-exact: the visit order (cap, stratum) is
    * total, and every arithmetic step — budget product, per-stage
    * divide, min, sequential subtraction — is one IEEE op mirrored by
    * the oracle's chained stages in the same association. The stats
    * table has #strata rows (driver-resident by definition — the
    * k-means discipline); the corpus-scale work is [[mixtureStats]]'
    * one aggregation. Returns
    * (stratum, n_tokens, cap_tokens, alloc_tokens, epochs).
    */
  def unimaxMixture(docs: DataFrame, strata: Column, budgetFrac: Double,
      maxEpochs: Double): DataFrame = {
    require(budgetFrac > 0 && maxEpochs > 0, s"$budgetFrac/$maxEpochs")
    val rows = mixtureStats(docs, strata)
      .select(col("stratum"), col("n_tokens")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(rows.nonEmpty, "unimaxMixture: no strata")
    // a NULL stratum would corrupt every downstream consumer quietly —
    // the allocation CASE never matches it (NULL equality) and the
    // per-stratum equi-joins drop its docs — so it fails HERE, loudly
    require(rows.forall(_._1 != null),
      "unimaxMixture: NULL stratum — every document must map to a stratum")
    var remaining = rows.map(_._2).sum.toDouble * budgetFrac
    val sorted = rows.map { case (s, n) => (s, n, n.toDouble * maxEpochs) }
      .sortBy { case (s, _, cap) => (cap, s) }
    val out = sorted.zipWithIndex.map { case ((s, n, cap), i) =>
      val alloc = math.min(cap, remaining / (sorted.length - i))
      remaining -= alloc
      (s, n, cap, alloc, alloc / n.toDouble)
    }
    docs.sparkSession.createDataFrame(out.toSeq)
      .toDF("stratum", "n_tokens", "cap_tokens", "alloc_tokens", "epochs")
  }

  /** UniMax REALIZATION (d82) — the selection half of [[unimaxMixture]]:
    * turn each stratum's allocated token budget into an actual
    * document keep-list, deterministically. Docs visit in the shared
    * hash60 shuffle order WITHIN their stratum, and a doc is selected
    * iff its stratum-local token-stream position starts strictly below
    * the stratum's allocation — the boundary doc rides the budget
    * (overshoot ≤ one document tail, the d47 convention). Allocations
    * above 1.0 epochs mean dataloader REPETITION of the selected set,
    * not extra selection: with epochs ≥ 1 every doc in the stratum
    * starts below its own total and is selected, which is exactly
    * UniMax's semantics (the cap limits repetition, not membership).
    *
    * The per-stratum stream position is the d47 bucketed prefix sum
    * run PER STRATUM: running sums from a (stratum, bucket)-partitioned
    * window, per-bucket offsets from each stratum's tiny bucket-totals
    * table — never a single-partition corpus window. The allocation
    * table is #strata rows collected from [[unimaxMixture]] and folded
    * back as a literal CASE (the driver-constant discipline: every
    * collected value originates from distributed computation).
    *
    * Returns (doc_id, stratum, n_tokens, start_tok, selected).
    */
  def unimaxSelect(docs: DataFrame, strata: Column, budgetFrac: Double,
      maxEpochs: Double, bucketBits: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketBits > 0 && bucketBits < 60, s"bucketBits=$bucketBits")
    val alloc = unimaxMixture(docs, strata, budgetFrac, maxEpochs)
      .select(col("stratum"), col("alloc_tokens")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    // The fallback for a stratum absent from the allocation table (only
    // reachable via a NULL stratum — allocations derive from these same
    // docs) must fail LOUDLY: a NaN fallback would silently select every
    // such doc (start_tok < NaN is true under Spark's NaN-greatest
    // ordering), a budget bypass.
    val allocCase = alloc.foldLeft(
      raise_error(concat(lit("unimaxSelect: stratum without allocation: "),
        coalesce(col("stratum").cast("string"), lit("NULL")))).cast("double")
    ) { case (acc, (s, a)) =>
      when(col("stratum") === s, lit(a)).otherwise(acc)
    }
    val base = docs.select(col("doc_id"), strata.as("stratum"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        Dedup.hash60(col("doc_id").cast("string")).as("k"))
      .withColumn("bkt", expr(s"shiftright(k, ${60 - bucketBits})"))
      .localCheckpoint(true)
    val inBkt = Window.partitionBy(col("stratum"), col("bkt"))
      .orderBy(col("k"), col("doc_id"))
    val withCum = base.withColumn("cum", sum(col("n_tokens")).over(inBkt))
    val totals = withCum.groupBy(col("stratum"), col("bkt"))
      .agg(max(col("cum")).as("bt"))
    val offsets = totals.select(col("stratum"), col("bkt"),
      (sum(col("bt")).over(
        Window.partitionBy(col("stratum")).orderBy(col("bkt"))) - col("bt"))
        .as("off"))
    withCum.join(offsets, Seq("stratum", "bkt"))
      .select(col("doc_id"), col("stratum"), col("n_tokens"),
        (col("off") + col("cum") - col("n_tokens")).cast("long").as("start_tok"))
      .withColumn("selected", col("start_tok").cast("double") < allocCase)
  }

  /** Temperature-scaled mixture weights (d71) — the OTHER published
    * multilingual sampling law (exponentiated-count smoothing, the
    * mBERT/XLM-R rule; Conneau et al. 2020 use α = 0.3): stratum
    * probability `p_s ∝ n_s^α`, flattening the natural token
    * distribution toward uniform as α → 0. Complements [[unimaxMixture]]
    * — UniMax caps repetition per stratum, temperature scaling smooths
    * proportionally with no cap (small strata can exceed maxEpochs,
    * which is exactly the over-sampling pathology UniMax was published
    * against; registering both makes the trade auditable on one corpus).
    *
    * Scale shape: one partial-aggregated groupBy on the stratum, then
    * strata-scale arithmetic under a broadcast single-row total. The
    * `n^α` pow lands in DECIMAL(28,8) (the cross-engine transcendental
    * device) so the normalizing sum is exact; every later step is one
    * IEEE double op in a fixed association, mirrored in the oracle.
    *
    * Returns (stratum, n_tokens, pow_alpha, p_frac, exp_tokens,
    * epochs): sampling probability, expected token draw under
    * `total·budgetFrac`, and the implied repetition rate.
    */
  def temperatureMixture(docs: DataFrame, strata: Column, alpha: Double,
      budgetFrac: Double): DataFrame = {
    require(alpha > 0 && budgetFrac > 0, s"$alpha/$budgetFrac")
    val per = docs.select(strata.as("stratum"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("stratum"))
      .agg(sum(col("n_tokens")).as("n_tokens"))
      .withColumn("pow_alpha",
        pow(col("n_tokens").cast("double"), lit(alpha)).cast("decimal(28,8)"))
    val tot = per.agg(sum(col("pow_alpha")).as("pa_tot"),
      sum(col("n_tokens")).as("tok_tot"))
    val pFrac = col("pow_alpha").cast("double") / col("pa_tot").cast("double")
    per.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_tokens"),
        // expose the quantized pow as DOUBLE (decimal→double is the
        // same nearest-double in both engines); the DECIMAL stays the
        // internal device for the exact normalizing sum
        col("pow_alpha").cast("double").as("pow_alpha"),
        pFrac.as("p_frac"),
        ((col("tok_tot").cast("double") * lit(budgetFrac)) * pFrac)
          .as("exp_tokens"),
        (((col("tok_tot").cast("double") * lit(budgetFrac)) * pFrac)
          / col("n_tokens").cast("double")).as("epochs"))
  }

  /** Per-stratum mixture statistics — the doc/token counts and corpus
    * shares that set (or audit) sampling weights for a training
    * mixture. One partial-aggregated groupBy on the stratum plus a
    * broadcast of the single-row total; shares are one integer-derived
    * divide each, bit-identical in the oracle.
    *
    * Returns (stratum, n_docs, n_tokens, token_share) — share of the
    * corpus' tokens carried by the stratum.
    */
  /** Cross-modal verdict propagation (d118): filter a sibling
    * modality's table (embeddings, media, captions) down to the rows
    * whose PARENT document survived the curation verdict — the
    * referential-cleanup step every multimodal pipeline runs after
    * text curation, or dropped documents leak back in through their
    * other modalities at training time. One left-semi equi-join on the
    * shared id; the verdict side is corpus-scale, so no broadcast hint
    * (AQE decides at toy SF, shuffle is the correct degradation at
    * 100 TB — the cutSpans reasoning).
    */
  def propagateKeep(keepList: DataFrame, side: DataFrame,
      idCol: String): DataFrame =
    side.join(keepList.filter(col("keep")).select(col("doc_id")),
      side(idCol) === col("doc_id"), "left_semi")

  def mixtureStats(docs: DataFrame, strata: Column): DataFrame = {
    val per = docs.select(strata.as("stratum"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot_tokens")).as("token_share"))
  }
}
