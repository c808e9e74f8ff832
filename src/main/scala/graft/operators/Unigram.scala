package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer (Kudo 2018, the SentencePiece "unigram"
  * model) — the OTHER standard trained tokenizer family beside BPE
  * (d58-d66): instead of greedily merging pairs, hold a candidate piece
  * vocabulary with costs and segment each word by VITERBI (cheapest
  * composition of pieces), then re-estimate piece costs from the
  * segmentations (hard-EM — the deterministic Viterbi-count variant of
  * the paper's EM; same fixed-point shape, no forward-backward floats).
  *
  * Everything runs over the wc-weighted VOCABULARY, never the token
  * stream (the d58/d59 BPE device): seed candidates are all substrings
  * of length ≤ `maxPieceLen` of the distinct words; the Viterbi DP is
  * `maxWordLen` rounds of vocabulary-scale joins (states (word, j)
  * extend by pieces ending at j); re-counts explode best paths back to
  * pieces weighted by word frequency. At 100 TB the vocabulary is
  * millions of rows against a corpus of trillions of tokens — the DP
  * never touches the corpus, and the final encode is one equi-join of
  * the token stream against the broadcast segmentation map.
  *
  * Cross-engine exactness: piece costs are ln-ratios of exact BIGINT
  * counts quantized at DECIMAL(28,8) (the repo's ln device); path costs
  * are exact decimal sums; the best path per (word, position) is the
  * (cost, n_pieces, path-string) argmin — a total order both engines
  * share, so ties cannot drift. The oracle enumerates ALL compositions
  * per word with a recursive CTE (words are short; compositions with
  * parts ≤ L are Fibonacci-ish in length) and takes the same argmin —
  * an independently-computed fixed point, not a DP transcription.
  */
object Unigram {

  /** (word, wc, wlen) distinct words with corpus frequencies. */
  private def vocab(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .withColumn("wlen", length(col("word")))

  /** Seed model: every substring of length 1..L of every word, counted
    * with the word's frequency (each occurrence position counts);
    * cost = ln(total/cnt) at DECIMAL(28,8).
    */
  private def seedModel(words: DataFrame, maxPieceLen: Int): DataFrame = {
    val subs = words
      .withColumn("i", explode(expr("sequence(0, wlen - 1)")))
      .withColumn("l", explode(expr(
        s"sequence(1, least($maxPieceLen, wlen - i))")))
      .select(expr("substring(word, i + 1, l)").as("piece"), col("wc"))
    val cnts = subs.groupBy(col("piece")).agg(sum(col("wc")).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("tot"))
    cnts.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt").cast("long").as("cnt"), expr(
        "CAST(ln(CAST(tot AS DOUBLE) / CAST(cnt AS DOUBLE)) AS DECIMAL(28,8))")
        .as("nll"))
  }

  /** Viterbi best segmentation of every word under `model(piece, nll)`:
    * DP states (word, j) for j = 0..wlen, extended j-at-a-time by
    * pieces ending at j (length ≤ L); per (word, j) the
    * (cost, np, path) argmin survives. Returns one row per word:
    * (word, wc, wlen, cost, np, path) with path = "|p1|p2|…".
    */
  private def viterbi(words: DataFrame, model: DataFrame, maxWordLen: Int,
      maxPieceLen: Int): DataFrame = {
    var best = words.select(col("word"), col("wc"), col("wlen"),
      lit(0).as("j"), expr("CAST(0 AS DECIMAL(28,8))").as("cost"),
      lit(0).as("np"), lit("").as("path"))
    for (j <- 1 to maxWordLen) {
      val ext = best
        .filter(col("j") >= j - maxPieceLen && col("j") < j &&
          col("wlen") >= j)
        .withColumn("piece", expr(s"substring(word, j + 1, $j - j)"))
        .join(model.select(col("piece"), col("nll")), Seq("piece"))
        .select(col("word"), col("wc"), col("wlen"), lit(j).as("j"),
          (col("cost") + col("nll")).cast("decimal(28,8)").as("cost"),
          (col("np") + 1).as("np"),
          concat(col("path"), lit("|"), col("piece")).as("path"))
      val w = Window.partitionBy(col("word"))
        .orderBy(col("cost"), col("np"), col("path"))
      val bestJ = ext.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      best = best.unionByName(bestJ).localCheckpoint(true)
    }
    best.filter(col("j") === col("wlen"))
      .select(col("word"), col("wc"), col("wlen"), col("cost"), col("np"),
        col("path"))
  }

  /** Re-estimated model from Viterbi segmentations: piece counts are
    * path occurrences weighted by wc; survivors are used pieces PLUS
    * every single character (coverage guarantee — SentencePiece never
    * prunes length-1); costs are add-one smoothed so zero-count
    * single-chars stay finite: nll = ln((tot + V)/(cnt + 1)).
    */
  private def reestimate(segs: DataFrame, seed: DataFrame): DataFrame = {
    val used = segs
      .select(col("wc"), explode(split(expr("substring(path, 2)"), "\\|"))
        .as("piece"))
      .groupBy(col("piece")).agg(sum(col("wc")).as("cnt"))
    val base = seed.filter(length(col("piece")) === 1)
      .select(col("piece"))
      .join(used, Seq("piece"), "left_outer")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .unionByName(used.join(
        seed.filter(length(col("piece")) === 1).select(col("piece")),
        Seq("piece"), "left_anti"))
    val consts = base.agg(sum(col("cnt")).as("tot"),
      count(lit(1)).as("v"))
    base.crossJoin(broadcast(consts))
      .select(col("piece"), col("cnt").cast("long").as("cnt"), expr(
        "CAST(ln(CAST(tot + v AS DOUBLE) / CAST(cnt + 1 AS DOUBLE)) AS DECIMAL(28,8))")
        .as("nll"))
  }

  /** Train the unigram tokenizer (d101): seed → `emRounds` ×
    * (Viterbi segment → re-count → re-cost). Returns the final model
    * (piece, cnt, nll) — cnt from the LAST segmentation pass, nll the
    * add-one cost the encoder uses.
    */
  def unigramTrain(docs: DataFrame, maxPieceLen: Int = 4,
      emRounds: Int = 2): DataFrame = {
    require(maxPieceLen >= 1 && emRounds >= 1,
      s"maxPieceLen=$maxPieceLen emRounds=$emRounds")
    val words = vocab(docs).localCheckpoint(true)
    val maxWordLen = words.agg(max(col("wlen"))).head().getInt(0)
    val seed = seedModel(words, maxPieceLen).localCheckpoint(true)
    var model = seed
    for (_ <- 1 to emRounds) {
      val segs = viterbi(words, model, maxWordLen, maxPieceLen)
      model = reestimate(segs, seed).localCheckpoint(true)
    }
    model
  }

  /** Encode a corpus under an ALREADY-TRAINED model frame: Viterbi over
    * the target corpus's vocabulary, then one token-stream equi-join.
    * The shared serving tail of [[unigramEncode]] (in-memory model),
    * [[unigramEncodeIndexed]] (persisted model) and the d103 audit —
    * one code path, so no consumer can drift.
    */
  def encodeWithModel(docs: DataFrame, model: DataFrame,
      maxPieceLen: Int): DataFrame = {
    val words = vocab(docs).localCheckpoint(true)
    val maxWordLen = words.agg(max(col("wlen"))).head().getInt(0)
    val segMap = viterbi(words, model, maxWordLen, maxPieceLen)
      .select(col("word"), col("np"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(segMap, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("np")).cast("long").as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        (col("n_pieces").cast("double") / col("n_words")).as("fertility"))
  }

  /** Encode the corpus with the trained model (d102): per document, the
    * word count and the total piece count under the final Viterbi
    * segmentation — the tokenizer-fertility audit (pieces per word)
    * training pipelines track. One equi-join of the token stream
    * against the vocabulary-scale segmentation map. Returns
    * (doc_id, n_words, n_pieces, fertility).
    */
  def unigramEncode(docs: DataFrame, maxPieceLen: Int = 4,
      emRounds: Int = 2): DataFrame =
    encodeWithModel(docs, unigramTrain(docs, maxPieceLen, emRounds),
      maxPieceLen)

  /** The trained model as a persisted, manifest-gated artifact (the
    * keepListCached pattern): built once per (corpus, params) version
    * at `path`, read from parquet by every consumer — d101, d102, d103
    * and d104 all ride ONE slot per data directory; whichever runs
    * first pays the EM training.
    */
  def unigramModelCached(docs: DataFrame, path: String,
      maxPieceLen: Int = 4, emRounds: Int = 2): DataFrame = {
    import graft.sources.{IndexManifest, IndexManifestException}
    val spark = docs.sparkSession
    val params = Map("max_piece_len" -> maxPieceLen.toLong,
      "em_rounds" -> emRounds.toLong)
    val hit = try {
      val m = IndexManifest.require(path, "unigram-lm", params)
      m.params == params && IndexManifest.isFresh(path, docs, "doc_id")
    } catch { case _: IndexManifestException => false }
    if (!hit) saveUnigramModel(docs, path, maxPieceLen, emRounds)
    Tables.readParquet(spark, s"$path/model")
  }

  /** Persist a trained unigram model (d104) — the tokenizer deployment
    * shape: train ONCE on a reference corpus, encode arbitrary corpora
    * forever (the [[graft.operators.TextAnalysis.saveBigramLm]]
    * convention: one parquet table + the shared index manifest, kind
    * "unigram-lm", params pinned so a mismatched reader fails loudly,
    * watermarked on the training corpus). Costs are persisted at
    * DECIMAL(28,8), so any engine that sums them reproduces
    * segmentations exactly.
    */
  def saveUnigramModel(docs: DataFrame, path: String, maxPieceLen: Int = 4,
      emRounds: Int = 2): Unit = {
    val words = vocab(docs).localCheckpoint(true)
    val maxWordLen = words.agg(max(col("wlen"))).head().getInt(0)
    val seed = seedModel(words, maxPieceLen).localCheckpoint(true)
    val model = (1 to emRounds).foldLeft(seed)((m, _) =>
      reestimate(viterbi(words, m, maxWordLen, maxPieceLen), seed)
        .localCheckpoint(true))
    graft.sources.IndexManifest.rebuild(path, "unigram-lm", false, docs, "doc_id",
      _ => Map("max_piece_len" -> maxPieceLen.toLong,
        "em_rounds" -> emRounds.toLong))(
      () => model.write.mode("overwrite").parquet(s"$path/model"),
      // the SEGMENTATION MAP is the serving artifact proper: a tokenizer
      // in production is a lookup table — encoding re-runs Viterbi only
      // for vocabulary the training corpus never saw
      () => viterbi(words, model, maxWordLen, maxPieceLen)
        .select(col("word"), col("np"))
        .write.mode("overwrite").parquet(s"$path/segmap"))
  }

  /** Encode a corpus against a persisted [[saveUnigramModel]] store
    * (d104): Viterbi over the TARGET corpus's vocabulary under the
    * stored costs (the training corpus is never re-read), then the
    * d102 token-stream join. Registered against d102's oracle verbatim
    * — persistence must not change a segmentation. Words containing
    * characters the model never saw have no composition and drop from
    * the inner join (the cross-domain OOV story is the caller's
    * byte-fallback policy; same contract as the stored BPE).
    */
  def unigramEncodeIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame): DataFrame = {
    val man = graft.sources.IndexManifest.require(path, "unigram-lm")
    val maxPieceLen = man.params("max_piece_len").toInt
    val stored = Tables.readParquet(spark, s"$path/segmap")
    val words = vocab(docs).localCheckpoint(true)
    val known = words.join(stored, Seq("word"))
      .select(col("word"), col("np"))
    // Viterbi ONLY over vocabulary the training corpus never saw —
    // for a same-domain corpus this is empty and encoding is pure
    // lookup (the production tokenizer shape); the emptiness probe is
    // one vocabulary-scale anti-join head()
    val unseen = words.join(stored.select(col("word")), Seq("word"), "left_anti")
    val segMap =
      if (unseen.isEmpty) known
      else {
        val maxWordLen = unseen.agg(max(col("wlen"))).head().getInt(0)
        known.unionByName(
          viterbi(unseen, Tables.readParquet(spark, s"$path/model"), maxWordLen,
            maxPieceLen)
            .select(col("word"), col("np")))
      }
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(segMap, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("np")).cast("long").as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        (col("n_pieces").cast("double") / col("n_words")).as("fertility"))
  }

  /** Head-to-head tokenizer audit (d103): corpus-level fertility of the
    * BPE merges (d61) vs a trained unigram `model` (pass
    * [[unigramModelCached]]'s frame — the registered row shares the
    * d104 artifact slot instead of retraining) — the comparison a
    * pipeline runs before committing to a tokenizer (fertility drives
    * context-window economics). One row: (n_words, n_tokens_bpe,
    * n_pieces_uni, bpe_fertility, uni_fertility); each fertility is
    * one double division of exact BIGINT sums.
    */
  def tokenizerCompare(docs: DataFrame, model: DataFrame,
      bpeMerges: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val b = TextAnalysis.bpeEncodeWith(docs, bpeMerges)
      .agg(sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_tokens_bpe")).cast("long").as("n_tokens_bpe"))
    val u = encodeWithModel(docs, model, maxPieceLen)
      .agg(sum(col("n_pieces")).cast("long").as("n_pieces_uni"))
    b.crossJoin(u).select(col("n_words"), col("n_tokens_bpe"),
      col("n_pieces_uni"),
      (col("n_tokens_bpe").cast("double") / col("n_words"))
        .as("bpe_fertility"),
      (col("n_pieces_uni").cast("double") / col("n_words"))
        .as("uni_fertility"))
  }
}
