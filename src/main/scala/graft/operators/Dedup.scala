package graft.operators

import graft.sources.Tables
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Document deduplication for training-data pipelines, designed for the
  * 100 TB path:
  *
  *  - exact:   one hash-shuffle on a content digest; no driver state.
  *  - MinHash LSH: shingle explode → k min-aggregates (map-side partial
  *    agg) → band keys → bucket self-join (pairs only meet inside a
  *    bucket — never all-pairs) → exact Jaccard verification restricted
  *    to candidates via the inverted shingle index.
  *  - SimHash: 64-bit signature via per-bit majority vote, one groupBy.
  *
  * Hash family: one md5 per shingle lifted to k universal-hash
  * permutations (see [[minhash]]). md5 and 64-bit modular arithmetic are
  * bit-identical across engines, so every stage is oracle-checkable
  * against DuckDB.
  *
  * The reference has no dedup surface (SURVEY.md §2.1); this is extension
  * territory per BASELINE.json's north star.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Word n-gram shingle stream: (doc_id, s) distinct. Docs shorter than
    * `n` tokens produce no shingles. See [[dfCapped]] for the hot-key
    * guard applied before inverted-index joins.
    *
    * Dedup happens per-row with `array_distinct` BEFORE the explode:
    * shingles are per-document, so a global `.distinct()` (a full
    * shuffle of the exploded stream — the dominant cost at corpus
    * scale) is equivalent to deduping inside each doc's shingle array.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    // widened: the md5-per-shingle stream below is the dedup family's
    // hottest scan-side kernel, and the bench-scale corpus is one row
    // group = one task (graft.sources.ScanParallelism doc)
    val tok = graft.sources.ScanParallelism.widen(docs)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
    tok.select(col("doc_id"),
      explode(expr(
        s"array_distinct(transform(sequence(1, size(w)-${n - 1}), i -> concat_ws(' ', slice(w, i, $n))))")).as("s"))
  }

  /** Cross-document line-level dedup (d63) — the MassiveText/C4-family
    * "duplicate line/paragraph removal across the corpus": every line
    * keeps its FIRST occurrence in (doc_id, line position) order and
    * later occurrences are removed — including within-document
    * repeats — and each document is rebuilt from its surviving lines
    * in original order. This is the granularity between [[exactGroups]]'
    * whole-document dedup and ExactSubstr's gram level: boilerplate
    * (headers, navigation, license blocks) dies corpus-wide while the
    * surrounding prose survives.
    *
    * Scale shape: first-occurrence is a row_number window PARTITIONED
    * BY the line text (partition size = a line's corpus frequency,
    * never the corpus — the same keyed shape a groupBy would shuffle;
    * a pathological mega-boilerplate line is AQE-skew territory), and
    * the rebuild is one per-doc aggregation collecting only surviving
    * (pos, line) pairs — sorted per doc, bounded by document size.
    * Returns (doc_id, n_lines, n_removed, text_out) with text_out = ''
    * when every line was a later duplicate.
    */
  def lineDedup(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("line")).orderBy(col("doc_id"), col("pos"))
    docs.select(col("doc_id"),
        posexplode(split(col("text"), "\n", -1)).as(Seq("pos", "line")))
      .withColumn("keep_line", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_lines"),
        sum(when(col("keep_line"), 0L).otherwise(1L)).cast("long").as("n_removed"),
        coalesce(array_join(transform(array_sort(collect_list(
          when(col("keep_line"), struct(col("pos"), col("line"))))),
          p => p.getField("line")), "\n"), lit("")).as("text_out"))
  }

  /** Exact dedup: canonical keeper (min doc_id) per content digest.
    * Single shuffle on the digest; skew-free (digests are uniform).
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), sha2(col("text"), 256).as("digest"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** First 60 bits of md5(x) as a non-negative Long — THE shared
    * cross-engine hash (DuckDB: `('0x' || substr(md5(x),1,15))::BIGINT`).
    * 15 hex chars is load-bearing: 16 would overflow a signed Long.
    * Every operator needing an oracle-exact hash must use this one
    * construction ([[hashedShingles]], [[graft.operators.Sampling]]).
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** JVM twin of [[hash60]] for state-side code (the streaming HLL
    * window folds events outside the SQL engine): first 15 hex chars
    * of the utf8 md5, parsed base-16 — spec-pinned equal to the Column
    * form so sketches built in either engine merge.
    */
  def hash60Jvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map("%02x".format(_)).mkString.substring(0, 15), 16)
  }

  /** Hashed shingle stream: each distinct (doc_id, shingle) as a 60-bit
    * md5-derived fingerprint ([[hash60]]).
    *
    * Everything downstream (minhash, df caps, the inverted-index
    * intersection joins) operates on this BIGINT instead of the shingle
    * string: shuffle rows shrink from ~30-byte strings to 8-byte longs
    * and key comparisons become integer equality. Collisions (~n²/2⁶¹)
    * are identical in both engines, so oracle hash-matching is
    * unaffected.
    */
  def hashedShingles(docs: DataFrame, n: Int = 3): DataFrame =
    shingles(docs, n).select(col("doc_id"), hash60(col("s")).as("hs"))

  /** Soft deduplication weights (d72) — the REWEIGHTING alternative to
    * hard removal ("SoftDedup", He et al. 2024): instead of dropping
    * near-duplicates, down-weight each document by its "commonness" —
    * how much of its n-gram content the rest of the corpus repeats —
    * and let the training sampler draw common documents less often.
    * Commonness here is the mean log document-frequency fraction of the
    * doc's distinct 3-gram shingles: `avg over grams of ln(df_g / N)`
    * (0 = every gram appears in every doc; very negative = unique
    * content). The published method feeds exp(·) of this into sampling
    * weights; like d53, exp is deliberately left out of the registered
    * contract (the ln lands in DECIMAL(28,8), the cross-engine device,
    * and the per-doc mean is one double divide).
    *
    * Scale shape: the df table is a map-side-combined count on the
    * 60-bit gram key; scoring re-joins the hashed shingle stream on the
    * same key — gram-vocabulary-scale equi-join, never broadcast
    * (explicit merge hint: the vocabulary grows with the corpus, so a
    * stats-driven broadcast at toy SF would become a 100 TB OOM), hot
    * boilerplate grams skew-split by AQE (the d45 model-join shape).
    * The doc count is a broadcast single-row total.
    *
    * Returns (doc_id, n_grams, log_commonness) for docs with ≥1
    * shingle (≥ 3 tokens — the [[shingles]] convention).
    */
  def softDedupWeights(docs: DataFrame, n: Int = 3): DataFrame = {
    val hs = hashedShingles(docs, n)
    val ndocs = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    val df = hs.groupBy(col("hs")).agg(count(lit(1)).cast("long").as("df"))
    hs.join(df.hint("merge"), Seq("hs")).crossJoin(broadcast(ndocs))
      .withColumn("lp", expr(
        "CAST(ln(CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS DECIMAL(28,8))"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"), sum(col("lp")).as("lp_sum"))
      .select(col("doc_id"), col("n_grams"),
        (col("lp_sum").cast("double") / col("n_grams")).as("log_commonness"))
  }

  /** Universal-hash MinHash family: ONE md5 per shingle (not k) feeds the
    * 60-bit base value; the k permutations are pure arithmetic
    * `(a_i·(hs mod P) + b_i) mod P` over the Mersenne prime P = 2³¹−1.
    * All operands stay below 2⁶² so the products never overflow a Long,
    * and every step is bit-identical in DuckDB for the oracle. ~8× less
    * hashing CPU than an md5-per-permutation family at the same
    * statistical quality.
    */
  val HashP: Long = 2147483647L
  def hashParams(i: Int): (Long, Long) = {
    val a = (1103515245L * (i + 1) + 12345L) % HashP
    val b = (69069L * (i + 1) + 1L) % HashP
    (if (a == 0L) 1L else a, b)
  }

  /** k MinHash values per doc over the hashed shingle stream:
    * mh_i = min over shingles of (a_i·(hs mod P) + b_i) mod P.
    */
  def minhash(hsh: DataFrame, k: Int): DataFrame = {
    val withH = hsh.select(col("doc_id"), (col("hs") % lit(HashP)).as("h"))
    val aggs = (0 until k).map { i =>
      val (a, b) = hashParams(i)
      min((lit(a) * col("h") + lit(b)) % lit(HashP)).as(s"mh$i")
    }
    withH.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Collapse a k-wide signature into `bands` band keys (rows of 2 hashes
    * hashed together). A pair agreeing on ANY band becomes a candidate.
    */
  def bandKeys(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"mh${b * rowsPerBand + r}").cast("string"))
      // '|' separator keeps the band key injective over the row values
      md5(concat_ws("|", parts: _*)).as(s"band$b")
    }
    sig.select(col("doc_id") +: bandCols: _*)
  }

  /** The LSH band stage behind [[lshCandidates]], [[lshBandCurve]] and
    * [[bandRows]]: long-format band rows (doc_id, bno, bkey) over the
    * first `nb` band columns of a banded signature. One posexplode pass
    * instead of an nb-way union, so the banded signature subtree is
    * evaluated once, not nb times.
    *
    * With `maxBucket`, rows of buckets holding more than that many docs
    * are dropped. The guard is a window count over (bno, bkey): ONE
    * exchange on exactly the keys a band self-join needs, so both join
    * sides reuse it — versus a groupBy + semi-join which adds two more
    * shuffles of the same data.
    */
  private def bandStage(banded: DataFrame, nb: Int,
      maxBucket: Option[Long] = None): DataFrame = {
    val long = banded.select(col("doc_id"),
      posexplode(array((0 until nb).map(b => col(s"band$b")): _*))
        .as(Seq("bno", "bkey")))
    maxBucket.fold(long) { cap =>
      long
        .withColumn("bucket_n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("bno"), col("bkey"))))
        .filter(col("bucket_n") <= cap)
        .drop("bucket_n")
    }
  }

  /** Candidate pairs (a < b) sharing at least one band bucket. The join is
    * keyed on (band position, band key) — a shuffle hash join whose
    * fan-out is bounded by bucket sizes, not the corpus size.
    *
    * `maxBucket` drops degenerate buckets (a bucket of n docs emits
    * n·(n−1)/2 pairs — one pathological key would otherwise go quadratic
    * at corpus scale). Documented recall trade-off; a no-op on healthy
    * data. Keep in lockstep with the oracle SQL.
    */
  def lshCandidates(banded: DataFrame, bands: Int,
      maxBucket: Long = 1000L): DataFrame = {
    val bounded = bandStage(banded, bands, Some(maxBucket))
    val x = bounded.as("x")
    val y = bounded.as("y")
    x.join(y, col("x.bno") === col("y.bno") && col("x.bkey") === col("y.bkey")
        && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Stop-shingle guard for the inverted-index join: keep only shingles
    * whose document frequency is ≤ `maxDf`. One shingle appearing in n
    * docs emits O(n²) join rows; capping df bounds the hottest key at
    * corpus scale (no-op on healthy data — keep in lockstep with the
    * oracle SQL). Jaccard is then defined over the capped shingle
    * universe, so cardinalities must come from the same capped stream.
    */
  def dfCapped(hsh: DataFrame, maxDf: Long): DataFrame = {
    val healthy = hsh.groupBy(col("hs")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("hs"))
    hsh.join(healthy, Seq("hs"), "left_semi")
  }

  /** Exact Jaccard over the (df-capped) hashed-shingle sets, restricted
    * to candidate pairs. The shingle stream is first semi-joined down to
    * docs that appear in any candidate pair, so the inverted-index join
    * only touches the near-dup cluster neighborhoods.
    */
  def jaccard(hsh0: DataFrame, cand: DataFrame, maxDf: Long = 10000L): DataFrame = {
    val hsh = dfCapped(hsh0, maxDf)
    val docsInCand = cand.select(col("a").as("doc_id"))
      .unionByName(cand.select(col("b").as("doc_id"))).distinct()
    val shc = hsh.join(docsInCand, Seq("doc_id"), "left_semi")
    val card = shc.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    val x = shc.as("x")
    val y = shc.as("y")
    val inter = x.join(y, col("x.hs") === col("y.hs") && col("x.doc_id") < col("y.doc_id"))
      .join(cand, col("x.doc_id") === cand("a") && col("y.doc_id") === cand("b"), "left_semi")
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(card.as("ca"), col("a") === col("ca.doc_id"))
      .join(card.as("cb"), col("b") === col("cb.doc_id"))
      .select(col("a"), col("b"),
        (col("i").cast("double") / (col("ca.c") + col("cb.c") - col("i"))).as("jaccard"))
  }

  /** End-to-end MinHash-LSH near-dup pairs with verified Jaccard ≥ threshold. */
  def lshNearDupPairs(docs: DataFrame, k: Int = 8, bands: Int = 4,
      threshold: Double = 0.5, maxBucket: Long = 1000L,
      maxDf: Long = 10000L): DataFrame = {
    // The hashed-shingle stream feeds four consumers (minhash,
    // cardinalities, both sides of the intersection self-join). Do NOT
    // persist it: caching replaces the parquet scan with an
    // InMemoryRelation, which breaks ReusedExchange across the self-join
    // branches and AQE's size-based planning — measured 3× slower than
    // letting Catalyst dedup the subtrees itself. Checkpointed: the
    // hashed shingle stream feeds the signature chain AND jaccard's
    // df-cap/cardinality/intersection legs — one md5 pass, not four.
    val hsh = graft.sources.ScanParallelism.shareSmall(hashedShingles(docs))
    val cand = lshCandidates(bandKeys(minhash(hsh, k), k, bands), bands, maxBucket)
    jaccard(hsh, cand, maxDf)
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("jaccard"))
  }

  /** Contrastive-triplet mining (d123) — the dataloader row an
    * embedding-model trainer consumes: for every document with at least
    * one verified near-duplicate, emit (anchor, positive, negative)
    * where the positive is the highest-Jaccard partner (ties on the
    * smaller id) and the negative a deterministic pseudo-random draw
    * over the id space (hash60("neg:"+anchor) mod n, stepping past the
    * anchor/positive — at most two steps, a CASE chain both engines
    * inline). Random-negative mining is the standard baseline; swapping
    * in hard negatives is a ranking change on the same frame.
    *
    * Scale shape: pairs come from [[lshNearDupPairs]] (banded LSH, never
    * all-pairs); the best-positive election is a window PARTITIONED by
    * anchor (key-partitioned); the negative draw is scan-side expression
    * work against one broadcast count row. Requires a contiguous
    * 0..n-1 doc_id space (the packed-corpus convention after curation
    * re-ids) so the modulo draw always lands on a real document.
    *
    * Returns (anchor, positive, jaccard_pos, negative).
    */
  def tripletMine(docs: DataFrame, k: Int = 8, bands: Int = 4,
      threshold: Double = 0.5, maxBucket: Long = 1000L,
      maxDf: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = lshNearDupPairs(docs, k, bands, threshold, maxBucket, maxDf)
    val sym = pairs
      .select(col("doc_a").as("anchor"), col("doc_b").as("p"), col("jaccard"))
      .unionByName(pairs
        .select(col("doc_b").as("anchor"), col("doc_a").as("p"), col("jaccard")))
    val w = Window.partitionBy(col("anchor"))
      .orderBy(col("jaccard").desc, col("p"))
    val best = sym.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val n = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    best.crossJoin(broadcast(n))
      .withColumn("h",
        pmod(hash60(concat(lit("neg:"), col("anchor").cast("string"))),
          col("n_docs")))
      .select(col("anchor"), col("p").as("positive"),
        col("jaccard").as("jaccard_pos"),
        when(col("h") =!= col("anchor") && col("h") =!= col("p"), col("h"))
          .otherwise(when(
            pmod(col("h") + 1L, col("n_docs")) =!= col("anchor") &&
              pmod(col("h") + 1L, col("n_docs")) =!= col("p"),
            pmod(col("h") + 1L, col("n_docs")))
            .otherwise(pmod(col("h") + 2L, col("n_docs"))))
          .cast("long").as("negative"))
  }

  /** Hard-negative triplet mining (d125) — the production upgrade of
    * [[tripletMine]]'s random negative: the hard negative for an anchor
    * is its most-similar embedding neighbor that is NOT a verified
    * near-duplicate — semantically close, lexically distinct, exactly
    * the contrastive examples that sharpen an embedding model.
    * Documents and embeddings share the 0..n-1 id space (the d117
    * convention).
    *
    * Scale shape: the candidate neighbors come from
    * [[Similarity.knnGraph]] (bucketed sign-projection ANN — never
    * all-pairs), the near-dup exclusion is one left-anti equi-join on
    * (anchor, neighbor), and the per-anchor argmax is a key-partitioned
    * window. `hard_negative` is NULL when every ANN neighbor of the
    * anchor is itself a near-dup (or the anchor's bucket is a
    * singleton) — consumers fall back to the random draw.
    *
    * Returns (anchor, positive, jaccard_pos, hard_negative, neg_cosine).
    */
  def tripletMineHard(docs: DataFrame, emb: DataFrame, k: Int = 8,
      bands: Int = 4, threshold: Double = 0.5, maxBucket: Long = 1000L,
      maxDf: Long = 10000L, knnK: Int = 3, bits: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = lshNearDupPairs(docs, k, bands, threshold, maxBucket, maxDf)
      .localCheckpoint(true) // feeds the election AND the exclusion
    val sym = pairs
      .select(col("doc_a").as("anchor"), col("doc_b").as("p"), col("jaccard"))
      .unionByName(pairs
        .select(col("doc_b").as("anchor"), col("doc_a").as("p"), col("jaccard")))
    val w = Window.partitionBy(col("anchor"))
      .orderBy(col("jaccard").desc, col("p"))
    val best = sym.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val knn = Similarity.knnGraph(emb, knnK, bits)
    val nonDup = knn.join(
      sym.select(col("anchor").as("vec_id"), col("p").as("neighbor_id")),
      Seq("vec_id", "neighbor_id"), "left_anti")
    val hw = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val hbest = nonDup.withColumn("hrn", row_number().over(hw))
      .filter(col("hrn") === 1)
      .select(col("vec_id").as("anchor"),
        col("neighbor_id").as("hard_negative"), col("cosine").as("neg_cosine"))
    best.join(hbest, Seq("anchor"), "left_outer")
      .select(col("anchor"), col("p").as("positive"),
        col("jaccard").as("jaccard_pos"), col("hard_negative"),
        col("neg_cosine"))
  }

  /** MinHash-ESTIMATED Jaccard over LSH candidate pairs — signature-only
    * scoring, NO shingle-intersection join.
    *
    * [[lshNearDupPairs]] verifies every candidate with an exact
    * inverted-index intersection: correct, but at corpus scale that join
    * re-shuffles the full shingle stream and is the pipeline's dominant
    * cost (the shingle stream is ~10-100× the signature store). The
    * production norm estimates Jaccard from signature agreement instead:
    * E[1(mh_i^a = mh_i^b)] = J(a,b), so
    * est = |{i : mh_i^a = mh_i^b}| / k is an unbiased estimator with
    * std-err sqrt(J(1-J)/k) — ≤ 0.0625 at k = 64. Scoring touches only
    * the O(docs) signature store (k longs per doc) via two equi-joins on
    * doc_id, and the per-pair work is O(k) codegen'd comparisons.
    *
    * Estimates are exact rationals n/k (k a power of two), so the double
    * division is bit-exact cross-engine. The signature family is the
    * same universal-hash construction as [[minhash]] — the oracle
    * regenerates it from identical constants. Wider k than the
    * candidate-mining default (64 vs 8) because estimation quality, not
    * bucket recall, is the product here; `bands` spreads the wider
    * signature 4 rows per band.
    *
    * Returns every candidate pair's estimate (no threshold — unlike the
    * verified path, downstream decides the cut): (doc_a, doc_b,
    * est_jaccard), doc_a < doc_b.
    */
  def minhashEstPairs(docs: DataFrame, k: Int = 64, bands: Int = 16,
      maxBucket: Long = 1000L): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    // checkpointed: the signature table feeds candidate mining AND both
    // sides of the agreement join — one shingle+md5+minhash pass
    val sig = minhash(hashedShingles(docs), k).localCheckpoint(true)
    val cand = lshCandidates(bandKeys(sig, k, bands), bands, maxBucket)
    val sa = sig.select(col("doc_id").as("a") +:
      (0 until k).map(i => col(s"mh$i").as(s"a_mh$i")): _*)
    val sb = sig.select(col("doc_id").as("b") +:
      (0 until k).map(i => col(s"mh$i").as(s"b_mh$i")): _*)
    val agree = (0 until k)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand.join(sa, Seq("a")).join(sb, Seq("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        (agree.cast("double") / lit(k)).as("est_jaccard"))
  }

  /** AGREEMENT between the MinHash estimator and exact Jaccard (d52) —
    * the measurement row the ANN families get from their recall devices
    * (e36/e40), applied to the dedup family: over one corpus slice,
    * every pair surfaced by EITHER path, with both scores and a status.
    *
    *  - `both`: the pair co-occurs in the (df-capped) shingle index AND
    *    banded into a shared bucket — |est − exact| here reads the k=64
    *    signature's resolution (expected ±1/√k ≈ 0.125).
    *  - `exact_only`: co-shingled but never banded — LSH's probabilistic
    *    miss at low Jaccard (the band-agreement probability j^(k/bands)
    *    collapses below j≈0.5), priced pair by pair.
    *  - `est_only`: banded but not co-shingled in the CAPPED index —
    *    stop-shingle mass the exact side's df guard removed, or a band
    *    chance collision. The asymmetry is real and documented, not a
    *    bug: the estimator deliberately signs over the UNCAPPED stream
    *    (the O(docs) signature store contains no df statistics).
    *
    * Exact side runs [[jaccardAll]] at threshold 0 (all co-occurring
    * pairs — the honest denominator; a thresholded exact side would
    * misread estimator misses below it as agreement). Quadratic in
    * bucket co-occurrence like every exact-reference path here — run on
    * a bounded slice (the d04 discipline); the registered row does.
    */
  def minhashAgreement(docs: DataFrame, k: Int = 64, bands: Int = 16,
      maxBucket: Long = 1000L, maxDf: Long = 10000L): DataFrame = {
    val exact = jaccardAll(docs, 0.0, maxDf)
    val est = minhashEstPairs(docs, k, bands, maxBucket)
    exact.join(est, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("est_jaccard"),
        when(col("jaccard").isNull, lit("est_only"))
          .when(col("est_jaccard").isNull, lit("exact_only"))
          .otherwise(lit("both")).as("status"))
  }

  /** SimHash near-dup pairs within a Hamming radius, via MULTI-INDEX
    * block candidates (the web-scale simhash-dedup construction): split
    * the 64-bit signature into `radius + 1` equal blocks — by
    * pigeonhole, two signatures within Hamming distance `radius` agree
    * on at least one whole block — join on (block position, block
    * value), then verify the exact `bit_count(xor)` distance on the
    * candidates only. FULL recall at the radius (the block equality is
    * implied, not probabilistic, unlike LSH banding) with candidate
    * volume Σ bucket² instead of n².
    *
    * Block width is 64/(radius+1) bits — 16 at the default radius 3, so
    * each block position has 2¹⁶ = 65,536 distinct values and the
    * expected bucket under a uniform signature is n/65,536: ~8 docs per
    * bucket at a 5×10⁵-doc corpus, and the default `maxBucket` = 1000
    * cap (same window-guard device as [[lshCandidates]]) only engages
    * past ~6.5×10⁷ docs per partition-of-corpus — it is the pathology
    * guard against adversarially-clustered signatures, not the default
    * path. (The earlier 32-bit width had 8-bit blocks = 256 values, so
    * the cap silently DROPPED hot buckets at ~2.5×10⁵ docs — recall
    * collapsed exactly when data grew. 64 bits is the production norm.)
    * Shifts on the signed signature are masked after shifting, so bit
    * 63 never leaks sign into block keys. Hamming distance is
    * integer-exact, so the oracle matches bit-for-bit.
    * Returns (doc_a, doc_b, hamming), doc_a < doc_b, hamming ≤ radius.
    */
  def simhashHammingPairs(docs: DataFrame, radius: Int = 3,
      maxBucket: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBlocks = radius + 1
    require(radius >= 0 && 64 % nBlocks == 0,
      s"radius + 1 must divide the 64-bit signature, got radius=$radius")
    val bits = 64 / nBlocks
    // radius 0 → one 64-bit block; 1L << 64 wraps, so mask all bits
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val sig = simhash(docs)
    val long = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBlocks).map { b =>
        shiftright(col("simhash"), b * bits).bitwiseAND(lit(mask))
      }: _*)).as(Seq("bno", "bkey")))
    val bounded = long
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy(col("bno"), col("bkey"))))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val x = bounded.as("x")
    val y = bounded.as("y")
    x.join(y, col("x.bno") === col("y.bno") && col("x.bkey") === col("y.bkey")
        && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sa ^ sb)").cast("long").as("hamming"))
      .filter(col("hamming") <= radius)
  }

  /** Lexical k-NN graph over MinHash signatures — the document-side
    * twin of [[graft.operators.Similarity.knnGraph]] (which ranks by
    * embedding cosine): every doc's top-`k` most-similar neighbors by
    * ESTIMATED Jaccard ([[minhashEstPairs]]' signature-agreement
    * estimator), candidates restricted to LSH band buckets. Pure
    * composition: symmetrize the (a < b) estimate pairs, then one
    * window top-k per vertex — rank by (estimate DESC, neighbor ASC),
    * which Spark executes with the WindowGroupLimit partial (per-vertex
    * state bounded at k below the shuffle, plan-guarded). Inherits the
    * signature-only scale story: no shingle intersection join anywhere.
    * Returns (doc_id, rk, neighbor_id, est_jaccard).
    */
  def minhashKnnGraph(docs: DataFrame, k: Int = 3, sigK: Int = 64,
      bands: Int = 16, maxBucket: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val est = minhashEstPairs(docs, sigK, bands, maxBucket)
    // symmetrize by EXPLODING each pair into both directions — a
    // two-branch union would re-evaluate the whole signature pipeline
    // per branch (union branches share no subtree; measured ~2× cost)
    val sym = est.select(explode(array(
        struct(col("doc_a").as("doc_id"), col("doc_b").as("neighbor_id"),
          col("est_jaccard")),
        struct(col("doc_b").as("doc_id"), col("doc_a").as("neighbor_id"),
          col("est_jaccard")))).as("e"))
      .select(col("e.doc_id"), col("e.neighbor_id"), col("e.est_jaccard"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("est_jaccard").desc, col("neighbor_id").asc)
    sym.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("neighbor_id"), col("est_jaccard"))
  }

  /** Incremental near-dup flagging of NEW documents against an existing
    * corpus via CDC chunk containment — the consumer
    * [[graft.operators.Curation.cdcChunks]]'s edit-stable digests exist
    * for: because chunk boundaries are content-defined, an edited
    * re-submission still shares every untouched chunk's digest with its
    * ancestor, so "mostly old content" is ONE equi-join on digest per
    * corpus version — no re-clustering of the full history per
    * increment (the d03/d12 batch path re-mines the whole corpus).
    *
    * Per new doc: `overlap_frac` = |distinct chunk digests shared with
    * the best-matching history doc| / |its own distinct digests|
    * (containment, the right direction for "is this new doc old
    * content"; an exact rational, so the double divides bit-match the
    * oracle), the best match itself (ties toward the smaller history
    * doc_id), and `is_dup` = overlap ≥ `threshold`.
    *
    * Scale shape: history chunks are df-capped (`maxDf`) before the
    * join — a boilerplate chunk in n history docs fans every matching
    * new chunk out n ways, the same hot-key failure [[dfCapped]] guards
    * in the shingle path — and everything downstream is equi-join /
    * one-exchange aggregation on (doc, hist) pairs that chunk
    * co-occurrence already bounded. Returns (doc_id, n_chunks,
    * best_match nullable, shared_chunks, overlap_frac, is_dup).
    */
  def cdcIncremental(newDocs: DataFrame, history: DataFrame,
      modulus: Int = 8, threshold: Double = 0.5,
      maxDf: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nc = Curation.cdcChunks(newDocs, modulus)
      .select(col("doc_id"), col("chunk_digest")).distinct()
    val hc0 = Curation.cdcChunks(history, modulus)
      .select(col("doc_id").as("hist_id"), col("chunk_digest")).distinct()
    val healthy = hc0.groupBy(col("chunk_digest")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("chunk_digest"))
    val hc = hc0.join(healthy, Seq("chunk_digest"), "left_semi")
    val nCard = nc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    val shared = nc.join(hc, Seq("chunk_digest"))
      .groupBy(col("doc_id"), col("hist_id"))
      .agg(count(lit(1)).as("shared_chunks"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("shared_chunks").desc, col("hist_id").asc)
    val best = shared.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    newDocs.select(col("doc_id"))
      .join(nCard, Seq("doc_id"), "left_outer")
      .join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        col("hist_id").as("best_match"),
        coalesce(col("shared_chunks"), lit(0L)).as("shared_chunks"),
        coalesce(col("shared_chunks").cast("double") / col("n_chunks").cast("double"),
          lit(0.0)).as("overlap_frac"))
      .withColumn("is_dup", col("overlap_frac") >= threshold)
  }

  /** All-pairs n-gram Jaccard via the inverted shingle index (no LSH
    * pre-filter): every co-occurring pair scored, then thresholded.
    * Quadratic in bucket co-occurrence — use [[lshNearDupPairs]] at scale;
    * this is the exact-recall reference path.
    */
  def jaccardAll(docs: DataFrame, threshold: Double,
      maxDf: Long = 10000L): DataFrame = {
    // checkpointed: the capped stream feeds the cardinalities AND both
    // sides of the intersection join (the lshNearDupPairs discipline)
    val sh = graft.sources.ScanParallelism.shareSmall(
      dfCapped(hashedShingles(docs), maxDf))
    val card = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    val x = sh.as("x")
    val y = sh.as("y")
    val inter = x.join(y, col("x.hs") === col("y.hs") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(card.as("ca"), col("a") === col("ca.doc_id"))
      .join(card.as("cb"), col("b") === col("cb.doc_id"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        (col("i").cast("double") / (col("ca.c") + col("cb.c") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Per-source BOILERPLATE density (d150) — the template-heavy-source
    * diagnostic a curation run reads before deciding where line-dedup
    * and extraction effort goes (aggregator/mirror domains score high;
    * the same signal C4/MassiveText motivate their line rules with): a
    * shingle is source-boilerplate when at least HALF the source's
    * documents (and ≥ 2) contain it; the row reports what fraction of
    * the source's distinct shingles that is. The half threshold is
    * evaluated as df·2 ≥ n_docs — exact integers, no FP ceil trap
    * (the d133 lesson, avoided rather than nudged).
    *
    * Scale shape: the shared [[shingles]] stream joined to a
    * (doc_id, source) projection, two keyed aggregates (per-(source,
    * shingle) df with map-side combine, then per-source fold); one IEEE
    * divide. Returns (source, n_docs, n_shingles, n_boiler,
    * boiler_frac).
    */
  def sourceBoilerplate(docs: DataFrame, n: Int = 3): DataFrame = {
    val withSrc = shingles(docs, n)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val df = withSrc.groupBy(col("source"), col("s")).agg(count(lit(1)).as("df"))
    val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    df.join(nd, Seq("source"))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_shingles"),
        sum(when(col("df") * 2 >= col("n_docs") && col("df") >= 2, 1L)
          .otherwise(0L)).cast("long").as("n_boiler"))
      .select(col("source"), col("n_docs"), col("n_shingles"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_shingles")).as("boiler_frac"))
  }

  /** Cross-SOURCE overlap matrix (d152) — [[containmentPairs]] lifted
    * to provenance granularity: C(A→B) = |S_A ∩ S_B| / |S_A| over each
    * source's distinct shingle set, both directions thresholded — the
    * mirror/aggregator detector a multi-source corpus audit runs before
    * weighting sources as if they were independent (a mirror pair
    * double-counts its content in every per-source quota).
    *
    * Scale shape: the (source, shingle) set is one distinct aggregate;
    * the self-join is keyed on the shingle, so per-shingle pair volume
    * is (#sources sharing it)² — bounded by provenance CARDINALITY
    * squared, never corpus² (no df cap needed, unlike the doc-level
    * d139). Exact integers, one IEEE divide per direction.
    * Returns (src_a, src_b, n_shared, overlap).
    */
  def sourceOverlap(docs: DataFrame, threshold: Double,
      n: Int = 3): DataFrame = {
    val sh = shingles(docs, n)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("s")).distinct()
      .localCheckpoint(true) // read by the cardinalities and both join sides
    val card = sh.groupBy(col("source")).agg(count(lit(1)).as("c"))
    val x = sh.as("x")
    val y = sh.as("y")
    val inter = x.join(y, col("x.s") === col("y.s") &&
        col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("a"), col("y.source").as("b"))
      .agg(count(lit(1)).as("i"))
    val bidir = inter
      .join(card.as("ca"), col("a") === col("ca.source"))
      .join(card.as("cb"), col("b") === col("cb.source"))
      .select(col("a"), col("b"), col("i"), col("ca.c").as("cca"),
        col("cb.c").as("ccb"))
      .localCheckpoint(true) // read twice: the two direction projections
    bidir.select(col("a").as("src_a"), col("b").as("src_b"),
        col("i").as("n_shared"),
        (col("i").cast("double") / col("cca")).as("overlap"))
      .union(bidir.select(col("b").as("src_a"), col("a").as("src_b"),
        col("i").as("n_shared"),
        (col("i").cast("double") / col("ccb")).as("overlap")))
      .filter(col("overlap") >= threshold)
  }

  /** Directional CONTAINMENT pairs (d139) — the asymmetric companion to
    * Jaccard (Broder 1997 defines both): C(A→B) = |S_A ∩ S_B| / |S_A|
    * over distinct shingle sets. This is the signal Jaccard structurally
    * misses: a short document wholly pasted inside a much longer one has
    * C(short→long) = 1 while J = |short|/|long| can sit far below any
    * dedup threshold — the quote/aggregator/boilerplate-wrapper case
    * web curation actually meets. Emits BOTH directions of a
    * co-occurring pair independently thresholded, so "A inside B" and
    * "B inside A" are separate verdicts.
    *
    * Scale shape: identical to [[jaccardAll]] (shared df-capped
    * inverted-index join — quadratic in shingle co-occurrence BY
    * DESIGN; the production pre-filter is d03/d133's index), plus one
    * union of the two per-direction projections of the SAME intersection
    * table — the pair graph is built once, not twice. Exact integers
    * and one IEEE divide. Returns (doc_src, doc_dst, containment).
    */
  def containmentPairs(docs: DataFrame, threshold: Double,
      maxDf: Long = 10000L): DataFrame = {
    // checkpointed: feeds cardinalities + both intersection sides
    val sh = graft.sources.ScanParallelism.shareSmall(
      dfCapped(hashedShingles(docs), maxDf))
    val card = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    val x = sh.as("x")
    val y = sh.as("y")
    val inter = x.join(y, col("x.hs") === col("y.hs") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("i"))
    val both = inter
      .join(card.as("ca"), col("a") === col("ca.doc_id"))
      .join(card.as("cb"), col("b") === col("cb.doc_id"))
      .select(col("a"), col("b"), col("i"), col("ca.c").as("cca"),
        col("cb.c").as("ccb"))
      .localCheckpoint(true) // read twice: the two direction projections
    both.select(col("a").as("doc_src"), col("b").as("doc_dst"),
        (col("i").cast("double") / col("cca")).as("containment"))
      .union(both.select(col("b").as("doc_src"), col("a").as("doc_dst"),
        (col("i").cast("double") / col("ccb")).as("containment")))
      .filter(col("containment") >= threshold)
  }

  /** EXACT set-similarity join by PREFIX FILTERING (d133) — the
    * PPJoin-family alternative to both the quadratic inverted-index
    * join (d04) and LSH (d03): order each document's shingles by a
    * global frequency key (rarest first — any total order is correct,
    * frequency-ascending prunes best), keep only the first
    * |d| − ⌈t·|d|⌉ + 1 of them, and generate candidates from the PREFIX
    * inverted index. The prefix-filtering theorem makes candidates a
    * SUPERSET of every pair with Jaccard ≥ t (two sets overlapping
    * enough must share a token within each other's prefix), so exact
    * verification over the candidates returns d04's answer exactly —
    * no false negatives, unlike LSH — while the candidate join runs on
    * the prefix index, a (1−t)-fraction of the postings. Registered
    * against d04's oracle VERBATIM (two constructions, one truth — the
    * d41/d111 discipline).
    *
    * The prefix length's t·|d| is computed with a 1e-9 downward nudge
    * before ceil: a last-bit FP excess would otherwise shorten the
    * prefix by one and break the superset guarantee, while the nudge
    * can only lengthen it (candidates grow, the verify step keeps the
    * output exact either way).
    *
    * Scale shape: the frequency key is a vocabulary-scale equi-join;
    * the within-doc ordering windows per doc_id (key-partitioned); the
    * candidate join is the prefix self-equi-join; verification is the
    * shared [[jaccard]] kernel on the bounded candidate set.
    */
  def ppJoinPairs(docs: DataFrame, threshold: Double,
      maxDf: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // checkpointed: the hashed stream feeds the df-cap chain AND the
    // final candidate-restricted jaccard verify
    val hsh = graft.sources.ScanParallelism.shareSmall(hashedShingles(docs))
    val sh = dfCapped(hsh, maxDf)
    val df = sh.groupBy(col("hs")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("hs"))
    val wSz = Window.partitionBy(col("doc_id"))
    val prefix = sh.join(df, Seq("hs"))
      .withColumn("pos", row_number().over(wDoc).cast("long"))
      .withColumn("sz", count(lit(1)).over(wSz).cast("long"))
      .filter(col("pos") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + 1L)
      .select(col("doc_id"), col("hs"))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.hs") === col("y.hs") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    jaccard(hsh, cand, maxDf)
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("jaccard"))
  }

  /** Incremental dedup of a new batch against an ingested history with a
    * Bloom pre-filter — the streaming-ingest companion to [[exactGroups]]
    * (which dedups a corpus against itself).
    *
    * Shape at 100 TB: the naive plan shuffles the ENTIRE new batch
    * against the history digest set. Instead, a Bloom filter over the
    * history digests is built distributed (`stat.bloomFilter` runs a
    * treeAggregate), broadcast to executors, and applied scan-side — only
    * the rows it passes (true dups + the fpp share of false positives)
    * reach the exact digest semi-join. False negatives are impossible, so
    * the verified output is EXACT and the whole pipeline is
    * SQL-expressible for the oracle; the Bloom stage only prunes the
    * shuffle. `mightContain` is a UDF by necessity (Spark exposes no
    * Column function over a broadcast sketch); it guards the scan, not
    * the hot aggregate path.
    *
    * Returns one row per new-batch doc: (doc_id, is_dup).
    *
    * Broadcast lifetime: the returned DataFrame closes over a broadcast
    * sketch that lives until the application ends. A long-lived ingest
    * loop calling this per arriving batch should use
    * [[bloomDedupManaged]], which returns the broadcast handle so the
    * caller can `destroy()` it once the batch's result is materialized
    * (or reuse one filter across batches and rebuild on a cadence) —
    * one undestroyed multi-MB sketch per batch otherwise accumulates in
    * executor memory for the application lifetime.
    */
  def bloomDedup(docs: DataFrame, historyPred: Column, newPred: Column,
      expectedItems: Long = 1000000L, fpp: Double = 0.03): DataFrame =
    bloomDedupManaged(docs, historyPred, newPred, expectedItems, fpp)._1

  /** [[bloomDedup]] plus the broadcast Bloom-sketch handle, for callers
    * that own the result's lifecycle: materialize the DataFrame, then
    * `handle.destroy()` to reclaim the multi-MB sketch from executor
    * memory. Destroying before materialization fails the job (the UDF
    * dereferences the broadcast at task run time), so destroy only after
    * an action has consumed the result.
    */
  def bloomDedupManaged(docs: DataFrame, historyPred: Column, newPred: Column,
      expectedItems: Long = 1000000L, fpp: Double = 0.03): (DataFrame, Broadcast[BloomFilter]) = {
    // NULL text → NULL digest: never a duplicate (SQL NULL equality),
    // kept out of both the sketch build (mightContainString NPEs on
    // null) and the join legs
    val digests = docs.select(col("doc_id"), sha2(col("text"), 256).as("digest"))
    val history = digests.filter(historyPred && col("digest").isNotNull)
    val fresh = digests.filter(newPred)
    val bloom = history.stat.bloomFilter("digest", expectedItems, fpp)
    val bc = docs.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((d: String) => d != null && bc.value.mightContainString(d))
    // Bloom misses (no false negatives → provably not dups) short-
    // circuit scan-side with is_dup = false and NEVER shuffle; only the
    // hits (true dups + the fpp share) are exactness-checked against the
    // history digest set. At batch scale the exchange carries the hit
    // stream, not the batch.
    val hit = mightContain(col("digest"))
    val misses = fresh.filter(!hit)
      .select(col("doc_id"), lit(false).as("is_dup"))
    val verified = fresh.filter(hit)
      .join(history.select(col("digest")).distinct().withColumn("mark", lit(true)),
        Seq("digest"), "left_outer")
      .select(col("doc_id"), coalesce(col("mark"), lit(false)).as("is_dup"))
    (misses.unionByName(verified), bc)
  }

  /** 64-bit SimHash per document: per-bit majority vote over the token
    * multiset. Token hash = two md5 halves (hex chars 1-8 → vote bits
    * 0-31, chars 9-16 → bits 32-63), the same two-half construction
    * [[hash60]] proved oracle-exact — each half is ≤ 32 bits so the
    * BIGINT parse never overflows in either engine. Bit j set iff the
    * signed vote sum is strictly positive. Bit 63's weight is
    * `Long.MinValue`, making the signature a SIGNED long; every
    * downstream consumer masks after shifting, and both engines count
    * Hamming bits over the two's-complement representation, so sign
    * never leaks into results.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val m = tok.select(col("doc_id"), md5(col("t")).as("m"))
    val h = m.select(col("doc_id"),
      conv(substring(col("m"), 1, 8), 16, 10).cast("long").as("hlo"),
      conv(substring(col("m"), 9, 8), 16, 10).cast("long").as("hhi"))
    val bitAggs = (0 until 64).map { j =>
      val src = if (j < 32) col("hlo") else col("hhi")
      sum(when(shiftright(src, j % 32).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"s$j")
    }
    val votes = h.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
    // Left-associative sum of disjoint bit weights: bits 0-62 total at
    // most Long.MaxValue, then + MinValue stays in range — no overflow
    // at any partial sum, so ANSI mode is safe in both engines.
    val sig = (0 until 64)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((a: Column, b: Column) => a + b)
    votes.select(col("doc_id"), sig.cast("long").as("simhash"))
  }

  /** Inter-document span duplication — for each doc, the fraction of its
    * word n-gram spans that also occur in at least one OTHER document
    * (the C4-style "seen elsewhere in the corpus" repetition signal;
    * complements [[graft.operators.TextAnalysis.repetition]], which is
    * within-doc). High values mean boilerplate shared across the corpus
    * even when no whole-document near-dup fires.
    *
    * Shape at 100 TB: gram df is one partial-aggregated count keyed by
    * the 60-bit gram hash; the join back is (doc, gram) × one df row —
    * linear, never pairwise, so no df cap is needed (unlike the
    * inverted-index PAIR joins, where hot grams explode quadratically).
    * Per-doc grams are distinct upstream, so `df ≥ 2` exactly means
    * "some other doc has it".
    *
    * Returns (doc_id, n_grams, dup_span_frac); docs shorter than `n`
    * tokens carry zero grams and report 0.0.
    */
  def dupSpans(docs: DataFrame, n: Int = 3): DataFrame = {
    val g = hashedShingles(docs, n)
    val dfCounts = g.groupBy(col("hs")).agg(count(lit(1)).as("df"))
    val per = g.join(dfCounts, Seq("hs"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared").cast("double") / col("n_grams"), lit(0.0))
          .as("dup_span_frac"))
  }

  /** WINNOWING fingerprint selection (d33) — the local-fingerprinting
    * algorithm of Schleimer, Wilkerson & Aiken ("Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD 2003; the MOSS
    * engine): hash every word `n`-gram IN POSITION ORDER, slide a
    * window over every `w` consecutive gram hashes, and select each
    * window's minimal hash — rightmost position on ties, the paper's
    * rule. The guarantee that makes it a dedup primitive: any shared
    * run of `w + n − 1` words between two documents shares at least one
    * SELECTED fingerprint, while only ~2/(w+1) of gram hashes are kept
    * — the partial-copy detector that whole-doc digests (d01/d09) miss
    * entirely and set-similarity (d02-d04/d27) only scores globally.
    *
    * Scale shape: selection is pure per-document ARRAY expression work
    * — positional gram hashes, window minima, `array_distinct` — one
    * scan, ZERO exchanges, codegen throughout; the output is the
    * (doc_id, pos, fp) posting list a downstream matcher equi-joins on
    * fp (bounded like any inverted index via [[dfCapped]]). The
    * rightmost-tie rule rides struct ordering: elements are
    * (h, −pos), so `array_min` picks the smallest hash and, on equal
    * hashes, the most negative −pos = the rightmost position — the
    * same trick as the IVF tie-break ([[graft.operators.Similarity]]).
    *
    * Docs with fewer than `w + n − 1` words form no full window and
    * emit no rows (the guarantee is vacuous below that length).
    * [[hash60]]'s construction (inlined in the lambda — expression-land
    * has no Column helpers) keeps fingerprints oracle-exact. Positions
    * are 1-based gram starts.
    */
  def winnowFingerprints(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    // widened: the md5-per-gram + window-min HOF chain below is pure
    // per-row work that otherwise runs in the scan's single bench-scale
    // task; the selection itself still never KEY-shuffles (the d33 plan
    // guard pins no hashpartitioning) (ScanParallelism doc)
    val tok = graft.sources.ScanParallelism.widen(docs)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= n + w - 1)
    val withH = tok.withColumn("hh", expr(
      s"""transform(sequence(1, size(tk) - ${n - 1}), i -> named_struct(
         |'h', cast(conv(substring(md5(concat_ws(' ', slice(tk, i, $n))), 1, 15), 16, 10) as bigint),
         |'np', -i))""".stripMargin.replace("\n", " ")))
    val sel = withH.withColumn("sel", expr(
      s"array_distinct(transform(sequence($w, size(hh)), e -> array_min(slice(hh, e - $w + 1, $w))))"))
    // OUTER explode, null-filtered on the GENERATED column — plain
    // explode's implicit `size(sel) > 0` guard re-evaluates the whole
    // gram-hash + window-min chain in a Filter below the Generate
    // (measured 11.7 s vs 0.4 s at sf0.01; same pathology as
    // [[graft.operators.Similarity.pqEncode]]'s posexplode, and the
    // Round8 plan guard pins the fixed shape)
    sel.select(col("doc_id"), explode_outer(col("sel")).as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id"), (-col("s.np")).cast("long").as("pos"),
        col("s.h").as("fp"))
  }

  /** Winnowing PARTIAL-COPY matcher (d34) — the cross-document join the
    * winnowing paper builds on the selected-fingerprint posting list:
    * two docs sharing `minShared`+ selected fingerprints share (with the
    * [[winnowFingerprints]] guarantee) at least that many word runs —
    * the detector for copied PASSAGES between otherwise-different
    * documents, which whole-doc similarity (d02-d04's Jaccard over all
    * shingles) dilutes toward zero as the non-copied remainder grows.
    * Pairs with d33 the way d03 pairs with d02.
    *
    * Scale shape: the matcher only ever touches the winnowed posting
    * list (~2/(w+1) of grams), never the raw shingle stream; the
    * self-join is an fp equi-join with the same hot-key discipline as
    * every inverted index here — fingerprints in more than `maxDf` docs
    * (boilerplate: headers, license blocks) are dropped BEFORE pair
    * formation, bounding the hottest key's fan-out at maxDf² instead of
    * corpus². `minShared` ≥ 2 filters single-fingerprint chance
    * collisions. Returns (doc_a, doc_b, n_shared).
    */
  def winnowCopyPairs(docs: DataFrame, n: Int = 3, w: Int = 4,
      minShared: Long = 2L, maxDf: Long = 1000L): DataFrame =
    winnowCopyPairsFrom(
      winnowFingerprints(docs, n, w).localCheckpoint(true), minShared, maxDf)

  /** [[winnowCopyPairs]] over an already-materialized fingerprint
    * frame — the selection chain feeds the df-cap, BOTH sides of the
    * pair self-join, and (for [[winnowMatchEvidence]]) the evidence
    * re-join; handing in one checkpointed frame evaluates the
    * md5-per-gram + window-min chain once instead of per consumer.
    */
  private def winnowCopyPairsFrom(fps0: DataFrame,
      minShared: Long, maxDf: Long): DataFrame = {
    val fps = fps0.select(col("doc_id"), col("fp")).distinct()
    val healthy = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("fp"))
    val capped = fps.join(healthy, Seq("fp"), "left_semi")
    val x = capped.select(col("doc_id").as("doc_a"), col("fp"))
    val y = capped.select(col("doc_id").as("doc_b"), col("fp"))
    x.join(y, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Winnowing MATCH EVIDENCE (d35) — the verification stage over
    * [[winnowCopyPairs]]' candidates, and the per-match alignment the
    * MOSS-style reviewers actually display: for every candidate pair,
    * each SHARED fingerprint with its position in BOTH documents
    * (doc_a, doc_b, fp, pos_a, pos_b). Positions are 1-based gram
    * starts, so a run of consecutive aligned positions IS the copied
    * span — downstream span assembly is a per-pair sort, not a corpus
    * operation. Mirrors the d03 → d04 relationship: d34 mines
    * candidates cheaply, d35 re-joins the posting list ONLY for docs
    * that appear in some candidate pair (semi-join restriction, the
    * same discipline as [[jaccard]]'s candidate-restricted verify).
    *
    * Scale shape: `pairs` is the (already boilerplate-capped, already
    * minShared-filtered) candidate set — small relative to the corpus —
    * so both posting-list probes are semi-join-restricted before the
    * fp equi-join; nothing all-pairs, nothing corpus-wide beyond the
    * winnowed posting list itself.
    */
  def winnowMatchEvidence(docs: DataFrame, n: Int = 3, w: Int = 4,
      minShared: Long = 2L, maxDf: Long = 1000L): DataFrame = {
    // ONE fingerprint materialization for mining AND evidence (the
    // winnowCopyPairsFrom doc): d35-d39 previously re-ran the selection
    // chain three to four times per registered row
    val fps = winnowFingerprints(docs, n, w).localCheckpoint(true)
    val pairs = winnowCopyPairsFrom(fps, minShared, maxDf)
      .select(col("doc_a"), col("doc_b"))
    val docsInPairs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val restricted = fps.join(docsInPairs, Seq("doc_id"), "left_semi")
    val a = restricted.select(col("doc_id").as("doc_a"),
      col("fp"), col("pos").as("pos_a"))
    val b = restricted.select(col("doc_id").as("doc_b"),
      col("fp"), col("pos").as("pos_b"))
    pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b", "fp"))
      .select(col("doc_a"), col("doc_b"), col("fp"), col("pos_a"), col("pos_b"))
  }

  /** Winnowing COPY SPANS (d36) — the span assembly over
    * [[winnowMatchEvidence]], completing the detector: aligned evidence
    * (same pair, same pos_a − pos_b offset) is grouped into contiguous
    * runs with the islands construction (the q22 sessionize device —
    * a gap in pos_a greater than `maxGap` starts a new span). Output is
    * what a curation pipeline acts on: (doc_a, doc_b, offset, start_a,
    * start_b, end_a, n_fps) — the copied span's word range in BOTH
    * documents. `maxGap` defaults to w + n − 1: inside a genuinely
    * shared run winnowing selects a fingerprint at least once per
    * window, so a larger gap means the run really broke.
    *
    * Scale shape: evidence is already pair-restricted (d35); the
    * islands window partitions by (pair, offset) — keys at least as
    * fine as the pair set — so no corpus-scale shuffle is introduced,
    * and the per-span aggregate rides the SAME (pair, offset)
    * partitioning ([[graft.queries.RelationalQueries]] q22 documents
    * the reused-exchange shape).
    */
  def winnowCopySpans(docs: DataFrame, n: Int = 3, w: Int = 4,
      minShared: Long = 2L, maxDf: Long = 1000L,
      maxGap: Int = -1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gap = if (maxGap < 0) w + n - 1 else maxGap
    val ev = winnowMatchEvidence(docs, n, w, minShared, maxDf)
      .select(col("doc_a"), col("doc_b"),
        (col("pos_a") - col("pos_b")).as("offset"), col("pos_a"))
      .distinct()
    val win = Window.partitionBy(col("doc_a"), col("doc_b"), col("offset"))
      .orderBy(col("pos_a"))
    ev.withColumn("prev", lag(col("pos_a"), 1).over(win))
      .withColumn("brk",
        when(col("prev").isNull || col("pos_a") - col("prev") > gap, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_a"), col("doc_b"), col("offset"), col("island"))
      .agg(min(col("pos_a")).as("start_a"),
        (max(col("pos_a")) + lit(n - 1)).as("end_a"),
        count(lit(1)).as("n_fps"))
      .select(col("doc_a"), col("doc_b"), col("offset"),
        col("start_a"), (col("start_a") - col("offset")).as("start_b"),
        col("end_a"), col("n_fps"))
  }

  /** Per-document COPIED-WORD COVERAGE (d37) — the curation signal the
    * winnowing family feeds a keep-list: for every document, the
    * fraction of its words lying inside SOME copied span ([[
    * winnowCopySpans]], both sides unioned), overlapping spans merged
    * by a second islands pass (sorted by start per doc, a span opening
    * beyond the running max end starts a new merged interval).
    * Returns (doc_id, n_words, n_copied, copy_frac); docs in no pair
    * report 0 — the cross-document twin of d14's within-doc
    * repetition gate, ready to become a d19 reason bit.
    *
    * Scale shape: spans are already pair-restricted and tiny relative
    * to the corpus; the merge windows partition by doc_id, and the
    * final LEFT join reinstating untouched docs is a broadcast of the
    * per-doc coverage aggregate (pair-scale) against the corpus scan.
    */
  def winnowCopyCoverage(docs: DataFrame, n: Int = 3, w: Int = 4,
      minShared: Long = 2L, maxDf: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = winnowCopySpans(docs, n, w, minShared, maxDf)
    val sides = spans.select(col("doc_a").as("doc_id"),
        col("start_a").as("s"), col("end_a").as("e"))
      .union(spans.select(col("doc_b").as("doc_id"),
        (col("start_a") - col("offset")).as("s"),
        (col("end_a") - col("offset")).as("e")))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val merged = sides
      .withColumn("prevMaxE",
        max(col("e")).over(win.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prevMaxE").isNull || col("s") > col("prevMaxE"), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("e")) - min(col("s")) + lit(1L)).as("len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("len")).as("n_copied"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .join(broadcast(merged), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_copied"), lit(0L)).as("n_copied"),
        (coalesce(col("n_copied"), lit(0L)).cast("double") /
          col("n_words").cast("double")).as("copy_frac"))
  }

  /** Pair-level MERGED COPY EXTENTS (d39) — the redaction view over
    * [[winnowCopySpans]]: d36 keeps one span per (pair, alignment
    * offset), so two overlapping copies at different alignments (a
    * re-copy with an insertion, a shifted boilerplate block) report two
    * overlapping ranges. Redaction tooling wants the union: per
    * (doc_a, doc_b), spans are interval-merged on doc_a's word axis
    * across ALL offsets (the same islands device d37 applies per doc —
    * a span opening beyond the running max end starts a new extent).
    * Output (doc_a, doc_b, start_a, end_a, n_spans, n_fps): the
    * contiguous copied extent in doc_a, how many per-offset spans it
    * absorbed, and their total fingerprint evidence. B-side ranges are
    * deliberately NOT merged — each constituent span has its own
    * alignment, so a single B range is not well-defined; d36 remains
    * the per-alignment view when both sides are needed.
    *
    * Scale shape: input is already pair-restricted (d36); the merge
    * window and the extent aggregate both partition by (doc_a, doc_b) —
    * the same keys, so the aggregate rides the window's exchange and
    * nothing corpus-scale shuffles.
    */
  def winnowMergedExtents(docs: DataFrame, n: Int = 3, w: Int = 4,
      minShared: Long = 2L, maxDf: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = winnowCopySpans(docs, n, w, minShared, maxDf)
    val win = Window.partitionBy(col("doc_a"), col("doc_b"))
      .orderBy(col("start_a"), col("end_a"))
    spans
      .withColumn("prevMaxE",
        max(col("end_a")).over(win.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prevMaxE").isNull || col("start_a") > col("prevMaxE"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_a"), col("doc_b"), col("island"))
      .agg(min(col("start_a")).as("start_a"),
        max(col("end_a")).as("end_a"),
        count(lit(1)).as("n_spans"),
        sum(col("n_fps")).as("n_fps"))
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("end_a"),
        col("n_spans"), col("n_fps"))
  }

  /** Positional hashed gram stream: one row per (doc_id, 1-based gram
    * start, [[hash60]] of the n-word gram) — NOT per-doc distinct,
    * unlike [[hashedShingles]]: the ExactSubstr family below counts
    * every OCCURRENCE (a doc repeating its own passage is a duplicate
    * too, per the published semantics). Same explode_outer-then-filter
    * shape as [[winnowFingerprints]] (plain explode's implicit
    * size-guard re-evaluates the gram-hash chain below the Generate —
    * measured 14× there).
    */
  def positionalGrams(docs: DataFrame, n: Int): DataFrame = {
    // widened like shingles/winnowFingerprints: the per-occurrence
    // md5-gram HOF chain below is pure per-row work (ScanParallelism doc)
    val tok = graft.sources.ScanParallelism.widen(docs)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= n)
    tok.withColumn("pg", expr(
        s"""transform(sequence(1, size(tk) - ${n - 1}), i -> named_struct(
           |'p', cast(i as bigint),
           |'h', cast(conv(substring(md5(concat_ws(' ', slice(tk, i, $n))), 1, 15), 16, 10) as bigint)))"""
          .stripMargin.replace("\n", " ")))
      .select(col("doc_id"), explode_outer(col("pg")).as("g"))
      .filter(col("g").isNotNull)
      .select(col("doc_id"), col("g.p").as("pos"), col("g.h").as("hs"))
  }

  /** ExactSubstr DUPLICATED SPANS (d40) — the exact-duplicate twin of
    * the winnowing family, the construction published with the
    * train-data dedup literature (dedup by removing any ≥ minLen-token
    * run occurring more than once in the corpus, within-doc repeats
    * included): every minLen-gram whose corpus-wide OCCURRENCE count is
    * ≥ 2 anchors a duplicated run; anchors cover words [pos,
    * pos+minLen−1], and overlapping covered ranges merge into maximal
    * spans (the d37 interval-merge islands device). Returns one row per
    * maximal duplicated span: (doc_id, start, end, n_anchors).
    *
    * Scale shape: the occurrence count is a groupBy over 8-byte gram
    * hashes — map-side partial combine keeps boilerplate mega-grams
    * cheap (each map partition contributes ONE row per hs, so a
    * 10⁹-occurrence gram costs its scan, not a hot reducer). The
    * anchor join back is an hs equi-join against the (small) dup-gram
    * set — AQE skew-split applies if one gram dominates — and the
    * islands merge partitions by doc_id: keys the corpus is near-unique
    * in. Chance collisions are a minLen choice, not an engine concern:
    * at minLen = 8 over this vocabulary the expected false-dup count is
    * < 1 at sf0.01 (measured: dup grams stable 1061→923 as L goes
    * 6→12 — genuine copies, not noise).
    */
  def exactSubstrSpans(docs: DataFrame, minLen: Int = 8): DataFrame = {
    val pg = positionalGrams(docs, minLen)
    val dupHs = pg.groupBy(col("hs")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2L).select(col("hs"))
    anchorsToSpans(pg.join(dupHs, Seq("hs"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + lit(minLen.toLong - 1L)).as("e")))
  }

  /** Anchor intervals (doc_id, s, e) → maximal merged spans (doc_id,
    * start, end, n_anchors) — the d37-style interval-merge islands
    * pass, shared by every ExactSubstr anchoring policy.
    */
  private def anchorsToSpans(anchors: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    anchors
      .withColumn("prevMaxE",
        max(col("e")).over(win.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prevMaxE").isNull || col("s") > col("prevMaxE"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("start"), max(col("e")).as("end"),
        count(lit(1)).as("n_anchors"))
      .select(col("doc_id"), col("start"), col("end"), col("n_anchors"))
  }

  /** ExactSubstr REMOVAL (d41) — the act stage over
    * [[exactSubstrSpans]]: every word inside a duplicated span is cut
    * and the remainder re-joined, the published cleaning step itself
    * (duplicated text is removed EVERYWHERE it occurs — unlike d01's
    * keep-one-copy semantics, which d01 already provides; the two
    * compose as canonical-keeper + substring-cut in a production run).
    * Returns (doc_id, n_words, n_removed, clean_text); untouched docs
    * pass through with n_removed = 0.
    *
    * Scale shape: spans per doc are collected into an array bounded by
    * doc length (a per-doc object, not corpus state), the span table is
    * pair-scale so the join back to the corpus broadcasts, and the cut
    * itself is per-row array work (sequence/filter/exists higher-order
    * chain — no UDF).
    */
  def exactSubstrRemoval(docs: DataFrame, minLen: Int = 8): DataFrame =
    cutSpans(docs, exactSubstrSpans(docs, minLen))

  /** ExactSubstr KEEP-FIRST removal (d42) — the variant the published
    * pipelines actually ship: the corpus-ordered FIRST occurrence of
    * each duplicated run survives, later occurrences are cut. Per dup
    * gram the canonical occurrence is the (doc_id, pos)-min; anchors
    * are every OTHER occurrence, and the span/cut tail is literally
    * [[exactSubstrRemoval]]'s ([[anchorsToSpans]] + [[cutSpans]]), so
    * the two policies cannot drift. d41 remains the remove-everywhere
    * twin (pair it with d01's canonical keeper when content must
    * survive exactly once at the DOC level instead).
    *
    * Scale shape: the canonical pick is the same map-side-combined
    * groupBy as d40's occurrence count (min over an 16-byte struct
    * instead of a count), everything else is shared.
    */
  def exactSubstrKeepFirst(docs: DataFrame, minLen: Int = 8): DataFrame = {
    val pg = positionalGrams(docs, minLen)
    val firsts = pg.groupBy(col("hs")).agg(
        count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("occ") >= 2L)
      .select(col("hs"), col("first"))
    val anchors = pg.join(firsts, Seq("hs"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("first"))
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + lit(minLen.toLong - 1L)).as("e"))
    cutSpans(docs, anchorsToSpans(anchors))
  }

  /** Incremental ExactSubstr (d43) — the cross-version half of the
    * family, the d28 shape at gram granularity: any ≥ minLen run in
    * the INCREMENT that already exists anywhere in HISTORY is cut from
    * the increment. History text is never rewritten and never
    * re-clustered — its distinct gram set is the only thing touched,
    * and the increment probes it with ONE hs equi-join (inner join
    * against a distinct set ≡ semi). Within-increment duplication is
    * deliberately out of scope: run [[exactSubstrRemoval]] /
    * [[exactSubstrKeepFirst]] on the increment itself — the policies
    * compose, each doing one job.
    *
    * Scale shape: at 100 TB the history gram set is a PERSISTED index
    * (8-byte hashes, written once, bucketed by hs) rather than
    * re-derived per increment as this self-contained operator does;
    * either way the per-increment cost is the increment's gram scan
    * plus one equi-join — never O(history) shuffle, because the
    * distinct-set side partial-aggregates map-side before moving.
    * Returns (doc_id, n_words, n_removed, clean_text) per INCREMENT
    * doc.
    */
  def exactSubstrIncremental(history: DataFrame, increment: DataFrame,
      minLen: Int = 8): DataFrame = {
    val histHs = positionalGrams(history, minLen).select(col("hs")).distinct()
    val anchors = positionalGrams(increment, minLen)
      .join(histHs, Seq("hs"), "left_semi")
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + lit(minLen.toLong - 1L)).as("e"))
    cutSpans(increment, anchorsToSpans(anchors))
  }

  /** PERSIST the history gram index (the build half of d44) — the
    * storage substitution [[exactSubstrIncremental]]'s scaladoc
    * promises: history's distinct ≥ minLen-gram hashes as a one-column
    * parquet table, written once per corpus version. 8 bytes per
    * distinct gram; at 100 TB you'd bucket it BY hs so each increment's
    * probe join co-locates without shuffling the index.
    */
  def saveGramIndex(history: DataFrame, path: String, minLen: Int = 8): Unit =
    // wm = the watermark of the write that added the row — grams carry
    // no doc ids, so this column is what makes the d153 snapshot device
    // applicable: as-of version N keeps rows with wm ≤ N's watermark,
    // which is EXACTLY the gram set of docs ≤ that watermark (a gram
    // present in both history and an increment keeps its history-wm row;
    // an increment-only gram is filtered out). The rows carry the
    // rebuild's watermark, so the table is written after its agg.
    graft.sources.IndexManifest.rebuild(path, "gram", true, history, "doc_id",
      r => {
        positionalGrams(history, minLen).select(col("hs")).distinct()
          .withColumn("wm", lit(if (r.isNullAt(1)) -1L else r.getLong(1)))
          .write.mode("overwrite").parquet(s"$path/grams")
        Map("min_len" -> minLen.toLong)
      })()

  /** APPEND to a persisted gram index — the increment's distinct gram
    * hashes land as new rows (mode append, wm = the new watermark);
    * history files are never read or rewritten. Grams already present
    * from history get a DUPLICATE row — harmless by construction: the
    * probe is a semi join, so the index is a SET under every read path
    * (which also makes a crashed-append retry's duplicate rows
    * semantically invisible; the wm orphan guard still catches the
    * stale-manifest window loudly, the shared appender contract).
    */
  def appendGramIndex(increment: DataFrame, path: String,
      minLen: Int = 8): Unit = {
    import graft.sources.IndexManifest
    IndexManifest.append(path,
        IndexManifest.require(path, "gram", Map("min_len" -> minLen.toLong)),
        true, increment, "doc_id", Seq("grams" -> "wm"), _.man.params) { inc =>
      Seq(() => positionalGrams(increment, minLen).select(col("hs")).distinct()
        .withColumn("wm", lit(inc.maxId))
        .write.mode("append").parquet(s"$path/grams"))
    }
  }

  /** Incremental ExactSubstr against a PERSISTED gram index (d44) —
    * [[exactSubstrIncremental]] with the history side replaced by
    * [[saveGramIndex]]'s table: the increment probes last week's index
    * with one semi join, and history text is never touched at all —
    * not even for gram derivation. Bit-identical to the self-contained
    * operator on the same history (spec-asserted); shares
    * [[anchorsToSpans]] + [[cutSpans]] so the policies cannot drift.
    */
  def exactSubstrIncrementalIndexed(increment: DataFrame,
      indexPath: String, minLen: Int = 8,
      asOfVersion: Option[Int] = None): DataFrame = {
    import graft.sources.{IndexManifest, IndexManifestException}
    // manifest gate: a gram index probed at a DIFFERENT minLen than it
    // was built with silently under-cuts (longer grams absent from the
    // index) — fail loudly on the params mismatch instead
    IndexManifest.require(indexPath, "gram",
      Map("min_len" -> minLen.toLong))
    // TIME TRAVEL (d154, the d153 device on the wm lineage column —
    // saveGramIndex doc): snapshot N's gram SET is the rows at or
    // below version N's watermark, one pushed wm cut before the probe
    val raw = Tables.readParquet(increment.sparkSession, s"$indexPath/grams")
    val histHs = asOfVersion match {
      case None => raw
      case Some(v) =>
        val snap = IndexManifest.readVersion(indexPath, v)
        if (snap.kind != "gram")
          throw new IndexManifestException(
            s"version $v at $indexPath is kind '${snap.kind}', expected 'gram'")
        raw.filter(col("wm") <= snap.corpusMaxId)
    }
    val anchors = positionalGrams(increment, minLen)
      .join(histHs, Seq("hs"), "left_semi")
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + lit(minLen.toLong - 1L)).as("e"))
    cutSpans(increment, anchorsToSpans(anchors))
  }

  /** Merged spans (doc_id, start, end) → the cut corpus (doc_id,
    * n_words, n_removed, clean_text) — the per-row higher-order
    * sequence/filter/exists chain shared by every ExactSubstr removal
    * policy; untouched docs pass through with n_removed = 0.
    *
    * No broadcast hint on the span side deliberately: for the
    * incremental/pair-restricted callers it is pair-scale and AQE
    * broadcasts it on its measured size, but for remove-everywhere
    * (d41) on a heavily duplicated corpus it is corpus-scale — a
    * forced broadcast there is exactly the 100 TB OOM the hint would
    * smuggle in. The doc_id equi-join shuffles both sides at worst,
    * which is the correct degradation.
    */
  /** ExactSubstr removal SERVED FROM the persisted suffix-array
    * artifact (d111) — the variable-length construction of d41's
    * policy: per suffix, the longest repeated prefix m is read off the
    * generalized SA in O(1) joins (m = its class's remaining length if
    * the class holds ≥ 2 occurrences, else the max of the two
    * adjacent-class LCPs — the SA fact that rank-neighbors maximize
    * LCP), and every suffix with m ≥ minLen anchors the interval
    * [pos, pos+m). The covered-position set PROVABLY equals d41's
    * gram-anchor union (every position inside a duplicated ≥ minLen
    * run lies under the run-head suffix's interval, and conversely
    * every anchored interval is a duplicated run each of whose
    * ≥ minLen grams d41 anchors), so the registered row runs against
    * d41's oracle VERBATIM — two independent constructions, one
    * truth. Span/cut tails are shared ([[anchorsToSpans]] +
    * [[cutSpans]]); SA positions are 0-based while the cut tail is
    * 1-based, hence the +1.
    *
    * The point at 100 TB: d41 re-derives the gram stream per run,
    * while this path reads a build-once index — the serving shape for
    * repeated dedup sweeps over a frozen corpus (threshold sweeps,
    * per-slice audits) where the SA+LCP artifact amortizes.
    */
  def exactSubstrFromSuffixIndex(docs: DataFrame, sa: DataFrame,
      lcpFrame: DataFrame, minLen: Int = 8): DataFrame = {
    val nocc = sa.groupBy(col("rnk")).agg(count(lit(1)).as("n_occ"))
    val dlen = sa.groupBy(col("doc_id")).agg(count(lit(1)).as("dlen"))
    val lcps = lcpFrame.select(col("rnk"), col("lcp"))
    val m = sa
      .join(nocc, Seq("rnk"))
      .join(dlen, Seq("doc_id"))
      .join(lcps.toDF("rnk", "lcp_self"), Seq("rnk"), "left_outer")
      .join(lcps.select((col("rnk") - 1).as("rnk"), col("lcp").as("lcp_next")),
        Seq("rnk"), "left_outer")
      .select(col("doc_id"), col("pos"),
        greatest(
          when(col("n_occ") >= 2L, col("dlen") - col("pos")).otherwise(lit(0L)),
          coalesce(col("lcp_self"), lit(0L)),
          coalesce(col("lcp_next"), lit(0L))).as("m"))
    val anchors = m.filter(col("m") >= minLen)
      .select(col("doc_id"), (col("pos") + 1L).as("s"),
        (col("pos") + col("m")).as("e"))
    cutSpans(docs, anchorsToSpans(anchors))
  }

  private def cutSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val iv = spans
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start").as("s"), col("end").as("e")))
        .as("iv"))
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .join(iv, Seq("doc_id"), "left_outer")
      .withColumn("kept", expr(
        """CASE WHEN iv IS NULL THEN w ELSE
          |transform(filter(sequence(1, size(w)),
          |  p -> NOT exists(iv, t -> p >= t.s AND p <= t.e)),
          |  p -> element_at(w, p)) END""".stripMargin.replace("\n", " ")))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Train/eval contamination check — flags training documents that
    * share any word n-gram with a benchmark/eval document, the standard
    * decontamination pass before a corpus becomes training data (the
    * n-gram-collision criterion published with the GPT-3 and PaLM
    * training-set analyses; n is 8–13 tokens there, configurable here).
    *
    * Shape at 100 TB: the eval side is SMALL (benchmark suites are
    * ~10⁴–10⁶ distinct grams), so its 60-bit gram hashes are
    * `broadcast()` and the training gram stream probes them scan-side —
    * the corpus is never shuffled, and the per-doc hit count is a
    * partial aggregate keyed by doc_id. Grams are hashed before the
    * broadcast ([[hashedShingles]]) so the broadcast carries 8 bytes per
    * gram, not the text.
    *
    * Returns one row per TRAIN doc: (doc_id, n_hits, contaminated),
    * n_hits = number of distinct grams shared with the eval set (grams
    * are per-doc distinct upstream). Docs shorter than `n` tokens carry
    * zero grams and report clean.
    */
  def contamination(docs: DataFrame, evalPred: Column, n: Int = 3): DataFrame = {
    val train = docs.filter(!evalPred)
    val evalGrams = hashedShingles(docs.filter(evalPred), n)
      .select(col("hs")).distinct()
    val hits = hashedShingles(train, n)
      .join(broadcast(evalGrams), Seq("hs"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    train.select(col("doc_id")).join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Fraction-thresholded eval decontamination (d67) — the published
    * calibrated form (GPT-3's 13-gram overlap, PaLM's 70%-of-8-grams):
    * a train doc is contaminated when at least `minFrac` of its
    * DISTINCT word n-grams appear in the eval split, at a longer n
    * than [[contamination]]'s any-hit flag — tolerant of incidental
    * short-phrase overlap, decisive on wholesale inclusion. Same
    * broadcast shape as d13: the eval gram set broadcasts, the train
    * side never shuffles beyond its per-doc aggregates (both totals
    * and hits are map-side-combined). Docs too short to have an
    * n-gram report frac 0. Returns
    * (doc_id, n_grams, n_hits, overlap_frac, contaminated).
    */
  def contaminationFrac(docs: DataFrame, evalPred: Column, n: Int = 8,
      minFrac: Double = 0.7): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, s"minFrac=$minFrac")
    val train = docs.filter(!evalPred)
    val evalGrams = hashedShingles(docs.filter(evalPred), n)
      .select(col("hs")).distinct()
    val grams = hashedShingles(train, n)
    val totals = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val hits = grams.join(broadcast(evalGrams), Seq("hs"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    train.select(col("doc_id")).join(totals, Seq("doc_id"), "left_outer")
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("overlap_frac",
        when(col("n_grams") > 0,
          col("n_hits").cast("double") / col("n_grams")).otherwise(lit(0.0)))
      .withColumn("contaminated", col("overlap_frac") >= minFrac)
  }

  /** Connected components over a near-dup pair graph — the step that
    * turns pairwise LSH/Jaccard evidence into dedup DECISIONS: every doc
    * gets a `cluster_id` (the minimum doc_id reachable through pair
    * edges; singletons cluster with themselves) plus the cluster size,
    * so "keep one per cluster" is `doc_id = cluster_id`.
    *
    * Algorithm: iterative min-label propagation.
    * `lbl(v) ← min(lbl(v), min over neighbors' lbl)` until a pass
    * changes nothing. Each pass is one shuffle-join keyed on vertex id
    * plus a min-aggregate (map-side partial, so a hot vertex in a huge
    * cluster never concentrates rows on one reducer). Pass count =
    * component diameter, and near-dup graphs are clique-ish (LSH pairs
    * within a cluster all share buckets), so 2–4 passes in practice —
    * the regime where plain propagation beats the more complex
    * large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14), which pays ~2
    * shuffles per round to halve a round count that is already tiny.
    * Each pass ends in an eager `localCheckpoint`: the labels are
    * materialized once and the lineage truncated, so pass N+1's plan is
    * one join deep regardless of N (an unbounded iterative plan chokes
    * Catalyst analysis long before data becomes the problem), and the
    * convergence probe + the returned DataFrame read materialized
    * blocks instead of recomputing the loop. On a cluster with executor
    * churn, swap for reliable `checkpoint` (same call shape, HDFS-backed).
    *
    * `maxIters` is a safety valve only (a diameter that large means the
    * pair threshold is admitting chains, not near-dups); hitting it
    * still returns a sound over-segmentation (labels are monotone).
    *
    * Expects `vertices(doc_id)` and `pairs(doc_a, doc_b)`; extra columns
    * are ignored. Returns (doc_id, cluster_id, cluster_size).
    */
  def dedupClusters(vertices: DataFrame, pairs: DataFrame,
      maxIters: Int = 50): DataFrame = {
    val p = pairs.select(col("doc_a"), col("doc_b"))
    // materialize the edge list ONCE: its lineage is typically a whole
    // LSH mining pipeline, and every pass joins against it — without
    // this the pair mining re-executes per pass (measured 2× the d03
    // pipeline per iteration at sf0.1)
    val edges = p.select(col("doc_a").as("w"), col("doc_b").as("v"))
      .unionByName(p.select(col("doc_b").as("w"), col("doc_a").as("v")))
      .localCheckpoint(true)
    // Only vertices that touch an edge can ever change labels, so the
    // loop runs over the ACTIVE set (distinct pair endpoints) — a tiny
    // fraction of the corpus in any real dedup run — and the untouched
    // majority rejoins as singletons at the end. The iterated state
    // scales with the near-dup population, not the corpus.
    var labels = edges.select(col("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("v").as("w"), col("lbl").as("wl")), Seq("w"))
        .groupBy(col("v")).agg(min(col("wl")).as("nm"))
      val prop = labels.join(nbrMin, Seq("v"), "left_outer")
        .select(col("v"), least(col("lbl"), coalesce(col("nm"), col("lbl"))).as("lbl"),
          col("lbl").as("prev"))
      // POINTER JUMPING (Shiloach–Vishkin path compression): follow one
      // more hop, lbl(v) ← min(lbl(v), lbl(lbl(v))), in the SAME pass —
      // label paths halve per pass, so chain-shaped evidence converges
      // in ~log(diameter) passes instead of diameter (each pass here is
      // 2 shuffles + a checkpoint + a probe job; fewer passes is the
      // whole cost model, guide §2.4 fewer passes). Every label value
      // is a vertex id of the active set (labels start as v and only
      // ever take mins over member ids), so the self-join always finds
      // its row; the fixed point is unchanged — a state stable under
      // neighbor-min is constant per component with the minimum at its
      // own id, with or without the extra hop — and labels stay
      // monotone, so the maxIters over-segmentation contract holds.
      val hop = prop.select(col("v").as("jl"), col("lbl").as("l2"))
      val next = prop.join(hop, col("lbl") === col("jl"), "left_outer")
        .select(col("v"),
          least(col("lbl"), coalesce(col("l2"), col("lbl"))).as("lbl"),
          col("prev"))
        .localCheckpoint(true)
      converged = next.filter(col("lbl") < col("prev")).isEmpty
      freeSnapshot(labels)
      labels = next.select(col("v"), col("lbl"))
      iter += 1
    }
    // A maxIters exit returns a sound but OVER-SEGMENTED labeling
    // (labels are monotone, the closure just isn't finished) — which an
    // exact-closure oracle (the recursive CTE in PipelineQueries) would
    // silently hash-mismatch. Say so loudly, so a divergence is
    // traceable to the truncation instead of looking like a logic bug.
    // iter > 0: with maxIters <= 0 no propagation was ever ATTEMPTED, so
    // a diameter diagnosis would be fiction — the caller simply asked for
    // zero passes.
    // pass count is THE drift diagnostic for this loop (each pass is
    // ~2 shuffles + a checkpoint): surface it so a bench regression is
    // attributable to diameter growth vs per-pass cost without re-profiling
    if (converged)
      log.info(s"dedupClusters converged after $iter passes")
    if (!converged && iter > 0)
      log.warn(
        s"dedupClusters stopped at maxIters=$maxIters before convergence; " +
          "labels are an over-segmentation of the true components " +
          "(pair graph has diameter > maxIters — the threshold is likely " +
          "admitting chain-shaped evidence, not near-dups)")
    freeSnapshot(edges)
    attachClusters(vertices, labels)
  }

  /** Deterministically free a SUPERSEDED `localCheckpoint` snapshot's
    * blocks (waiting for the ContextCleaner's weak-ref GC would pin up
    * to maxIters copies of the iterated state in executor storage).
    * Safe because a superseded snapshot is never read again: each
    * pass's eager checkpoint depends only on its own blocks. The FINAL
    * snapshot stays pinned — the returned DataFrame reads it. Spark
    * logs one WARN per free ("locally checkpointed ... cannot be
    * recomputed") — expected: unrecomputability is fine for blocks
    * nothing references.
    */
  private[graft] def freeSnapshot(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Shared tail of the CC operators: rejoin the labeled (edge-touching)
    * vertex set to the full corpus — untouched docs become singletons —
    * and attach the cluster size. Returns (doc_id, cluster_id,
    * cluster_size).
    */
  private def attachClusters(vertices: DataFrame, labels: DataFrame): DataFrame = {
    val sizeW = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    vertices.select(col("doc_id"))
      .join(labels.select(col("v").as("doc_id"), col("lbl")), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(sizeW))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the scale path complementing
    * [[dedupClusters]]'s plain min-label propagation:
    *
    *  - propagation converges in O(diameter) passes — ideal for the
    *    clique-ish graphs LSH near-dup evidence actually produces;
    *  - two-star converges in O(log² n) ROUNDS REGARDLESS OF DIAMETER,
    *    so it is the right tool when the pair threshold admits
    *    chain-shaped evidence (low-threshold fuzzy dedup, co-citation
    *    graphs), where propagation would need diameter ≈ n passes.
    *
    * One round = two shuffles, each a groupBy-min on the current edge
    * set (map-side partial agg, no driver state; the edge set only ever
    * SHRINKS toward the star form, so per-round cost decreases).
    *
    *  - large-star: every node u links each LARGER neighbor to
    *    m = min(Γ⁺(u)) — hooks tall chains onto small labels without
    *    growing the edge count;
    *  - small-star: every node u links each neighbor ≤ u (and itself)
    *    to m — flattens the partial trees into stars.
    *
    * The fixed point is exactly the star set {(min(C), v) | v ∈ C} per
    * component C, detected by edge-set stability (same count + empty
    * anti-join — both sides are distinct canonical pairs). Labels then
    * read directly off the stars. Same contract as [[dedupClusters]]:
    * `vertices(doc_id)` + `pairs(doc_a, doc_b)` →
    * (doc_id, cluster_id, cluster_size); spec-asserted equal on shared
    * inputs (chains included) and oracle-checked against the same
    * recursive-CTE closure.
    */
  def dedupClustersTwoStar(vertices: DataFrame, pairs: DataFrame,
      maxIters: Int = 25): DataFrame = {
    // canonical undirected edge set: (a, b) with a < b, distinct
    def canon(x: Column, y: Column)(df: DataFrame): DataFrame =
      df.select(least(x, y).as("a"), greatest(x, y).as("b"))
        .filter(col("a") =!= col("b")).distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val m = adj.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      canon(col("v"), col("m"))(
        adj.join(m, Seq("u")).filter(col("v") > col("u")))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // direct each edge large→small: all of u's listed neighbors are
      // < u, so min(Γ⁺(u)) = min(v)
      val adj = e.select(col("b").as("u"), col("a").as("v"))
      val m = adj.groupBy(col("u")).agg(min(col("v")).as("m"))
      canon(col("x"), col("y"))(
        adj.join(m, Seq("u")).select(col("v").as("x"), col("m").as("y"))
          .unionByName(m.select(col("u").as("x"), col("m").as("y"))))
    }

    var edges = canon(col("doc_a"), col("doc_b"))(
      pairs.select(col("doc_a"), col("doc_b"))).localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      // set equality: both sides distinct, so equal count + empty
      // difference one way ⇒ equal sets
      converged = next.count() == edges.count() &&
        next.join(edges, Seq("a", "b"), "left_anti").isEmpty
      freeSnapshot(edges)
      edges = next
      iter += 1
    }
    if (!converged && iter > 0)
      log.warn(s"dedupClustersTwoStar stopped at maxIters=$maxIters before " +
        "the edge set stabilized; labels may be an over-segmentation")
    // at the fixed point every edge is (component-min, v): leaves label
    // with their center, centers with themselves; groupBy-min also
    // covers a truncated (non-star) exit soundly
    val labels = edges.select(col("b").as("v"), col("a").as("lbl"))
      .unionByName(edges.select(col("a").as("v"), col("a").as("lbl")))
      .groupBy(col("v")).agg(min(col("lbl")).as("lbl"))
    attachClusters(vertices, labels)
  }

  /** LSH band-coverage curve (d84) — the e30/e44 probe-coverage lever
    * applied to the dedup family: candidate recall of the exact
    * ≥ threshold Jaccard pairs as a function of how many of the k-wide
    * signature's bands are banded, over the d04/d52 measurement slice.
    * Band subsets are PREFIXES of one shared signature (bands 0..b−1),
    * and a bucket's cap verdict depends only on its own (bno, bkey), so
    * candidate sets nest and the curve is nondecreasing BY CONSTRUCTION
    * (spec-pinned) — the knob a production dedup job turns when tuning
    * band count against the published 1−(1−j^r)^b hit law.
    *
    * Measured caveat (the d32/d57 ship-with-measured-caveat pattern):
    * this corpus's pair population is bimodal — 6 near-exact twins at
    * j ≥ 0.9 and everything else below 0.1 — so the registered curve
    * is flat at 1.0 (twins band everywhere). The gradation the device
    * exists to measure is spec-proven on constructed mid-Jaccard
    * fixtures; the registered row pins the construction and the
    * full-recall regime.
    *
    * Returns one row per band count:
    * (n_bands, n_truth, n_found, recall).
    */
  def lshBandCurve(docs: DataFrame, bandCounts: Seq[Int] = Seq(2, 4, 8, 16),
      k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      maxBucket: Long = 1000L, maxDf: Long = 10000L): DataFrame = {
    require(bandCounts.nonEmpty && bandCounts.forall(b => b >= 1 && b <= bands),
      s"bandCounts=$bandCounts out of 1..$bands")
    val truth = jaccardAll(docs, threshold, maxDf)
      .select(col("doc_a").as("a"), col("doc_b").as("b")).localCheckpoint(true)
    val banded = bandKeys(minhash(hashedShingles(docs), k), k, bands)
      .localCheckpoint(true)
    // FUSED arms (round-14; the e30/e44 nested-curve device): band
    // subsets are PREFIXES and a bucket's cap verdict depends only on
    // its own (bno, bkey), so arm nb's candidate set is exactly {pairs
    // whose smallest admitting band < nb} of the deepest arm's. ONE
    // bucket-capped self-join (the lshCandidates shape over the deepest
    // prefix) tags each pair with min(bno); each arm is a filter over
    // the one materialized pair table — candidate sets per arm are
    // unchanged.
    val bounded = bandStage(banded, bandCounts.max, Some(maxBucket))
    // every arm reads this (semi-join leg) — shared under the size
    // budget, gated on the scan-rooted docs (shareSmall doc): the
    // banded pair table is a candidate-pair blowup that must not be
    // pinned at corpus scale; above the budget each arm recomputes the
    // single capped self-join
    val pairs = graft.sources.ScanParallelism.shareSmall(
      bounded.as("x").join(bounded.as("y"),
          col("x.bno") === col("y.bno") && col("x.bkey") === col("y.bkey")
            && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.bno").as("bno"))
        .groupBy(col("a"), col("b")).agg(min(col("bno")).as("min_bno")),
      gate = docs)
    bandCounts.map { nb =>
      val cand = pairs.filter(col("min_bno") < nb).select(col("a"), col("b"))
      truth.agg(count(lit(1)).as("n_truth")).crossJoin(
          truth.join(cand, Seq("a", "b"), "left_semi")
            .agg(count(lit(1)).as("n_found")))
        .select(lit(nb.toLong).as("n_bands"),
          col("n_truth").cast("long").as("n_truth"),
          col("n_found").cast("long").as("n_found"),
          // a sliced corpus with NO ≥ threshold pairs has no recall to
          // report: NULL, not 0.0/0.0 = NaN (mirrored in the d84 oracle)
          when(col("n_truth") > 0,
            col("n_found").cast("double") / col("n_truth")).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Cross-engine-exact HyperLogLOG gram cardinality (d81) — the
    * cardinality member of the sketch family (Bloom d11, Misra-Gries
    * top-k, windowed quantiles), built DETERMINISTICALLY so the sketch
    * itself registers against the oracle, not just the exact twin:
    * per language, the 2^p-register dense HLL of the 60-bit gram-hash
    * stream next to the exact distinct count and the relative error.
    * (Engine-native approx_count_distinct sketches differ across
    * engines and could only register rows-only; this one is the same
    * algorithm run bit-identically in both.)
    *
    * Construction (Flajolet et al. 2007, raw estimator): register
    * index = low p bits of the gram hash, remainder w carries
    * L = 60−p bits, rank ρ = L+1 − bitlength(w) (w = 0 → L+1;
    * bitlength via length(bin(w)) — same string form in both
    * engines). The harmonic mean is kept EXACT: Σ 2^(−M_j) is scaled
    * to the integer Σ 2^(L+1−M_j) (≤ 2^(p + L+1) < 2^63, summed as
    * BIGINT), and α_m·m²·2^(L+1) is ONE double literal shared with
    * the oracle, so the single double division is bit-identical.
    * Raw estimator only — no small/large-range correction, which is
    * the honest regime for vocabulary-scale counts (documented; the
    * measured per-language |rel_err| at m = 256 is the spec's bound).
    *
    * Scale shape: the sketch needs NO distinct — max() is idempotent,
    * so registers build by one map-side-combined (lang, j) max over
    * the raw gram stream, 2^p keys per language, never a
    * corpus-wide dedup shuffle. That is the whole point of HLL at
    * 100 TB: the exact twin beside it pays the distinct shuffle and
    * exists only because the registered row prices the estimator
    * honestly. Empty registers ride a (langs × 2^p) generated grid.
    *
    * Returns (lang, n_exact, hll_est, rel_err) per language with ≥ 1
    * gram.
    */
  def hllGramCardinality(docs: DataFrame, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"p=$p out of range")
    val m = 1 << p
    val L = 60 - p
    val alphaM = 0.7213 / (1.0 + 1.079 / m)
    val alphaNum = alphaM * m.toDouble * m.toDouble * math.pow(2.0, L + 1)
    val hg = hashedShingles(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("lang"), col("hs"))
    val rho = hg.select(col("lang"), (col("hs") % m).as("j"),
        expr(s"hs div $m").as("w"))
      .select(col("lang"), col("j"), expr(
        s"CASE WHEN w = 0 THEN ${L + 1} ELSE CAST(${L + 1} - length(bin(w)) AS INT) END")
        .as("rho"))
    val regs = rho.groupBy(col("lang"), col("j")).agg(max(col("rho")).as("mj"))
    val grid = hg.select(col("lang")).distinct()
      .crossJoin(broadcast(
        docs.sparkSession.range(0, m).select(col("id").as("j"))))
    val sums = grid.join(regs, Seq("lang", "j"), "left_outer")
      .select(col("lang"), coalesce(col("mj"), lit(0)).as("mj"))
      .select(col("lang"), expr(s"shiftleft(CAST(1 AS BIGINT), ${L + 1} - mj)").as("t"))
      .groupBy(col("lang")).agg(sum(col("t")).cast("long").as("s"))
    val exact = hg.groupBy(col("lang"))
      .agg(countDistinct(col("hs")).cast("long").as("n_exact"))
    exact.join(sums, Seq("lang"))
      .select(col("lang"), col("n_exact"),
        (lit(alphaNum) / col("s").cast("double")).as("hll_est"))
      .withColumn("rel_err",
        (col("hll_est") - col("n_exact")) / col("n_exact"))
  }

  /** The [[hllGramCardinality]] α_m·m²·2^(L+1) numerator for the oracle
    * side — Double.toString round-trips, so both engines parse the SAME
    * double from this literal.
    */
  def hllAlphaNum(p: Int): String = {
    val m = 1 << p
    val alphaM = 0.7213 / (1.0 + 1.079 / m)
    (alphaM * m.toDouble * m.toDouble * math.pow(2.0, 60 - p + 1)).toString
  }

  // ---- persisted MinHash-LSH dedup index (d77/d78/d79) ----

  /** Long-format band rows (doc_id, bno, bkey) from a k-wide signature:
    * [[bandKeys]], then the uncapped [[bandStage]].
    */
  def bandRows(sig: DataFrame, k: Int, bands: Int): DataFrame =
    bandStage(bandKeys(sig, k, bands), bands)

  /** PERSIST the MinHash-LSH dedup index (the build half of d77) — the
    * production shape of fuzzy dedup against a historical corpus: the
    * history's k-wide MinHash signatures plus their banded bucket rows,
    * written once per corpus version, so future increments deduplicate
    * against ALL of history without ever re-reading or re-minhashing
    * history text (signatures are ~k·8 bytes/doc vs the documents
    * themselves). Completes the persisted-index triple (ANN e31/e41,
    * grams d44) for the LSH dedup family.
    *
    * Like the SRP family (e41) and unlike IVF (e31), NOTHING here is
    * trained — signatures and band keys are pure per-document functions
    * of the text and the (k, bands) parameters — so appends are exact:
    * an appended index is row-identical to a fresh build on the grown
    * corpus ([[appendLshIndex]]).
    *
    * The bucket-size guard is deliberately NOT baked in at build time:
    * [[lshDedupIndexed]] evaluates it at probe time over current
    * counts, so the cap stays correct as appends grow buckets (a
    * build-time cap would freeze verdicts about bucket health that
    * appends invalidate). At 100 TB the band table would be bucketed BY
    * (bno, bkey) so probe joins co-locate without shuffling the index;
    * the signature table is an 8k-bytes-per-doc scan either way.
    */
  def saveLshIndex(history: DataFrame, path: String, k: Int = 64,
      bands: Int = 16): Unit = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    // checkpointed: sig feeds BOTH table writes — uncheckpointed, the
    // bands write re-ran the whole shingle+md5+minhash chain
    val sig = minhash(hashedShingles(history), k).localCheckpoint(true)
    // VERSIONED (the d153 device): sig and band rows both carry doc_id
    // and appends are id-monotone with frozen history files, so a
    // snapshot version IS its watermark — an as-of probe is the same
    // candidate join over one pushed doc_id cut ([[lshDedupIndexed]]).
    graft.sources.IndexManifest.rebuild(path, "lsh", true, history, "doc_id",
      _ => Map("k" -> k.toLong, "bands" -> bands.toLong))(
      () => sig.write.mode("overwrite").parquet(s"$path/sig"),
      () => bandRows(sig, k, bands).write.mode("overwrite")
        .parquet(s"$path/bands"))
  }

  /** APPEND new documents to a persisted LSH index (d78) — signatures
    * are parameter-derived (nothing trained), so append ≡ rebuild
    * EXACTLY: the appended index's sig/bands tables are row-identical
    * to a fresh [[saveLshIndex]] on the grown corpus (the e42-strength
    * claim, spec-pinned; registered against d77's oracle verbatim).
    * History files stay byte-frozen; the increment passes the shared
    * prelude ([[graft.sources.IndexManifest.beginAppend]]).
    */
  def appendLshIndex(newDocs: DataFrame, path: String): Unit = {
    import graft.sources.IndexManifest
    // BOTH tables guarded: the two appends run concurrently, so a crash
    // can commit either table first, and each needs its own orphan
    // witness. The increment's signature materialization overlaps the
    // guards (a pure read: on failure nothing has been written, and the
    // checkpoint blocks die with the JVM's hygiene pass).
    IndexManifest.append(path, IndexManifest.require(path, "lsh"), true,
        newDocs, "doc_id", Seq("sig" -> "doc_id", "bands" -> "doc_id"),
        _.man.params) { inc =>
      val (k, bands) = (inc.man.params("k").toInt, inc.man.params("bands").toInt)
      // checkpointed: both table writes read sig (saveLshIndex doc)
      val sig = minhash(hashedShingles(newDocs), k).localCheckpoint(true)
      Seq(
        () => sig.write.mode("append").parquet(s"$path/sig"),
        () => bandRows(sig, k, bands).write.mode("append")
          .parquet(s"$path/bands"))
    }
  }

  /** Fuzzy-dedup an increment against a persisted LSH index (d77) —
    * the probe half: per increment document, every history candidate
    * sharing a band bucket, scored by signature-agreement Jaccard
    * (the d27 estimator — no history text, no shingle intersection),
    * with the best match and a threshold verdict.
    *
    * Returns one row per increment doc with ≥ 3 tokens (the shingle
    * convention): (doc_id, n_cand, dup_of, best_est, is_dup) —
    * `dup_of` the lowest-id history doc achieving the best estimate,
    * NULL when no candidate banded; `is_dup` = best_est ≥ threshold.
    *
    * Scale shape: the candidate join is a shuffled equi-join on
    * (bno, bkey) whose fan-out is bounded by the probe-time bucket cap
    * (history buckets with > maxBucket members are skipped — the
    * documented lshCandidates recall trade evaluated against CURRENT
    * index counts so appends stay exact); the signature joins are
    * doc_id equi-joins against an 8k-bytes-per-doc table. Both index
    * sides are corpus-scale at 100 TB, so neither carries a broadcast
    * hint — AQE broadcasts them at toy SF on measured size and
    * correctly degrades to shuffle at scale (the cutSpans reasoning).
    * The increment's text is scanned exactly once (signature build);
    * history text is never touched.
    */
  def lshDedupIndexed(increment: DataFrame, path: String,
      threshold: Double = 0.5, maxBucket: Long = 1000L,
      asOfVersion: Option[Int] = None): DataFrame = {
    val man = graft.sources.IndexManifest.require(path, "lsh")
    val k = man.params("k").toInt
    val bands = man.params("bands").toInt
    val spark = increment.sparkSession
    // TIME TRAVEL (d157, the d153 device): a snapshot version IS its
    // watermark on this id-monotone append-only store, so the as-of
    // probe cuts BOTH index tables with one pushed doc_id filter —
    // candidates, signature agreement, AND the bucket-size cap are then
    // evaluated against exactly the index training run X probed
    // (cap-at-snapshot-counts, not current counts: a bucket that grew
    // past the cap since must not retroactively mute version-N verdicts)
    val (hsig, hbands) = asOfVersion match {
      case None =>
        (Tables.readParquet(spark, s"$path/sig"),
          Tables.readParquet(spark, s"$path/bands"))
      case Some(v) =>
        val wm = graft.sources.IndexManifest.readVersion(path, v).corpusMaxId
        (Tables.readParquet(spark, s"$path/sig").filter(col("doc_id") <= wm),
          Tables.readParquet(spark, s"$path/bands").filter(col("doc_id") <= wm))
    }
    // probe-time bucket cap over the (possibly snapshot-cut) counts
    probeWithLshIndex(increment, hsig, cappedBands(hbands, maxBucket), k,
      bands, threshold)
  }

  /** The probe-time bucket cap: the band rows of buckets holding at most
    * `maxBucket` docs, counted over `hbands` as loaded (the live table or
    * a snapshot cut), so the cap follows appends. Shared by
    * [[lshDedupIndexed]] and the streaming fuzzy-dedup gate.
    */
  private[graft] def cappedBands(hbands: DataFrame, maxBucket: Long): DataFrame =
    hbands.join(hbands.groupBy(col("bno"), col("bkey"))
        .agg(count(lit(1)).as("n")).filter(col("n") <= maxBucket)
        .select(col("bno"), col("bkey")),
      Seq("bno", "bkey"))

  /** The probe kernel behind [[lshDedupIndexed]], over already-loaded
    * (and bucket-capped) index frames — callers that probe MANY
    * increments (or micro-batches:
    * [[graft.streaming.EventTimeOps]]'s fuzzy-dedup gate) load, cap,
    * and persist the tables once and call this per probe instead of
    * re-opening the store.
    */
  def probeWithLshIndex(increment: DataFrame, hsig: DataFrame,
      hb: DataFrame, k: Int, bands: Int, threshold: Double): DataFrame = {
    // NOT checkpointed (contrast saveLshIndex): this kernel also runs
    // per micro-batch in the streaming fuzzy-dedup gate, where an eager
    // checkpoint per batch would leak block-manager state; the two
    // consumers share the signature subtree through its exchange
    // (ReuseExchange), so the heavy chain still evaluates once
    val isig = minhash(hashedShingles(increment), k)
    val cand = bandRows(isig, k, bands).select(col("doc_id").as("nid"),
        col("bno"), col("bkey"))
      .join(hb.select(col("doc_id").as("hid"), col("bno"), col("bkey")),
        Seq("bno", "bkey"))
      .select(col("nid"), col("hid")).distinct()
    val si = isig.select(col("doc_id").as("nid") +:
      (0 until k).map(i => col(s"mh$i").as(s"i_mh$i")): _*)
    val sh = hsig.select(col("doc_id").as("hid") +:
      (0 until k).map(i => col(s"mh$i").as(s"h_mh$i")): _*)
    val agree = (0 until k)
      .map(i => when(col(s"i_mh$i") === col(s"h_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand.join(si, Seq("nid")).join(sh, Seq("hid"))
      .select(col("nid"), col("hid"),
        (agree.cast("double") / lit(k)).as("ej"))
    val best = est.groupBy(col("nid"))
      .agg(count(lit(1)).as("n_cand"), max(col("ej")).as("best_est"))
    // lowest-id history doc at the best estimate (exact multiples of
    // 1/k, so the double equality is bit-safe cross-engine)
    val dof = est.join(best, Seq("nid"))
      .filter(col("ej") === col("best_est"))
      .groupBy(col("nid")).agg(min(col("hid")).as("dup_of"))
    increment.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"))
      .join(best.withColumnRenamed("nid", "doc_id"), Seq("doc_id"), "left_outer")
      .join(dof.withColumnRenamed("nid", "doc_id"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("dup_of"), col("best_est"),
        coalesce(col("best_est") >= threshold, lit(false)).as("is_dup"))
  }

  /** SYNC a persisted LSH index to the current corpus (d79) — the
    * shared [[graft.sources.IndexManifest.sync]] policy; the append arm
    * ([[appendLshIndex]]) is exact, since nothing is trained.
    */
  def lshIndexSync(docs: DataFrame, path: String, k: Int = 64,
      bands: Int = 16): String =
    graft.sources.IndexManifest.sync(docs, "doc_id", path, "lsh",
      Map("k" -> k.toLong, "bands" -> bands.toLong))(
      appendLshIndex(_, path))(saveLshIndex(docs, path, k, bands))
}
