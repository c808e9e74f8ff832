package graft.operators

import graft.sources.{IndexManifest, IndexManifestException, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two paths:
  *
  *  - brute force: broadcast the (small) query set against the corpus —
  *    a BroadcastNestedLoopJoin, exact, O(|Q|·N); the correctness
  *    baseline.
  *  - LSH-bucketed: a deterministic sign-projection bucket per vector,
  *    then a hash join on bucket — each query only scores its own
  *    bucket, O(N·avg_bucket). This is the 100 TB path: the bucket id
  *    is computed scan-side (no shuffle until the bucketed join), and
  *    bucket count scales with corpus size.
  *
  * All arithmetic is double-precision sequential (cast float→double then
  * left-to-right fold), so scores are bit-identical to the DuckDB oracle.
  */
object Similarity {

  /** Embedding normalized view: (vec_id, e double[], nrm). Kept a PURE
    * projection (several consumers are plan-pinned zero-exchange
    * scan-side operators); the heavy SCORING consumers widen their
    * corpus side explicitly ([[graft.sources.ScanParallelism.widen]]).
    */
  def normalized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("nrm", sqrt(graft.functions.ArrayDotProduct(col("e"), col("e"))))

  /** The corpus re-expressed as UNIT vectors: each embedding divided by
    * its own L2 norm (component-wise double division — deterministic, so
    * the oracle recomputes it bit-for-bit). On unit vectors L2 distance
    * and cosine are monotone transforms of each other
    * (‖q−x‖² = 2 − 2·cos), so the ADC-L2 estimator used by the PQ
    * family ranks by the SAME metric the exact cosine baseline ranks
    * by — the normalize-upstream step every production ANN pipeline
    * runs before building an index scored in L2. Pure scan-side
    * expression work; returns (vec_id, embedding double[]) so it drops
    * in wherever a raw corpus would.
    */
  def unitNormalized(emb: DataFrame): DataFrame =
    normalized(emb).select(col("vec_id"),
      expr("transform(e, x -> x / nrm)").as("embedding"))

  private def dot(a: String, b: String): Column =
    graft.functions.ArrayDotProduct(col(a), col(b))

  /** Normalized view + the deterministic sign-projection bucket (see
    * [[annTopK]] for the construction; shared with [[nearDupPairs]]).
    */
  private def withBucket(emb: DataFrame, bits: Int): DataFrame =
    normalized(emb).withColumn("bucket",
      (0 until bits).map { j =>
        val b = 4 * j
        when((element_at(col("e"), b + 1) + element_at(col("e"), b + 2)
          - element_at(col("e"), b + 3) - element_at(col("e"), b + 4)) > 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce((a: Column, b: Column) => a + b).cast("long"))

  /** Exact top-k cosine neighbors for each query vector (queries = rows
    * matching `queryPred`). Query side is broadcast.
    */
  def cosineTopK(emb: DataFrame, queryPred: Column, k: Int,
      candPred: Column = lit(true)): DataFrame = {
    val n = normalized(emb)
    val q = n.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    // candPred filters the candidate SIDE scan-side (the exact half of
    // attribute-filtered search, e58/e59; default passes everything).
    // The scored side is widened: |Q|·N dot products on a one-row-group
    // bench corpus otherwise run in a single task (ScanParallelism doc)
    val c = normalized(graft.sources.ScanParallelism.widen(emb.filter(candPred)))
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"), col("nrm").as("cn"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot("qe", "ce") / (col("qn") * col("cn"))).as("cosine"))
    topK(scored, k)
  }

  /** ANN: score only within the query's bucket (hash join on bucket id).
    *
    * Bucket id is a deterministic sign projection: bit j compares a fixed
    * ±1 combination of 4 coordinates (1-based dims 4j+1..4j+4, matching
    * the SQL oracle's indexing) against 0 — a stand-in for
    * random-hyperplane LSH with the planes fixed so every engine computes
    * the same buckets.
    */
  def annTopK(emb: DataFrame, queryPred: Column, k: Int, bits: Int = 6): DataFrame =
    bucketTopK(emb, queryPred, k, bits, probeMasks = Seq(0L))

  /** Multi-probe ANN: each query probes its own bucket AND the `bits`
    * buckets at Hamming distance 1 (one sign bit flipped) — the
    * standard recall lever for sign-projection LSH: a near neighbor
    * that landed just across one hyperplane is found without coarsening
    * the buckets. Candidate volume grows (bits+1)× per query, still
    * never N×N, and the probe expansion happens scan-side on the
    * (small) query side before the same hash join [[annTopK]] uses.
    * Measured on the synthetic corpus at sf0.01: recall@3 vs exact rises
    * 0.0 → 0.167 over single-probe (absolute recall is low by
    * construction there — random vectors barely correlate bucket
    * agreement with cosine; clustered real corpora fare far better).
    */
  def annTopKMultiProbe(emb: DataFrame, queryPred: Column, k: Int,
      bits: Int = 6): DataFrame =
    bucketTopK(emb, queryPred, k, bits,
      probeMasks = 0L +: (0 until bits).map(j => 1L << j))

  /** Attribute-FILTERED ANN (e58) — top-k among only the candidates
    * satisfying a metadata predicate (the "filtered vector search"
    * every production retrieval system serves: nearest documents OF
    * TYPE X). Pre-filtering semantics (the candidate side is cut
    * scan-side BEFORE the bucket join — on a label-partitioned store
    * that is a partition prune), with the multi-probe mask set because
    * filtering thins buckets: a selective predicate leaves ~1/|labels|
    * of each bucket, so the Hamming-1 probes recover candidate volume
    * the filter removed. Post-filtering (search-then-filter) would
    * instead UNDER-FILL k whenever the unfiltered top-k is dominated by
    * non-matching labels — the documented trade this operator takes.
    * Returns (query_id, rk, neighbor_id, cosine).
    */
  def annTopKFiltered(emb: DataFrame, queryPred: Column, candPred: Column,
      k: Int, bits: Int = 6): DataFrame =
    bucketTopK(emb, queryPred, k, bits,
      probeMasks = 0L +: (0 until bits).map(j => 1L << j),
      candPred = candPred)

  /** Filtered-ANN recall (e59) — [[annTopKFiltered]] against the exact
    * filtered baseline ([[cosineTopK]] with the same candidate
    * predicate), one aggregate row (the e55 device). The denominator
    * counts the exact side's ACTUAL rows, not k·queries: a selective
    * filter can leave a query fewer than k matching candidates
    * corpus-wide, and recall against phantom rows would understate.
    */
  def filteredAnnRecall(emb: DataFrame, queryPred: Column,
      candPred: Column, k: Int, bits: Int = 6): DataFrame = {
    val found = annTopKFiltered(emb, queryPred, candPred, k, bits)
      .select(col("query_id"), col("neighbor_id"))
    val exact = cosineTopK(emb, queryPred, k, candPred)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true)
    val denom = exact.agg(count(lit(1)).cast("long").as("n_exact"))
    val hits = found.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_hits"))
    hits.crossJoin(broadcast(denom)).select(col("n_exact"), col("n_hits"),
      (col("n_hits").cast("double") / col("n_exact")).as("recall"))
  }

  /** Shared body of the bucketed top-k paths: expand each query to
    * `probeMasks.size` probe buckets (bucket XOR mask — mask 0 is the
    * single-probe case), hash-join candidates on the bucket id, score,
    * rank. A neighbor matches at most one probe (probes are distinct
    * buckets; the neighbor has exactly one), so no pair dedup needed.
    */
  private def bucketTopK(emb: DataFrame, queryPred: Column, k: Int,
      bits: Int, probeMasks: Seq[Long],
      candPred: Column = lit(true)): DataFrame = {
    val n = withBucket(emb, bits)
    val q0 = n.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("bucket"))
    val q =
      if (probeMasks == Seq(0L)) q0 // keep e02's plan explode-free
      else q0
        .withColumn("m", explode(array(probeMasks.map(lit(_)): _*)))
        .withColumn("bucket", col("bucket").bitwiseXOR(col("m")))
        .drop("m")
    // the attribute filter cuts the candidate side BEFORE the bucket
    // join (scan-side; e58) — on a label-partitioned 100 TB store this
    // is a PartitionFilters prune, not a post-join discard. Widened for
    // the same reason as cosineTopK's scored side (ScanParallelism doc).
    val c = withBucket(graft.sources.ScanParallelism.widen(emb.filter(candPred)), bits)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
        col("nrm").as("cn"), col("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot("qe", "ce") / (col("qn") * col("cn"))).as("cosine"))
    topK(scored, k)
  }

  /** k-NN GRAPH construction: every corpus vector's top-k cosine
    * neighbors within its sign-projection bucket — [[annTopK]] with the
    * whole corpus as the query side. The precursor artifact for
    * semantic dedup, graph-based clustering, and diversity sampling.
    *
    * Scale shape: the self-join is keyed on the bucket id, so candidate
    * volume is Σ bucket² (bounded by `bits` granularity), never N² —
    * and unlike the query-path variants there is no broadcast side:
    * both sides shuffle on the bucket key, which is exactly what a
    * corpus-sized "query set" needs. Vectors alone in their bucket
    * yield no rows (no neighbors at this granularity), matching the
    * bucketed-ANN contract. Returns (vec_id, rk, neighbor_id, cosine).
    */
  def knnGraph(emb: DataFrame, k: Int, bits: Int = 6): DataFrame =
    bucketTopK(emb, lit(true), k, bits, probeMasks = Seq(0L))
      .withColumnRenamed("query_id", "vec_id")

  /** Embedding-cosine near-duplicate pairs — the dedup-by-embedding
    * variant (complements the text-side exact/MinHash/SimHash family):
    * vectors pair up ONLY inside their sign-projection bucket (same
    * bucketing as [[annTopK]]), then exact cosine ≥ `threshold` keeps
    * near-dups. Never all-pairs: the self-join is keyed on the bucket
    * id, so cost is Σ bucket², bounded by bucket granularity (`bits`),
    * not corpus². On this synthetic (random) corpus real near-dup
    * cosines don't occur, so the registered query uses a low threshold
    * to exercise the path; a production corpus would use ~0.95.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double, bits: Int = 6): DataFrame = {
    val n = withBucket(emb, bits)
    val x = n.select(col("vec_id").as("vec_a"), col("e").as("ae"),
      col("nrm").as("an"), col("bucket"))
    val y = n.select(col("vec_id").as("vec_b"), col("e").as("be"),
      col("nrm").as("bn"), col("bucket"))
    x.join(y, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (dot("ae", "be") / (col("an") * col("bn"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** PageRank over the [[knnGraph]] similarity graph (e50) — the
    * graph-centrality data-selection signal (a document whose
    * neighborhood is itself well-connected is "representative"; the
    * same shape ranks the web graph): power iteration
    * r' = (1−d)/N + d·Σ r_u/deg(u) over the directed kNN edge set.
    *
    * Cross-engine exactness WITHOUT transcendentals: all mass is
    * integer micro-units (`scale` = 1e12 total per node at start).
    * Each step is floor division — contribution = m div deg, damping =
    * (damp·Σ) div 100 — so every iteration is exact BIGINT arithmetic
    * in both engines; the oracle unrolls the same `iters` steps as
    * chained CTEs. Dangling nodes (no out-edges — a bucket singleton
    * has no same-bucket neighbors) keep RECEIVING mass but their own
    * mass leaks (the standard "remove dangling mass" variant; the
    * floor residue leaks the same way), so masses are a ranking
    * signal, not a strict distribution — documented, deterministic.
    *
    * Scale shape: edges are built once (the bucketed kNN self-join —
    * Σ bucket², never corpus²) and localCheckpointed with their
    * out-degrees (the CC-iteration device: each power step must not
    * re-derive the graph); one step = two keyed shuffles (join on src,
    * groupBy dst) over corpus-sized frames — the canonical iterative-
    * join PageRank every distributed graph engine runs. The ONLY
    * driver value is N (one scalar). `iters` is small and fixed;
    * lineage is cut per step.
    *
    * Returns (vec_id, m) — integer micro-mass per node.
    */
  def pageRank(emb: DataFrame, k: Int, bits: Int = 6, iters: Int = 3,
      scale: Long = 1000000000000L, damp: Int = 85): DataFrame = {
    require(iters >= 1 && damp > 0 && damp < 100, s"iters=$iters damp=$damp")
    val edges = knnGraph(emb, k, bits)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(deg, Seq("src")).localCheckpoint(true)
    val nodes = emb.select(col("vec_id")).localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "empty graph")
    val r0 = scale / n
    val teleport = scale * (100 - damp) / 100 / n
    var ranks = nodes.withColumn("m", lit(r0))
    for (_ <- 1 to iters) {
      val contribs = withDeg
        .join(ranks.withColumnRenamed("vec_id", "src"), Seq("src"))
        .select(col("dst").as("vec_id"), expr("m div deg").as("c"))
      val inSums = contribs.groupBy(col("vec_id")).agg(sum(col("c")).as("sm"))
      ranks = nodes.join(inSums, Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          (lit(teleport) + expr(s"($damp * coalesce(sm, 0L)) div 100"))
            .cast("long").as("m"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** SemDeDup (e45) — Abbas et al. 2023 ("SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): embeddings
    * are clustered, and semantic near-duplicates are searched ONLY
    * within each cluster — the published device that makes
    * embedding-space dedup tractable at web scale, because pair
    * formation is bounded by cluster granularity (Σ cell² work), never
    * corpus². Per-vector verdict: DROP iff some LOWER-id member of the
    * same cluster sits at cosine ≥ `threshold` (the deterministic
    * keep-one-representative rule; the paper keeps an arbitrary member
    * per dup set — id order is the reproducible stand-in, exactly
    * d42's keep-first policy transplanted to embedding space).
    *
    * Composition story vs the text family: d01/d03 mine exact/LSH text
    * pairs, [[nearDupPairs]] (d10) mines cosine pairs inside
    * sign-projection buckets; SemDeDup swaps the bucket structure for
    * the TRAINED cluster structure (the shared scan-side
    * literal-inlined centroid assignment — the same device the IVF
    * index family builds on, so the dedup geometry cannot disagree
    * with the index geometry), and folds the pair evidence straight
    * into a per-vector keep bit.
    *
    * Scale shape: assignment is scan-side expression work (no join, no
    * shuffle — [[centroidScores]] doc); the pair search is one
    * equi-join on cell; the verdict aggregates per vector with
    * map-side partials; the final left join marks droppers. No
    * driver-side state beyond the k·dim centroid literals.
    *
    * Returns (vec_id, cell, n_lower_dups, keep).
    */
  def semanticDedup(emb: DataFrame, threshold: Double,
      nCells: Int = 16, lloydIters: Int = 0): DataFrame = {
    val n = normalized(emb)
    // lloydIters > 0 swaps the seed cells for TRAINED cluster structure
    // (the paper's actual setting — k-means clusters, not arbitrary
    // seeds): the final Lloyd pass's means become the literal centroid
    // set, driver-resident by k-means' nature, and everything below is
    // unchanged — dedup quality tracks cluster quality through one knob
    val cents =
      if (lloydIters == 0) seedCentroids(n, nCells)
      else collectCentroids(kmeansIterate(emb, nCells, lloydIters))
    val asg = n.withColumn("cell",
      (-array_max(scoresFor(cents)).getField("nid")).cast("long"))
    val x = asg.select(col("vec_id"), col("e").as("xe"),
      col("nrm").as("xn"), col("cell"))
    val y = asg.select(col("vec_id").as("other_id"), col("e").as("ye"),
      col("nrm").as("yn"), col("cell"))
    val dups = x.join(y, Seq("cell"))
      .filter(col("other_id") < col("vec_id"))
      .filter((dot("xe", "ye") / (col("xn") * col("yn"))) >= threshold)
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_lower_dups"))
    asg.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_lower_dups"), lit(0L)).as("n_lower_dups"))
      .withColumn("keep", col("n_lower_dups") === 0L)
  }

  /** SemDeDup with the PAPER's keep policy (e49) — Abbas et al. 2023
    * keep, within each duplicate group, the member FARTHEST from its
    * cluster centroid (the paper's ablation found low-similarity
    * representatives generalize best), instead of [[semanticDedup]]'s
    * deterministic lowest-id rule. Three shared devices composed:
    * within-cluster threshold pairs (the e45 mining), connected
    * components over the pair graph ([[Dedup.dedupClusters]] — a dup
    * GROUP is a component, so near-dup chains merge instead of
    * double-dropping), and [[centroidAffinity]] as the extremity
    * score; keep = argmin affinity per group, ties toward the smaller
    * vec_id. The keeper-election window partitions by group — bounded
    * by the dup population, never the corpus. Returns
    * (vec_id, cell, group_id, affinity, keep).
    */
  def semanticDedupExtremity(emb: DataFrame, threshold: Double,
      nCells: Int = 16): DataFrame = {
    val n = normalized(emb)
    val asg = n.withColumn("cell",
      (-array_max(centroidScores(n, nCells)).getField("nid")).cast("long"))
    val x = asg.select(col("vec_id").as("doc_a"), col("e").as("xe"),
      col("nrm").as("xn"), col("cell"))
    val y = asg.select(col("vec_id").as("doc_b"), col("e").as("ye"),
      col("nrm").as("yn"), col("cell"))
    val pairs = x.join(y, Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
      .filter((dot("xe", "ye") / (col("xn") * col("yn"))) >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val groups = Dedup.dedupClusters(
        emb.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("group_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group_id")).orderBy(col("affinity"), col("vec_id"))
    centroidAffinity(emb, nCells).join(groups, Seq("vec_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("vec_id"), col("cell"), col("group_id"),
        col("affinity"), col("keep"))
  }

  /** Greedy k-center selection (e47) — farthest-point-first traversal
    * (Gonzalez 1985), the classic diversity/coreset selection device
    * training-data pipelines use to pick maximally-spread exemplars:
    * start from the lowest vec_id, then `k−1` times select the vector
    * whose min cosine-distance to the already-selected set is LARGEST
    * (ties toward the smaller vec_id). The reported `dist` is the
    * coverage radius achieved at each step — nonincreasing by
    * construction (2.0, the metric's diameter bound, for the seed).
    *
    * Scale shape, k-means-style: the selected set is driver-resident
    * ((k·dim) doubles — selection sets are small by definition); each
    * step is ONE corpus scan scoring the literal-inlined center set
    * (the [[scoresFor]] device's shape) followed by a
    * TakeOrderedAndProject(1) — no joins, no shuffles beyond the
    * top-1. The min-distance fold is left-nested `least`, matching the
    * oracle's chained-stage nesting, and center vectors/norms are
    * COLLECTED from the corpus rows (never recomputed driver-side), so
    * every md value is bit-identical cross-engine — argmax ties
    * included. Returns (step, vec_id, dist).
    */
  def kCenterGreedy(emb: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1, s"k=$k")
    // widened + checkpointed: k sequential min-distance scans over one
    // lineage, each scoring every center per row (ScanParallelism doc)
    val n = normalized(graft.sources.ScanParallelism.widen(emb))
      .localCheckpoint(true)
    val first = n.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("e"), col("nrm")).collect()(0)
    var centers = Vector(
      (first.getLong(0), first.getSeq[Double](1), first.getDouble(2)))
    val out = scala.collection.mutable.ArrayBuffer(
      (1L, first.getLong(0), 2.0))
    def mdCol: Column = centers.map { case (_, ce, cn) =>
      lit(1.0) - graft.functions.ArrayDotProduct(col("e"), typedLit(ce)) /
        (col("nrm") * lit(cn))
    }.reduce(least(_, _))
    for (step <- 2 to k) {
      val sel = n.select(col("vec_id"), col("e"), col("nrm"), mdCol.as("md"))
        .orderBy(col("md").desc, col("vec_id").asc).limit(1).collect()(0)
      out += ((step.toLong, sel.getLong(0), sel.getDouble(3)))
      centers :+= ((sel.getLong(0), sel.getSeq[Double](1), sel.getDouble(2)))
    }
    emb.sparkSession.createDataFrame(out.toSeq).toDF("step", "vec_id", "dist")
  }

  /** IVF (inverted-file) ANN — the centroid-partitioned alternative to
    * the sign-projection LSH of [[annTopK]]:
    *
    *  1. centroids: `nCentroids` fixed vectors (here the lowest vec_ids,
    *     deterministic so the oracle recomputes them; production would
    *     k-means — either way the centroid table is tiny and
    *     driver-held);
    *  2. assignment: every corpus vector goes to its nearest centroid by
    *     cosine. The centroids are collected once and inlined as ARRAY
    *     LITERALS, so assignment is pure scan-side expression work —
    *     no join, no shuffle, codegen over [[graft.functions.ArrayDotProduct]];
    *  3. probes: each query scores only the cells of its `probes`
    *     nearest centroids — candidate volume is the probed cells' mass,
    *     never N×N, and recall/cost trades off via `probes` exactly like
    *     multi-probe LSH.
    *
    * Ties (a vector equidistant to two centroids) break toward the
    * smaller centroid id via struct ordering on (cosine, −cid), matching
    * the oracle's `ORDER BY cosine DESC, cid ASC`.
    */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int,
      nCentroids: Int = 16, probes: Int = 4): DataFrame = {
    val n = normalized(emb)
    ivfTopKFor(n, seedCentroids(n, nCentroids), queryPred, k, probes)
  }

  /** The IVF probe chain against an explicit (driver-held) centroid
    * set — the body shared by [[ivfTopK]] (arbitrary id seeds) and
    * [[ivfTopKTrained]] (k-means cells).
    */
  private def ivfTopKFor(n: DataFrame, cents: Seq[(Long, Seq[Double])],
      queryPred: Column, k: Int, probes: Int): DataFrame = {
    val scoredArr = scoresFor(cents)
    // corpus side widened: per-row assignment scores every centroid and
    // the probed-cell join then scores candidates (ScanParallelism doc)
    val corpus = graft.sources.ScanParallelism.widen(n)
      .withColumn("cell", (-array_max(scoredArr).getField("nid")).cast("long"))
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
        col("nrm").as("cn"), col("cell"))
    val q = n.filter(queryPred)
      .withColumn("probe", explode(slice(sort_array(scoredArr, asc = false), 1, probes)))
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"),
        (-col("probe").getField("nid")).cast("long").as("cell"))
    // each corpus vector lives in exactly one cell and a query's probe
    // cells are distinct, so a neighbor matches at most once — no dedup
    val scored = corpus.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot("qe", "ce") / (col("qn") * col("cn"))).as("cosine"))
    topK(scored, k)
  }

  /** IVF over TRAINED centroids (e71) — the [[ivfTopK]] probe chain
    * with its cells from [[kmeansKcenterSeeded]] (k-center seeds +
    * Lloyd passes) instead of the arbitrary lowest-id seeds: the
    * production IVF shape (FAISS trains its coarse quantizer; the
    * seed-cell e04/e30 rows are the measurement baseline). Trained
    * centroids are driver-resident like every codebook here
    * (k·dims doubles, collected from the final Lloyd pass and inlined
    * as literals), so assignment and probe selection stay pure
    * scan-side expression work. A cell that empties during training
    * drops out (the standard dead-centroid policy) — probes are cut to
    * the surviving cell count.
    */
  def ivfTopKTrained(emb: DataFrame, queryPred: Column, k: Int,
      nCentroids: Int = 8, iters: Int = 2, probes: Int = 4): DataFrame = {
    val n = normalized(emb)
    val cents = collectCentroids(kmeansKcenterSeeded(emb, nCentroids, iters))
    ivfTopKFor(n, cents, queryPred, k, math.min(probes, cents.size))
  }

  /** Trained-IVF recall (e72) — [[ivfTopKTrained]] against the exact
    * baseline with the shared recall definition; pairs with the e30
    * probe-curve point at the same probed-cell fraction to price what
    * TRAINING the coarse quantizer buys over arbitrary id seeds.
    */
  def ivfRecallTrained(emb: DataFrame, queryPred: Column, k: Int,
      nCentroids: Int = 8, iters: Int = 2, probes: Int = 4): DataFrame =
    recallOf(cosineTopK(emb, queryPred, k),
      ivfTopKTrained(emb, queryPred, k, nCentroids, iters, probes), k)

  /** The per-vector cosine-vs-every-seed-centroid score array shared by
    * [[ivfTopK]] (assignment + probe selection) and [[kmeansUpdate]]
    * (assignment): seed centroids are the `nCentroids` lowest vec_ids
    * (deterministic, so the oracle recomputes them), collected once and
    * inlined as ARRAY LITERALS — assignment is pure scan-side expression
    * work, no join, no shuffle, codegen over
    * [[graft.functions.ArrayDotProduct]]. Each element is
    * (c = cosine, nid = −centroid_id): `array_max` picks the nearest
    * cell with ties toward the smaller id, matching the oracle's
    * `ORDER BY cosine DESC, cid ASC`.
    */
  private def centroidScores(n: DataFrame, nCentroids: Int): Column =
    scoresFor(seedCentroids(n, nCentroids))

  /** The `nCentroids` lowest vec_ids as (cid, vector) seeds —
    * deterministic, so the oracle recomputes them.
    */
  private def seedCentroids(n: DataFrame, nCentroids: Int): Seq[(Long, Seq[Double])] = {
    val cents = n.filter(col("vec_id") < nCentroids)
      .select(col("vec_id"), col("e")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    // An empty centroid table would otherwise surface as an obscure
    // zero-arg array()/array_max analysis error downstream; a sparse id
    // space silently shrinking the cell count is worth a trace.
    require(cents.nonEmpty,
      s"no centroid vectors found (no vec_id < $nCentroids in the corpus)")
    if (cents.length < nCentroids)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"only ${cents.length} of $nCentroids centroid ids present; proceeding with fewer cells")
    cents
  }

  /** Cosine-score array against an explicit (driver-held) centroid set.
    * The norm is folded on the driver with the same left-to-right double
    * arithmetic the engines use, so scores stay oracle-exact.
    */
  private def scoresFor(cents: Seq[(Long, Seq[Double])]): Column =
    array(cents.map { case (cid, ce) =>
      val cn = math.sqrt(ce.foldLeft(0.0)((s, x) => s + x * x))
      struct(
        (graft.functions.ArrayDotProduct(col("e"), typedLit(ce)) /
          (col("nrm") * lit(cn))).as("c"),
        lit(-cid).as("nid"))
    }: _*)

  /** Centroid-AFFINITY score (e18): every vector's cosine to its nearest
    * IVF seed centroid — the prototypicality signal semantic curation
    * filters on (low affinity = far from every cluster core: outliers,
    * noise, or novel content, depending on what the pipeline wants to
    * keep). Reuses [[centroidScores]]' scan-side literal-inlined
    * assignment — the SAME device that builds and probes the IVF index
    * (e04/e07/e14), so the signal cannot disagree with the index it
    * describes. Zero joins, zero shuffles: one scan, `array_max`, three
    * columns out. Returns (vec_id, cell, affinity).
    */
  def centroidAffinity(emb: DataFrame, nCells: Int = 16): DataFrame = {
    val n = normalized(emb)
    val best = array_max(centroidScores(n, nCells))
    n.select(col("vec_id"),
      (-best.getField("nid")).cast("long").as("cell"),
      best.getField("c").as("affinity"))
  }

  /** IVF cell-OCCUPANCY stats (e19): member count and corpus share per
    * cell — the balance diagnostic every IVF deployment watches, since
    * probe cost at query time is the probed cells' mass: a skewed
    * assignment means some probes scan far more than corpus/nCells and
    * the p99 latency story dies quietly. One (cell) aggregate over the
    * scan-side assignment (map-side partials, k rows out); share is an
    * exact rational n/total. Returns (cell, n_members, share).
    */
  def cellOccupancy(emb: DataFrame, nCells: Int = 16): DataFrame = {
    // total via a global window over the k AGGREGATED rows (k = nCells,
    // driver-scale), not a second corpus pass: the scan runs once
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    centroidAffinity(emb, nCells).select(col("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("cell"), col("n_members"),
        (col("n_members").cast("double") / sum(col("n_members")).over(w).cast("double"))
          .as("share"))
  }

  /** One k-means (Lloyd) UPDATE pass over the IVF seed centroids — the
    * training step that turns [[ivfTopK]]'s arbitrary seeds into real
    * cluster centers: assign every vector to its nearest centroid
    * (identical scan-side literal-inlined assignment as [[ivfTopK]] —
    * shared code, so index build and index use cannot disagree), then
    * emit each cell's member mean, one row per (cell, dimension) so the
    * output is scalar-typed and oracle-hashable.
    *
    * The per-cell mean is an ORDER-INDEPENDENT exact aggregate: each
    * component is quantized once to DECIMAL(28,8) scan-side, summed per
    * (cell, dim) — decimal addition is exact, so any shuffle/combine
    * order yields the same total — then divided by the member count in
    * one double op. Aggregate state per group is a single decimal + a
    * count, O(1) per (cell, dim) = O(dims) per cell, with map-side
    * partial aggregation; the earlier `collect_list`-of-members
    * formulation buffered O(cell mass) vectors per group, an OOM by
    * construction at full-corpus scale. The 1e-8 component quantization
    * is a documented property of the training step (assignment scoring
    * stays full double precision); the oracle applies the identical
    * cast, so means hash-match bit-for-bit. Iterate = feed the output
    * back as literals.
    *
    * Returns (cell, n_members, dim 1-based, val). Empty cells (a seed
    * attracting no vectors) simply emit no rows, the standard
    * drop-dead-centroid policy.
    */
  def kmeansUpdate(emb: DataFrame, nCentroids: Int = 16): DataFrame = {
    val n = normalized(emb)
    updateFor(n, seedCentroids(n, nCentroids))
  }

  /** Full Lloyd LOOP: [[kmeansUpdate]] iterated `iters` times, each
    * pass's collected means becoming the next pass's literal centroids
    * (cell ids carry through; a cell that empties drops out — the
    * standard dead-centroid policy). Centroids are driver-resident in
    * every k-means implementation, so the per-pass collect is k·dim
    * doubles, not data; the corpus-sized work stays the scan-side
    * assignment + one (cell, dim) exchange per pass. Determinism end to
    * end: means are exact decimal sums (order-independent), fed back
    * bit-exactly as literals, so iteration N is oracle-reproducible by
    * chaining N copies of the update CTEs. Returns the final pass's
    * (cell, n_members, dim, val).
    */
  def kmeansIterate(emb: DataFrame, nCentroids: Int = 16, iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val n = normalized(emb)
    var cents = seedCentroids(n, nCentroids)
    var out = updateFor(n, cents)
    for (_ <- 2 to iters) {
      cents = collectCentroids(out)
      out = updateFor(n, cents)
    }
    out
  }

  /** A (cell, n_members, dim, val) means table collected back to the
    * driver-resident (cid, vector) form — the per-pass step of
    * [[kmeansIterate]], shared with the trained-centroid consumers
    * ([[semanticDedup]] with lloydIters > 0).
    */
  private def collectCentroids(means: DataFrame): Seq[(Long, Seq[Double])] =
    means.select(col("cell"), col("dim"), col("val")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cell, rows) => (cell, rows.sortBy(_._2).map(_._3).toSeq) }

  /** k-means with k-center seeding (e48) — [[kmeansIterate]] with the
    * seed set swapped from the lowest vec_ids to [[kCenterGreedy]]'s
    * farthest-point exemplars: the deterministic farthest-first
    * variant of k-means++ seeding (Katsavounidis et al. 1994). Spread
    * seeds avoid the clumped-seed pathology the arbitrary id seeds
    * have by construction, at the documented price of k extra corpus
    * scans for the selection. Cell ids are the selected vec_ids; seed
    * vectors are COLLECTED from corpus rows (the e47 discipline), so
    * the whole trajectory stays oracle-exact. Returns the final pass's
    * (cell, n_members, dim, val).
    */
  def kmeansKcenterSeeded(emb: DataFrame, nCentroids: Int = 8,
      iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val n = normalized(emb)
    val selIds = kCenterGreedy(emb, nCentroids)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    val rows = n.filter(col("vec_id").isin(selIds: _*))
      .select(col("vec_id"), col("e")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    var cents: Seq[(Long, Seq[Double])] = selIds.sorted.map(id => (id, rows(id)))
    var out = updateFor(n, cents)
    for (_ <- 2 to iters) {
      cents = collectCentroids(out)
      out = updateFor(n, cents)
    }
    out
  }

  /** One assignment + per-cell-mean pass against an explicit centroid
    * set — the body shared by [[kmeansUpdate]] and [[kmeansIterate]].
    */
  private def updateFor(n: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame =
    graft.sources.ScanParallelism.widen(n)
      .withColumn("cell", (-array_max(scoresFor(cents)).getField("nid")).cast("long"))
      .select(col("cell"), posexplode(col("e")))
      .select(col("cell"), (col("pos") + 1).cast("long").as("dim"),
        col("col").cast(meanDec).as("x"))
      .groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n_members"),
        (sum(col("x")).cast("double") / count(lit(1)).cast("double")).as("val"))
      .select(col("cell"), col("n_members"), col("dim"), col("val"))

  /** Component quantization for the k-means mean: DECIMAL(28,8) is the
    * widest scale at which Spark's double→decimal rounding (shortest
    * decimal string, HALF_UP) and DuckDB's (scaled binary value) agree
    * on every embedding component in the test corpus — verified at
    * sf0.001/0.01/0.1; scale 9 already has a disagreeing value. 28
    * integer+fraction digits keeps sum(DECIMAL(28,8)) inside Spark's
    * DECIMAL(38,8) sum type with 10^20 headroom on the member count.
    */
  private val meanDec = org.apache.spark.sql.types.DecimalType(28, 8)

  // ---- product quantization (PQ) ----

  /** Per-(cid, subspace) seed slices: the vectors of `ks` consecutive
    * vec_ids starting at `offset` cut into `m` contiguous sub-vectors —
    * deterministic, so the oracle recomputes them (same seed philosophy
    * as [[seedCentroids]]). Returns (subDim, slices(cidIdx)(sub) =
    * Seq[Double]). Codes are centroid POSITIONS, so dense ids in
    * [offset, offset+ks) are required for position == id − offset (the
    * oracle keys on the id).
    *
    * `offset` exists for the RESIDUAL book ([[residualBooks]]): seeded
    * at 0 over a residual view, the first nCells seeds are the cell
    * centroids' OWN residuals — identically zero, a degenerate one-point
    * codebook (measured: residual recall 0.14 vs raw 0.28 on clustered
    * data before the fix). A residual codebook must seed from residual
    * SAMPLES, so e22 seeds at offset = nCells.
    */
  private def pqSeeds(n: DataFrame, m: Int, ks: Int,
      offset: Int = 0): (Int, Seq[Seq[Seq[Double]]]) = {
    val seeds = n.filter(col("vec_id") >= offset && col("vec_id") < offset + ks)
      .select(col("vec_id"), col("e")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    require(seeds.map(_._1) == (offset until offset + ks).map(_.toLong),
      s"PQ codebook assumes dense seed ids $offset..${offset + ks - 1}, got ${seeds.map(_._1)}")
    val dims = seeds.head._2.length
    require(dims % m == 0, s"embedding dims ($dims) must divide into $m subspaces")
    val subDim = dims / m
    (subDim,
      seeds.map { case (_, e) => (0 until m).map(s => e.slice(s * subDim, (s + 1) * subDim)) })
  }

  /** Corpus vectors with a `codes` column (array of m codes): each
    * subspace assigned to its nearest seed sub-centroid by squared L2,
    * ties toward the smaller centroid id. One compact codegen'd
    * expression ([[graft.functions.PqCodebook.assign]]) — a
    * literal-unrolled formulation at the default 8×16×8 exceeds
    * Janino's method limit and evicts the stage from whole-stage
    * codegen entirely (measured; see PqCodebook doc). Pure scan-side
    * work over the reference-object codebook: no join, no shuffle.
    */
  private def pqCodesWide(n: DataFrame, m: Int, ks: Int): (DataFrame, Int, Seq[Seq[Seq[Double]]]) = {
    val (subDim, slices) = pqSeeds(n, m, ks)
    (n.withColumn("codes", graft.functions.PqCodebook.assign(col("e"), slices, m, subDim)),
      subDim, slices)
  }

  /** PQ ENCODE (the index-build step): every corpus vector compressed to
    * `m` sub-codebook assignments — at scale the stored index is m small
    * ints per vector (here 8 codes ≈ 8 B vs 512 B of raw doubles, the
    * 64× memory win that makes billion-vector ANN fit RAM at all).
    * Long form for oracle hashing: (vec_id, sub 1-based, code).
    */
  def pqEncode(emb: DataFrame, m: Int = 8, ks: Int = 16): DataFrame = {
    val (wide, _, _) = pqCodesWide(normalized(emb), m, ks)
    // OUTER explode: plain posexplode makes the optimizer guard the
    // generate with `size(codes) > 0 AND isnotnull(codes)`, duplicating
    // the assignment kernel into the filter and the scan's DataFilters —
    // 3 evaluations per row (measured; plan guard pins 1). The outer
    // form generates unguarded; ragged-input null rows (none on healthy
    // data) are dropped on the GENERATED column, which cannot push back
    // below the Generate.
    wide.select(col("vec_id"), posexplode_outer(col("codes")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("sub"),
        col("col").as("code"))
      .filter(col("code").isNotNull)
  }

  /** PQ ASYMMETRIC-DISTANCE top-k (the index-use step): each query's
    * exact sub-vectors scored against the corpus's QUANTIZED
    * representatives — dist(q, x) = Σ_s ‖q_s − cent(code_s(x))‖², the
    * standard ADC estimator (query side stays exact, so quantization
    * error enters once, not twice). The corpus side touches ONLY the
    * `codes` column: scoring reads the m-int index plus codebook
    * lookups inside one codegen'd kernel
    * ([[graft.functions.PqCodebook.adcDist]]), never the raw corpus
    * vectors — the PQ scan-cost story. Queries ride a broadcast (same
    * shape as [[cosineTopK]]'s exact baseline). Accumulation order is
    * fixed left-to-right per subspace then across subspaces, so
    * distances hash-match the oracle's explicit `+` chains. Returns
    * (query_id, rk, neighbor_id, adc_dist), rank by (adc_dist asc,
    * neighbor_id).
    */
  def pqAdcTopK(emb: DataFrame, queryPred: Column, k: Int,
      m: Int = 8, ks: Int = 16): DataFrame = {
    val n = normalized(emb)
    val (wide, subDim, slices) = pqCodesWide(n, m, ks)
    val codes = wide.select(col("vec_id").as("neighbor_id"), col("codes"))
    val q = n.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    codes.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.PqCodebook.adcDist(col("qe"), col("codes"), slices, m, subDim)
          .as("adc_dist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("adc_dist"))
  }

  /** PQ sub-codebook TRAINING — one Lloyd pass per subspace (the PQ
    * twin of [[kmeansUpdate]]): assign every vector's subspaces with
    * the SEED codebook ([[pqEncode]]'s assignment — shared code, so
    * training and encoding cannot disagree), then emit each (subspace,
    * code) cell's member mean per dimension. Means use the same
    * order-independent DECIMAL(28,8) sum device as [[kmeansUpdate]]
    * (O(1) aggregate state per group, map-side partials, bit-exact
    * cross-engine). Empty cells emit no rows — [[pqEncodeTrained]]
    * falls back to the seed slice for them. Returns (sub 1-based,
    * code, dim 1-based within the subspace, n_members, val).
    */
  def pqTrain(emb: DataFrame, m: Int = 8, ks: Int = 16): DataFrame =
    pqTrainIterated(emb, m, ks, passes = 1)

  /** [[pqTrain]] iterated: `passes` Lloyd passes per subspace, each
    * pass's per-(sub, code, dim) means merged into the working codebook
    * (empty cells keep the PREVIOUS pass's centroid — the same
    * keep-old-centroid policy as [[pqEncodeTrained]], applied per pass)
    * before the next assignment. Pass `passes = 1` IS [[pqTrain]]:
    * seed-book assignment, one mean fold.
    *
    * Scale shape is unchanged per pass: assignment stays one scan-side
    * [[graft.functions.PqAssign]] kernel against a driver-resident
    * book, means stay the O(1)-state DECIMAL(28,8) device — iterating
    * multiplies passes, not state. The inter-pass collect is the k·dims
    * trained book (driver-resident by k-means' nature, as
    * [[kmeansIterate]]). Determinism end to end: means are exact
    * decimal sums fed back bit-exactly as literals, so pass N is
    * oracle-reproducible by stacking N assignment+mean CTE copies.
    * Returns the FINAL pass's (sub, code, dim, n_members, val).
    */
  def pqTrainIterated(emb: DataFrame, m: Int = 8, ks: Int = 16,
      passes: Int = 2): DataFrame = {
    require(passes >= 1, s"passes must be >= 1, got $passes")
    val n = normalized(emb)
    val (subDim, books) = trainedBooks(emb, m, ks, passes - 1)
    pqMeans(
      n.withColumn("codes", graft.functions.PqCodebook.assign(col("e"), books, m, subDim)),
      subDim)
  }

  /** Per-(sub, code, dim) member means of an assigned corpus (`wide`
    * carries `e` + `codes`) — the mean fold shared by every PQ training
    * pass. Same order-independent DECIMAL(28,8) sum device as
    * [[kmeansUpdate]] (O(1) aggregate state per group, map-side
    * partials, bit-exact cross-engine).
    */
  private def pqMeans(wide: DataFrame, subDim: Int): DataFrame =
    wide.select(col("e"), posexplode_outer(col("codes")).as(Seq("p", "code")))
      .filter(col("code").isNotNull)
      .select(col("e"), (col("p") + 1).cast("long").as("sub"), col("code"))
      .select(col("sub"), col("code"), posexplode_outer(
        expr(s"slice(e, cast((sub - 1) * $subDim + 1 as int), $subDim)")))
      .filter(col("col").isNotNull)
      .select(col("sub"), col("code"), (col("pos") + 1).cast("long").as("dim"),
        col("col").cast(meanDec).as("x"))
      .groupBy(col("sub"), col("code"), col("dim"))
      .agg(count(lit(1)).as("n_members"),
        (sum(col("x")).cast("double") / count(lit(1)).cast("double")).as("val"))
      .select(col("sub"), col("code"), col("dim"), col("n_members"), col("val"))

  /** PQ ENCODE with TRAINED codebooks: [[pqTrain]]'s means replace the
    * seed slices cell by cell (an empty cell keeps its seed — the
    * keep-old-centroid policy, so the codebook stays a full ks × m grid
    * and code values keep meaning centroid position). The trained book
    * is k·dims driver-resident doubles — centroids are driver-resident
    * in every k-means-family implementation — collected once, then
    * encoding is the same single scan-side [[graft.functions.PqAssign]]
    * kernel as [[pqEncode]]. Returns (vec_id, sub, code).
    */
  def pqEncodeTrained(emb: DataFrame, m: Int = 8, ks: Int = 16): DataFrame = {
    val n = normalized(emb)
    val (subDim, merged) = trainedBooks(emb, m, ks)
    n.withColumn("codes",
        graft.functions.PqCodebook.assign(col("e"), merged, m, subDim))
      .select(col("vec_id"), posexplode_outer(col("codes")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("sub"),
        col("col").as("code"))
      .filter(col("code").isNotNull)
  }

  /** The trained-or-seed codebook grid (driver-resident, k·dims
    * doubles) shared by [[pqEncodeTrained]] and [[pqAdcTopKTrained]] —
    * factored so encoding and scoring read the SAME book. `passes` = 0
    * returns the raw seed book; each pass assigns with the working book
    * and folds the means in (empty cells keep the working centroid).
    */
  private def trainedBooks(emb: DataFrame, m: Int, ks: Int,
      passes: Int = 1): (Int, Seq[Seq[Seq[Double]]]) = {
    val n = normalized(emb)
    val (subDim, seeds) = pqSeeds(n, m, ks)
    var books = seeds
    for (_ <- 1 to passes) {
      val means = pqMeans(
        n.withColumn("codes", graft.functions.PqCodebook.assign(col("e"), books, m, subDim)),
        subDim)
      books = mergeTrained(books, means, m)
    }
    (subDim, books)
  }

  /** One mean fold merged into the working book: trained cells replace
    * their centroid, empty cells (no rows in `means`) keep the working
    * one — the keep-old-centroid policy that keeps the grid a full
    * ks × m table so code values keep meaning centroid position.
    */
  private def mergeTrained(books: Seq[Seq[Seq[Double]]], means: DataFrame,
      m: Int): Seq[Seq[Seq[Double]]] = {
    val trained = means
      .select(col("sub"), col("code"), col("dim"), col("val")).collect()
      .map(r => ((r.getLong(1).toInt, r.getLong(0).toInt), (r.getLong(2).toInt, r.getDouble(3))))
      .groupBy(_._1)
      .map { case ((c, s), rows) =>
        (c, s) -> rows.map(_._2).sortBy(_._1).map(_._2).toSeq
      }
    books.zipWithIndex.map { case (bookSubs, c) =>
      (0 until m).map(s => trained.getOrElse((c, s + 1), bookSubs(s)))
    }
  }

  /** [[pqAdcTopK]] with the TRAINED codebook — the full index
    * lifecycle's use step: train (e11) → encode (e12) → score. Same
    * broadcast-query shape and [[graft.functions.PqCodebook.adcDist]]
    * kernel; only the book differs, so distances reflect the corpus's
    * own cluster structure instead of arbitrary seed vectors.
    */
  def pqAdcTopKTrained(emb: DataFrame, queryPred: Column, k: Int,
      m: Int = 8, ks: Int = 16): DataFrame = {
    val n = normalized(emb)
    val (subDim, books) = trainedBooks(emb, m, ks)
    val codes = n.withColumn("codes",
        graft.functions.PqCodebook.assign(col("e"), books, m, subDim))
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    val q = n.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    codes.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.PqCodebook.adcDist(col("qe"), col("codes"), books, m, subDim)
          .as("adc_dist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("adc_dist"))
  }

  /** IVF-PQ: the two index structures composed the way production ANN
    * engines ship them — IVF cells bound WHICH candidates are scored
    * (each query touches only its `probes` nearest cells' mass, as
    * [[ivfTopK]]), PQ codes bound WHAT scoring reads (m small ints per
    * candidate through the [[graft.functions.PqCodebook.adcDist]]
    * kernel, as [[pqAdcTopKTrained]] — trained books, shared with
    * encoding). Cell assignment and probe selection reuse
    * [[centroidScores]] scan-side; the only join is the (cell)
    * equi-join. Returns (query_id, rk, neighbor_id, adc_dist), rank by
    * (adc_dist asc, neighbor_id).
    */
  def ivfPqTopK(emb: DataFrame, queryPred: Column, k: Int,
      nCells: Int = 16, probes: Int = 4,
      m: Int = 8, ks: Int = 16, passes: Int = 1): DataFrame = {
    val n = normalized(emb)
    val scoredArr = centroidScores(n, nCells)
    val (subDim, books) = trainedBooks(emb, m, ks, passes)
    val corpus = n
      .withColumn("cell", (-array_max(scoredArr).getField("nid")).cast("long"))
      .withColumn("codes", graft.functions.PqCodebook.assign(col("e"), books, m, subDim))
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    val q = n.filter(queryPred)
      .withColumn("probe", explode(slice(sort_array(scoredArr, asc = false), 1, probes)))
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        (-col("probe").getField("nid")).cast("long").as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    corpus.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.PqCodebook.adcDist(col("qe"), col("codes"), books, m, subDim)
          .as("adc_dist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("adc_dist"))
  }

  /** BUILD + PERSIST the IVF-PQ index (the build half of e32) — the
    * flagship production index made durable: `codes` (vec_id, cell, m
    * small ints — the 64×-compressed corpus), `cents` (probe
    * centroids), `books` (the TRAINED codebook flattened to (sub,
    * code, dim, v) rows). Training — the expensive part — happens
    * exactly once, here; every later query session reloads the book as
    * a driver object and never re-trains. Same partitioning note as
    * [[saveIvfSq8Index]]: at 100 TB, codes would partition BY cell.
    */
  def saveIvfPqIndex(emb: DataFrame, path: String, nCells: Int = 16,
      m: Int = 8, ks: Int = 16, passes: Int = 1): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val n = normalized(emb)
    val cents = seedCentroids(n, nCells)
    val (subDim, books) = trainedBooks(emb, m, ks, passes)
    IndexManifest.rebuild(path, "ivf-pq", false, emb, "vec_id",
      _ => Map("cells" -> nCells.toLong, "m" -> m.toLong, "ks" -> ks.toLong,
        "passes" -> passes.toLong, "dims" -> (m.toLong * subDim)))(
      () => n.withColumn("cell",
          (-array_max(scoresFor(cents)).getField("nid")).cast("long"))
        .withColumn("codes",
          graft.functions.PqCodebook.assign(col("e"), books, m, subDim))
        .select(col("vec_id"), col("cell"), col("codes"))
        .write.mode("overwrite").parquet(s"$path/codes"),
      () => cents.toDF("cid", "ce").write.mode("overwrite").parquet(s"$path/cents"),
      // the trained book nests (code)(sub)(dim) — the kernel's flat
      // layout is [(c·m + s)·subDim + j], so CODE is the outer axis
      () => books.zipWithIndex.flatMap { case (cw, c) =>
          cw.zipWithIndex.flatMap { case (slice, s) =>
            slice.zipWithIndex.map { case (v, d) => (c.toLong, s.toLong, d.toLong, v) } } }
        .toDF("code", "sub", "dim", "v")
        .write.mode("overwrite").parquet(s"$path/books"))
  }

  /** QUERY a persisted IVF-PQ index (e32) — the query-many half:
    * centroids and the trained codebook reload as driver objects
    * (doubles survive the parquet round trip bit-exactly, so the
    * rebuilt book IS the trained book), the m-int codes stream from
    * the index, and the scoring kernel is the same
    * [[graft.functions.PqCodebook.adcDist]] loop-codegen device as the
    * in-memory chain. Bit-identical to [[ivfPqTopK]] on the corpus the
    * index was built from (spec-asserted) — training happened once, at
    * build time, and is never repeated.
    */
  def ivfPqTopKIndexed(queries: DataFrame, queryPred: Column,
      indexPath: String, k: Int, probes: Int = 4): DataFrame = {
    // manifest gate (see ivfSq8TopKIndexed): kind + probe bound named
    // errors; the rebuilt book's (m, ks) shape is cross-checked against
    // the recorded build params below
    val man = IndexManifest.require(indexPath, "ivf-pq")
    if (probes > man.params("cells"))
      throw new IndexManifestException(
        s"probes=$probes exceeds the index's ${man.params("cells")} cells ($indexPath)")
    val spark = queries.sparkSession
    val cents = Tables.readParquet(spark, s"$indexPath/cents")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    // rebuild (code)(sub)(dim) — m is the MIDDLE axis (see the save's
    // layout note); getting this wrong trips the kernel's qe-length
    // guard into all-NULL distances, which the bit-identity spec
    // caught on first run
    val bookRows = Tables.readParquet(spark, s"$indexPath/books")
      .select(col("code"), col("sub"), col("dim"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val books: Seq[Seq[Seq[Double]]] = bookRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, cwRows) =>
        cwRows.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (_, sliceRows) => sliceRows.sortBy(_._3).map(_._4).toSeq }
          .toSeq
      }
    val m = books.head.length
    val subDim = books.head.head.length
    if (books.length.toLong != man.params("ks") || m.toLong != man.params("m"))
      throw new IndexManifestException(
        s"index data at $indexPath has book shape (ks=${books.length}, m=$m) " +
          s"but manifest records (ks=${man.params("ks")}, m=${man.params("m")}) — torn or mixed index")
    val corpus = Tables.readParquet(spark, s"$indexPath/codes")
      .select(col("vec_id").as("neighbor_id"),
        col("cell").cast("long").as("cell"), col("codes"))
    val q = normalized(queries).filter(queryPred)
      .withColumn("probe",
        explode(slice(sort_array(scoresFor(cents), asc = false), 1, probes)))
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        (-col("probe").getField("nid")).cast("long").as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    corpus.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.PqCodebook.adcDist(col("qe"), col("codes"), books, m, subDim)
          .as("adc_dist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("adc_dist"))
  }

  /** Two-stage retrieval — IVF-PQ SHORTLIST + exact RE-RANK (e20), the
    * shape production ANN engines actually serve queries with: the
    * compressed index proposes `shortlist` candidates per query (all
    * [[ivfPqTopK]]'s machinery — probe-bounded candidates, ADC scoring
    * over m-int codes), then the raw vectors of ONLY those candidates
    * are fetched and scored exactly, and the final top-k ranks by true
    * cosine. Quantization error affects WHICH `shortlist` candidates
    * surface, never their final ORDER — the standard remedy for ADC
    * ranking noise, bought for |Q|·shortlist exact scorings instead of
    * |Q|·N.
    *
    * Scale shape: the shortlist is |Q|·shortlist rows (query-scale,
    * tiny), so the raw-vector fetch is a BROADCAST semi-shape — the
    * corpus scan streams past a broadcast of the shortlist ids and only
    * shortlist members' raw vectors survive to the exact scorer. No
    * shuffle of the corpus, no N×N anywhere; at 100 TB the fetch is the
    * random-access-read pattern an object store serves well. Returns
    * (query_id, rk, neighbor_id, cosine) — same schema as [[cosineTopK]],
    * so the recall device consumes it unchanged.
    */
  def ivfPqRerankTopK(emb: DataFrame, queryPred: Column, k: Int,
      shortlist: Int, nCells: Int = 16, probes: Int = 4,
      m: Int = 8, ks: Int = 16, passes: Int = 1): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    rerankExact(emb, queryPred,
      ivfPqTopK(emb, queryPred, shortlist, nCells, probes, m, ks, passes), k)
  }

  /** The exact re-rank tail shared by every two-stage retrieval here
    * (consumes any shortlist with query_id/neighbor_id columns): fetch
    * raw vectors for ONLY the shortlist members via a broadcast
    * semi-shape — the corpus scan streams past a broadcast of the
    * |Q|·shortlist ids, no corpus shuffle — and rank by true cosine.
    * One definition, so the PQ- and SQ8-proposed shortlists are
    * re-scored by literally the same plan.
    */
  private def rerankExact(emb: DataFrame, queryPred: Column,
      shortlisted: DataFrame, k: Int): DataFrame = {
    val n = normalized(emb)
    val short = shortlisted.select(col("query_id"), col("neighbor_id"))
    val c = n.select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
      col("nrm").as("cn"))
    val q = n.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val scored = c.join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot("qe", "ce") / (col("qn") * col("cn"))).as("cosine"))
    topK(scored, k)
  }

  /** Recall@k of the two-stage (shortlist + re-rank) retrieval against
    * the exact baseline (e21) — [[recallOf]] over [[ivfPqRerankTopK]],
    * completing the measured story: e15 reads the RAW index's recall,
    * e21 reads what re-ranking buys on the same index at a given
    * shortlist depth. Re-ranking recovers exactly the true-top-k members
    * that the ADC ranking had seen but mis-ordered below rank k, so
    * e21 ≥ e15 pointwise whenever shortlist > k (equal when the ADC
    * order already agreed); the measured lift is the number an operator
    * trades off against the shortlist's exact-scoring cost.
    */
  def annRecallReranked(emb: DataFrame, queryPred: Column, k: Int,
      shortlist: Int, nCells: Int = 16, probes: Int = 4,
      m: Int = 8, ks: Int = 16, passes: Int = 1): DataFrame =
    recallOf(
      cosineTopK(emb, queryPred, k),
      ivfPqRerankTopK(emb, queryPred, k, shortlist, nCells, probes, m, ks, passes), k)

  /** The corpus as RESIDUALS against its IVF cell centroids:
    * (vec_id, e = x − centroid(cell), cell). The residual is computed
    * scan-side — the nCells×dims centroid grid rides as ONE array
    * literal, `element_at` by cell index, `zip_with` subtraction — so
    * the view stays join-free expression work like every assignment in
    * this module. Cell assignment is the family's shared cosine device
    * ([[centroidScores]] — same cells as e04/e14/e18/e19, so the
    * residual index describes the same partition the other operators
    * use); the residual itself is plain vector subtraction, and on this
    * unit-norm corpus cosine and L2 assignment agree anyway.
    */
  private def residualView(emb: DataFrame, nCells: Int): DataFrame = {
    val n = normalized(emb)
    val cents = seedCentroids(n, nCells)
    require(cents.map(_._1) == cents.indices.map(_.toLong),
      s"residual view assumes dense cell ids 0..${cents.length - 1}, got ${cents.map(_._1)}")
    val centLit = typedLit(cents.map(_._2))
    n.withColumn("cell",
        (-array_max(centroidScores(n, nCells)).getField("nid")).cast("long"))
      .withColumn("e", zip_with(col("e"),
        element_at(centLit, col("cell").cast("int") + 1),
        (x, c) => x - c))
      .select(col("vec_id"), col("e"), col("cell"))
  }

  /** Residual sub-codebooks: the PQ training loop ([[pqSeeds]] seeds +
    * `passes` mean folds, identical devices) run over the RESIDUAL
    * corpus instead of raw vectors. Returns (subDim, books, residual
    * view) so encoding and scoring read the same grid.
    */
  private def residualBooks(emb: DataFrame, nCells: Int, m: Int, ks: Int,
      passes: Int): (Int, Seq[Seq[Seq[Double]]], DataFrame) = {
    val rv = residualView(emb, nCells)
    val (subDim, seeds) = pqSeeds(rv, m, ks, offset = nCells)
    var books = seeds
    for (_ <- 1 to passes) {
      val means = pqMeans(
        rv.withColumn("codes", graft.functions.PqCodebook.assign(col("e"), books, m, subDim)),
        subDim)
      books = mergeTrained(books, means, m)
    }
    (subDim, books, rv)
  }

  /** RESIDUAL IVF-PQ top-k (e22) — the construction production IVF-PQ
    * indexes actually ship (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011, §IV; the FAISS `IVFPQ`
    * layout): PQ quantizes the residual x − centroid(cell) instead of
    * x itself, so the codebook only has to cover the spread WITHIN a
    * cell rather than the whole space — the same code budget buys
    * finer resolution wherever the corpus actually clusters. Scoring
    * is the residual ADC estimator: for a query probing cell c,
    * dist(q, x) = ‖(q − centroid(c)) − decode(codes(x))‖², computed by
    * the SAME loop-codegen kernel over the query's residual against
    * the probed cell ([[graft.functions.PqCodebook.adcDist]]).
    *
    * Scale shape is [[ivfPqTopK]]'s exactly: assignment, residuals,
    * codes and probe residuals are all scan-side expression work
    * (the centroid grid is one array literal), the corpus side carries
    * only (cell, codes), and the single join is the (cell) equi-join.
    * Returns (query_id, rk, neighbor_id, adc_dist).
    *
    * Reading the measured numbers honestly (the e16 discipline): the
    * residual estimator IS strictly tighter — mean |adc − true L2²|
    * 0.532 vs 0.564 on the registered corpus, 0.362 vs 0.382 on a
    * constructed 64-cluster corpus (deterministic, spec-asserted) —
    * but end-to-end recall@10 on the structureless registered corpus
    * favors raw PQ (0.102 vs 0.238 at sf0.01, BENCH_NOTES): with no
    * real cluster mass, cell centroids are arbitrary seed vectors, the
    * residual distribution is WIDER than the raw one, and the per-cell
    * error bias hurts per-query ranking more than the pointwise
    * tightening helps. The construction's reputation comes from
    * corpora that cluster; e23 being registered is what lets an
    * operator read the trade for THEIR corpus instead of assuming.
    * One design note with teeth: the residual codebook must seed from
    * residual SAMPLES (offset = nCells) — seeded at 0 the first nCells
    * "seeds" are the cell centroids' own residuals, identically zero,
    * a degenerate one-point codebook ([[pqSeeds]] doc).
    */
  def ivfPqResidualTopK(emb: DataFrame, queryPred: Column, k: Int,
      nCells: Int = 16, probes: Int = 4,
      m: Int = 8, ks: Int = 16, passes: Int = 1): DataFrame = {
    val n = normalized(emb)
    val scoredArr = centroidScores(n, nCells)
    val (subDim, books, rv) = residualBooks(emb, nCells, m, ks, passes)
    val cents = seedCentroids(n, nCells)
    val centLit = typedLit(cents.map(_._2))
    val corpus = rv.select(col("vec_id").as("neighbor_id"), col("cell"),
      graft.functions.PqCodebook.assign(col("e"), books, m, subDim).as("codes"))
    val q = n.filter(queryPred)
      .withColumn("probe", explode(slice(sort_array(scoredArr, asc = false), 1, probes)))
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        (-col("probe").getField("nid")).cast("long").as("cell"))
      .withColumn("qr", zip_with(col("qe"),
        element_at(centLit, col("cell").cast("int") + 1),
        (x, c) => x - c))
      .select(col("query_id"), col("qr"), col("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    corpus.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.PqCodebook.adcDist(col("qr"), col("codes"), books, m, subDim)
          .as("adc_dist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("adc_dist"))
  }

  /** Recall@k of the residual index (e23) — [[recallOf]] over
    * [[ivfPqResidualTopK]], so raw-vector PQ (e15), two-stage re-rank
    * (e21) and residual PQ (e23) are all scored by the one shared
    * definition and the residual construction's payoff is a registered,
    * oracle-checked number rather than a claim.
    */
  def annRecallResidual(emb: DataFrame, queryPred: Column, k: Int,
      nCells: Int = 16, probes: Int = 4,
      m: Int = 8, ks: Int = 16, passes: Int = 1): DataFrame =
    recallOf(
      cosineTopK(emb, queryPred, k),
      ivfPqResidualTopK(emb, queryPred, k, nCells, probes, m, ks, passes), k)

  /** Recall@k of the composed IVF-PQ index against the exact cosine
    * baseline — the metric every ANN deployment watches when tuning
    * probes/codebooks, as an operator: per query,
    * |exact top-k ∩ IVF-PQ top-k| / k. Both sides are this module's
    * already-verified operators ([[cosineTopK]], [[ivfPqTopK]]) so the
    * metric inherits their tie-breaks; the per-query fraction is an
    * exact rational n/k. One semi-equi-join + one aggregate beyond the
    * component queries. Returns (query_id, n_hit, recall).
    *
    * Reading the number honestly: the baseline ranks by COSINE while
    * ADC ranks by L2 over unnormalized quantized vectors — the metric
    * families only coincide on normalized data — and the synthetic
    * embeddings carry no cluster structure for the codebooks to
    * exploit, so the measured recall (~0.1 at sf0.01) is a floor, not
    * a bug: it is exactly the reading that tells an operator to raise
    * `probes`, widen codebooks, or normalize upstream. The measurement
    * device being registered and oracle-checked is the product here.
    *
    * The normalize-upstream remedy is itself registered — this run over
    * [[unitNormalized]] is query e16 — and MEASURING it overturned the
    * round-7 attribution: the synthetic corpus is ALREADY unit-norm
    * (every vector's norm is 1 ± 1e-7, the float32 rounding), so the
    * two metric families already ranked identically, e16 ties e15 on
    * this data (0.2380 vs 0.2380 mean recall@10 at sf0.01), and the
    * recall deficit is pure index quality — cells × probes × codebook
    * resolution against a structureless corpus — not metric skew. On a
    * corpus whose norms genuinely vary the skew is real and
    * normalization strictly wins; the Round8 spec constructs exactly
    * that corpus (per-vector scale factors 1..5) and shows raw-index
    * recall collapse vs the normalized path.
    */
  def annRecall(emb: DataFrame, queryPred: Column, k: Int,
      nCells: Int = 16, probes: Int = 4,
      m: Int = 8, ks: Int = 16, passes: Int = 1): DataFrame =
    recallOf(
      cosineTopK(emb, queryPred, k),
      ivfPqTopK(emb, queryPred, k, nCells, probes, m, ks, passes), k)

  /** Recall@k of the LSH family — [[annTopKMultiProbe]] measured against
    * the same exact cosine baseline (e17; the sign-projection twin of
    * [[annRecall]]'s IVF-PQ measurement, sharing [[recallOf]] so the two
    * index families are scored by ONE definition). Multi-probe is the
    * family's best-recall configuration; per query the score is
    * |exact top-k ∩ LSH top-k| / k. A query whose bucket (plus
    * Hamming-1 probes) holds fewer than k candidates simply scores the
    * neighbors it found — missing candidates read as misses, which is
    * the honest reading of bucket sparsity.
    */
  def annRecallLsh(emb: DataFrame, queryPred: Column, k: Int,
      bits: Int = 6): DataFrame =
    recallOf(
      cosineTopK(emb, queryPred, k),
      annTopKMultiProbe(emb, queryPred, k, bits), k)

  /** The recall@k tail shared by every index-quality measurement
    * (e15/e16/e17): per exact-side query, the hit count against the
    * approximate top-k and the exact rational n/k. One semi-equi-join +
    * one aggregate beyond the component queries.
    */
  private def recallOf(exactTopK: DataFrame, approxTopK: DataFrame,
      k: Int, exactMaterialized: Boolean = false): DataFrame = {
    // the exact side feeds BOTH the hits semi-join and the per-query
    // denominator — checkpointed so the plan holds one tiny (query,
    // neighbor) leaf instead of two copies of the brute-force scoring
    // subtree (the filteredAnnRecall discipline, applied family-wide).
    // SKIPPED when the caller declares it already handed in
    // materialized data (the curve rows checkpoint one exact baseline
    // for all arms — an eager re-checkpoint per arm was a measurable
    // extra job each). The flag is EXPLICIT (round-13 advice: the old
    // all-leaves-are-LogicalRDD inference conflated "RDD-backed leaves"
    // with "cheap input" — an expensive subtree built on a checkpointed
    // leaf would silently skip the checkpoint and be duplicated into
    // both legs).
    val exactSmall = exactTopK.select(col("query_id"), col("neighbor_id"))
    val exact =
      if (exactMaterialized) exactSmall else exactSmall.localCheckpoint(true)
    val approx = approxTopK.select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(k)).as("recall"))
  }

  /** Per-dimension (min, max) over the corpus — the SQ8 training step.
    * Driver-resident by nature (2·dims doubles, like the k-means
    * centroids); min/max involve NO arithmetic, so the collected values
    * are bit-identical to the oracle's own aggregate.
    */
  private def sqStats(n: DataFrame): (Seq[Double], Seq[Double]) = {
    val rows = n.select(posexplode(col("e")))
      .groupBy(col("pos")).agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    (rows.map(_._2).toSeq, rows.map(_._3).toSeq)
  }

  /** SCALAR-QUANTIZED (SQ8) top-k (e24) — the other standard
    * compression production ANN engines ship beside PQ (FAISS
    * `ScalarQuantizer`, QT_8bit): each dimension quantized
    * independently to one byte on its own corpus [min, max] range,
    * code = round((x − min)/scale) clamped to [0, 255]. 4× smaller
    * than float32 (vs PQ's 64×) but with per-DIMENSION resolution
    * instead of per-subspace codebooks — the middle rung of the
    * compression ladder this module now measures end to end: SQ8 (e25)
    * vs raw PQ (e15) vs re-ranked PQ (e21) vs residual PQ (e23), one
    * shared recall definition.
    *
    * Scale shape: training is ONE tiny aggregate (2·dims doubles,
    * driver-resident like every codebook here); encode and decode are
    * scan-side `transform`s against min/scale array LITERALS; scoring
    * reads ONLY the byte codes, decodes in-expression, and the
    * distance is the same sequential-fold device as the exact baseline
    * ([[graft.functions.ArrayDotProduct]] over the difference vector —
    * deterministic left-to-right, so the oracle recomputes it
    * bit-for-bit). Queries ride a broadcast exactly like
    * [[pqAdcTopK]]. A constant dimension (max == min) gets scale 1 so
    * every code is 0 and decode returns min exactly. Returns
    * (query_id, rk, neighbor_id, sq_dist), rank by (sq_dist asc,
    * neighbor_id).
    */
  def sq8TopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val n = normalized(emb)
    val (mnLit, scLit) = sqLits(n)
    val codes = n.withColumn("codes", sqEncode(mnLit, scLit))
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    val q = n.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sq_dist").asc, col("neighbor_id").asc)
    codes.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        sqDist(mnLit, scLit).as("sq_dist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("sq_dist"))
  }

  /** The SQ8 min/scale array literals (train once, inline — the shared
    * codebook-as-literal philosophy).
    */
  private def sqLits(n: DataFrame): (Column, Column) = {
    val (mins, maxs) = sqStats(n)
    val scales = maxs.zip(mins).map { case (mx, mn) => if (mx > mn) (mx - mn) / 255.0 else 1.0 }
    (typedLit(mins), typedLit(scales))
  }

  /** Byte-encode `e` against the min/scale literals (consumes a row with
    * `e`): round/clamp per dimension, array<long> out.
    */
  private def sqEncode(mnLit: Column, scLit: Column): Column =
    zip_with(col("e"), expr("sequence(1, size(e))"),
      (x, i) => least(lit(255L), greatest(lit(0L),
        round((x - element_at(mnLit, i.cast("int"))) / element_at(scLit, i.cast("int")))
          .cast("long"))))

  /** The SQ8 scoring expression (consumes a row with `qe` + `codes`):
    * decode-in-expression, then the sequential-fold squared distance —
    * shared by [[sq8TopK]] and [[ivfSq8TopK]] so the flat and
    * probe-bounded paths score identically.
    */
  private def sqDist(mnLit: Column, scLit: Column): Column = {
    val decoded = zip_with(col("codes"), expr("sequence(1, size(codes))"),
      (c, i) => element_at(mnLit, i.cast("int"))
        + c.cast("double") * element_at(scLit, i.cast("int")))
    val diff = zip_with(col("qe"), decoded, (a, b) => a - b)
    graft.functions.ArrayDotProduct(diff, diff)
  }

  /** IVF + SQ8 (e26) — the FAISS `IVFSQ` composition: IVF cells bound
    * WHICH candidates are scored (each query touches only its `probes`
    * nearest cells' mass, as [[ivfTopK]]/[[ivfPqTopK]]), SQ8 bounds
    * WHAT scoring reads (byte codes, decoded in-expression via the
    * [[sqDist]] device the flat path verifies). The high-recall
    * cheap-scan middle ground: at 100 TB the flat [[sq8TopK]] is
    * O(|Q|·N) by design (it is the ladder's measurement baseline),
    * while this composition scans only the probed cells' mass.
    *
    * The registered triple FACTORS the recall loss: e25 (flat SQ8,
    * 0.986) isolates quantization quality, e27 (this path) isolates
    * the probe-coverage ceiling, and e15 shows the same ceiling with
    * PQ's coarser codes underneath — coverage, not code resolution, is
    * this corpus's binding constraint (BENCH_NOTES sweep table agrees).
    * Returns (query_id, rk, neighbor_id, sq_dist).
    */
  def ivfSq8TopK(emb: DataFrame, queryPred: Column, k: Int,
      nCells: Int = 16, probes: Int = 4): DataFrame = {
    val n = normalized(emb)
    val scoredArr = centroidScores(n, nCells)
    val (mnLit, scLit) = sqLits(n)
    val corpus = n
      .withColumn("cell", (-array_max(scoredArr).getField("nid")).cast("long"))
      .withColumn("codes", sqEncode(mnLit, scLit))
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    val q = n.filter(queryPred)
      .withColumn("probe", explode(slice(sort_array(scoredArr, asc = false), 1, probes)))
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        (-col("probe").getField("nid")).cast("long").as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sq_dist").asc, col("neighbor_id").asc)
    corpus.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        sqDist(mnLit, scLit).as("sq_dist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("sq_dist"))
  }

  /** Recall@k of the IVF+SQ8 composition (e27) — [[recallOf]] over
    * [[ivfSq8TopK]]: with near-exact codes (e25), this number READS AS
    * the probe-coverage ceiling itself.
    */
  def annRecallIvfSq8(emb: DataFrame, queryPred: Column, k: Int,
      nCells: Int = 16, probes: Int = 4): DataFrame =
    recallOf(
      cosineTopK(emb, queryPred, k),
      ivfSq8TopK(emb, queryPred, k, nCells, probes), k)

  /** Recall@k of a PERSISTED IVF+SQ8 index's serve (e78) — [[recallOf]]
    * over [[ivfSq8TopKIndexed]] against the exact baseline. Registered
    * over the TRAINED-quantizer store (e77), paired with e27's
    * seed-centroid number at the same probed-cell budget: the delta is
    * what training the coarse book buys in the persisted family (the
    * e11b measure-don't-assume convention — register the number either
    * way).
    */
  def annRecallIvfSq8Indexed(emb: DataFrame, queryPred: Column,
      indexPath: String, k: Int, probes: Int = 4): DataFrame =
    recallOf(
      cosineTopK(emb, queryPred, k),
      ivfSq8TopKIndexed(emb, queryPred, indexPath, k, probes,
        pruneScan = true), k)

  /** BUILD + PERSIST the IVF+SQ8 index (the build-once half of e31) —
    * the operational piece every in-memory composition here elides:
    * three parquet tables under `path` — `codes` (vec_id, cell, byte
    * codes: the 4×-compressed corpus, the ONLY thing scanned at query
    * time), `cents` (the probe-selection centroids), `quant` (per-dim
    * min/scale). At 100 TB this runs once per corpus version; `codes`
    * would be written bucketed/partitioned BY `cell` so a probe-bounded
    * query prunes whole cell partitions at the parquet layer instead of
    * filtering post-scan — here cells stay a column (testdata is
    * single-file scale) and [[ivfSq8TopKIndexed]] filters on the
    * equi-join as the in-memory path does.
    */
  def saveIvfSq8Index(emb: DataFrame, path: String, nCells: Int = 16,
      partitionByCell: Boolean = false, trainIters: Int = 0): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    // widened: the sqStats pass and the per-row assignment+encode
    // (nCells × 64 dots each) otherwise run in the scan's single
    // bench-scale task (ScanParallelism doc)
    val n = normalized(graft.sources.ScanParallelism.widen(emb))
    // trainIters > 0 = the PRODUCTION coarse quantizer (e77): k-center
    // seeds + Lloyd passes (the e71 device) replace the arbitrary
    // lowest-id seeds at BUILD time only — the trained book persists in
    // the cents table, so the append path's frozen-book contract and
    // the as-of snapshot reads compose unchanged (they already reload
    // centroids from the store, never re-derive them). A cell that
    // empties during training drops out (the standard dead-centroid
    // policy); the manifest records the SURVIVING cell count.
    // centroid selection and the SQ8 min/max training pass are
    // independent driver collects — overlapped
    val (cents, (mins, maxs)) = graft.Overlap(
      if (trainIters == 0) seedCentroids(n, nCells)
      else collectCentroids(kmeansKcenterSeeded(emb, nCells, trainIters)),
      sqStats(n))
    val scales = maxs.zip(mins).map { case (mx, mn) =>
      if (mx > mn) (mx - mn) / 255.0 else 1.0 }
    val codes = n.withColumn("cell",
        (-array_max(scoresFor(cents)).getField("nid")).cast("long"))
      .withColumn("codes", sqEncode(typedLit(mins), typedLit(scales)))
      .select(col("vec_id"), col("cell"), col("codes"))
    // partitionByCell = the 100 TB layout: one directory per cell, so a
    // probe-bounded reader prunes unprobed cells at the FILE-INDEX
    // layer (PartitionFilters), never opening their footers. Laid out
    // one write task per cell directory (ScanParallelism.layoutForWrite
    // doc; round-13 verdict #1).
    val laid =
      if (partitionByCell)
        graft.sources.ScanParallelism.layoutForWrite(
          codes, cents.size, Seq(col("cell")))
      else codes
    // versioned (the d153 device; rebuild resets the lineage): codes
    // are vec_id-monotone append-only AND the codebook is frozen
    // across appends, so any snapshot serves as-of with one id cut
    IndexManifest.rebuild(path, "ivf-sq8", true, emb, "vec_id",
      _ => Map("cells" -> cents.size.toLong, "dims" -> mins.length.toLong,
        "partition_by_cell" -> (if (partitionByCell) 1L else 0L),
        "train_iters" -> trainIters.toLong))(
      () => {
        val w = laid.write.mode("overwrite")
        (if (partitionByCell) w.partitionBy("cell") else w)
          .parquet(s"$path/codes")
      },
      () => cents.toDF("cid", "ce").write.mode("overwrite")
        .parquet(s"$path/cents"),
      () => mins.zip(scales).zipWithIndex
        .map { case ((mn, sc), i) => (i + 1L, mn, sc) }
        .toDF("dim", "mn", "sc").write.mode("overwrite")
        .parquet(s"$path/quant"))
  }

  /** The IVF+SQ8 index's driver-resident constants — (cents, mins,
    * scales), k·dim + 2·dim doubles — reloaded from the persisted
    * tables; shared by the query path and the append path so the two
    * cannot diverge on what "the index's codebook" means.
    */
  private def loadSq8Constants(spark: SparkSession, path: String)
      : (Seq[(Long, Seq[Double])], Seq[Double], Seq[Double]) = {
    val cents = Tables.readParquet(spark, s"$path/cents")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    val quant = Tables.readParquet(spark, s"$path/quant")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    (cents, quant.map(_._2).toSeq, quant.map(_._3).toSeq)
  }

  /** APPEND to a persisted IVF+SQ8 index (e33) — corpus grows, codebook
    * frozen: the increment's vectors are assigned and byte-encoded with
    * the INDEX's own centroids and quantizer constants (reloaded via
    * [[loadSq8Constants]], never re-derived), their codes appended to
    * the `codes` table, and the manifest watermark advanced. History
    * codes are never read, let alone recomputed — the d43/d44 increment
    * algebra applied to vectors, and the missing half of
    * build-once/query-many: without it every corpus publish forces a
    * full re-encode. The increment passes the shared prelude
    * ([[IndexManifest.beginAppend]]). The append honors the index's
    * recorded layout — a cell-partitioned index gains files inside
    * existing cell directories, so pruned probes keep pruning.
    */
  def appendIvfSq8Index(increment: DataFrame, path: String): Unit =
    IndexManifest.append(path, IndexManifest.require(path, "ivf-sq8"), true,
        increment, "vec_id", Seq("codes" -> "vec_id"), _.man.params) { inc =>
      // the codebook reload is a store READ, so it overlaps the guard
      val (cents, mins, scales) = loadSq8Constants(increment.sparkSession, path)
      // widened + laid out like saveIvfSq8Index (the append is the same
      // assignment+encode pass over the increment)
      val n = normalized(graft.sources.ScanParallelism.widen(increment))
      val codes = n.withColumn("cell",
          (-array_max(scoresFor(cents)).getField("nid")).cast("long"))
        .withColumn("codes", sqEncode(typedLit(mins), typedLit(scales)))
        .select(col("vec_id"), col("cell"), col("codes"))
      val byCell = inc.man.params.getOrElse("partition_by_cell", 0L) == 1L
      val laid =
        if (byCell)
          graft.sources.ScanParallelism.layoutForWrite(
            codes, cents.size, Seq(col("cell")))
        else codes
      Seq(() => {
        val w = laid.write.mode("append")
        (if (byCell) w.partitionBy("cell") else w).parquet(s"$path/codes")
      })
    }

  /** SYNC a persisted IVF+SQ8 index to the current corpus (e34): the
    * shared [[IndexManifest.sync]] policy. The append arm
    * ([[appendIvfSq8Index]]) encodes the delta with the frozen codebook.
    */
  def ivfSq8IndexSync(emb: DataFrame, path: String, nCells: Int = 16,
      partitionByCell: Boolean = false): String =
    // train_iters pinned to 0: this sync is the SEED-centroid policy;
    // a trained store (e77) must not silently pass as fresh under it —
    // param drift falls through to the rebuild arm, the documented
    // contract (a pre-round-13 store without the param also rebuilds
    // once, gaining it)
    IndexManifest.sync(emb, "vec_id", path, "ivf-sq8",
      Map("cells" -> nCells.toLong,
        "partition_by_cell" -> (if (partitionByCell) 1L else 0L),
        "train_iters" -> 0L))(appendIvfSq8Index(_, path))(
      saveIvfSq8Index(emb, path, nCells, partitionByCell))

  /** QUERY a persisted IVF+SQ8 index (e31) — the query-many half:
    * probe cells and quantizer constants load as driver literals
    * (k·dim + 2·dim doubles — the same driver-resident codebook
    * discipline as every index here), the byte-code corpus streams
    * from the index's `codes` table, and fresh queries bring their own
    * raw vectors. Produces BIT-IDENTICAL results to [[ivfSq8TopK]] on
    * the corpus the index was built from (spec-asserted: same scoring
    * expression via the shared [[sqDist]]/[[sqEncode]] devices, same
    * tie-breaks) — which is the operational claim that matters: an
    * index built last week serves today's queries with no corpus
    * re-scan, re-train, or re-encode.
    */
  def ivfSq8TopKIndexed(queries: DataFrame, queryPred: Column,
      indexPath: String, k: Int, probes: Int = 4,
      pruneScan: Boolean = false, asOfVersion: Option[Int] = None): DataFrame = {
    // manifest gate: right index kind, and the caller's probe count
    // can't exceed the cell count the index was BUILT with — caught
    // here as a named error instead of silently probing phantom cells
    val man = IndexManifest.require(indexPath, "ivf-sq8")
    if (probes > man.params("cells"))
      throw new IndexManifestException(
        s"probes=$probes exceeds the index's ${man.params("cells")} cells ($indexPath)")
    val spark = queries.sparkSession
    val (cents, mins, scales) = loadSq8Constants(spark, indexPath)
    val (mnLit, scLit) = (typedLit(mins), typedLit(scales))
    val q = normalized(queries).filter(queryPred)
      .withColumn("probe",
        explode(slice(sort_array(scoresFor(cents), asc = false), 1, probes)))
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        (-col("probe").getField("nid")).cast("long").as("cell"))
    // TIME TRAVEL (e75, the d153/e74 device): codes are vec_id-monotone
    // append-only AND the codebook is frozen across appends (an
    // overwrite rebuild resets the lineage), so snapshot N is exactly
    // the code rows at or below version N's watermark scored with the
    // live constants — one pushed id cut beside the cell pruning
    val raw0 = Tables.readParquet(spark, s"$indexPath/codes")
    val raw = asOfVersion match {
      case None => raw0
      case Some(v) =>
        val snap = IndexManifest.readVersion(indexPath, v)
        if (snap.kind != "ivf-sq8")
          throw new IndexManifestException(
            s"version $v at $indexPath is kind '${snap.kind}', expected 'ivf-sq8'")
        raw0.filter(col("vec_id") <= snap.corpusMaxId)
    }
    // pruneScan: collect the probed-cell UNION (≤ nCells ids — one tiny
    // driver round over the query side only) and inject it as a LITERAL
    // predicate: against a cell-partitioned index this lands in the
    // scan's PartitionFilters, so unprobed cells are pruned at the
    // file-index layer (spec-asserted). A dynamic join alone does NOT
    // prune (measured: DPP needs a filtered build side this shape
    // lacks). Semantically a no-op — the per-query equi-join still
    // bounds WHICH candidates each query scores.
    val corpus0 =
      if (!pruneScan) raw
      else {
        val probed = q.select(col("cell")).distinct()
          .collect().map(_.getLong(0)).sorted
        raw.filter(col("cell").isin(probed: _*))
      }
    val corpus = corpus0
      .select(col("vec_id").as("neighbor_id"),
        col("cell").cast("long").as("cell"), col("codes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sq_dist").asc, col("neighbor_id").asc)
    corpus.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        sqDist(mnLit, scLit).as("sq_dist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("sq_dist"))
  }

  /** IVF+SQ8 SHORTLIST + exact re-rank (e28) — [[ivfSq8TopK]] proposes
    * `shortlist` candidates per query, [[rerankExact]]'s broadcast-fetch
    * tail ranks them by true cosine. The SQ8 twin of [[ivfPqRerankTopK]]:
    * with near-exact byte codes the shortlist ORDER is already almost
    * right, so what re-ranking recovers here is purely the members the
    * byte-code noise mis-ordered across the rank-k boundary — closing
    * the last gap between e27 and the probe-coverage ceiling that
    * re-ranking CAN close (candidates outside the probed cells stay
    * unreachable at any shortlist depth). Returns (query_id, rk,
    * neighbor_id, cosine) like every exact-ranked top-k here.
    */
  def ivfSq8RerankTopK(emb: DataFrame, queryPred: Column, k: Int,
      shortlist: Int, nCells: Int = 16, probes: Int = 4): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    rerankExact(emb, queryPred,
      ivfSq8TopK(emb, queryPred, shortlist, nCells, probes), k)
  }

  /** Recall@k of the re-ranked IVF+SQ8 path (e29) — [[recallOf]] over
    * [[ivfSq8RerankTopK]]. e29 ≥ e27 pointwise by the e21 dominance
    * argument (a true-top-k member in the shortlist cannot be displaced
    * below rank k by exact ordering), and e29 ≤ the coverage ceiling by
    * construction — so the registered triple (e27, e29, ceiling) pins
    * how much of the index family's remaining loss is recoverable by
    * spending exact scorings vs structural (unprobed mass).
    */
  def annRecallIvfSq8Reranked(emb: DataFrame, queryPred: Column, k: Int,
      shortlist: Int, nCells: Int = 16, probes: Int = 4): DataFrame =
    recallOf(
      cosineTopK(emb, queryPred, k),
      ivfSq8RerankTopK(emb, queryPred, k, shortlist, nCells, probes), k)

  /** Probe-coverage CURVE (e30) — mean recall@k of [[ivfSq8TopK]] at
    * each probe count, one row per setting: the index family's tuning
    * lever as a REGISTERED measurement instead of a BENCH_NOTES table.
    * With near-exact byte codes underneath (e25: 0.986), each row
    * reads as the fraction of true-neighbor mass the first `probes`
    * cells contain, and the curve's endpoint (probes = nCells, full
    * coverage) must meet the flat-scan ceiling — the two ends pin the
    * measurement against e25 and e27 by construction. `mean_recall`
    * is Σ hits / (|Q|·k): one integer sum, one double division —
    * order-independent, oracle-exact.
    *
    * Scale shape: each curve point is the e27 chain at a different
    * probe bound (probed-mass scan, broadcast queries); points are
    * independent branches of one union, so Spark schedules them as
    * parallel stages sharing the corpus scan's columnar cache. The
    * curve costs Σ coverage(probes) corpus-fractions — at production
    * sizes you run it on a sampled query set, which is exactly what
    * `queryPred` is.
    */
  def ivfProbeCurve(emb: DataFrame, queryPred: Column, k: Int,
      nCells: Int = 16,
      probesList: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    // checkpointed for the same reason as srpRadiusCurve: recallOf reads
    // the exact baseline twice per probe arm — 2·|probes| copies of the
    // brute-force subtree in one union plan otherwise
    val exact = cosineTopK(emb, queryPred, k).localCheckpoint(true)
    // FUSED arms (round-14; guide §2.3 "shuffle keys first, score
    // once"): probe sets are PREFIXES of one ranked cell list, so arm
    // p's candidate set is exactly {pairs with probe rank ≤ p} of the
    // deepest arm's. The old shape ran the full ivfSq8TopK chain per
    // arm — Σ coverage(p) ≈ 1.94 corpus-scans of scoring plus FIVE
    // sqStats/centroid training passes; now ONE corpus pass scores
    // every (query, neighbor) candidate at the deepest probe bound with
    // its probe rank attached, and each arm is a filter + rank over the
    // one materialized pair table. Distances, candidate sets, ranks and
    // tie-breaks are unchanged expression-for-expression per arm.
    val pmax = math.min(probesList.max, nCells)
    val n = normalized(emb)
    val scoredArr = centroidScores(n, nCells)
    val (mnLit, scLit) = sqLits(n)
    // corpus side widened (ScanParallelism doc): assignment + byte
    // encode are the per-row cost
    val corpus = graft.sources.ScanParallelism.widen(n)
      .withColumn("cell", (-array_max(scoredArr).getField("nid")).cast("long"))
      .withColumn("codes", sqEncode(mnLit, scLit))
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    val q = n.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        posexplode(slice(sort_array(scoredArr, asc = false), 1, pmax))
          .as(Seq("pp", "probe")))
      .select(col("query_id"), col("qe"), (col("pp") + 1).as("prank"),
        (-col("probe").getField("nid")).cast("long").as("cell"))
    // a corpus row lives in ONE cell and a query's probed cells are
    // distinct, so each admitted pair appears exactly once — scored
    // once, tagged with the probe rank that admits it
    // every arm reads this twice (rank + recall) — shared under the
    // size budget, gated on the scan-rooted emb (shareSmall doc): the
    // scored pair table is |Q| × probed-coverage rows, which at corpus
    // scale must not be pinned in executor storage; above the budget
    // each arm recomputes the single-fold join instead (still one fold
    // per pair per arm — never the old per-sign-bit duplication)
    val pairs = graft.sources.ScanParallelism.shareSmall(
      corpus.join(q, Seq("cell"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("prank"),
          sqDist(mnLit, scLit).as("sq_dist")),
      gate = emb)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sq_dist").asc, col("neighbor_id").asc)
    probesList.map { p =>
      val arm = pairs.filter(col("prank") <= math.min(p, nCells))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("rk"), col("neighbor_id"), col("sq_dist"))
      recallOf(exact, arm, k, exactMaterialized = true)
        .agg(count(lit(1)).as("n_queries"), sum(col("n_hit")).as("n_hits"))
        .select(lit(p.toLong).as("probes"),
          col("n_queries").cast("long").as("n_queries"),
          col("n_hits").cast("long").as("n_hits"),
          (col("n_hits").cast("double") / (col("n_queries") * lit(k.toLong)))
            .as("mean_recall"))
    }.reduce(_ unionByName _)
  }

  /** Recall@k of the SQ8 index (e25) — [[recallOf]] over [[sq8TopK]]:
    * the compression ladder's middle rung measured by the same device
    * as every other index family here. At 4× compression the
    * per-dimension error is tiny relative to inter-vector distances,
    * so recall should sit far above the 64×-compressed PQ families —
    * the registered numbers make the compression-vs-recall trade a
    * table instead of folklore.
    */
  def annRecallSq8(emb: DataFrame, queryPred: Column, k: Int): DataFrame =
    recallOf(
      cosineTopK(emb, queryPred, k),
      sq8TopK(emb, queryPred, k), k)

  /** The ±1 sign matrix for sign-random-projection (e35): Achlioptas'
    * database-friendly Johnson-Lindenstrauss construction (random ±1
    * entries preserve pairwise distances in expectation), derandomized
    * the engine's usual way — entry (k, d) is the parity of
    * md5("srp:k:d"), so BOTH engines inline the exact same
    * driver-computed literals and the "random" matrix is reproducible
    * forever. Public so the oracle generator reads the same values.
    */
  def srpSignMatrix(outDims: Int, dims: Int): Seq[Seq[Int]] =
    (1 to outDims).map { k =>
      (1 to dims).map { d =>
        val md = java.security.MessageDigest.getInstance("MD5")
        if ((md.digest(s"srp:$k:$d".getBytes("UTF-8"))(0) & 1) == 0) 1 else -1
      }
    }

  /** The projection as ONE array column: p[k] = 0 ± e[1] ± e[2] … —
    * a strictly left-to-right double chain (same association as the
    * oracle's generated SQL, so the projected components are
    * bit-identical cross-engine). No multiplies: ±1 entries reduce the
    * matrix product to adds/subtracts, which is the construction's
    * whole charm at scan time.
    */
  private def srpProject(signs: Seq[Seq[Int]]): Column =
    array(signs.map { row =>
      expr("0.0D " + row.zipWithIndex.map { case (s, i) =>
        (if (s > 0) "+ " else "- ") + s"element_at(e, ${i + 1})"
      }.mkString(" "))
    }: _*)

  /** Dimension-reduction rung of the ladder (e35): project the corpus
    * to `outDims` sign-random-projection components (64 → 16 here: 4×
    * fewer scored floats, like SQ8's 4× byte packing but along the
    * DIMENSION axis instead of the precision axis) and rank by reduced-
    * space squared L2. On the unit-norm corpus that ranking is a JL
    * estimate of the exact-cosine order; [[annRecallSrp]] registers how
    * good. Same flat shape as [[sq8TopK]]: queries broadcast, corpus
    * never shuffles, per-query top-k via the partitioned window.
    */
  def srpTopK(emb: DataFrame, queryPred: Column, k: Int,
      outDims: Int = 16): DataFrame = {
    val n = normalized(emb)
    val dims = 64 // embedding width (TESTDATA.md), static like PQ_DIMS
    val proj = n.withColumn("p", srpProject(srpSignMatrix(outDims, dims)))
    // scored corpus side widened (ScanParallelism doc); the flat scan
    // stays the deliberate BroadcastNestedLoopJoin measurement rung
    val codes = graft.sources.ScanParallelism.widen(proj)
      .select(col("vec_id").as("neighbor_id"), col("p").as("np"))
    val q = proj.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("p").as("qp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rp_dist").asc, col("neighbor_id").asc)
    codes.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), expr(
        "aggregate(zip_with(qp, np, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)")
        .as("rp_dist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("rp_dist"))
  }

  /** Recall@k of the SRP ranking (e36) — [[recallOf]] over [[srpTopK]]:
    * the dimension-reduction axis measured by the same device as the
    * precision axis (e25) and the coverage axis (e27), completing the
    * three-way factoring of where ANN loss can come from. Measured on
    * the structureless synthetic corpus it is the WEAKEST axis —
    * sf0.01 mean recall@3 reads 0.07/0.07/0.10/0.17 at 4/8/16/32
    * output dims (near-orthogonal random vectors have tiny cosine gaps
    * that 16 JL dims cannot separate), versus SQ8's 0.986 at the same
    * 4× compression. The registered number makes that trade a query,
    * not a belief; the nondecreasing dims→recall ladder is spec-pinned.
    */
  def annRecallSrp(emb: DataFrame, queryPred: Column, k: Int,
      outDims: Int = 16): DataFrame =
    recallOf(
      cosineTopK(emb, queryPred, k),
      srpTopK(emb, queryPred, k, outDims), k)

  /** Two-stage SRP retrieval (e37): the reduced-space ranking proposes
    * a shortlist, exact cosine re-orders it — [[rerankExact]], the ONE
    * shared re-rank tail every index family here ends in (e20 PQ, e28
    * IVF+SQ8). The JL estimate only has to get true neighbors INTO the
    * shortlist, not order them — precisely the regime where a weak
    * cheap estimator is still useful.
    */
  def srpRerankTopK(emb: DataFrame, queryPred: Column, k: Int,
      shortlist: Int, outDims: Int = 16): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    rerankExact(emb, queryPred,
      srpTopK(emb, queryPred, shortlist, outDims), k)
  }

  /** Recall@k of the re-ranked SRP path (e38) — ≥ e36 pointwise by the
    * e21 dominance argument (exact ordering cannot displace a true
    * top-k member already in the shortlist below rank k), spec-pinned.
    * The (e36, e38) pair reads how much of the dimension axis' loss is
    * shortlist-recoverable at a given depth.
    */
  def annRecallSrpReranked(emb: DataFrame, queryPred: Column, k: Int,
      shortlist: Int, outDims: Int = 16): DataFrame =
    recallOf(
      cosineTopK(emb, queryPred, k),
      srpRerankTopK(emb, queryPred, k, shortlist, outDims), k)

  /** The outDims-bit SIGN SIGNATURE of the SRP projection — bit k−1 is
    * set iff component k is ≥ 0 (ties to +, both engines). The sign
    * bits are exactly what random-hyperplane LSH retains of the
    * projection; [[srpBucketTopK]] buckets on them.
    */
  private def srpSigExpr(outDims: Int): Column = expr(
    (1 to outDims).map { k =>
      s"(CASE WHEN element_at(p, $k) >= 0.0D THEN ${1L << (k - 1)}L ELSE 0L END)"
    }.mkString(" + "))

  /** Bucketed SRP serve path (e39): the e35 rung turned into an INDEX
    * shape, completing the family the way e31 did for IVF+SQ8. The
    * sign bits of the projection form an outDims-bit signature, split
    * into radius+1 equal Hamming blocks (the d30 multi-index device,
    * Dedup.simhashHammingPairs); a corpus row is a candidate iff it
    * shares at least one whole block with the query. By pigeonhole a
    * signature within Hamming distance `radius` of the query's MUST
    * agree on some block — full candidate recall at the radius in
    * signature space (spec-pinned against a brute-force reference).
    * Candidates are then ranked by the same reduced-space L2 as e35.
    *
    * Scale shape: corpus and queries each explode to radius+1 block
    * keys; candidates come from an EQUI-join on (block position, block
    * value) against the broadcast query blocks — probe-bounded by
    * bucket occupancy, never the flat queries × corpus nested-loop scan
    * of e35 (plan-shape spec pins no nested-loop join). Multi-block
    * matches dedupe in the same aggregation that carries the (identical)
    * distance — the shuffle moves (query, neighbor, dist) triples, not
    * projection arrays.
    */
  def srpBucketTopK(emb: DataFrame, queryPred: Column, k: Int,
      outDims: Int = 16, radius: Int = 3): DataFrame = {
    val nBlocks = radius + 1
    require(outDims % nBlocks == 0,
      s"outDims ($outDims) must split into radius+1 ($nBlocks) equal blocks")
    val bs = outDims / nBlocks
    val mask = (1L << bs) - 1
    val dims = 64 // embedding width (TESTDATA.md), static like PQ_DIMS
    val proj = normalized(emb)
      .withColumn("p", srpProject(srpSignMatrix(outDims, dims)))
      .withColumn("sig", srpSigExpr(outDims))
    val blockArr = array((0 until nBlocks).map { j =>
      struct(lit(j).as("bpos"), expr(s"shiftright(sig, ${j * bs}) & $mask").as("bval"))
    }: _*)
    // corpus block side widened: the block join's distance folds are
    // the row's whole cost (ScanParallelism doc)
    val cBlk = graft.sources.ScanParallelism.widen(proj)
      .select(col("vec_id").as("neighbor_id"), col("p").as("np"),
        explode(blockArr).as("b"))
      .select(col("neighbor_id"), col("np"), col("b.bpos").as("bpos"), col("b.bval").as("bval"))
    val qBlk = proj.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("p").as("qp"),
        explode(blockArr).as("b"))
      .select(col("query_id"), col("qp"), col("b.bpos").as("bpos"), col("b.bval").as("bval"))
    val cand = cBlk.join(broadcast(qBlk), Seq("bpos", "bval"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), expr(
        "aggregate(zip_with(qp, np, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)")
        .as("rp_dist"))
      // a pair matching on m blocks appears m times with IDENTICAL
      // distances — min() is the dedup, and the shuffle carries triples
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("rp_dist")).as("rp_dist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rp_dist").asc, col("neighbor_id").asc)
    cand.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("rp_dist"))
  }

  /** Recall@k of the bucketed SRP path (e40) — the shared device over
    * [[srpBucketTopK]]. Read beside e36 (the flat SRP rung): the delta
    * is pure bucket-coverage loss on the dimension axis, the same
    * factoring the (e27, e25) pair gives the IVF+SQ8 family.
    */
  def annRecallSrpBucket(emb: DataFrame, queryPred: Column, k: Int,
      outDims: Int = 16, radius: Int = 3): DataFrame =
    recallOf(
      cosineTopK(emb, queryPred, k),
      srpBucketTopK(emb, queryPred, k, outDims, radius), k)

  /** The Hamming-radius COVERAGE CURVE of the bucketed SRP path (e44)
    * — the e30 probe-curve idea applied to the dimension-reduction
    * family: mean recall@k per radius, one row per radius, aggregated
    * to the order-independent (n_queries, n_hits) pair. The radii are
    * the coverage lever the (bpos, bval) layout exposes: radius r
    * splits the 16-bit signature into r+1 blocks, and because each
    * doubling SPLITS blocks in half (16/2 → 16/4 → 16/8 → 16/16 bits,
    * all aligned), an r-level block match implies matches at every
    * deeper level — candidate sets are NESTED, so the curve is
    * nondecreasing BY CONSTRUCTION (spec-pinned), unlike probabilistic
    * LSH banding. The endpoint radius 15 (1-bit blocks) admits every
    * pair sharing any sign bit — all but antipodal signatures, read
    * beside e36's flat-scan recall.
    */
  def srpRadiusCurve(emb: DataFrame, queryPred: Column, k: Int,
      outDims: Int = 16,
      radiusList: Seq[Int] = Seq(1, 3, 7, 15)): DataFrame = {
    // checkpoint the exact baseline: it is compared against EVERY
    // radius arm, and recallOf reads it twice per arm — uncheckpointed,
    // the union plan embedded 2·|radii| copies of the brute-force
    // scoring subtree (planning alone dominated the row)
    val exact = cosineTopK(emb, queryPred, k).localCheckpoint(true)
    // FUSED arms (round-14; guide §2.3/§8 "shuffle keys, attach the
    // payload once"): the doc's nesting argument — each radius SPLITS
    // the previous blocks in half, so candidate sets nest — means the
    // deepest arm's pair set CONTAINS every arm's. The old shape ran
    // srpBucketTopK per arm, and the deepest (1-bit-block) arm's join
    // emitted each pair once per agreeing sign bit (~outDims/2 times),
    // each occurrence carrying both projection arrays and re-computing
    // the distance fold before the min() dedup. Now: ONE finest-level
    // block join carrying (ids, signatures) only → pair dedup BEFORE
    // any payload → projections attached and the distance folded ONCE
    // per pair → each arm filters the scored pair table by aligned
    // xor-block agreement and re-ranks. Candidate sets, distances,
    // ranks and tie-breaks are unchanged per arm (the fold is the same
    // expression over the same arrays; min() over m identical doubles
    // IS that double). Non-nesting radius lists (never registered) keep
    // the per-arm loop below.
    val bsMin = if (radiusList.nonEmpty) outDims / (radiusList.max + 1) else 0
    val fusable = bsMin >= 1 && radiusList.forall(r =>
      outDims % (r + 1) == 0 && (outDims / (r + 1)) % bsMin == 0)
    if (fusable)
      return srpRadiusCurveFused(emb, queryPred, k, outDims, radiusList, exact)
    radiusList.map { r =>
      recallOf(exact, srpBucketTopK(emb, queryPred, k, outDims, r), k,
          exactMaterialized = true)
        .agg(count(lit(1)).as("n_queries"), sum(col("n_hit")).as("n_hits"))
        .select(lit(r.toLong).as("radius"),
          col("n_queries").cast("long").as("n_queries"),
          col("n_hits").cast("long").as("n_hits"),
          (col("n_hits").cast("double") / (col("n_queries") * lit(k.toLong)))
            .as("mean_recall"))
    }.reduce(_ unionByName _)
  }

  /** The fused [[srpRadiusCurve]] body (doc there): one finest-level
    * block join over (ids, signatures), pair dedup, one distance fold,
    * per-radius filters over the scored pair table.
    */
  private def srpRadiusCurveFused(emb: DataFrame, queryPred: Column,
      k: Int, outDims: Int, radiusList: Seq[Int],
      exact: DataFrame): DataFrame = {
    val rMax = radiusList.max
    val bsMin = outDims / (rMax + 1)
    val maskMin = (1L << bsMin) - 1
    val dims = 64 // embedding width (TESTDATA.md), static like PQ_DIMS
    val proj = normalized(emb)
      .withColumn("p", srpProject(srpSignMatrix(outDims, dims)))
      .withColumn("sig", srpSigExpr(outDims))
    def blocksOf(sigCol: String): Column = array((0 to rMax).map { j =>
      struct(lit(j).as("bpos"),
        expr(s"shiftright($sigCol, ${j * bsMin}) & $maskMin").as("bval"))
    }: _*)
    // corpus side: ids + signatures + projections, computed once and
    // widened (ScanParallelism doc); feeds the block join (sig only)
    // and the payload attach (p only)
    // shared under the size budget, gated on the scan-rooted emb
    // (shareSmall doc): the projected corpus frame is corpus-sized and
    // must not be pinned at 100 TB — above the budget consumers
    // recompute the projection scan-side
    val corpus = graft.sources.ScanParallelism.shareSmall(
      graft.sources.ScanParallelism.widen(proj)
        .select(col("vec_id"), col("p"), col("sig")), gate = emb)
    val q = graft.sources.ScanParallelism.shareSmall(
      proj.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("p").as("qp"),
          col("sig").as("qsig")), gate = emb)
    val cBlk = corpus
      .select(col("vec_id").as("neighbor_id"), col("sig").as("nsig"),
        explode(blocksOf("sig")).as("b"))
      .select(col("neighbor_id"), col("nsig"),
        col("b.bpos").as("bpos"), col("b.bval").as("bval"))
    val qBlk = q
      .select(col("query_id"), col("qsig"), explode(blocksOf("qsig")).as("b"))
      .select(col("query_id"), col("qsig"),
        col("b.bpos").as("bpos"), col("b.bval").as("bval"))
    // pair dedup BEFORE the payload: a pair matching on m finest blocks
    // appears m times — with an identical signature xor each time, so
    // min() is pure dedup. The shuffle moves (ids, xor) only.
    val pairs = cBlk.join(broadcast(qBlk), Seq("bpos", "bval"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("qsig ^ nsig").as("xr"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("xr")).as("xr"))
    // attach projections ONCE per pair, fold ONCE (same expression as
    // srpBucketTopK); corpus/query payload joins are equi-joins against
    // the narrow corpus/query frames, shared by shareSmall only under its
    // size budget (recomputed above it) — AQE broadcasts them at toy SF
    // and degrades to shuffle at scale (the cutSpans reasoning)
    // every arm reads this twice (rank + recall) — shared under the
    // size budget, gated on the scan-rooted emb (shareSmall doc): at
    // the widest radius the scored pair table approaches |Q| × N rows,
    // which at corpus scale must not be pinned; above the budget each
    // arm recomputes the single-fold join (still one fold per pair per
    // arm — never the old per-sign-bit duplication)
    val scored = graft.sources.ScanParallelism.shareSmall(
      pairs
        .join(corpus.select(col("vec_id").as("neighbor_id"),
          col("p").as("np")), Seq("neighbor_id"))
        .join(broadcast(q.select(col("query_id"), col("qp"))), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("xr"), expr(
          "aggregate(zip_with(qp, np, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)")
          .as("rp_dist")),
      gate = emb)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rp_dist").asc, col("neighbor_id").asc)
    radiusList.map { r =>
      val bs = outDims / (r + 1)
      val mask = (1L << bs) - 1
      // admitted at radius r ⟺ the signatures agree on some whole
      // aligned bs-bit block ⟺ that block of the xor is zero
      val admit = (0 to r).map(j =>
        expr(s"shiftright(xr, ${j * bs}) & $mask") === lit(0L)).reduce(_ || _)
      val arm = scored.filter(admit)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("rk"), col("neighbor_id"), col("rp_dist"))
      recallOf(exact, arm, k, exactMaterialized = true)
        .agg(count(lit(1)).as("n_queries"), sum(col("n_hit")).as("n_hits"))
        .select(lit(r.toLong).as("radius"),
          col("n_queries").cast("long").as("n_queries"),
          col("n_hits").cast("long").as("n_hits"),
          (col("n_hits").cast("double") / (col("n_queries") * lit(k.toLong)))
            .as("mean_recall"))
    }.reduce(_ unionByName _)
  }

  /** The corpus' SRP block table — (vec_id, p, bpos, bval), one row per
    * (vector, Hamming block). Shared by the index build and the append
    * path so the two cannot diverge on the block derivation.
    */
  private def srpBlockTable(emb: DataFrame, outDims: Int, radius: Int): DataFrame = {
    val nBlocks = radius + 1
    require(outDims % nBlocks == 0,
      s"outDims ($outDims) must split into radius+1 ($nBlocks) equal blocks")
    val bs = outDims / nBlocks
    val mask = (1L << bs) - 1
    val blockArr = array((0 until nBlocks).map { j =>
      struct(lit(j).as("bpos"), expr(s"shiftright(sig, ${j * bs}) & $mask").as("bval"))
    }: _*)
    // widened: the projection (outDims × 64 dots per row) and the block
    // explode otherwise run in the scan's single bench-scale task — the
    // same single-task store-build stage the write layout below fixes
    normalized(graft.sources.ScanParallelism.widen(emb))
      .withColumn("p", srpProject(srpSignMatrix(outDims, 64)))
      .withColumn("sig", srpSigExpr(outDims))
      .select(col("vec_id"), col("p"), explode(blockArr).as("b"))
      .select(col("vec_id"), col("p"),
        col("b.bpos").as("bpos"), col("b.bval").as("bval"))
  }

  /** PERSIST the bucketed SRP index (e41) — build-once/query-many for
    * the dimension-reduction family, the way [[saveIvfSq8Index]] closed
    * it for IVF+SQ8. The store is the exploded block table written
    * PARTITIONED BY (bpos, bval): radius+1 × 2^blockBits directories,
    * so a query's probed blocks prune at the file-index layer
    * (spec-asserted PartitionFilters). The "codebook" here is the
    * derandomized ±1 sign matrix — a pure function of (outDims, 64),
    * recorded in the manifest as params rather than data, which is why
    * [[appendSrpIndex]] appends are EXACTLY equal to a full rebuild
    * (nothing is trained, so nothing can drift — unlike IVF's learned
    * centroids, registered accordingly against the same oracle).
    * Footprint note: projections are outDims doubles ≈ 2× the 64-float
    * original per block row — the price of block-local candidate
    * scoring without a second fetch join, paid (radius+1)×.
    */
  def saveSrpIndex(emb: DataFrame, path: String, outDims: Int = 16,
      radius: Int = 3): Unit = {
    // versioned (the d153 device): the block table is vec_id-monotone
    // append-only, so every snapshot is servable as-of by one id cut;
    // an overwrite rebuild resets the lineage. One write task per
    // (bpos, bval) directory (round-13 verdict #1: the 64-directory
    // write ran from ONE task; the explicit-N keyed repartition is what
    // AQE cannot coalesce away)
    IndexManifest.rebuild(path, "srp", true, emb, "vec_id",
      _ => Map("out_dims" -> outDims.toLong, "radius" -> radius.toLong))(
      () => graft.sources.ScanParallelism.layoutForWrite(
          srpBlockTable(emb, outDims, radius),
          (radius + 1) << (outDims / (radius + 1)),
          Seq(col("bpos"), col("bval")))
        .write.mode("overwrite").partitionBy("bpos", "bval")
        .parquet(s"$path/blocks"))
  }

  /** APPEND to a persisted SRP index (e42) — the shared prelude
    * ([[IndexManifest.beginAppend]]), with a stronger guarantee than
    * [[appendIvfSq8Index]]'s: the sign matrix is parameter-derived, so
    * the appended index is bit-identical to a fresh build on the grown
    * corpus (spec-pinned), not merely frozen-book-consistent. History
    * block files are never read or rewritten; new files land inside
    * existing (bpos, bval) directories so pruned probes keep pruning.
    */
  def appendSrpIndex(increment: DataFrame, path: String): Unit =
    IndexManifest.append(path, IndexManifest.require(path, "srp"), true,
        increment, "vec_id", Seq("blocks" -> "vec_id"), _.man.params) { inc =>
      val (outDims, radius) =
        (inc.man.params("out_dims").toInt, inc.man.params("radius").toInt)
      // same one-task-per-directory write layout as saveSrpIndex
      Seq(() => graft.sources.ScanParallelism.layoutForWrite(
          srpBlockTable(increment, outDims, radius),
          (radius + 1) << (outDims / (radius + 1)),
          Seq(col("bpos"), col("bval")))
        .write.mode("append").partitionBy("bpos", "bval")
        .parquet(s"$path/blocks"))
    }

  /** SYNC a persisted SRP index to the current corpus (e43): the
    * shared [[IndexManifest.sync]] policy. The append arm
    * ([[appendSrpIndex]]) is exactly equal to a rebuild, so the policy's
    * append arm loses nothing.
    */
  def srpIndexSync(emb: DataFrame, path: String, outDims: Int = 16,
      radius: Int = 3): String =
    IndexManifest.sync(emb, "vec_id", path, "srp",
      Map("out_dims" -> outDims.toLong, "radius" -> radius.toLong))(
      appendSrpIndex(_, path))(saveSrpIndex(emb, path, outDims, radius))

  /** QUERY a persisted SRP index — bit-identical to [[srpBucketTopK]]
    * on the index's corpus (spec-asserted): same projection, same
    * block-share candidate set, same distance fold, same tie-breaks.
    * Queries bring raw vectors and are projected scan-side; their
    * probed (bpos, bval) pairs — at most queries × (radius+1), one tiny
    * driver round over the query side only — are injected as a LITERAL
    * OR-of-conjunctions predicate when `pruneScan`, which a
    * (bpos, bval)-partitioned store answers from the file index
    * (PartitionFilters; the e31 probed-cell device, two-dimensional).
    */
  def srpBucketTopKIndexed(queries: DataFrame, queryPred: Column,
      indexPath: String, k: Int, pruneScan: Boolean = false,
      asOfVersion: Option[Int] = None): DataFrame = {
    val man = IndexManifest.require(indexPath, "srp")
    val (outDims, radius) = (man.params("out_dims").toInt, man.params("radius").toInt)
    val spark = queries.sparkSession
    val qBlk = srpBlockTable(queries.filter(queryPred), outDims, radius)
      .select(col("vec_id").as("query_id"), col("p").as("qp"),
        col("bpos"), col("bval"))
    // TIME TRAVEL (e74, the d153 device): the block table is
    // vec_id-monotone append-only, so snapshot N is exactly the rows at
    // or below version N's watermark — one pushed id cut (row-group
    // stats) beside the block pruning; no file-level snapshot metadata
    val raw0 = Tables.readParquet(spark, s"$indexPath/blocks")
    val raw = asOfVersion match {
      case None => raw0
      case Some(v) =>
        val snap = IndexManifest.readVersion(indexPath, v)
        if (snap.kind != "srp")
          throw new IndexManifestException(
            s"version $v at $indexPath is kind '${snap.kind}', expected 'srp'")
        raw0.filter(col("vec_id") <= snap.corpusMaxId)
    }
    val pruned =
      if (!pruneScan) raw
      else {
        val pairs = qBlk.select(col("bpos"), col("bval")).distinct()
          .collect().map(r => (r.getInt(0), r.getLong(1))).sorted
        // literal OR over (bpos, bval) conjunctions: bare partition
        // attributes, so the scan prunes unprobed block directories
        pairs.map { case (bp, bv) =>
          col("bpos") === bp && col("bval") === bv
        }.reduceOption(_ || _).map(raw.filter).getOrElse(raw.limit(0))
      }
    val cBlk = pruned.select(col("vec_id").as("neighbor_id"), col("p").as("np"),
      col("bpos").cast("int").as("bpos"), col("bval").cast("long").as("bval"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rp_dist").asc, col("neighbor_id").asc)
    cBlk.join(broadcast(qBlk), Seq("bpos", "bval"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), expr(
        "aggregate(zip_with(qp, np, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)")
        .as("rp_dist"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("rp_dist")).as("rp_dist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("rp_dist"))
  }

  /** Deterministic per-query top-k: rank by (cosine desc, neighbor_id). */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), col("cosine"))
  }

  /** Maximal-marginal-relevance rerank (e52) — the diversity stage of a
    * retrieval serving pipeline (Carbonell & Goldstein 1998): from the
    * cosine top-`poolK` candidate pool for one query, greedily select
    * `outK` results maximizing `0.5·rel(c) − 0.5·max_{s∈S} sim(c, s)`
    * (λ fixed at 1/2 — exactly representable, so the score is two IEEE
    * multiplies and a subtract in any engine). First pick uses
    * max-sim 0.0 (empty S), i.e. pure relevance.
    *
    * Scale shape: the two legs that touch the corpus are distributed —
    * the pool is [[cosineTopK]]'s broadcast-scored top-k (swap in any
    * indexed ANN path at 100 TB), and the candidate-pairwise similarity
    * table is a poolK²-bounded self-join over an `isin`-pruned scan.
    * The greedy selection itself runs driver-side over those ≤ poolK²
    * collected doubles — bounded by the REQUEST (k), not the corpus,
    * the same by-the-algorithm's-nature driver residency as
    * [[kCenterGreedy]]'s k centers. Every double the driver compares
    * was computed by the engine's own fold, so the selection (and the
    * published mmr score) is bit-reproducible cross-engine.
    *
    * Returns (rk, neighbor_id, relevance, mmr) — rk in selection order.
    */
  def mmrRerank(emb: DataFrame, queryId: Long, poolK: Int, outK: Int): DataFrame =
    mmrOverPool(emb, cosineTopK(emb, col("vec_id") === queryId, poolK), outK)

  /** [[mmrRerank]] with the candidate pool from the bucketed
    * sign-projection ANN instead of the exact broadcast scan (e53) —
    * the registered 100 TB serving composition the e52 doc promises:
    * the only corpus-touching leg becomes the [[annTopK]] bucket join,
    * everything after (pairwise sims, greedy) is identical and still
    * request-bounded. The pool may come back SMALLER than poolK (the
    * query's bucket can hold fewer candidates) — the greedy then just
    * selects what exists, same as the SQL twin.
    */
  def mmrRerankAnn(emb: DataFrame, queryId: Long, poolK: Int, outK: Int,
      bits: Int = 6): DataFrame =
    mmrOverPool(emb, annTopK(emb, col("vec_id") === queryId, poolK, bits), outK)

  private def mmrOverPool(emb: DataFrame, poolDf: DataFrame, outK: Int): DataFrame = {
    val spark = emb.sparkSession
    val pool = poolDf
      .select(col("neighbor_id"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ids = pool.map(_._1)
    val n = normalized(emb).filter(col("vec_id").isin(ids: _*))
    val a = n.select(col("vec_id").as("ida"), col("e").as("ea"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("idb"), col("e").as("eb"), col("nrm").as("nb"))
    val pw = a.join(broadcast(b), col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        (graft.functions.ArrayDotProduct(col("ea"), col("eb")) /
          (col("na") * col("nb"))).as("cos"))
      .collect()
      .flatMap(r => {
        val (x, y, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        Seq((x, y) -> c, (y, x) -> c)
      }).toMap
    val rel = pool.toMap
    var selected = Vector.empty[(Long, Double, Double)] // (id, rel, mmr)
    var remaining = pool.map(_._1).toVector
    while (selected.size < outK && remaining.nonEmpty) {
      val scored = remaining.map { c =>
        val ms = if (selected.isEmpty) 0.0
          else selected.map(s => pw((c, s._1))).max(Ordering.Double.TotalOrdering)
        (c, rel(c), 0.5 * rel(c) - 0.5 * ms)
      }
      val best = scored.minBy { case (id, _, m) => (-m, id) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
      selected :+= best
      remaining = remaining.filterNot(_ == best._1)
    }
    import spark.implicits._
    spark.createDataset(selected.zipWithIndex.map { case ((id, r, m), i) =>
      (i + 1L, id, r, m)
    }).toDF("rk", "neighbor_id", "relevance", "mmr")
  }

  /** Small-world NAVIGATION graph (the e54 artifact) — the edge set a
    * graph-traversal ANN serves from (the HNSW/DiskANN family's layer-0
    * shape, Malkov & Yashunin 2018 / Subramanya et al. 2019): each
    * node's top-`knnK` cosine neighbors among its own sign-projection
    * bucket AND the `bits` Hamming-distance-1 buckets (the multi-probe
    * candidate set — cross-bucket edges are what lets a walk LEAVE a
    * bucket), PLUS one deterministic long-range edge per node
    * (`vec_id·7919 mod N` — the Watts-Strogatz small-world shortcut
    * respelled reproducibly; NSW's random long links are exactly this
    * device). Without the long edges the bucket-local graph fragments
    * into per-bucket islands and greedy search cannot reach a query's
    * neighborhood from a fixed entry set.
    *
    * Scale shape: the kNN leg is the [[annTopKMultiProbe]] self-join —
    * candidate volume (bits+1)·Σ bucket², never N²; the long-edge leg
    * is pure scan-side arithmetic plus one broadcast count. Assumes
    * dense 0..N-1 ids (the testdata contract; the same assumption the
    * `vec_id < nCells` seed device makes). Returns (src, dst).
    */
  def navGraph(emb: DataFrame, knnK: Int, bits: Int = 6): DataFrame = {
    val knn = bucketTopK(emb, lit(true), knnK, bits,
        probeMasks = 0L +: (0 until bits).map(j => 1L << j))
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val nv = emb.agg(count(lit(1)).as("nv"))
    val longEdges = emb.select(col("vec_id")).crossJoin(broadcast(nv))
      .select(col("vec_id").as("src"),
        ((col("vec_id") * 7919L) % col("nv")).as("dst"))
      .filter(col("dst") =!= col("src"))
    knn.union(longEdges).distinct()
  }

  /** Graph-traversal ANN serving (e54) — best-first BEAM search over
    * [[navGraph]], the query path of the HNSW/DiskANN index family
    * (completing the registered ANN ladder: flat scan, LSH buckets,
    * IVF-PQ/SQ8, SRP blocks, and now graph walk). Every query starts
    * from the fixed entry set (`vec_id < entries` — the literal-seed
    * device), then `rounds` expansion steps: the current beam's
    * out-edges become candidates, NEW candidates are scored exact
    * cosine, and the union is cut back to the best `beam` per query
    * (cosine desc, id asc — total order, so the walk is deterministic
    * and the oracle unrolls the same rounds as CTEs). The final beam,
    * self excluded, yields top-`k`.
    *
    * Scale shape: the graph is built once, joined once with the
    * corpus vectors into an adjacency table (DiskANN co-locates vectors
    * WITH adjacency lists) and localCheckpointed (the PageRank iteration
    * device); each round touches only |Q|·beam·(knnK+1) candidate rows
    * — one equi-join of the adjacency against the broadcast beam, one
    * per-query window over ≤ beam·(knnK+2) rows (see [[beamWalk]]). The
    * corpus is never scanned per round — that is the whole point of the
    * family. Returns (query_id, rk, neighbor_id, cosine).
    */
  def graphBeamSearch(emb: DataFrame, queryPred: Column, k: Int,
      beam: Int, rounds: Int, knnK: Int, bits: Int = 6,
      entries: Int = 4): DataFrame =
    beamTopK(beamWalk(emb, navGraph(emb, knnK, bits),
      queryPred, k, beam, rounds, entries).last._2, k)

  /** The shared walk body of [[graphBeamSearch]] /
    * [[graphBeamSearchIndexed]] / [[graphBeamRecallCurve]] /
    * [[graphBeamRecallKCenter]]: `rounds` expansion steps over an edge
    * set, returning the beam AFTER EACH round (round i's beam is a
    * prefix of the same chain — the recall curve reads them all, the
    * search only the last). Each beam is localCheckpointed (the PageRank
    * iteration device), so consumers never recompute the walk.
    *
    * Shape (the DiskANN layout, Subramanya et al. 2019: each adjacency
    * row stored with its destination's vector):
    *  - once per walk, the edges join the corpus vectors into an
    *    ADJACENCY table (src, vid, e, nrm), localCheckpointed: it pins
    *    |E| rows × dim doubles for the walk's duration and is released
    *    when the walk returns (the beams do not read it after their
    *    own checkpoints);
    *  - beam rows carry their query's vector (qe, qn), so a round needs
    *    no query or corpus lookup: adjacency ⋈ broadcast(beam) → exact
    *    cosine → union with the beam → one exchange on query_id →
    *    dropDuplicates(query_id, vid) → the (cosine desc, vid asc)
    *    row_number cut → localCheckpoint. Three Spark jobs a round (the
    *    broadcast, the exchange, the checkpoint). Each round broadcasts
    *    the beam: |Q|·beam rows, each with its dim-double query vector.
    * A candidate already in the beam, or reached over two edges, scores
    * the same double from the same vectors, so dropping duplicates
    * leaves the total-order cut — and the walk — unchanged.
    */
  private def beamWalk(emb: DataFrame, edges: DataFrame, queryPred: Column,
      k: Int, beam: Int, rounds: Int, entries: Int,
      entryIds: Option[Seq[Long]] = None): Seq[(Int, DataFrame)] = {
    require(k < beam && rounds >= 1 && entries >= 1 && entries <= beam,
      s"k=$k beam=$beam rounds=$rounds entries=$entries")
    require(entryIds.forall(ids => ids.nonEmpty && ids.size <= beam),
      s"entryIds size ${entryIds.map(_.size)} must be in [1, beam=$beam]")
    val n = normalized(emb)
    val q = n.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val entPred = entryIds match {
      case Some(ids) => col("vec_id").isin(ids: _*)
      case None      => col("vec_id") < entries
    }
    val ent = n.filter(entPred)
      .select(col("vec_id").as("vid"), col("e").as("ce"), col("nrm").as("cn"))
    val adj = edges.join(n, edges("dst") === n("vec_id"))
      .select(col("src"), col("dst").as("vid"), col("e"), col("nrm"))
      .localCheckpoint(true)
    var b = q.crossJoin(broadcast(ent))
      .select(col("query_id"), col("vid"),
        (dot("qe", "ce") / (col("qn") * col("cn"))).as("cosine"),
        col("qe"), col("qn"))
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vid").asc)
    val beams = (1 to rounds).map { i =>
      val cand = adj.join(broadcast(b.select(col("query_id"), col("vid").as("src"),
          col("qe"), col("qn"))), Seq("src"))
        .select(col("query_id"), col("vid"),
          (dot("qe", "e") / (col("qn") * col("nrm"))).as("cosine"),
          col("qe"), col("qn"))
      b = b.union(cand)
        .repartition(col("query_id"))
        .dropDuplicates("query_id", "vid")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= beam)
        .drop("rn")
        .localCheckpoint(true)
      (i, b)
    }
    Dedup.freeSnapshot(adj)
    beams
  }

  private def beamTopK(b: DataFrame, k: Int): DataFrame =
    topK(b.filter(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"), col("cosine")), k)

  /** Graph-walk recall (e55) — [[graphBeamSearch]] measured against the
    * exact [[cosineTopK]] baseline, folded to ONE row (the e30/e40
    * aggregate device: (n_queries, n_hits) instead of per-query rows,
    * so the oracle chains don't duplicate per data point): recall@k =
    * found-in-exact-top-k / (k·queries). Exact integers plus one IEEE
    * divide. The number prices the beam/rounds/entries knobs the same
    * way e30 prices probe count.
    */
  def graphBeamRecall(emb: DataFrame, queryPred: Column, k: Int,
      beam: Int, rounds: Int, knnK: Int, bits: Int = 6,
      entries: Int = 4): DataFrame =
    graphBeamRecallCurve(emb, queryPred, k, beam, rounds, knnK, bits, entries)
      .filter(col("rounds") === rounds)
      .select(col("n_queries"), col("n_hits"), col("recall"))

  /** Recall-per-ROUND curve (e56) — recall@k of [[graphBeamSearch]]
    * measured after EVERY expansion round of one walk (round i's beam
    * is a prefix of the same chain, so the curve costs one walk, not
    * `rounds` walks — the e30 probe-curve discipline transplanted to
    * the graph family). Monotone by construction: a candidate that
    * displaces a beam member has strictly higher cosine, and anything
    * with higher cosine than an exact-top-k member is itself exact
    * top-k, so hits never decrease round over round (spec-pinned).
    * Returns (rounds, n_queries, n_hits, recall).
    */
  def graphBeamRecallCurve(emb: DataFrame, queryPred: Column, k: Int,
      beam: Int, rounds: Int, knnK: Int, bits: Int = 6,
      entries: Int = 4): DataFrame = {
    // the nav-graph build and the exact baseline are independent
    // multi-job subcomputations — overlapped (guide §2.6)
    val (edges, exact) = graft.Overlap(
      navGraph(emb, knnK, bits).localCheckpoint(true),
      cosineTopK(emb, queryPred, k)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true)) // read per round + once for the count
    val beams = beamWalk(emb, edges, queryPred, k, beam, rounds, entries)
    val nq = exact.agg(countDistinct(col("query_id")).cast("long").as("n_queries"))
    beams.map { case (i, b) =>
      beamTopK(b, k).select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).cast("long").as("n_hits"))
        .crossJoin(broadcast(nq))
        .select(lit(i.toLong).as("rounds"), col("n_queries"), col("n_hits"),
          (col("n_hits").cast("double") / (lit(k) * col("n_queries")))
            .as("recall"))
    }.reduce(_ union _)
  }

  /** Graph-walk recall with K-CENTER entry points (e70) — the entry-
    * diversity variant: instead of the fixed `vec_id < entries` prefix
    * (which can all land in one region of a clustered corpus and leave
    * far clusters unreachable within the round budget), the walk starts
    * from the [[kCenterGreedy]] exemplars — maximally-spread by
    * construction, so every region of the corpus is within few hops of
    * SOME entry. Zero new machinery: the selection is the registered
    * e47 operator (its ids driver-resident by the kCenter residency
    * argument), the walk and the recall device are shared verbatim.
    * Measured against e55 at the same (beam, rounds, knnK) it prices
    * what entry diversity buys — the e11b measure-don't-assume
    * discipline.
    */
  def graphBeamRecallKCenter(emb: DataFrame, queryPred: Column, k: Int,
      beam: Int, rounds: Int, knnK: Int, bits: Int = 6,
      kCenters: Int = 4): DataFrame = {
    // entry selection, nav-graph build and the exact baseline are three
    // independent multi-job subcomputations — overlapped (guide §2.6)
    val (ids, edges, exact) = graft.Overlap(
      kCenterGreedy(emb, kCenters).collect().map(_.getLong(1)).toSeq,
      navGraph(emb, knnK, bits).localCheckpoint(true),
      cosineTopK(emb, queryPred, k)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true))
    val beams = beamWalk(emb, edges,
      queryPred, k, beam, rounds, entries = ids.size, entryIds = Some(ids))
    val nq = exact.agg(countDistinct(col("query_id")).cast("long").as("n_queries"))
    beamTopK(beams.last._2, k).select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_hits"))
      .crossJoin(broadcast(nq))
      .select(col("n_queries"), col("n_hits"),
        (col("n_hits").cast("double") / (lit(k) * col("n_queries"))).as("recall"))
  }

  /** Persist the [[navGraph]] edge set (e57) — the graph family's index
    * artifact under the shared manifest (kind "nav-graph"). REBUILD-ONLY
    * by design, like the d87 BM25 store: the edges are corpus-global
    * twice over (a new vector changes existing nodes' top-k AND shifts
    * every mod-N long shortcut), so an append would silently rewrite
    * history edges' meaning — the manifest staleness gate makes that
    * loud instead.
    */
  def saveNavGraph(emb: DataFrame, path: String, knnK: Int,
      bits: Int = 6): Unit = {
    IndexManifest.rebuild(path, "nav-graph", false, emb, "vec_id",
      _ => Map("knn_k" -> knnK.toLong, "bits" -> bits.toLong))(
      () => navGraph(emb, knnK, bits).write.mode("overwrite")
        .parquet(s"$path/edges"))
  }

  /** Graph-walk serving from the persisted [[saveNavGraph]] store —
    * the e31/d113 convention: the store must not change an answer, so
    * e57 registers against e54's oracle verbatim (plus a bit-identity
    * spec). The graph build is never re-run at query time; only the
    * walk's bounded candidate joins touch the cluster.
    */
  def graphBeamSearchIndexed(spark: SparkSession, path: String,
      emb: DataFrame, queryPred: Column, k: Int, beam: Int, rounds: Int,
      entries: Int = 4): DataFrame = {
    IndexManifest.require(path, "nav-graph")
    beamTopK(beamWalk(emb, Tables.readParquet(spark, s"$path/edges"),
      queryPred, k, beam, rounds, entries).last._2, k)
  }

  /** Deterministic ±1 sign matrix for the JL projection — entry (i,j)
    * derives from the repo's one shared hash ([[Dedup.hash60Jvm]] of
    * "jl:i:j"), so the SAME Scala table renders the Spark literal
    * arrays AND the oracle's list literals (the d96/d134 pattern); the
    * matrix is m×dim driver-resident constants, nothing trained.
    */
  def jlSigns(m: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(m)(i => Array.tabulate(dim)(j =>
      1.0 - 2.0 * (Dedup.hash60Jvm(s"jl:$i:$j") % 2)))

  /** Johnson-Lindenstrauss projection (e60) — dimensionality reduction
    * by a random ±1 sign matrix (Achlioptas 2001: database-friendly
    * random projections; the sparse/sign variant of JL that needs no
    * Gaussian draws), the standard cheap pre-step before sketching,
    * clustering, or ANN when the raw dimension is the cost driver.
    * Each output coordinate is ONE [[graft.functions.ArrayDotProduct]]
    * against a literal sign vector — scan-side, codegen'd, zero
    * shuffle, and bit-identical to DuckDB's `list_dot_product` against
    * the same literals (shared left-fold order). Returns
    * (vec_id, r0..r{m-1}).
    */
  def jlProject(emb: DataFrame, m: Int, dim: Int): DataFrame = {
    val signs = jlSigns(m, dim)
    val ed = emb.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x as double))").as("ed"))
    val cols = (0 until m).map { i =>
      graft.functions.ArrayDotProduct(col("ed"),
        array(signs(i).map(lit(_)): _*)).as(s"r$i")
    }
    ed.select(col("vec_id") +: cols: _*)
  }

  /** JL-space retrieval recall (e61) — exact top-k by cosine in the
    * REDUCED space measured against exact top-k in the full space, one
    * aggregate row (the e55 device): the number that tells you whether
    * m dimensions preserve enough geometry to serve recall, pricing the
    * dimension knob the way e30 prices probes and e56 prices rounds.
    * The reduced search is the same [[cosineTopK]] plan over vectors
    * 8× narrower — the whole point of the projection.
    */
  def jlRecall(emb: DataFrame, queryPred: Column, k: Int, m: Int,
      dim: Int): DataFrame = {
    val reduced = jlProject(emb, m, dim)
      .select(col("vec_id"),
        array((0 until m).map(i => col(s"r$i")): _*).as("embedding"))
    val found = cosineTopK(reduced, queryPred, k)
      .select(col("query_id"), col("neighbor_id"))
    val exact = cosineTopK(emb, queryPred, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true)
    val nq = exact.agg(countDistinct(col("query_id")).cast("long").as("n_queries"))
    val hits = found.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_hits"))
    hits.crossJoin(broadcast(nq)).select(col("n_queries"), col("n_hits"),
      (col("n_hits").cast("double") / (lit(k) * col("n_queries"))).as("recall"))
  }

  /** JL two-stage retrieval (e62) — the e20 shortlist-then-rerank shape
    * with the JL projection as the coarse stage: shortlist by cosine in
    * the REDUCED space (8× narrower dot products — the whole cost
    * story), then exact full-space re-scoring of only the shortlist
    * (the shared [[rerankExact]] plan, broadcast fetch, corpus never
    * rescanned). The standard serving use of a random projection.
    */
  def jlRerankTopK(emb: DataFrame, queryPred: Column, k: Int,
      shortlist: Int, m: Int, dim: Int): DataFrame = {
    val reduced = jlProject(emb, m, dim)
      .select(col("vec_id"),
        array((0 until m).map(i => col(s"r$i")): _*).as("embedding"))
    rerankExact(emb, queryPred, cosineTopK(reduced, queryPred, shortlist), k)
  }

  /** What re-ranking buys on the JL shortlist (e63) — [[recallOf]] over
    * [[jlRerankTopK]], the e21 metric transplanted: ≥ e61 pointwise at
    * shortlist > k by the same seen-but-misordered argument.
    */
  def jlRecallReranked(emb: DataFrame, queryPred: Column, k: Int,
      shortlist: Int, m: Int, dim: Int): DataFrame =
    recallOf(cosineTopK(emb, queryPred, k),
      jlRerankTopK(emb, queryPred, k, shortlist, m, dim), k)

  /** The TRAINED SPECTRAL OBJECT the whole PCA family shares — mean
    * vector (driver-resident dims doubles, the sqStats/centroid
    * residency argument), centered covariance (a dims²-row frame) and
    * the raw power iterate after `iters` rounds. Every consumer (the
    * e64 component, the e65 variance diagnostic, the e66 deflated
    * second component, the e68 debias re-encode) derives from these
    * three with dims²-bounded work — so a persisted model
    * ([[saveSpectralIndex]]) turns the family's corpus-touching pass
    * into a build-once cost, exactly like the IVF/SRP/BM25 artifacts.
    */
  case class SpectralModel(dim: Int, iters: Int, mean: Array[Double],
      cov: DataFrame, iter: DataFrame)

  /** RAW SUFFICIENT STATISTICS of the embedding corpus — the canonical
    * form of the spectral model (e76): per-dimension component sums
    * sx(j) = Σ q₂₈,₁₂(xⱼ) and raw second-moment sums
    * sxx(i, j) = Σ q₃₈,₁₂(xᵢ·xⱼ), both EXACT decimals. Because decimal
    * addition is exact and associative, (n, sx, sxx) MERGE: stats of a
    * grown corpus = history stats + increment stats, term for term —
    * which is what gives the spectral family a zero-corpus-pass append
    * arm ([[appendSpectralIndex]]) with BIT-IDENTICAL results to a
    * full rebuild (spec-pinned).
    *
    * Scale shape: one corpus scan each (the sxx pass explodes per-row
    * outer products by a double posexplode — NO self-join; the only
    * exchange is the dims²-key combine, map-side partial-aggregated).
    * Returns (n, sx(j, sx), sxx(i, j, sxx)).
    */
  private def spectralStats(emb: DataFrame, dims: Int): (Long, DataFrame, DataFrame) = {
    val x = graft.sources.ScanParallelism.widen(emb).select(
      expr("transform(embedding, v -> cast(v as double))").as("ed"))
    // ONE corpus pass for (n, sx, sxx). The original shape ran THREE
    // corpus-touching jobs (count, sx, sxx), with the sxx job double-
    // posexploding dims² rows per input row — the first explode
    // additionally copying the full 64-element array into each of its
    // 64 output rows. Now: one explode per dimension i, the outer-
    // product row quantized per-product into a decimal array by ONE
    // higher-order transform (a tight codegen'd loop — NOT 64 separate
    // sum aggregates, which blow the generated-method budget and drop
    // the stage to interpreted evaluation), a second posexplode over
    // that narrow decimal array, and a single (i, j) decimal-sum
    // aggregate that also carries n and sx on the i==0 / j==i slots'
    // group. The per-product quantization q₃₈,₁₂(xᵢ·xⱼ), the q₂₈,₁₂
    // component quantization and the exact decimal additions are
    // unchanged expression-for-expression; decimal sums are order-free
    // exact, so regrouping cannot move a bit (oracle-checked).
    val byIJ = x
      .select(posexplode(col("ed")).as(Seq("i", "xi")), col("ed"))
      .select(col("i"), col("xi"), posexplode(
        expr("transform(ed, xj -> cast(xi * xj as decimal(38,12)))"))
        .as(Seq("j", "p")))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("j") === col("i"), col("xi").cast("decimal(28,12)")))
          .cast("decimal(38,12)").as("sxj"),
        sum(col("p")).cast("decimal(38,12)").as("sxx"))
      .localCheckpoint(true) // dims² rows; n/sx/sxx all read this one pass
    // INPUT CONTRACT (round-13 advice #2): every contributing row must
    // carry a full dims-width embedding. A short or over-long array
    // shifts the (i, j) cell population off the dims² grid — caught
    // here; a NULL/empty array contributes no cells at all and is
    // caught by the n == corpus-rows checks in save/append (a silent
    // drop would make n diverge between the stats and the manifest
    // accounting, breaking the append ≡ rebuild bit-identity).
    val cells = byIJ.count()
    require(cells == 0L || cells == dims.toLong * dims,
      s"spectral stats expect dense $dims-wide embeddings: the (i, j) " +
        s"moment grid has $cells cells, want ${dims.toLong * dims} — " +
        "some row carries an embedding of a different width")
    val nRow = byIJ.agg(max(col("cnt")), min(col("cnt"))).head()
    val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    // uniform cell population = every contributing row hit every cell;
    // a SHORT (but non-empty) embedding would add to the low-index
    // cells only — polluting the sums without changing the grid shape
    require(n == 0L || nRow.getLong(1) == n,
      s"spectral stats expect dense $dims-wide embeddings: (i, j) cell " +
        s"populations range ${nRow.getLong(1)}..$n — some row carries a " +
        "shorter embedding")
    val sx = byIJ.filter(col("i") === col("j"))
      .select(col("j"), col("sxj").as("sx"))
    val sxx = byIJ.select(col("i"), col("j"), col("sxx"))
    (n, sx, sxx)
  }

  /** (mean, cov) DERIVED from raw sufficient statistics — ONE formula
    * for fresh builds, loaded artifacts, and merged appends (the seam
    * that makes append ≡ rebuild bit-identity hold by construction):
    * μⱼ = sxⱼ/n (the decimal→double cast then one IEEE divide, exactly
    * the oracle's formula) and cov(i,j) = sxx/n − μᵢ·μⱼ — deterministic
    * double arithmetic over exact decimal inputs, so both engines and
    * any merge order produce the same bits. The mean is dims doubles —
    * driver-resident by the k-means-centroid argument.
    */
  private def covFromStats(n: Long, sx: DataFrame,
      sxx: DataFrame): (Array[Double], DataFrame) = {
    val mu = sx
      .select(col("j"), (col("sx").cast("double") / lit(n)).as("mu"))
      .orderBy(col("j")).collect().map(_.getDouble(1))
    val muLit = array(mu.map(lit(_)): _*)
    val cov = sxx.select(col("i"), col("j"),
      (col("sxx").cast("double") / lit(n) -
        element_at(muLit, col("i").cast("int") + 1) *
          element_at(muLit, col("j").cast("int") + 1)).as("c"))
    (mu, cov)
  }

  /** The centered covariance matrix as a (i, j, c) frame — the
    * distributed-PCA workhorse, derived from [[spectralStats]] via
    * [[covFromStats]] (cov = E[xxᵀ] − μμᵀ over exact decimal moment
    * sums; round 13 moved the family from centered-product sums to
    * this mergeable canonical form so the persisted artifact gains an
    * append arm). Returns (mean, cov).
    */
  private def covariance(emb: DataFrame, dims: Int): (Array[Double], DataFrame) = {
    val (n, sx, sxx) = spectralStats(emb, dims)
    covFromStats(n, sx, sxx)
  }

  /** One quantized matrix-vector product w = C·v: a dims-keyed
    * equi-join of the dims²-row covariance against the dims-row vector,
    * per-product DECIMAL(38,12) quantization before the sum
    * (order-independent — both engines produce the same vector
    * bit-for-bit). The ONE matvec every spectral consumer composes.
    */
  private def matvec(cov: DataFrame, v: DataFrame): DataFrame =
    cov.join(v, Seq("j"))
      .select(col("i"), (col("c") * col("v")).cast("decimal(38,12)").as("p"))
      .groupBy(col("i")).agg(sum(col("p")).cast("double").as("v"))
      .withColumnRenamed("i", "j")

  /** The fixed eₖ seed every power iteration starts from (determinism
    * beats a random start here: both engines and every rerun walk the
    * identical iterate).
    */
  private def seedVec(spark: org.apache.spark.sql.SparkSession, dim: Int,
      unit: Int): DataFrame =
    spark.range(0, dim)
      .select(col("id").cast("int").as("j"),
        when(col("id") === unit, lit(1.0)).otherwise(lit(0.0)).as("v"))

  /** Train the spectral model: one corpus-touching covariance pass +
    * `iters` in-engine matvec rounds from the e₀ seed. No normalization
    * per step (iters is small; magnitudes stay in double range — a
    * caller cranking iters re-scales first).
    */
  def trainSpectral(emb: DataFrame, dim: Int, iters: Int = 3): SpectralModel = {
    require(iters >= 1, s"iters=$iters")
    val spark = emb.sparkSession
    val (mu, covDf) = covariance(emb, dim)
    val cov = covDf.localCheckpoint(true) // reused per iteration
    // one composed plan for the short iterate chain (a per-iteration
    // lineage cut was a full extra job each; iters is small)
    var v = seedVec(spark, dim, 0)
    for (_ <- 1 to iters) v = matvec(cov, v)
    SpectralModel(dim, iters, mu, cov, v.localCheckpoint(true))
  }

  /** PCA leading component by POWER ITERATION (e64) — the spectral
    * family's entry point (whitening, decorrelation, the "remove the
    * dominant direction" post-processing of Mu et al. 2017 all start
    * here): v ← C·v iterated from the fixed e₀ seed, each matrix-vector
    * product a dims-keyed equi-join with per-product DECIMAL(38,12)
    * quantization before the sum (order-independent — both engines
    * produce the same vector bit-for-bit, so the oracle just unrolls
    * the same `iters` matvecs as CTEs). No normalization per step
    * (iters is small; magnitudes stay in double range); the published
    * vector is scaled by its own max |entry| (a comparison-only
    * aggregate) and quantized once at the boundary.
    *
    * Scale shape: the covariance is the one corpus-touching pass
    * (dims²-bounded aggregate state); each iteration is a dims²×dims
    * join — driver never holds the matrix, the iteration lives in the
    * engine. Returns (dim, pc).
    */
  def pcaTopComponent(emb: DataFrame, dim: Int, iters: Int = 3): DataFrame =
    pcaTopComponentOf(trainSpectral(emb, dim, iters))

  /** The e64 publication tail over an already-trained/loaded model —
    * the iterate scaled by its own max |entry| (a comparison-only
    * aggregate) and quantized once at the boundary. dims-scale work
    * only; the corpus is never touched.
    */
  def pcaTopComponentOf(m: SpectralModel): DataFrame = {
    val mx = m.iter.agg(max(abs(col("v"))).as("m"))
    m.iter.crossJoin(broadcast(mx))
      .select(col("j").cast("long").as("dim"),
        expr("CAST(CAST(v / m AS DECIMAL(28,8)) AS DOUBLE)").as("pc"))
  }

  /** SECOND principal component by DEFLATION (e66) — power iteration on
    * C₂ = C − λ₁·v̂₁v̂₁ᵀ without ever materializing C₂: each step is
    * w = C·v (the shared quantized matvec) minus λ₁·(v̂₁ᵀv)·v̂₁ — one
    * quantized scalar reduction plus per-entry expression work. λ₁ and
    * v̂₁ derive from the [[pcaTopComponent]] iterate (Rayleigh quotient
    * and L2 normalization — divides and one sqrt of already-
    * deterministic doubles, so every entry is bit-identical across
    * engines and the oracle unrolls the same steps). Seeded from e₁
    * (e₀ is the top component's seed; on a generic corpus e₁'s
    * v̂₁-orthogonal residual is nonzero). The returned direction is
    * v̂₁-orthogonal up to the convergence of the λ₁/v̂₁ estimates
    * (exactly orthogonal on a fixture where the iterate HAS converged —
    * spec-pinned). Returns (dim, pc2) scaled by max |entry|.
    */
  def pcaSecondComponent(emb: DataFrame, dim: Int,
      iters: Int = 3): DataFrame =
    pcaSecondComponentOf(trainSpectral(emb, dim, iters))

  /** L2-normalized top direction + λ₁ from a model's iterate — the
    * (j, u, lam) frame the deflation AND the e68 debias re-encode both
    * consume (ONE normalization formula, so the two consumers cannot
    * disagree on the direction): λ₁ = Rayleigh quotient vᵀ(Cv)/vᵀv,
    * u = v/‖v‖ — divides and one sqrt of already-deterministic doubles,
    * bit-identical across engines.
    */
  private def componentWithLambda(m: SpectralModel): DataFrame = {
    val w1 = matvec(m.cov, m.iter).withColumnRenamed("v", "w")
    // scale 24, not the usual 12: the unnormalized iterate's entries
    // are ~1e-6, so v·v ~ 1e-12 — at scale 12 the squared sums keep
    // ~2 significant digits and ‖u‖ misses 1 by ~1%, which makes the
    // e68 removal leave a 0.05-scale residual along v̂₁ (measured).
    // At scale 24 the quanta sit ~1e-12 RELATIVE to the products and
    // ‖u‖ = 1 to ~1e-12 — still order-independent exact decimal sums.
    val scal = m.iter.join(w1, Seq("j")).agg(
      (sum((col("v") * col("w")).cast("decimal(38,24)")).cast("double") /
        sum((col("v") * col("v")).cast("decimal(38,24)")).cast("double"))
        .as("lam"),
      sqrt(sum((col("v") * col("v")).cast("decimal(38,24)")).cast("double"))
        .as("nrm"),
      max(abs(col("v"))).as("mx"))
    m.iter.crossJoin(broadcast(scal))
      .select(col("j"),
        // DECIMAL(38,24) leaves 14 integer digits, so v·v sums overflow
        // to NULL once |v| nears 1e7 and λ/‖v‖ decay to NaN — silently
        // corrupting deflation, debias, and the spectrum. The iterate
        // grows ~λ^iters unnormalized, so a higher-variance corpus (or
        // cranked iters) CAN get there; fail loudly at evaluation time
        // instead (the raise_error lazy-pipeline device — ADVICE r12).
        when(col("mx") > 1e6, raise_error(concat(
          lit("spectral iterate max |entry| = "), col("mx"),
          lit(" exceeds the DECIMAL(38,24) quantization headroom (~1e6) — "),
          lit("rescale the corpus or reduce iters before normalizing"))))
          .otherwise(col("v") / col("nrm")).as("u"),
        col("lam"))
  }

  /** The e66 deflation over an already-trained/loaded model: power
    * iteration on C₂ = C − λ₁·v̂₁v̂₁ᵀ without ever materializing C₂ —
    * each step is the shared [[matvec]] minus λ₁·(v̂₁ᵀv)·v̂₁ (one
    * quantized scalar reduction plus per-entry expression work).
    * Seeded from e₁ (e₀ is the top component's seed). dims²-scale work
    * only; the corpus is never touched.
    */
  def pcaSecondComponentOf(m: SpectralModel): DataFrame = {
    val v = deflatedIterate(m, componentWithLambda(m).localCheckpoint(true))
    val mx = v.agg(max(abs(col("v"))).as("m"))
    v.crossJoin(broadcast(mx))
      .select(col("j").cast("long").as("dim"),
        expr("CAST(CAST(v / m AS DECIMAL(28,8)) AS DOUBLE)").as("pc2"))
  }

  /** The deflated power iterate (the e66 walk body): `m.iters` steps of
    * w = C·v minus λ₁·(v̂₁ᵀv)·v̂₁ from the e₁ seed — shared by the
    * second-component publication and the spectrum diagnostic.
    */
  private def deflatedIterate(m: SpectralModel, u1: DataFrame): DataFrame = {
    val spark = m.cov.sparkSession
    var v = seedVec(spark, m.dim, 1).localCheckpoint(true)
    for (_ <- 1 to m.iters) {
      val w = matvec(m.cov, v).withColumnRenamed("v", "w")
      val s = u1.join(v, Seq("j"))
        .agg(sum((col("u") * col("v")).cast("decimal(38,12)")).cast("double").as("s"))
      v = w.join(u1, Seq("j")).crossJoin(broadcast(s))
        .select(col("j"), (col("w") - col("lam") * col("s") * col("u")).as("v"))
        .localCheckpoint(true)
    }
    v
  }

  /** Spectral SPECTRUM diagnostic (e73) — (component, λ, trace, share)
    * for the top two directions off the shared model: λₖ = Rayleigh
    * quotient of the component's iterate against C (the e65 formula at
    * the scale-24 normalization-grade quantization — the iterates'
    * entries are ~1e-6, so scale 12 would keep ~2 significant digits;
    * lesson PLANS_r12 #36), share = λₖ/trace. The decay reading every
    * whitening/compression decision starts from (how many directions
    * matter); on this isotropic corpus both shares sit near 1/dims —
    * the family's standing negative control. dims²-scale work off the
    * persisted artifact; the corpus is never touched.
    */
  def pcaSpectrum(m: SpectralModel): DataFrame = {
    val u1 = componentWithLambda(m).localCheckpoint(true)
    def rayleigh(v: DataFrame, comp: Int): DataFrame = {
      val w = matvec(m.cov, v).withColumnRenamed("v", "w")
      v.join(w, Seq("j")).agg(
        (sum((col("v") * col("w")).cast("decimal(38,24)")).cast("double") /
          sum((col("v") * col("v")).cast("decimal(38,24)")).cast("double"))
          .as("lambda"),
        max(abs(col("v"))).as("mx"))
        // same scale-24 headroom guard as componentWithLambda: a
        // near-overflow iterate must fail loudly, not publish NaN λ
        .select(lit(comp.toLong).as("component"),
          when(col("mx") > 1e6, raise_error(concat(
            lit("spectral iterate max |entry| = "), col("mx"),
            lit(" exceeds the DECIMAL(38,24) quantization headroom (~1e6)"))))
            .otherwise(col("lambda")).as("lambda"))
    }
    val tr = m.cov.filter(col("i") === col("j"))
      .agg(sum(col("c").cast("decimal(38,12)")).cast("double").as("trace"))
    rayleigh(m.iter, 1).unionByName(rayleigh(deflatedIterate(m, u1), 2))
      .crossJoin(broadcast(tr))
      .select(col("component"), col("lambda"), col("trace"),
        (col("lambda") / col("trace")).as("share"))
  }

  /** Variance explained by the power-iteration direction (e65) — the
    * one-row spectral diagnostic: λ̂ = Rayleigh quotient vᵀCv / vᵀv of
    * the [[pcaTopComponent]] iterate, against trace(C) = total
    * variance. On an isotropic random corpus the ratio sits near
    * 1/dims (nothing to compress — the honest negative control); on a
    * real embedding corpus it reads the anisotropy every whitening
    * paper measures first. All sums quantized-then-summed (dims- and
    * dims²-bounded). Returns (lambda1, trace, var_explained).
    */
  def pcaVarianceExplained(emb: DataFrame, dim: Int,
      iters: Int = 3): DataFrame =
    pcaVarianceExplainedOf(trainSpectral(emb, dim, iters))

  /** The e65 diagnostic over an already-trained/loaded model: one
    * [[matvec]] + the Rayleigh quotient against trace(C). dims²-scale
    * work only; the corpus is never touched.
    */
  def pcaVarianceExplainedOf(m: SpectralModel): DataFrame = {
    val w = matvec(m.cov, m.iter).withColumnRenamed("v", "w")
    val vtw = m.iter.join(w, Seq("j"))
      .agg(sum((col("v") * col("w")).cast("decimal(38,12)")).cast("double").as("num"),
        sum((col("v") * col("v")).cast("decimal(38,12)")).cast("double").as("den"))
    val tr = m.cov.filter(col("i") === col("j"))
      .agg(sum(col("c").cast("decimal(38,12)")).cast("double").as("trace"))
    vtw.crossJoin(broadcast(tr))
      .select((col("num") / col("den")).as("lambda1"), col("trace"),
        ((col("num") / col("den")) / col("trace")).as("var_explained"))
  }

  /** PERSIST the trained spectral model (e67) — the
    * build-once/serve-many tail of the PCA family (IVF has e31-e34,
    * SRP e41-e43, the unigram d104, BM25 d87...). TWO layers under the
    * shared manifest (kind "spectral", params (dims, iters),
    * watermarked on the training corpus):
    *
    *  - CANONICAL: the raw decimal sufficient statistics `sx` (j, sx)
    *    and `sxx` (i, j, sxx) from [[spectralStats]] (n rides the
    *    manifest's corpus_rows). Exact decimals merge associatively,
    *    so this is what makes [[appendSpectralIndex]]'s stats-merge
    *    append EXACT — a merged model is bit-identical to a rebuild.
    *  - DERIVED (serving): mean (j, mu), covariance (i, j, c) and the
    *    raw power iterate (j, v), all via the ONE [[covFromStats]] /
    *    [[matvec]] path every consumer shares — persisting them keeps
    *    the serve path a three-tiny-parquet load with zero derivation.
    *
    * All tables are dims/dims²-row scale. Parquet round-trips doubles
    * and decimals bit-exactly, so a loaded model serves results
    * bit-identical to the in-memory chain (spec-pinned).
    */
  def saveSpectralIndex(emb: DataFrame, path: String, dim: Int,
      iters: Int = 3): Unit = {
    val (n, sx0, sxx0) = spectralStats(emb, dim)
    val (rows, maxId) = IndexManifest.watermark(emb, "vec_id")
    // n (rows contributing full-width embeddings) must equal the corpus
    // row count the manifest will record — a NULL/empty embedding row
    // would silently count in one and not the other, and the append
    // arm's merged-n arithmetic would then diverge from a rebuild
    // (round-13 advice #2: the contract is DENSE embeddings, enforced
    // loudly instead of decided silently)
    require(n == rows,
      s"spectral index requires dense $dim-wide embeddings on every " +
        s"row: $rows corpus rows but only $n carry a full embedding")
    writeSpectralTables(emb.sparkSession, path, dim, iters,
      sx0, sxx0, None, n, rows, maxId)
  }

  /** Shared persist tail: write the per-version DELTA stats, the live
    * merged stats, the derived serving tables, then flip the versioned
    * manifest. Fresh builds hand corpus-derived stats (delta = the
    * stats themselves — and the old lineage's versions + deltas die
    * first); appends hand MERGED stats plus the increment-only delta —
    * one writer, so the two cannot diverge on layout.
    *
    * VERSIONED (e79): because the canonical form is exact mergeable
    * decimals, a historical MODEL is servable without any corpus pass —
    * version N's stats = the sum of deltas 1..N (order-free exact), so
    * each save/append persists its delta under `deltas/v{N}` (dims +
    * dims² rows — O(dims²) per version, the cheapest snapshot in the
    * repo) and [[loadSpectralIndexAt]] re-derives the model AS OF any
    * version. This is time travel for a TRAINED artifact, not just for
    * row stores: the frozen-file stores snapshot their DATA; here the
    * model itself is reproducible at every publish point.
    */
  private def writeSpectralTables(spark: org.apache.spark.sql.SparkSession,
      path: String, dim: Int, iters: Int, sx0: DataFrame, sxx0: DataFrame,
      delta: Option[(DataFrame, DataFrame)], n: Long, rows: Long,
      maxId: Long): Unit = {
    import spark.implicits._
    // stats tables are read back for derivation AND future merges;
    // localCheckpoint pins them (tiny: dims + dims² rows) so the write
    // and the derivation share one computation
    val sx = sx0.localCheckpoint(true)
    val sxx = sxx0.localCheckpoint(true)
    val fresh = delta.isEmpty
    if (fresh) {
      // rebuild = new lineage: versions AND their delta tables die
      // BEFORE any data write (the clear-before-overwrite ordering)
      IndexManifest.clearVersions(path)
      deleteRecursively(new java.io.File(s"$path/deltas"))
    }
    // crash witness FIRST: the stats rows carry no ids, so the shared
    // requireNoOrphans device cannot detect a crashed append here —
    // instead `nrow` records the row count the stats were computed
    // over, written BEFORE any stats table, so a crash anywhere in the
    // (nrow .. manifest-flip) window leaves nrow ahead of the manifest
    // and the next append fails loudly instead of double-merging
    // ([[appendSpectralIndex]] checks it; sync recovers by rebuild —
    // which also wipes any orphan delta directory the crash left)
    Seq(n).toDF("n").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/nrow")
    val ver = IndexManifest.versions(path).lastOption.getOrElse(0) + 1
    val (dSx, dSxx) = delta.getOrElse((sx, sxx))
    // The four stats/delta writes are order-independent among
    // themselves (every crash state between the nrow witness above and
    // the manifest flip below is detected regardless of which subset
    // landed), and each is a tiny dims/dims²-row job — run them
    // concurrently with each other AND with the derivation and its three
    // serving writes, so the driver does not serialize ~6 sub-second
    // jobs (guide §2.6 overlap; measured: the serial chain dominated the
    // post-stats phase). Every write has finished before a failure
    // propagates (round-13 advice #5: a caller reacting by rebuilding
    // in-process would otherwise race them against clearVersions).
    graft.Overlap.all(Seq(
      () => dSx.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/deltas/v$ver/sx"),
      () => dSxx.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/deltas/v$ver/sxx"),
      () => sx.coalesce(1).write.mode("overwrite").parquet(s"$path/sx"),
      () => sxx.coalesce(1).write.mode("overwrite").parquet(s"$path/sxx"),
      () => {
        val (mu, covDf) = covFromStats(n, sx, sxx)
        val cov = covDf.localCheckpoint(true)
        // the power iterates chain dims²×dims joins — one composed plan,
        // checkpointed once at the end (3 short chains never need a
        // per-iteration lineage cut; each cut was a full extra job)
        val vc = (1 to iters).foldLeft(seedVec(spark, dim, 0))((v, _) =>
          matvec(cov, v)).localCheckpoint(true)
        graft.Overlap.all(Seq(
          () => mu.zipWithIndex.map { case (x, j) => (j, x) }.toSeq
            .toDF("j", "mu").coalesce(1)
            .write.mode("overwrite").parquet(s"$path/mean"),
          () => cov.coalesce(1).write.mode("overwrite").parquet(s"$path/cov"),
          () => vc.coalesce(1).write.mode("overwrite").parquet(s"$path/iter")))
      }))
    // manifest flip strictly LAST — it is the commit point
    IndexManifest.writeVersioned(path, IndexManifest.Manifest("spectral",
      Map("dims" -> dim.toLong, "iters" -> iters.toLong), rows, maxId))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(); ()
  }

  /** The compacted-base versions present under `deltas/` (the
    * base-v{K} directories [[compactSpectralDeltas]] writes).
    */
  private def spectralBases(path: String): Seq[Int] = {
    val dir = new java.io.File(s"$path/deltas")
    if (!dir.isDirectory) return Seq.empty
    val re = "base-v(\\d+)".r
    dir.listFiles().toSeq.flatMap(f =>
      re.findFirstMatchIn(f.getName).map(_.group(1).toInt)).sorted
  }

  /** RETENTION for the spectral delta history — the store-side
    * companion [[graft.sources.IndexManifest.vacuumVersions]]'s doc
    * requires of stores with per-version side tables: fold everything
    * at or below `upTo` into ONE compacted BASE (`deltas/base-v{upTo}`
    * — exact decimal sums, so as-of reads at or above `upTo` serve the
    * SAME bits before and after, spec-pinned), then drop the older
    * delta directories, older bases, and the manifest versions below
    * `upTo`. Versions below become the standard missing-version error.
    *
    * Crash-safety comes from the reader protocol, not write ordering:
    * [[loadSpectralIndexAt]] prefers the newest applicable base and
    * skips every per-version delta at or below it, so the moment the
    * new base is durable every reachable state is correct — stragglers
    * (old deltas, old bases, un-vacuumed versions) are skipped, never
    * double-counted, and a re-run finishes the cleanup (idempotent).
    */
  def compactSpectralDeltas(spark: org.apache.spark.sql.SparkSession,
      path: String, upTo: Int): Unit = {
    IndexManifest.require(path, "spectral")
    val vs = IndexManifest.versions(path)
    if (!vs.contains(upTo))
      throw new IndexManifestException(
        s"no version $upTo at $path (have: ${vs.mkString(", ")})")
    if (!new java.io.File(s"$path/deltas/base-v$upTo").exists()) {
      val baseVer = spectralBases(path).filter(_ <= upTo)
        .sorted.lastOption.getOrElse(0)
      val parts =
        (if (baseVer > 0) Seq(s"$path/deltas/base-v$baseVer") else Nil) ++
          vs.filter(v => v > baseVer && v <= upTo)
            .map(i => s"$path/deltas/v$i")
      def mergedOf(tbl: String, keys: Seq[String], sumCol: String): DataFrame =
        parts.map(p => Tables.readParquet(spark, s"$p/$tbl"))
          .reduce(_.unionByName(_))
          .groupBy(keys.map(col): _*)
          .agg(sum(col(sumCol)).cast("decimal(38,12)").as(sumCol))
      mergedOf("sx", Seq("j"), "sx").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/deltas/base-v$upTo/sx")
      mergedOf("sxx", Seq("i", "j"), "sxx").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/deltas/base-v$upTo/sxx")
    }
    // cleanup — safe in any order once the base is durable (readers
    // above prefer it); re-runs finish a previously interrupted sweep
    vs.filter(_ <= upTo).foreach(i =>
      deleteRecursively(new java.io.File(s"$path/deltas/v$i")))
    spectralBases(path).filter(_ < upTo).foreach(k =>
      deleteRecursively(new java.io.File(s"$path/deltas/base-v$k")))
    IndexManifest.vacuumVersions(path, vs.count(_ >= upTo))
    ()
  }

  /** APPEND to a persisted spectral model (e76) — the round-12 verdict's
    * structural gap closed: the rebuild-only rationale ("any new row
    * moves the mean and every covariance entry") is true of the model's
    * VALUES but not its sufficient STATISTICS — (n, Σx, Σxxᵀ) merge
    * exactly, so the append arm is: compute the INCREMENT's stats (one
    * increment-sized pass — the corpus is never rescanned), add them to
    * the persisted decimal sums term-for-term (exact, associative),
    * re-derive (μ, C) and re-run the power iteration at dims² scale.
    * Because every step after the merge is the shared deterministic
    * derivation, the appended model is BIT-IDENTICAL to a full rebuild
    * on the grown corpus (spec-pinned — the e42 standard). At 100 TB
    * this is the difference between a daily model refresh priced at the
    * increment and a daily corpus scan.
    *
    * Guards: the shared prelude ([[IndexManifest.beginAppend]]) and the
    * nrow witness below; the stats tables are REWRITTEN per append
    * (they are aggregates, not row logs — dims² rows, trivially
    * cheap), so this store records no
    * snapshot versions: old model states are not servable and claim
    * nothing (contrast the d153 frozen-file stores).
    */
  def appendSpectralIndex(increment: DataFrame, path: String): Unit = {
    val man = IndexManifest.require(path, "spectral")
    // a pre-stats artifact cannot merge: named error before any job, so
    // spectralIndexSync rebuilds it once
    Seq("nrow", "sx").foreach { t =>
      if (!new java.io.File(s"$path/$t").exists())
        throw new IndexManifestException(
          s"spectral index at $path predates incremental append (no '$t' " +
            "stats) — rebuild once")
    }
    val inc = IndexManifest.beginAppend(increment, "vec_id", man, path)
    if (inc.isEmpty) return
    val (rows, spark) = (inc.rows, increment.sparkSession)
    // the orphan guard for an id-less store (writeSpectralTables doc):
    // stats ahead of the manifest = a previous append crashed between
    // the stats write and the manifest flip; merging again would
    // double-count the increment with no other detection possible
    val recorded = Tables.readParquet(spark, s"$path/nrow").head().getLong(0)
    if (recorded != man.corpusRows)
      throw new IndexManifestException(
        s"spectral stats at $path were computed over $recorded rows but " +
          s"the manifest records ${man.corpusRows} — a previous append " +
          "crashed between the stats write and the manifest flip; rebuild " +
          "(spectralIndexSync does this automatically)")
    val (incN, incSx, incSxx) = spectralStats(increment, man.params("dims").toInt)
    // same dense-embedding contract as saveSpectralIndex: the merged n
    // below is manifest arithmetic (corpusRows + rows), valid only if
    // every increment row contributed to the stats
    require(incN == rows,
      s"spectral append requires dense ${man.params("dims")}-wide " +
        s"embeddings on every row: $rows increment rows but only $incN " +
        "carry a full embedding")
    val mergedSx = Tables.readParquet(spark, s"$path/sx").unionByName(incSx)
      .groupBy(col("j"))
      .agg(sum(col("sx")).cast("decimal(38,12)").as("sx"))
    val mergedSxx = Tables.readParquet(spark, s"$path/sxx").unionByName(incSxx)
      .groupBy(col("i"), col("j"))
      .agg(sum(col("sxx")).cast("decimal(38,12)").as("sxx"))
    // the eager localCheckpoint inside writeSpectralTables materializes
    // the merged frames BEFORE the stats tables are overwritten, so the
    // read-then-overwrite of one path is safe; the increment-only stats
    // ride along as this version's DELTA (the e79 snapshot unit)
    writeSpectralTables(spark, path, man.params("dims").toInt,
      man.params("iters").toInt, mergedSx, mergedSxx,
      Some((incSx, incSxx)),
      man.corpusRows + rows, man.corpusRows + rows, inc.maxId)
  }

  /** Load the spectral model AS OF snapshot `version` (e79) — time
    * travel for a TRAINED artifact: version N's sufficient statistics
    * are the EXACT decimal sum of the per-version deltas 1..N
    * ([[writeSpectralTables]] doc), so the as-of model is a merge of
    * N dims²-row tables + the shared dims²-scale derivation — zero
    * corpus passes, and BIT-IDENTICAL to the model that was live at
    * version N (spec-pinned; the registered e79 row proves it against
    * the full in-memory chain on the history cut). n comes from the
    * version manifest's own corpus_rows.
    */
  def loadSpectralIndexAt(spark: org.apache.spark.sql.SparkSession,
      path: String, version: Int): SpectralModel = {
    val man = IndexManifest.require(path, "spectral")
    val snap = IndexManifest.readVersion(path, version)
    // contributing stats = the newest compacted BASE at or below the
    // requested version (if retention has produced one —
    // [[compactSpectralDeltas]]) plus every recorded version's delta
    // strictly between the base and the request. With no base, the
    // oldest recorded version's delta IS the base (a fresh build's
    // delta is the full stats). Readers preferring the newest
    // applicable base is what makes compaction crash-safe: a base is
    // ALWAYS consistent the moment it is durable, and stale
    // smaller-version deltas are skipped by construction, never
    // double-counted.
    val baseVer = spectralBases(path).filter(_ <= version)
      .sorted.lastOption.getOrElse(0)
    val perVer = IndexManifest.versions(path)
      .filter(v => v > baseVer && v <= version)
    // COVERAGE guard: with no base, the chain must start at version 1
    // (a fresh build's delta is the full stats). Versions vacuumed away
    // WITHOUT a prior compactSpectralDeltas would otherwise make this
    // read silently under-count — the corrupt-as-of failure mode every
    // snapshot device here refuses to decay into.
    if (baseVer == 0 && !perVer.headOption.contains(1))
      throw new IndexManifestException(
        s"as-of $version at $path has no covering stats base: recorded " +
          s"versions start at ${perVer.headOption.getOrElse(-1)} with no " +
          "compacted base below them — versions were vacuumed without " +
          "compactSpectralDeltas; rebuild to start a fresh lineage")
    perVer.foreach { i =>
      if (!new java.io.File(s"$path/deltas/v$i").exists())
        throw new IndexManifestException(
          s"no delta stats for version $i at $path (pre-versioning " +
            "artifact, foreign layout, or an interrupted compaction) — " +
            "rebuild, or re-run compactSpectralDeltas to finish the sweep")
    }
    val parts = (if (baseVer > 0) Seq(s"$path/deltas/base-v$baseVer") else Nil) ++
      perVer.map(i => s"$path/deltas/v$i")
    def merged(tbl: String, keys: Seq[String], sumCol: String): DataFrame =
      parts.map(p => Tables.readParquet(spark, s"$p/$tbl"))
        .reduce(_.unionByName(_))
        .groupBy(keys.map(col): _*)
        .agg(sum(col(sumCol)).cast("decimal(38,12)").as(sumCol))
    val sx = merged("sx", Seq("j"), "sx")
    val sxx = merged("sxx", Seq("i", "j"), "sxx")
    val (mu, covDf) = covFromStats(snap.corpusRows, sx, sxx)
    val cov = covDf.localCheckpoint(true)
    val dim = man.params("dims").toInt
    val iters = man.params("iters").toInt
    var v = seedVec(spark, dim, 0)
    for (_ <- 1 to iters) v = matvec(cov, v)
    SpectralModel(dim, iters, mu, cov, v.localCheckpoint(true))
  }

  /** Load a persisted spectral model — geometry comes from the
    * MANIFEST, never the caller (the zRectQuery lesson: a caller-
    * supplied dims/iters that drifted from the build would silently
    * mis-derive every consumer).
    */
  def loadSpectralIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): SpectralModel = {
    val man = IndexManifest.require(path, "spectral")
    val mean = Tables.readParquet(spark, s"$path/mean")
      .orderBy(col("j")).collect().map(_.getDouble(1))
    SpectralModel(man.params("dims").toInt, man.params("iters").toInt,
      mean, Tables.readParquet(spark, s"$path/cov"),
      Tables.readParquet(spark, s"$path/iter"))
  }

  /** SYNC a persisted spectral model to the current corpus: the shared
    * [[IndexManifest.sync]] policy. The append arm
    * ([[appendSpectralIndex]]) merges the increment's sufficient
    * statistics at increment cost, bit-identical to a rebuild; a
    * pre-stats artifact fails it before any job and retrains.
    */
  def spectralIndexSync(emb: DataFrame, path: String, dim: Int,
      iters: Int = 3): String =
    IndexManifest.sync(emb, "vec_id", path, "spectral",
      Map("dims" -> dim.toLong, "iters" -> iters.toLong))(
      appendSpectralIndex(_, path))(saveSpectralIndex(emb, path, dim, iters))

  /** The spectral model through its persisted-artifact cache (the
    * keepListCached convention): built once per (corpus, params)
    * version at `path`, loaded from parquet by every consumer — e64,
    * e65, e66, e68 and e69 all ride ONE slot per data directory;
    * whichever runs first pays the covariance pass.
    */
  def spectralCached(emb: DataFrame, path: String, dim: Int,
      iters: Int = 3): SpectralModel = {
    spectralIndexSync(emb, path, dim, iters)
    loadSpectralIndex(emb.sparkSession, path)
  }

  /** ALL-BUT-THE-TOP debias re-encode (e68) — the post-processing the
    * spectral family exists for (Mu & Viswanath 2017, "All-but-the-Top":
    * subtracting the mean and removing the dominant direction(s) makes
    * embedding sets more isotropic and measurably better at similarity
    * tasks): x' = (x − μ) − (v̂₁ᵀ(x − μ))·v̂₁ with μ and v̂₁ from the
    * trained model as dims-double literal arrays (driver-resident by
    * the centroid argument).
    *
    * Scale shape: PURE SCAN-SIDE expression work — the centering is a
    * zip_with against the μ literal, the projection coefficient ONE
    * codegen'd [[graft.functions.ArrayDotProduct]] against the v̂₁
    * literal (a sequential double fold in array order — the e01 cosine
    * device, so the oracle's `list_dot_product` replays it
    * bit-for-bit), the removal another zip_with. ZERO shuffles, zero
    * joins: the re-encode of 100 TB of embeddings runs at read
    * parallelism and pipelines straight into whatever consumes it.
    *
    * Why a double fold and not the decimal-quantized sum: Catalyst
    * collapses the d projection INTO the removal lambda, so d's
    * expression can be re-evaluated per OUTPUT CELL — with a 64-term
    * BigDecimal fold that was ~20M interpreted decimal ops at sf0.1
    * (measured 10 s for a 320k-cell re-encode; the codegen'd dot is
    * ~1 s even re-evaluated). Returns (vec_id, embedding).
    */
  def pcaDebias(emb: DataFrame, m: SpectralModel): DataFrame = {
    // v̂₁ as literals: the in-engine normalization (ONE formula shared
    // with the deflation via componentWithLambda), collected as dims
    // doubles
    val u = componentWithLambda(m)
      .orderBy(col("j")).collect().map(_.getDouble(1))
    emb.select(col("vec_id"),
        expr("transform(embedding, v -> cast(v as double))").as("ed"))
      .withColumn("mu", array(m.mean.map(lit(_)): _*))
      .withColumn("u", array(u.map(lit(_)): _*))
      .withColumn("cv", expr("zip_with(ed, mu, (a, b) -> a - b)"))
      .withColumn("d",
        graft.functions.ArrayDotProduct(col("cv"), col("u")))
      .select(col("vec_id"),
        expr("zip_with(cv, u, (a, b) -> a - d * b)").as("embedding"))
  }

  /** The e68 registered shape: [[pcaDebias]] posexploded to
    * (vec_id, dim, xp) rows, published at the DECIMAL(28,8) boundary
    * (the e64 convention). The quantization is load-bearing: the raw
    * iterate's decimal→double conversions can disagree across engines
    * by an ulp (measured at sf0.01: ONE dimension's v̂₁ entry, which
    * surfaces as ~1e-15 absolute noise in that dimension of every
    * re-encoded vector — the projection coefficient itself is immune,
    * its per-product quanta absorb ulps); the boundary round makes the
    * published row deterministic in both engines.
    */
  def pcaDebiasRows(emb: DataFrame, m: SpectralModel): DataFrame =
    pcaDebias(emb, m)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xp")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        expr("CAST(CAST(xp AS DECIMAL(28,8)) AS DOUBLE)").as("xp"))

  /** Debiased-space ANN recall (e69) — the AFTER arm of the
    * before/after pair the debias exists to move (e17 is the BEFORE
    * arm: the same multi-probe LSH recall on the raw embeddings): run
    * [[annTopKMultiProbe]] and the exact baseline over the RE-ENCODED
    * vectors and score with the shared recall definition. On this
    * isotropic synthetic corpus the removed direction carries ~1/dims
    * of the variance, so the pair should read ~flat — the honest
    * negative control (the e65 1/64 discipline); on a real anisotropic
    * embedding corpus this is the row that shows the lift.
    */
  def pcaDebiasRecall(emb: DataFrame, m: SpectralModel, queryPred: Column,
      k: Int, bits: Int = 6): DataFrame =
    annRecallLsh(pcaDebias(emb, m), queryPred, k, bits)

  /** Embedding-distribution DRIFT report (e51) — the monitoring row a
    * production embedding pipeline watches between corpus versions or
    * between a reference slice and incoming data (encoder drift,
    * upstream content shift): per-dimension mean and variance of the
    * two slices (`pred` = reference membership), folded into one row —
    * squared L2 distance between the mean vectors and the average
    * per-dimension variance ratio.
    *
    * Exactness discipline: per-dim component sums are DECIMAL (the e07
    * device — order-independent under any shuffle/combine), per-dim
    * means/variances one fixed double tree, and the final across-dims
    * fold re-quantizes each per-dim double to DECIMAL before summing —
    * so both the within-dim and across-dims aggregations are
    * order-independent and the row is bit-identical in any engine.
    *
    * Scale shape: one (grp, dim) aggregate over the exploded component
    * stream (map-side partial combine; 2·dims rows out), a dims-scale
    * self-join, a dims-row final fold. The corpus is scanned once.
    * Returns (n_ref, n_new, l2sq_mean_diff, mean_var_ratio).
    */
  def embedDrift(emb: DataFrame, pred: Column): DataFrame = {
    val x = emb
      .select(pred.as("grp"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("grp"), col("dim"), col("x").cast("double").as("x"))
    val s = x.groupBy(col("grp"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(28,12)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(30,12)")).as("sxx"))
    embedDriftFromStats(
      s.filter(col("grp")).select(col("dim"), col("n").as("na"),
        col("sx").as("sxa"), col("sxx").as("sxxa")),
      s.filter(!col("grp")).select(col("dim"), col("n").as("nb"),
        col("sx").as("sxb"), col("sxx").as("sxxb")))
  }

  /** Per-dimension moment stats of one slice — (dim, n, sx, sxx) with
    * the e51 decimal discipline. The reference half a streaming monitor
    * computes ONCE ([[graft.streaming.EventTimeOps.embedDriftIngest]]).
    */
  def embedStats(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"), col("x").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(28,12)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(30,12)")).as("sxx"))

  /** The [[embedDrift]] fold over ALREADY-BUILT per-dimension moment
    * frames (a = reference side: (dim, na, sxa, sxxa); b = new side:
    * (dim, nb, sxb, sxxb)) — the tokenDriftFromCounts seam for the
    * embedding axis: the streaming gate joins each micro-batch's stats
    * against reference stats computed once, while the registered e51
    * formula runs VERBATIM (one code path).
    */
  def embedDriftFromStats(a: DataFrame, b: DataFrame): DataFrame = {
    val perDim = a.join(b, Seq("dim")).select(col("na"), col("nb"),
      (col("sxa").cast("double") / col("na") -
        col("sxb").cast("double") / col("nb")).as("md"),
      ((col("sxxa").cast("double") / col("na") -
        (col("sxa").cast("double") / col("na")) *
          (col("sxa").cast("double") / col("na"))) /
        (col("sxxb").cast("double") / col("nb") -
          (col("sxb").cast("double") / col("nb")) *
            (col("sxb").cast("double") / col("nb")))).as("vr"))
    perDim.agg(max(col("na")).as("n_ref"), max(col("nb")).as("n_new"),
      sum((col("md") * col("md")).cast("decimal(28,12)")).cast("double")
        .as("l2sq_mean_diff"),
      (sum(col("vr").cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("mean_var_ratio"))
  }
}
