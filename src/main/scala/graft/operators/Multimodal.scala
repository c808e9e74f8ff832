package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, batch-decoded per partition.
  *
  * The Spark-side mechanics are real — schema, partition-level batch
  * iteration, typed output rows. The codec itself is a clearly-marked
  * deterministic STUB (`StubCodec`): this container ships no image/audio
  * libraries, so decode returns synthetic features derived from the
  * payload bytes. Swapping in a real codec changes only `StubCodec`.
  */
object Multimodal {

  /** Typed envelope for a media row. */
  case class MediaRow(doc_id: Long, payload: Array[Byte], lang: String, source: String)

  /** Decoder output: the shape a real image/audio decoder would produce. */
  case class DecodedMedia(doc_id: Long, n_bytes: Long, width: Int, height: Int,
      features: Array[Float])

  /** STUB codec — deterministic fake decode. A real deployment replaces
    * this object with JNI/javacv/etc. bindings; everything around it
    * (batching, schema, partitioning) stays identical.
    */
  object StubCodec {
    def decode(payload: Array[Byte]): (Int, Int, Array[Float]) = {
      val n = payload.length
      // fake dimensions + an 8-dim "feature" derived from byte sums
      val width = 16 + (n % 64)
      val height = 16 + ((n / 64) % 64)
      val feats = Array.tabulate(8) { i =>
        var acc = 0L
        var j = i
        while (j < n) { acc += (payload(j) & 0xff); j += 8 }
        acc.toFloat / math.max(n, 1)
      }
      (width, height, feats)
    }
  }

  /** Build the binary-column view from the documents table (stand-in for
    * real media blobs: payload = utf8 bytes of the text).
    */
  def mediaView(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"),
      col("lang"), col("source"))

  /** Fixed-stride frame sampling over the opaque payload: treat the blob
    * as consecutive `frameBytes`-sized frames (a raw video/audio buffer)
    * and keep every `stride`-th complete frame — the standard cheap
    * subsampling step before an expensive decode/embed stage.
    *
    * Pure Column work (sequence → transform → substring → per-frame md5
    * → one join + final md5), so it runs inside whole-stage codegen with
    * no UDF and no shuffle. The digest is a DIGEST OF FRAME DIGESTS
    * (md5 over the concatenated per-frame md5 hexes): hashing frames
    * individually keeps the work linear in sampled bytes — a
    * binary-concat fold re-copies the accumulator per frame, O(S²)
    * memcpy on a multi-MB media buffer — while staying injective per
    * (frame sequence) and byte-deterministic for the DuckDB oracle.
    * Output: (doc_id, n_frames, n_sampled, sample_digest).
    */
  def frameSample(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    require(frameBytes > 0 && stride > 0)
    media
      .select(col("doc_id"), col("payload"),
        expr(s"octet_length(payload) div $frameBytes").cast("long").as("n_frames"))
      .select(
        col("doc_id"),
        col("n_frames"),
        // ceil(n_frames / stride) complete frames get kept
        expr(s"(n_frames + ${stride - 1}) div $stride").cast("long").as("n_sampled"),
        md5(when(col("n_frames") > 0, expr(
          s"""array_join(
             |  transform(sequence(0L, n_frames - 1, $stride),
             |    k -> md5(substring(payload, cast(k * $frameBytes + 1 as int), $frameBytes))),
             |  '')""".stripMargin))
          .otherwise(lit(""))).as("sample_digest"))
  }

  /** The StubCodec dimension arithmetic as pure Column work — for
    * pipeline stages (resize planning) that only need dims and must not
    * pay the full decode's object round-trip + feature scan. Kept in
    * lockstep with [[StubCodec.decode]] by a spec asserting equality
    * over real payloads (a real deployment reads dims from container
    * metadata the same cheap way).
    */
  def stubDims(media: DataFrame): DataFrame =
    media.select(col("doc_id"),
      expr("16 + (octet_length(payload) % 64)").cast("long").as("width"),
      expr("16 + ((octet_length(payload) div 64) % 64)").cast("long").as("height"))

  /** LAION-style media ADMISSION filter (m11) — the size/aspect/payload
    * gate every web-scale image-text pipeline applies before paying for
    * decode or embedding (LAION-5B kept images by minimum dimension and
    * aspect-ratio bounds; byte bounds drop tracking pixels and
    * truncated blobs): min(w,h) ≥ `minDim`, max/min ≤ `maxAspect`, and
    * `n_bytes` within [`minBytes`, `maxBytes`]. Dims come from the
    * cheap container-metadata path ([[stubDims]]' arithmetic inline),
    * NOT a decode — the point of the gate is that rejected media never
    * reach the codec. Pure scan-side expressions, zero shuffle; the
    * aspect is one IEEE divide of exact longs. Returns (doc_id,
    * n_bytes, width, height, aspect, ok_dim, ok_aspect, ok_bytes,
    * keep).
    */
  def mediaAdmission(media: DataFrame, minDim: Long = 20,
      maxAspect: Double = 2.0, minBytes: Long = 100,
      maxBytes: Long = 2000): DataFrame =
    media.select(col("doc_id"),
        expr("octet_length(payload)").cast("long").as("n_bytes"),
        expr("16 + (octet_length(payload) % 64)").cast("long").as("width"),
        expr("16 + ((octet_length(payload) div 64) % 64)").cast("long").as("height"))
      .withColumn("aspect",
        greatest(col("width"), col("height")).cast("double") /
          least(col("width"), col("height")))
      .withColumn("ok_dim", least(col("width"), col("height")) >= minDim)
      .withColumn("ok_aspect", col("aspect") <= maxAspect)
      .withColumn("ok_bytes",
        col("n_bytes").between(minBytes, maxBytes))
      .withColumn("keep",
        col("ok_dim") && col("ok_aspect") && col("ok_bytes"))

  /** Aspect-preserving resize planning over decoded dimensions: fit each
    * frame inside a `maxDim` × `maxDim` box, never upscale. All-integer
    * arithmetic (`w·maxDim div max(w,h)`), so the plan is deterministic
    * across engines and the oracle recomputes it exactly; the pixel
    * resample itself would live in the codec (StubCodec territory —
    * no image libs in this container), but sizing decisions are where
    * the pipeline logic sits and what downstream batching needs.
    * Output: (doc_id, width, height, out_w, out_h).
    */
  def resizePlan(decoded: DataFrame, maxDim: Int): DataFrame = {
    require(maxDim > 0)
    decoded.select(col("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
      .withColumn("m", greatest(col("width"), col("height")))
      .select(col("doc_id"), col("width"), col("height"),
        when(col("m") <= maxDim, col("width"))
          .otherwise(greatest(lit(1L), expr(s"(width * $maxDim) div m"))).as("out_w"),
        when(col("m") <= maxDim, col("height"))
          .otherwise(greatest(lit(1L), expr(s"(height * $maxDim) div m"))).as("out_h"))
  }

  /** Blockwise 60-bit binary fingerprint (m05) — the perceptual-hash
    * SHAPE of image dedup pipelines over the opaque payload: the blob
    * is cut into 60 equal byte-range blocks and bit i is the parity of
    * block i's md5, packed into one long (60 bits — the repo's hash60
    * convention, so the sum never overflows either engine's integer).
    * Payloads differing in k blocks differ in AT MOST k bits, which is
    * what makes the Hamming-block candidate join ([[mediaNearDupPairs]])
    * find corrupted/partially-rewritten blobs — a fuzzy checksum at
    * block granularity. The per-block bit derivation is stub territory
    * (a real pHash reads decoded pixels — no image libs in this
    * container); the construction (block → bit → packed word → banded
    * Hamming join) is the real image-dedup shape and is what the
    * oracle verifies. Pure scan-side expression work, no shuffle.
    * Returns (doc_id, phash).
    */
  def mediaPhash(media: DataFrame): DataFrame = {
    val blockLen = "greatest(1, octet_length(payload) DIV 60)"
    media.select(col("doc_id"), expr(
      s"""aggregate(
         |  transform(sequence(0, 59), i ->
         |    IF(substring(md5(substring(payload, CAST(i * $blockLen + 1 AS INT), $blockLen)), 1, 1)
         |         IN ('1','3','5','7','9','b','d','f'),
         |       shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
         |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin.replace("\n", " "))
      .as("phash"))
  }

  /** Media near-duplicate pairs (m06) — the d30 multi-index Hamming
    * device over [[mediaPhash]]: the 60-bit fingerprint splits into
    * radius+1 blocks, a pair within Hamming `radius` must agree on
    * some whole block (pigeonhole — full recall at the radius), so
    * candidates come from an equi-join on (block position, block
    * value), never all-pairs; exact bit_count(xor) then filters and
    * multi-block matches collapse by aggregation (the d-family dedup
    * lesson: groupBy+min moves triples, not payloads). Returns
    * (doc_a, doc_b, hamming).
    */
  def mediaNearDupPairs(media: DataFrame, radius: Int = 3): DataFrame = {
    require(radius >= 0 && 60 % (radius + 1) == 0, s"radius=$radius")
    val blk = phashBlocks(media, radius)
    val x = blk.select(col("doc_id").as("doc_a"), col("phash").as("ha"),
      col("bpos"), col("bval"))
    val y = blk.select(col("doc_id").as("doc_b"), col("phash").as("hb"),
      col("bpos"), col("bval"))
    x.join(y, Seq("bpos", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(ha ^ hb) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= radius)
      .groupBy(col("doc_a"), col("doc_b")).agg(min(col("hamming")).as("hamming"))
  }

  /** The (doc_id, phash, bpos, bval) Hamming-block rows shared by the
    * self-join pair miner ([[mediaNearDupPairs]]) and the persisted
    * index family (m08) — radius+1 blocks per fingerprint, pigeonhole
    * full recall at the radius.
    */
  def phashBlocks(media: DataFrame, radius: Int): DataFrame = {
    require(radius >= 0 && 60 % (radius + 1) == 0, s"radius=$radius")
    val nb = radius + 1
    val bits = 60 / nb
    val mask = (1L << bits) - 1
    mediaPhash(media).select(col("doc_id"), col("phash"),
        explode(expr(s"transform(sequence(0, ${nb - 1}), b -> named_struct(" +
          s"'bpos', b, 'bval', CAST(shiftright(phash, b * $bits) & $mask AS BIGINT)))"))
          .as("bb"))
      .select(col("doc_id"), col("phash"),
        col("bb.bpos").as("bpos"), col("bb.bval").as("bval"))
  }

  /** PERSIST the media-phash Hamming index (the build half of m08) —
    * the media twin of the d77 LSH text index: history fingerprints as
    * block rows written once, increments deduplicate against ALL of
    * history without re-reading (or re-hashing) history payloads.
    * Fingerprints are parameter-derived (nothing trained), so appends
    * are exact — appended index ≡ fresh rebuild row-for-row
    * ([[appendPhashIndex]], the d78/e42-strength claim).
    */
  def savePhashIndex(history: DataFrame, path: String, radius: Int = 3): Unit =
    // VERSIONED (the d153 device, media edition): block rows carry
    // doc_id and appends are id-monotone with frozen history files, so
    // an as-of probe is the same pigeonhole join over one pushed cut
    graft.sources.IndexManifest.rebuild(path, "phash", true, history, "doc_id",
      _ => Map("radius" -> radius.toLong))(
      () => phashBlocks(history, radius).write.mode("overwrite")
        .parquet(s"$path/blocks"))

  /** Id-monotone append to a persisted phash index (m08) — history
    * block files stay byte-frozen; append ≡ rebuild exactly.
    */
  def appendPhashIndex(newMedia: DataFrame, path: String): Unit = {
    import graft.sources.IndexManifest
    // every append is a new snapshot version (the d153 device)
    IndexManifest.append(path, IndexManifest.require(path, "phash"), true,
        newMedia, "doc_id", Seq("blocks" -> "doc_id"), _.man.params) { inc =>
      Seq(() => phashBlocks(newMedia, inc.man.params("radius").toInt)
        .write.mode("append").parquet(s"$path/blocks"))
    }
  }

  /** Probe a persisted phash index with an increment (m08) — per
    * increment blob: banded candidate count, the closest within-radius
    * history match (lowest id on ties), and the dup verdict. The block
    * equi-join is the m06 pigeonhole shape with history swapped for
    * the index table; history payloads are never touched. Both index
    * sides are corpus-scale at 100 TB — no broadcast hints, AQE
    * decides by measured size (the d77 reasoning).
    * Returns (doc_id, n_cand, dup_of, best_hamming, is_dup).
    */
  def mediaNearDupIndexed(increment: DataFrame, path: String,
      asOfVersion: Option[Int] = None): DataFrame = {
    val man = graft.sources.IndexManifest.require(path, "phash")
    val radius = man.params("radius").toInt
    // TIME TRAVEL (m12): a snapshot version IS its watermark, so the
    // as-of probe cuts the block table with one pushed doc_id filter —
    // dedup an increment against exactly the media corpus version a
    // past run published (the d157 device on the media index)
    val raw = Tables.readParquet(increment.sparkSession, s"$path/blocks")
    val hb = asOfVersion match {
      case None => raw
      case Some(v) =>
        val wm = graft.sources.IndexManifest.readVersion(path, v).corpusMaxId
        raw.filter(col("doc_id") <= wm)
    }
    val cand = phashBlocks(increment, radius)
      .select(col("doc_id").as("nid"), col("phash").as("pa"),
        col("bpos"), col("bval"))
      .join(hb.select(col("doc_id").as("hid"), col("phash").as("pb"),
        col("bpos"), col("bval")), Seq("bpos", "bval"))
      .select(col("nid"), col("hid"), col("pa"), col("pb")).distinct()
    val scored = cand.select(col("nid"), col("hid"),
      expr("CAST(bit_count(pa ^ pb) AS BIGINT)").as("ham"))
    val nCand = scored.groupBy(col("nid")).agg(count(lit(1)).as("n_cand"))
    val within = scored.filter(col("ham") <= radius)
    val best = within.groupBy(col("nid")).agg(min(col("ham")).as("best_hamming"))
    val dof = within.join(best, Seq("nid"))
      .filter(col("ham") === col("best_hamming"))
      .groupBy(col("nid")).agg(min(col("hid")).as("dup_of"))
    increment.select(col("doc_id"))
      .join(nCand.withColumnRenamed("nid", "doc_id"), Seq("doc_id"), "left_outer")
      .join(best.withColumnRenamed("nid", "doc_id"), Seq("doc_id"), "left_outer")
      .join(dof.withColumnRenamed("nid", "doc_id"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("dup_of"), col("best_hamming"),
        col("best_hamming").isNotNull.as("is_dup"))
  }

  /** Maintenance for the phash index (m08): the shared
    * [[graft.sources.IndexManifest.sync]] policy.
    */
  def phashIndexSync(media: DataFrame, path: String,
      radius: Int = 3): String =
    graft.sources.IndexManifest.sync(media, "doc_id", path, "phash",
      Map("radius" -> radius.toLong))(
      appendPhashIndex(_, path))(savePhashIndex(media, path, radius))

  /** Caption-media alignment filter (m10) — the CLIP-score filtering
    * shape (LAION-style curation: embed the image, embed the caption,
    * keep pairs whose similarity clears a threshold). STUB encoders
    * (the m02/StubCodec pattern): BOTH sides embed through the shared
    * 60-bit content fingerprint ([[mediaPhash]] of the media payload
    * vs the caption's utf8 bytes), so a matched pair agrees on all 60
    * bits and a mismatched pair on ~30 (independent md5 bits) — the
    * separation is construction-exact and honestly labeled; a real
    * deployment swaps both encoders for CLIP towers and keeps every
    * join/score/threshold shape below unchanged.
    *
    * The audit pairs each doc's media with its OWN caption and with
    * its successor's caption (doc_id+1, an EQUI-join — no window, no
    * cross join; gaps just drop the control row) as the misaligned
    * control. Similarity = agreeing bits / 60 (one exact int division
    * per row); `keep` = align ≥ threshold. At 100 TB both legs are
    * fingerprint-table equi-joins — media bytes are read exactly once
    * to hash. Returns (doc_id, cap_doc_id, agree_bits, align, keep).
    */
  def captionAlign(docs: DataFrame, threshold: Double = 0.9): DataFrame = {
    val img = mediaPhash(mediaView(docs)) // (doc_id, phash)
    val cap = img.select(col("doc_id").as("cap_doc_id"),
      col("phash").as("cap_hash"))
    val pairs = img
      .select(col("doc_id"), col("phash"), col("doc_id").as("cap_doc_id"))
      .unionByName(img.select(col("doc_id"), col("phash"),
        (col("doc_id") + 1).as("cap_doc_id")))
    pairs.join(cap, Seq("cap_doc_id"))
      .select(col("doc_id"), col("cap_doc_id"),
        expr("CAST(60 - bit_count(phash ^ cap_hash) AS BIGINT)")
          .as("agree_bits"))
      .withColumn("align", col("agree_bits").cast("double") / 60)
      .withColumn("keep", col("align") >= threshold)
  }

  /** Partition-batched decode: one codec instance per partition (the shape
    * a real decoder needs — init once, stream the batch through), typed
    * Dataset out. No shuffle; scales with input splits.
    */
  def decodeAll(spark: SparkSession, media: DataFrame): Dataset[DecodedMedia] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"), col("lang"), col("source"))
      .as[MediaRow]
      .mapPartitions { rows =>
        // per-partition codec init would go here
        rows.map { r =>
          val (w, h, f) = StubCodec.decode(r.payload)
          DecodedMedia(r.doc_id, r.payload.length.toLong, w, h, f)
        }
      }
  }
}
