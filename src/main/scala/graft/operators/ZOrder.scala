package graft.operators

import graft.sources.{IndexManifest, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton) storage layout — the multi-dimensional clustering
  * device lakehouse table formats ship for multi-column pruning (Delta
  * OPTIMIZE ZORDER BY, Iceberg sort orders): interleave the bits of two
  * dimension keys so that a rectangle predicate over BOTH dimensions
  * maps to a SMALL set of contiguous key ranges — one physical layout
  * serves range queries on either or both columns, where a plain sort
  * by (a, b) only prunes on `a`.
  *
  * The engineering here mirrors the repo's persisted-index discipline:
  * the store partitions by the key's top bits (z-buckets), the reader
  * derives the overlapping buckets DRIVER-SIDE from the query rectangle
  * (pure arithmetic over 2^bucketBits constants — no data read, no
  * collect; the d90 "partition key is a pure function of the probe"
  * family) and injects them as literals, so whole directories prune via
  * PartitionFilters before any row is touched. At 100 TB this is the
  * difference between scanning a 720-hour × all-users event log and
  * reading only the bucket files a (user-range × time-range) dashboard
  * query can possibly touch.
  */
object ZOrder {

  /** The bit-interleave as one generated expression (x's bit j at
    * position 2j, y's at 2j+1) — the SAME Scala loop renders the Spark
    * column and the DuckDB oracle text (the d96/d134 one-constant
    * two-engines pattern), so the two engines cannot disagree on the
    * curve.
    */
  def zKeySql(xCol: String, yCol: String, bits: Int): String =
    (0 until bits).map { j =>
      s"(((($xCol) >> $j) & 1) << ${2 * j}) + (((($yCol) >> $j) & 1) << ${2 * j + 1})"
    }.mkString("(", " + ", ")")

  /** Events projected onto the z-grid: ux = user_id mod 2^bits,
    * ty = event hour mod 2^bits (ts is the normalized nanosecond Long),
    * zkey = interleave(ux, ty). Scan-side arithmetic only.
    */
  def eventGrid(events: DataFrame, bits: Int): DataFrame =
    events.select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("ux", col("user_id") % (1L << bits))
      .withColumn("ty", expr("ts div 3600000000000") % (1L << bits))
      .withColumn("zkey", expr(zKeySql("ux", "ty", bits)).cast("long"))

  /** Write the z-ordered event store: data partitioned by the key's
    * top `bucketBits` bits (2^bucketBits directories), under the shared
    * manifest (kind "zorder"). Layout-only: rebuild-on-change like any
    * clustering (appends would land in existing buckets fine, but the
    * registered surface keeps the simple rebuild contract).
    */
  def saveZOrderedStore(events: DataFrame, path: String, bits: Int = 10,
      bucketBits: Int = 4): Unit = {
    require(bucketBits % 2 == 0 && bucketBits < 2 * bits,
      s"bucketBits=$bucketBits must be even and < ${2 * bits}")
    val g = eventGrid(events, bits)
      .withColumn("zbucket", expr(s"zkey >> ${2 * bits - bucketBits}"))
    IndexManifest.rebuild(path, "zorder", true, events, "event_id",
      _ => Map("bits" -> bits.toLong, "bucket_bits" -> bucketBits.toLong))(
      () => g.write.mode("overwrite").partitionBy("zbucket").parquet(s"$path/data"))
  }

  /** Id-monotone append into the z-ordered store (d146) — clustered
    * INGEST, the write half every lakehouse clustered table serves: the
    * bucket is a pure static function of the row (zkey's top bits — no
    * trained structure, no corpus-global statistic), so new events land
    * in their buckets with history files byte-frozen and the appended
    * store answers rectangle queries IDENTICALLY to a fresh rebuild on
    * the grown corpus (the e42/d78-strength claim, spec-pinned). Guards
    * are the shared prelude ([[IndexManifest.beginAppend]]) and orphan
    * detection for the crashed-append window.
    */
  def appendZOrderedStore(newEvents: DataFrame, path: String): Unit =
    // every append is a new SNAPSHOT VERSION (IndexManifest.writeVersioned
    // doc): history rows are never rewritten, so a version is exactly
    // its watermark and zRectQueryAt can time-travel with one id cut
    IndexManifest.append(path, IndexManifest.require(path, "zorder"), true,
        newEvents, "event_id", Seq("data" -> "event_id"), _.man.params) { inc =>
      val bits = inc.man.params("bits").toInt
      val bucketBits = inc.man.params("bucket_bits").toInt
      Seq(() => eventGrid(newEvents, bits)
        .withColumn("zbucket", expr(s"zkey >> ${2 * bits - bucketBits}"))
        .write.mode("append").partitionBy("zbucket").parquet(s"$path/data"))
    }

  /** The z-buckets a query rectangle can touch — pure driver arithmetic
    * over the 2^bucketBits bucket prefixes: each bucket's interleaved
    * prefix decodes to an (x-prefix, y-prefix) grid cell; keep the
    * cells whose rectangle intersects the query's. No data is read.
    */
  def bucketsFor(uxLo: Long, uxHi: Long, tyLo: Long, tyHi: Long,
      bits: Int, bucketBits: Int): Seq[Long] = {
    val half = bucketBits / 2
    val cell = 1L << (bits - half)
    (0L until (1L << bucketBits)).filter { b =>
      var xp = 0L
      var yp = 0L
      var i = 0
      while (i < half) {
        yp = (yp << 1) | ((b >> (bucketBits - 1 - 2 * i)) & 1L)
        xp = (xp << 1) | ((b >> (bucketBits - 2 - 2 * i)) & 1L)
        i += 1
      }
      val (xlo, xhi) = (xp * cell, xp * cell + cell - 1)
      val (ylo, yhi) = (yp * cell, yp * cell + cell - 1)
      xhi >= uxLo && xlo <= uxHi && yhi >= tyLo && ylo <= tyHi
    }
  }

  /** Rectangle query over the persisted store: overlapping z-buckets
    * injected as literals (they land in PartitionFilters — whole
    * directories never open, spec-asserted), then the exact rectangle
    * predicate within survivors. The store must not change an answer:
    * d145 registers against the plain rectangle-filter SQL.
    *
    * bits/bucketBits come from the MANIFEST, never the caller (the
    * appendZOrderedStore discipline): a caller-supplied geometry that
    * drifted from the build params would derive the wrong cells in
    * [[bucketsFor]] and silently prune whole directories of matching
    * rows — exactly the loader-trusts-the-caller trap IndexManifest
    * exists to close.
    */
  def zRectQuery(spark: SparkSession, path: String,
      uxLo: Long, uxHi: Long, tyLo: Long, tyHi: Long): DataFrame = {
    val man = IndexManifest.require(path, "zorder")
    val bits = man.params("bits").toInt
    val bucketBits = man.params("bucket_bits").toInt
    val keep = bucketsFor(uxLo, uxHi, tyLo, tyHi, bits, bucketBits)
    Tables.readParquet(spark, s"$path/data")
      .filter(col("zbucket").cast("long").isin(keep: _*))
      .filter(col("ux").between(uxLo, uxHi) && col("ty").between(tyLo, tyHi))
      .select(col("event_id"), col("user_id"), col("ts"), col("ux"),
        col("ty"))
  }

  /** TIME-TRAVEL rectangle query (d153) — the store AS OF snapshot
    * `version` (every save/append records one —
    * [[graft.sources.IndexManifest.writeVersioned]]): because the
    * store is id-monotone append-only with history files byte-frozen,
    * a version IS its watermark, so the snapshot read is the SAME
    * pruned rectangle scan plus one `event_id <= watermark` cut —
    * answered from parquet row-group stats on this id-clustered
    * layout, no file-level snapshot metadata, no copy-on-write. The
    * lakehouse time-travel capability (Delta VERSION AS OF) at O(1)
    * metadata per version. Current-version geometry governs (bucket
    * params never change across appends — the append reads them from
    * the live manifest).
    */
  def zRectQueryAt(spark: SparkSession, path: String, version: Int,
      uxLo: Long, uxHi: Long, tyLo: Long, tyHi: Long): DataFrame = {
    IndexManifest.require(path, "zorder")
    val snap = IndexManifest.readVersion(path, version)
    if (snap.kind != "zorder")
      throw new graft.sources.IndexManifestException(
        s"version $version at $path is kind '${snap.kind}', expected 'zorder'")
    zRectQuery(spark, path, uxLo, uxHi, tyLo, tyHi)
      .filter(col("event_id") <= snap.corpusMaxId)
  }
}
