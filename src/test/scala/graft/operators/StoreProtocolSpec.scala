package graft.operators

import graft.SparkTestSession
import graft.sources.{IndexManifest, IndexManifestException, Tables}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The store maintenance protocol, once per store on the shared
  * [[IndexManifest.sync]] policy: save on a prefix, sync appends then
  * reports fresh; a crashed append (data landed, manifest flip lost)
  * makes the retry a named error and sync a rebuild equal to a clean
  * build; a corpus whose history diverged below the watermark rebuilds.
  * Plus the manifest-level fixes: an empty card increment is a no-op
  * and a corrupt version file is a named error.
  */
class StoreProtocolSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** One store under the protocol: its corpus and id column, and its
    * save/append/sync calls at fixed build params. `tables` are the
    * data tables whose rows a rebuild must reproduce; `crashError` is
    * what the retried append's named error says.
    */
  private case class Store(name: String, corpus: () => DataFrame,
      idCol: String, tables: Seq[String], crashError: String,
      save: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit,
      sync: (DataFrame, String) => String)

  private def docs = Tables.documents(spark, dir).filter(col("doc_id") < 80)
  private def emb = Tables.embeddings(spark, dir)

  private val orphans = "above its manifest watermark"

  private val stores = Seq(
    Store("lsh", () => docs, "doc_id", Seq("sig", "bands"), orphans,
      Dedup.saveLshIndex(_, _, 16, 4), Dedup.appendLshIndex,
      Dedup.lshIndexSync(_, _, 16, 4)),
    Store("phash", () => Multimodal.mediaView(docs), "doc_id", Seq("blocks"),
      orphans, Multimodal.savePhashIndex(_, _, 3), Multimodal.appendPhashIndex,
      Multimodal.phashIndexSync(_, _, 3)),
    Store("bm25", () => docs, "doc_id", Seq("postings", "lens", "consts"),
      orphans, TextAnalysis.saveBm25Index(_, _, 0), TextAnalysis.appendBm25Index,
      TextAnalysis.bm25IndexSync(_, _, 0)),
    Store("suffix", () => docs, "doc_id", Seq("sa", "lcp"), orphans,
      TextAnalysis.saveSuffixIndex(_, _, global = false),
      TextAnalysis.appendSuffixIndex, TextAnalysis.suffixIndexSync),
    Store("ivf-sq8", () => emb, "vec_id", Seq("cents", "quant", "codes"),
      orphans, Similarity.saveIvfSq8Index(_, _, 8, false, 0),
      Similarity.appendIvfSq8Index, Similarity.ivfSq8IndexSync(_, _, 8, false)),
    Store("srp", () => emb, "vec_id", Seq("blocks"), orphans,
      Similarity.saveSrpIndex(_, _, 16, 3), Similarity.appendSrpIndex,
      Similarity.srpIndexSync(_, _, 16, 3)),
    Store("spectral", () => emb, "vec_id",
      Seq("nrow", "sx", "sxx", "mean", "cov", "iter"),
      "crashed between the stats write",
      Similarity.saveSpectralIndex(_, _, 64, 3), Similarity.appendSpectralIndex,
      Similarity.spectralIndexSync(_, _, 64, 3)),
    Store("card", () => docs, "doc_id", Seq("regs", "state"), orphans,
      TextAnalysis.saveCardStore(_, _, 8), TextAnalysis.appendCardStore,
      TextAnalysis.cardStoreSync(_, _, 8)))

  /** A store's data rows, order-free and byte-exact (JSON renders
    * binary columns as base64, so equality is by value).
    */
  private def content(s: Store, path: String): Seq[String] =
    s.tables.flatMap(t => spark.read.parquet(s"$path/$t").toJSON.collect()
      .sorted.map(r => s"$t $r"))

  stores.foreach { s =>
    test(s"store protocol (${s.name}): append then fresh; crashed append retry is a named error and sync rebuilds to a clean build; diverged history rebuilds") {
      val corpus = s.corpus()
      val id = col(s.idCol)
      val maxId = corpus.agg(max(id)).head().getLong(0)
      val (cut1, cut2) = (maxId / 2, maxId * 3 / 4)
      val grown = corpus.filter(id <= cut2)
      val inc = corpus.filter(id > cut1 && id <= cut2)
      def clean(df: DataFrame): Seq[String] = {
        val p = tmp(s"graft-proto-${s.name}-clean-")
        s.save(df, p)
        content(s, p)
      }

      // monotone growth appends, and a second sync is the no-op
      val path = tmp(s"graft-proto-${s.name}-")
      s.save(corpus.filter(id <= cut1), path)
      assert(s.sync(grown, path) == "append")
      assert(s.sync(grown, path) == "fresh")

      // crashed append: the data landed, the manifest flip did not
      val crash = tmp(s"graft-proto-${s.name}-crash-")
      s.save(corpus.filter(id <= cut1), crash)
      val stale = IndexManifest.read(crash)
      s.append(inc, crash)
      IndexManifest.write(crash, stale)
      val e = intercept[IndexManifestException] { s.append(inc, crash) }
      assert(e.getMessage.contains(s.crashError), e.getMessage)
      assert(s.sync(grown, crash) == "rebuild")
      assert(s.sync(grown, crash) == "fresh")
      assert(content(s, crash) == clean(grown))

      // diverged history: one id under the watermark is gone while
      // several new ids sit above it — rows and max id both grew, but
      // the watermark is no longer a prefix witness
      val lost = corpus.agg(min(id)).head().getLong(0)
      val diverged = corpus.filter(id =!= lost)
      assert(corpus.filter(id > cut2).count() >= 2L)
      assert(s.sync(diverged, path) == "rebuild")
      assert(content(s, path) == clean(diverged))
    }
  }

  test("card store: a corpus that lost a row under the watermark and gained rows above it rebuilds to a fresh card") {
    val all = Tables.documents(spark, dir)
    val maxId = all.agg(max(col("doc_id"))).head().getLong(0)
    val cut = maxId / 2
    val lost = all.agg(min(col("doc_id"))).head().getLong(0)
    val corpus = all.filter(col("doc_id") =!= lost)
    def card(p: String): Map[String, Double] =
      TextAnalysis.cardFromStore(spark, p).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val path = tmp("graft-card-drift-")
    TextAnalysis.saveCardStore(all.filter(col("doc_id") <= cut), path)
    assert(TextAnalysis.cardStoreSync(corpus, path) == "rebuild")
    val fresh = tmp("graft-card-drift-fresh-")
    TextAnalysis.saveCardStore(corpus, fresh)
    assert(card(path) == card(fresh))
  }

  test("card store: an empty increment is a no-op that leaves the store and manifest unchanged") {
    val docs = Tables.documents(spark, dir)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val path = tmp("graft-card-empty-")
    TextAnalysis.saveCardStore(docs, path)
    def tables(): Seq[String] = Seq("regs", "state").flatMap(t =>
      spark.read.parquet(s"$path/$t").toJSON.collect().sorted.toSeq)
    val (man, before) = (IndexManifest.read(path), tables())
    TextAnalysis.appendCardStore(docs.filter(col("doc_id") > maxId), path)
    assert(IndexManifest.read(path) == man)
    assert(tables() == before)
  }

  test("a corrupt or incomplete manifest version file is a named IndexManifestException") {
    val path = tmp("graft-manifest-corrupt-")
    val m = IndexManifest.Manifest("lsh", Map("k" -> 16L), 10L, 9L)
    assert(IndexManifest.writeVersioned(path, m) == 1)
    assert(IndexManifest.writeVersioned(path, m) == 2)
    assert(IndexManifest.readVersion(path, 2) == m)
    Files.write(Paths.get(path, "MANIFEST.v1.json"), "{not json".getBytes("UTF-8"))
    val e = intercept[IndexManifestException] { IndexManifest.readVersion(path, 1) }
    assert(e.getMessage.contains("MANIFEST.v1.json"), e.getMessage)
    Files.write(Paths.get(path, "MANIFEST.v2.json"), "{}".getBytes("UTF-8"))
    intercept[IndexManifestException] { IndexManifest.readVersion(path, 2) }
  }
}
