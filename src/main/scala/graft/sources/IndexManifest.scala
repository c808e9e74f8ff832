package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Load-time mismatch between an index's manifest and what the caller
  * (or the index directory) claims — wrong index kind, wrong build
  * params, or no manifest at all. Named so callers and specs can catch
  * the contract violation specifically instead of whatever downstream
  * symptom (all-NULL distances, empty joins) it would otherwise decay
  * into.
  */
class IndexManifestException(msg: String) extends RuntimeException(msg)

/** The index was built on a different corpus version than the one
  * being served/checked — the silent-stale-neighbors failure mode made
  * loud.
  */
class StaleIndexException(msg: String) extends RuntimeException(msg)

/** Build manifest for every persisted index (gram index d44, IVF+SQ8
  * e31, IVF-PQ e32): the build params and a corpus watermark, written
  * beside the index as one small JSON file. Closes the two trust gaps
  * a bare index directory has:
  *
  *  1. PARAMS — a loader that trusts the caller's k/probes/cells/
  *     minLen silently mis-scores when they drift from what the index
  *     was built with (the PQ kernel's qe-length guard decays that to
  *     all-NULL distances at best). Savers record the params; loaders
  *     [[IndexManifest.require]] them and fail with a named error.
  *  2. STALENESS — an index built on last week's corpus happily serves
  *     stale neighbors after the corpus grows. The manifest carries
  *     (row count, max id); [[IndexManifest.requireFresh]] compares it
  *     against a current corpus in one tiny agg and throws
  *     [[StaleIndexException]] on drift. The check is a separate call,
  *     not part of the query path — a production deployment runs it
  *     per corpus publish, not per query.
  *  3. MAINTENANCE — one fresh/append/rebuild policy over the watermark
  *     ([[IndexManifest.sync]]) and one append prelude
  *     ([[IndexManifest.beginAppend]]) serve every append-only store.
  *  4. COMMIT — one write order for every store: [[IndexManifest.rebuild]]
  *     clears the old lineage's versions, runs the store's table writes
  *     beside one corpus aggregate and flips the manifest last;
  *     [[IndexManifest.append]] runs the prelude, the orphan guards, then
  *     the writes, and flips last. A store states its tables and params;
  *     the order lives here.
  *
  * The watermark pair (rows, maxId) is what the append-only corpus
  * contract makes sufficient: ids are stable and rows are never
  * rewritten (TESTDATA.md tables; the RedditLog side has the same
  * id-monotone discipline), so growth moves both numbers and any
  * replace/compact that preserves them is content-identical.
  */
object IndexManifest {

  case class Manifest(kind: String, params: Map[String, Long],
      corpusRows: Long, corpusMaxId: Long)

  private val FILE = "MANIFEST.json"

  /** One tiny agg over the corpus: (row count, max id). */
  def watermark(corpus: DataFrame, idCol: String): (Long, Long) = {
    val r = corpus.agg(count(lit(1)), max(col(idCol).cast("long"))).head()
    (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
  }

  /** Write `$path/MANIFEST.json` atomically (write-then-rename, same
    * discipline as the segment log's manifest flip).
    */
  def write(path: String, m: Manifest): Unit = flip(path, FILE, m)

  /** Read the manifest; a missing or unreadable one is an
    * [[IndexManifestException]] — an unmanifested index directory is
    * untrusted by definition.
    */
  def read(path: String): Manifest = {
    if (!Files.exists(Paths.get(path, FILE)))
      throw new IndexManifestException(
        s"no $FILE at $path — not a manifested index (rebuilt with a pre-manifest saver?)")
    parse(path, FILE)
  }

  /** The one manifest serializer: `m` as JSON, written to `$path/$name`
    * through a temp file and an atomic rename.
    */
  private def flip(path: String, name: String, m: Manifest): Unit = {
    val om = new ObjectMapper()
    val node = om.createObjectNode()
    node.put("kind", m.kind)
    node.put("corpus_rows", m.corpusRows)
    node.put("corpus_max_id", m.corpusMaxId)
    val p = node.putObject("params")
    m.params.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
    Files.createDirectories(Paths.get(path))
    val tmp = Files.createTempFile(Paths.get(path), ".manifest-", ".tmp")
    Files.write(tmp, om.writeValueAsBytes(node))
    Files.move(tmp, Paths.get(path, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The one manifest parser: any failure to read `$path/$name` as a
    * manifest (bad JSON, missing field) is an [[IndexManifestException]].
    */
  private def parse(path: String, name: String): Manifest =
    try {
      import scala.jdk.CollectionConverters._
      val node = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(path, name)))
      val params = Option(node.get("params")).fold(Map.empty[String, Long])(
        _.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap)
      Manifest(node.get("kind").asText(), params,
        node.get("corpus_rows").asLong(), node.get("corpus_max_id").asLong())
    } catch { case e: Exception =>
      throw new IndexManifestException(s"unreadable $name at $path: ${e.getMessage}")
    }

  /** Read + verify: the index must be of `kind`, and every entry in
    * `expect` must match the recorded build params exactly. Returns the
    * manifest (so loaders can pull params they DON'T dictate — e.g.
    * nCells — from the index instead of the caller).
    */
  def require(path: String, kind: String,
      expect: Map[String, Long] = Map.empty): Manifest = {
    val m = read(path)
    if (m.kind != kind)
      throw new IndexManifestException(
        s"index at $path is kind '${m.kind}', expected '$kind'")
    expect.foreach { case (k, v) =>
      m.params.get(k) match {
        case Some(`v`) => ()
        case Some(got) => throw new IndexManifestException(
          s"index at $path built with $k=$got, caller expects $k=$v")
        case None => throw new IndexManifestException(
          s"index at $path has no recorded param '$k' (have: ${m.params.keys.toSeq.sorted.mkString(", ")})")
      }
    }
    m
  }

  /** Crash-recovery guard for append-only index tables: any stored row
    * whose id exceeds the manifest watermark is an ORPHAN — residue of
    * an append that crashed between its data writes and the manifest
    * flip. A retried append would pass the id-monotone guard against
    * the STALE watermark and write the same increment again — silent
    * row duplication that inflates candidate counts with no detection —
    * so appenders call this before writing and fail loudly instead;
    * the index-sync operators recover by rebuilding. The watermark < id
    * filter is answered from parquet row-group stats on id-monotone
    * stores — a pushed, payload-free scan. The probe is one Spark job
    * that stops each partition at its first orphan (a per-partition
    * `limit(1)`; `Dataset.limit` would re-run its collect over more and
    * more partitions while none holds a row); the orphans are counted
    * only for the error message.
    */
  def requireNoOrphans(table: DataFrame, idCol: String, man: Manifest,
      path: String): Unit = {
    val orphans = table.filter(col(idCol).cast("long") > man.corpusMaxId)
    val any = orphans.select(lit(true)).as(Encoders.scalaBoolean)
      .mapPartitions(_.take(1))(Encoders.scalaBoolean).collect().nonEmpty
    if (any) {
      val n = orphans.count()
      throw new IndexManifestException(
        s"index at $path holds $n rows above its manifest watermark " +
          s"${man.corpusMaxId} — a previous append crashed between the data " +
          "write and the manifest flip; rebuild (index sync does this automatically)")
    }
  }

  /** An increment admitted by [[beginAppend]]: the store's manifest,
    * the increment's row count and max id, and the prelude's agg row
    * (count, min id, max id, then the caller's extra columns).
    */
  case class Increment(man: Manifest, rows: Long, maxId: Long, stats: Row) {
    def isEmpty: Boolean = rows == 0L

    /** The manifest this append commits: the watermark advanced over
      * the increment.
      */
    def advanced: Manifest =
      man.copy(corpusRows = man.corpusRows + rows, corpusMaxId = maxId)
  }

  /** The APPEND PRELUDE every appender shares: one agg over the
    * increment (count, min and max id, plus `extra` columns the store
    * folds in the same job), the empty-increment no-op (an empty result
    * — the caller returns without writing) and the id-monotone guard
    * against `man`'s watermark — the contract that keeps the
    * (rows, max id) watermark an exact prefix witness. `man` is the
    * caller's [[require]] of its kind; store-specific checks that need
    * no Spark job run between the two calls. [[append]] runs it first.
    */
  def beginAppend(increment: DataFrame, idCol: String, man: Manifest,
      path: String, extra: Column*): Increment = {
    val id = col(idCol).cast("long")
    val r = increment.agg(count(lit(1)), (min(id) +: max(id) +: extra): _*).head()
    val inc = Increment(man, r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2), r)
    if (!inc.isEmpty && r.getLong(1) <= man.corpusMaxId)
      throw new IndexManifestException(
        s"increment ids start at ${r.getLong(1)} but the index watermark is " +
          s"${man.corpusMaxId} ($path) — appends must be id-monotone")
    inc
  }

  /** The REBUILD half of the commit protocol. A rebuild starts a new
    * lineage, so the old lineage's versions are cleared BEFORE any
    * overwrite: a crash in the window must not leave snapshots claiming
    * watermarks the rewritten data no longer has (ADVICE r12). Then the
    * store's table `writes` run concurrently with one corpus agg
    * (count, max id, then the store's `extra` columns, as in
    * [[beginAppend]]) — every crash state before the flip is an
    * overwritten, unflipped store. `params` runs after all of them and
    * before the flip: it returns the manifest params from the agg row,
    * and a table derived from the agg (bm25's consts, the gram rows that
    * carry the watermark) is written there.
    * The manifest of `kind` flips LAST, as a new version when
    * `versioned`. Returns the agg row.
    */
  def rebuild(path: String, kind: String, versioned: Boolean,
      corpus: DataFrame, idCol: String, params: Row => Map[String, Long],
      extra: Column*)(writes: (() => Unit)*): Row = {
    clearVersions(path)
    val (stats, _) = graft.Overlap(
      corpus.agg(count(lit(1)), (max(col(idCol).cast("long")) +: extra): _*).head(),
      graft.Overlap.all(writes))
    flipAs(path, versioned, Manifest(kind, params(stats), stats.getLong(0),
      if (stats.isNullAt(1)) -1L else stats.getLong(1)))
    stats
  }

  /** The APPEND half of the commit protocol: the [[beginAppend]] prelude
    * over `man` (an empty increment returns here, untouched), then the
    * orphan guard ([[requireNoOrphans]]) on each `guards` table (table,
    * id column), overlapped. `writes(inc)` is evaluated beside the
    * guards, so it may read and compute (a codebook load, a checkpointed
    * signature) but must not write: the thunks it returns run, overlapped,
    * only after every guard passed. `params` runs after them and before
    * the flip; the manifest, advanced over the increment with those
    * params, flips LAST, as a new version when `versioned`.
    */
  def append(path: String, man: Manifest, versioned: Boolean,
      increment: DataFrame, idCol: String, guards: Seq[(String, String)],
      params: Increment => Map[String, Long], extra: Column*)(
      writes: Increment => Seq[() => Unit]): Unit = {
    val inc = beginAppend(increment, idCol, man, path, extra: _*)
    if (inc.isEmpty) return
    val spark = increment.sparkSession
    val (_, work) = graft.Overlap(
      graft.Overlap.all(guards.map { case (t, c) => () =>
        requireNoOrphans(Tables.readParquet(spark, s"$path/$t"), c, man, path) }),
      writes(inc))
    graft.Overlap.all(work)
    flipAs(path, versioned, inc.advanced.copy(params = params(inc)))
  }

  private def flipAs(path: String, versioned: Boolean, m: Manifest): Unit =
    if (versioned) { writeVersioned(path, m); () } else write(path, m)

  /** The fresh/append/rebuild MAINTENANCE POLICY every watermark-synced
    * store shares (the e34 convention), as one operator callers run
    * unconditionally per corpus publish:
    *  - no manifest of `kind` with build `params` at `path` → rebuild;
    *  - FRESH: the corpus matches the watermark — nothing is touched;
    *  - MONOTONE GROWTH: the rows at or below the watermark are exactly
    *    the recorded prefix and new ids sit above it → `append` the
    *    delta; an [[IndexManifestException]] from it (orphan residue of
    *    a crashed append, a pre-append artifact) falls back to rebuild;
    *  - anything else (shrunk, rewritten history) → rebuild.
    * One agg (count, max id, prefix count) decides. Idempotent: a second
    * sync on the same corpus is "fresh". Returns "fresh" | "append" |
    * "rebuild".
    */
  def sync(corpus: DataFrame, idCol: String, path: String, kind: String,
      params: Map[String, Long])(append: DataFrame => Unit)(
      rebuild: => Unit): String = {
    def rebuilt(): String = { rebuild; "rebuild" }
    val m = try require(path, kind, params)
      catch { case _: IndexManifestException => return rebuilt() }
    val stats = corpus.agg(count(lit(1)), max(col(idCol).cast("long")),
      sum(when(col(idCol) <= m.corpusMaxId, 1L).otherwise(0L))).head()
    val (rows, maxId) = (stats.getLong(0),
      if (stats.isNullAt(1)) -1L else stats.getLong(1))
    val prefixRows = if (stats.isNullAt(2)) 0L else stats.getLong(2)
    if (rows == m.corpusRows && maxId == m.corpusMaxId) "fresh"
    else if (prefixRows == m.corpusRows && maxId > m.corpusMaxId)
      try { append(corpus.filter(col(idCol) > m.corpusMaxId)); "append" }
      catch { case _: IndexManifestException => rebuilt() }
    else rebuilt()
  }

  /** VERSIONED write — snapshot history for time-travel reads (the
    * lakehouse capability the append-only contract gives almost for
    * free): the manifest is ALSO written as `MANIFEST.v{N}.json`
    * (N = previous latest + 1) BEFORE the live `MANIFEST.json` flip.
    * Because every store under this device is id-monotone append-only
    * (rows are only ever ADDED, with ids above the old watermark), a
    * historical version IS its watermark: reading the store with
    * `id <= vN.corpusMaxId` reproduces the store as of version N
    * exactly, with no file-level snapshotting, O(1) metadata per
    * version, and the id cut answered from parquet row-group stats.
    * Crash window: a version file without the live flip is historical
    * residue only — the live manifest stays authoritative and the next
    * write takes the next free number.
    */
  def writeVersioned(path: String, m: Manifest): Int = {
    val v = versions(path).lastOption.getOrElse(0) + 1
    flip(path, s"MANIFEST.v$v.json", m)
    write(path, m)
    v
  }

  /** The store's recorded snapshot versions, ascending. The listing
    * stream is closed explicitly (try/finally): it runs on every
    * versioned write and a leaked UnixDirectoryStream holds a real file
    * descriptor with no GC cleaner — a long-running append loop would
    * otherwise accumulate fds to the process limit (ADVICE r12).
    */
  def versions(path: String): Seq[Int] = {
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) return Seq.empty
    val re = "MANIFEST\\.v(\\d+)\\.json".r
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala
      .flatMap(p => re.findFirstMatchIn(p.getFileName.toString)
        .map(_.group(1).toInt))
      .toSeq.sorted
    finally s.close()
  }

  /** Drop all recorded snapshot versions — the OVERWRITE-SAVE reset:
    * a rebuild starts a new store lineage, and stale version files
    * would otherwise claim watermarks the rewritten data no longer
    * corresponds to. Appends never call this.
    */
  def clearVersions(path: String): Unit =
    versions(path).foreach { v =>
      Files.deleteIfExists(Paths.get(path, s"MANIFEST.v$v.json"))
    }

  /** RETENTION sweep — keep only the newest `keepLast` snapshot
    * versions (the lakehouse VACUUM for this device, and exactly as
    * cheap as the versions are: one JSON unlink per dropped version,
    * since snapshots hold no data files of their own). Returns the
    * dropped version numbers; a dropped version's as-of read becomes
    * the standard missing-version named error. Stores whose as-of
    * reads need PER-VERSION side tables (the spectral delta stats)
    * must compact those themselves before vacuuming — this sweep only
    * governs the manifest files.
    */
  def vacuumVersions(path: String, keepLast: Int): Seq[Int] = {
    Predef.require(keepLast >= 1, s"keepLast=$keepLast")
    val vs = versions(path)
    val drop = vs.dropRight(keepLast)
    drop.foreach { v =>
      Files.deleteIfExists(Paths.get(path, s"MANIFEST.v$v.json"))
    }
    drop
  }

  /** Read one historical snapshot's manifest; a missing version is a
    * named error listing what exists. The snapshot is VALIDATED against
    * the live manifest before it is trusted: on an append-only lineage
    * every version's kind matches the live one and its watermark pair
    * sits at or below the live pair, so a violation can only mean the
    * version file belongs to a DEAD lineage — the residue of a rebuild
    * that crashed between its data overwrite and its clearVersions
    * sweep. Serving such a snapshot would silently answer as-of reads
    * over data the watermark no longer describes; fail loudly instead
    * (ADVICE r12 — the read-side twin of the clear-BEFORE-overwrite
    * saver ordering).
    */
  def readVersion(path: String, v: Int): Manifest = {
    val name = s"MANIFEST.v$v.json"
    if (!Files.exists(Paths.get(path, name)))
      throw new IndexManifestException(
        s"no version $v at $path (have: ${versions(path).mkString(", ")})")
    val snap = parse(path, name)
    val live = read(path)
    if (snap.kind != live.kind || snap.corpusMaxId > live.corpusMaxId ||
        snap.corpusRows > live.corpusRows)
      throw new IndexManifestException(
        s"version $v at $path (kind=${snap.kind}, rows=${snap.corpusRows}, " +
          s"maxId=${snap.corpusMaxId}) is not a prefix of the live manifest " +
          s"(kind=${live.kind}, rows=${live.corpusRows}, maxId=${live.corpusMaxId}) " +
          "— stale lineage residue from a crashed rebuild; rebuild the store " +
          "to reset its versions")
    snap
  }

  /** True iff `corpus` matches the manifest's watermark. */
  def isFresh(path: String, corpus: DataFrame, idCol: String): Boolean = {
    val m = read(path)
    watermark(corpus, idCol) == ((m.corpusRows, m.corpusMaxId))
  }

  /** Loud freshness gate: throws [[StaleIndexException]] naming both
    * watermarks when the corpus has moved since the build.
    */
  def requireFresh(path: String, corpus: DataFrame, idCol: String): Unit = {
    val m = read(path)
    val (rows, maxId) = watermark(corpus, idCol)
    if ((rows, maxId) != ((m.corpusRows, m.corpusMaxId)))
      throw new StaleIndexException(
        s"index at $path built at corpus watermark (rows=${m.corpusRows}, " +
          s"maxId=${m.corpusMaxId}) but current corpus is (rows=$rows, " +
          s"maxId=$maxId) — rebuild or append before serving")
  }
}
