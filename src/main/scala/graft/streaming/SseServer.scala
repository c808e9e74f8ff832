package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.api.{ApiError, ParamSpec}
import graft.operators.RedditOps
import graft.sources.{RedditLog, RedditLogOffset}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.jdk.CollectionConverters._

/** The SSE delivery layer (SURVEY.md §2 rows E2, K1, A1; §7.3):
  * **shared** Structured Streaming queries over the rc/rs logs,
  * multiplexed to N client connections — not one poll loop per client
  * like the reference (/root/reference/sse.py:80-83), which cannot scale
  * past a handful of consumers.
  *
  * One live query runs per *type mask* actually in use (`rc`, `rs`, or
  * both), started lazily on the first connection that needs it — so a
  * comments-only client fleet never lists or scans the submissions log
  * at all (the plan-level type pruning the reference itself misses,
  * sse.py:146-152; SURVEY.md §4). Documented deviation that follows:
  * live-path tcs/tss only count events from logs the mask reads — a
  * `type=comments` client no longer counts live submissions it will
  * never see. Catch-up reads are unaffected (they still honor the A1
  * pre-type-gate quirk over the scanned ranges).
  *
  * `counterParity = true` restores exact reference counter semantics
  * without giving the pruning back: a COUNT-ONLY tap query per excluded
  * log (one per side, shared by every connection that needs it) bumps
  * tcs/tss for connections whose mask skips that log. The tap reads
  * only the envelope columns the whitelist/attr predicates touch —
  * never the json payload — and runs no emit pass, so its cost is a
  * pruned scan + one collect of counting-connection tags per batch,
  * tallied on the driver by the same helper as the feed's counters;
  * the frame path stays exactly as pruned as with parity off.
  *
  * Fan-out is **one Spark job** per micro-batch regardless of connection
  * count: a single `collect()` returns one row per event that some
  * connection emits or counts. The row carries the connections that
  * emit it (boundary ∧ `RedditOps.pred`), those that count it (counter
  * bound ∧ whitelist ∧ attr), and its SSE frame text, built inside
  * Spark once per *distinct* `filter=` projection (not once per
  * connection). The driver bumps tcs/tss from the count tags, sorts the
  * emitted rows by O1 and offers each frame to its connections' queues.
  * Driver memory is O(micro-batch), not O(backlog × connections): the
  * source's admission control caps each batch at `maxPerTrigger` rows
  * per log, so the driver holds at most one admitted batch × the
  * distinct projections in use, plus a 4-byte tag per (row, tagged
  * connection).
  *
  * Reference semantics kept:
  *  - per-batch emit order = created_utc, rc-before-rs, id (O1);
  *  - keepalive every `keepAliveMillis` on its own id sequence from 1,
  *    payload {"tcs","tss","tbs"} (K1 — sse.py:112-119, 137-143);
  *  - tcs/tss count whitelist-passed events *before* the type gate
  *    (the documented A1 quirk, sse.py:179-180, 222-223, scoped to the
  *    logs the connection's mask reads — see above); tbs counts bytes
  *    actually written, keepalives included (sse.py:141, 240);
  *  - backfill / start_id catch-up served from the log's batch path,
  *    then a seamless hand-off to the live feed with per-type watermark
  *    dedup (R1/R2);
  *  - 400 {"error": ...} on invalid params (V1/V2);
  *  - `GET /test` demo page (X1).
  *
  * HTTP-edge parity with the reference's nginx front
  * (nginx_stream.conf:1-15), in-process since there is no nginx here:
  *  - per-IP connection cap (`maxConnsPerIp`; excess → HTTP 429);
  *  - gzip on the event stream when the client sends
  *    `Accept-Encoding: gzip` (sync-flushed per frame so streaming
  *    latency is preserved).
  *
  * ==rr: the third log (documented superset)==
  * The reference documents a subreddit-creation event type `rr` but
  * never implemented it (/root/reference/README.md:42-46). Here
  * `type=subreddits`/`rr` selects it when the server is constructed
  * with an `rrPath` (else HTTP 400): its own standalone mask over the
  * third log — an rc/rs fleet never lists the rr directory and vice
  * versa — excluded from the rc+rs default mask, and counted by
  * NEITHER tcs nor tss (the keepalive payload stays reference-exact).
  * Whitelist/attr filters and payload projection apply to rr envelopes
  * like any other; emit order extends O1 alphabetically (rc < rr < rs
  * on event-time ties). Resumption is fully symmetric:
  * `subreddit_backfill`/`subreddit_start_id` (and an unambiguous
  * `Last-Event-ID` on a `type=rr` connection) ride the same
  * two-threshold catch-up/live hand-off as the rc/rs pairs — rr resume
  * params on a non-rr connection are ignored.
  */
class SseServer(spark: SparkSession, rcPath: String, rsPath: String,
    rrPath: String = null,
    port: Int = 0, keepAliveMillis: Long = 30000L,
    triggerMillis: Long = 200L, maxPerTrigger: Long = 100000L,
    maxConnsPerIp: Int = 0, queueCapacity: Int = 65536,
    disconnectSlowClients: Boolean = false, probeMillis: Long = 5000L,
    counterParity: Boolean = false) {

  // ---------------- connection registry ----------------

  /** Documented deviation from the reference: the reference's
    * one-generator-per-connection design gets per-client TCP
    * backpressure for free; a shared query must not let one slow client
    * stall the fan-out (head-of-line blocking), so each connection gets
    * a bounded queue (`queueCapacity`) with a choice of overflow
    * policy: by default a lagging client silently loses the newest
    * frames (counted in `dropped`); with `disconnectSlowClients` the
    * connection is closed instead, forcing an explicit re-sync — a gap
    * the client can SEE and repair via `*_start_id` (ids are the resume
    * tokens, R2) beats one it silently missed.
    *
    * ==Catch-up/live hand-off, race-free==
    * Two thresholds per type, NOT one:
    *
    *  - `rcBoundary`/`rsBoundary` (immutable, read BEFORE registration):
    *    the live fan-out only tags ids above them. Because they are set
    *    before `conns.put`, there is no window in which a batch
    *    snapshots the connection with a placeholder boundary.
    *  - `rcSuppress`/`rsSuppress` (read AFTER registration; ≥ boundary):
    *    the catch-up scan's upper bound, AND the writer drops live
    *    frames at-or-below it. Ids are appended monotonically, so every
    *    id ≤ suppress was in the log before the suppress read and the
    *    catch-up scan (which starts later) sees it; every id > suppress
    *    was appended after registration, so the batch carrying it
    *    snapshots the already-registered connection and the live pass
    *    delivers it. The overlap zone (boundary, suppress] may be
    *    delivered by BOTH paths — the writer-side drop is what dedups
    *    it. Nothing is lost, nothing duplicates, with no assumption
    *    about when the maxId read interleaves with concurrent batches
    *    (the one-threshold design had a lost-update window between the
    *    maxId read and the boundary publication).
    *
    * A start_id in the future raises both thresholds so the live feed
    * also skips up to it. For a type with NO resume params there is no
    * catch-up scan, so its suppress threshold is set EQUAL to the
    * boundary (not a re-read maxId — that would orphan the ids appended
    * in between: claimed for a catch-up pass that never runs, dropped by
    * the writer). The suppress fields are written by the handler thread
    * before the writer loop starts and read only by that same thread.
    */
  private final class Connection(val id: String, val spec: ParamSpec,
      val maskKey: String, val ip: String,
      val rcBoundary: Long, val rsBoundary: Long,
      val rrBoundary: Long = Long.MaxValue) {
    // volatile: written once by the handler thread during setup, read by
    // the writer loop AND by batch threads (the counter passes bound
    // resumed sides by suppress — handleBatch/handleTapBatch; rr has no
    // counter, so rrSuppress is writer-loop-only but follows the same
    // two-threshold protocol)
    @volatile var rcSuppress: Long = Long.MaxValue
    @volatile var rsSuppress: Long = Long.MaxValue
    @volatile var rrSuppress: Long = Long.MaxValue
    @volatile var attached = false
    /** Force-closes the HTTP exchange from ANOTHER thread. `closed`
      * alone is only observed between writes — a client that stopped
      * reading leaves the writer thread blocked inside a TCP write, and
      * only tearing the socket down makes that write fail and unwind.
      */
    @volatile var abort: () => Unit = () => ()
    /** THE resume-detection rule, defined once: a side with explicit
      * backfill/start_id params is served history by catch-up. Keep
      * every consumer (threshold setup, catch-up, both counter passes)
      * on these helpers — divergent copies of this rule silently
      * re-introduce double- or never-counted events.
      */
    def needsCatchUp(sideIsRc: Boolean): Boolean =
      if (sideIsRc) spec.commentBackfill.isDefined || spec.commentStartId.isDefined
      else spec.submissionBackfill.isDefined || spec.submissionStartId.isDefined
    /** The rr copy of the rule (separate because the rc/rs helper's
      * Boolean parameter has exactly two values and every existing call
      * site is a counter path rr never reaches). Gated on the mask: rr
      * resume params on a non-rr connection are ignored — like the
      * reference ignoring params irrelevant to the selected type — and
      * must never touch a possibly-unconfigured rr log.
      */
    def needsCatchUpRr: Boolean = maskKey == "rr" &&
      (spec.subredditBackfill.isDefined || spec.subredditStartId.isDefined)
    /** Counter lower bound per side: suppress for a resumed side (its
      * catch-up counts everything at-or-below), else the boundary.
      */
    def counterBound(sideIsRc: Boolean): Long =
      if (sideIsRc) { if (needsCatchUp(true)) rcSuppress else rcBoundary }
      else { if (needsCatchUp(false)) rsSuppress else rsBoundary }
    val queue = new LinkedBlockingQueue[SseFrame](queueCapacity)
    val dropped = new AtomicLong(0)
    val tcs = new AtomicLong(0)
    val tss = new AtomicLong(0)
    val tbs = new AtomicLong(0)
    @volatile var closed = false
  }

  private val conns = new ConcurrentHashMap[String, Connection]()
  private val connSeq = new AtomicLong(0)
  private val ipConns = new ConcurrentHashMap[String, AtomicInteger]()
  private var http: HttpServer = _

  /** A queued live frame: event/id ride along so the writer can apply
    * the per-type suppression threshold (see Connection scaladoc).
    */
  private final case class SseFrame(event: String, id: Long, text: String)

  /** Decrement an IP's live-connection count, removing the entry at
    * zero so the map never accumulates one entry per IP ever seen.
    * All mutations go through compute* and are atomic per key.
    */
  private def releaseIp(ip: String): Unit =
    ipConns.computeIfPresent(ip, (_, cur) =>
      if (cur.decrementAndGet() <= 0) null else cur)

  def boundPort: Int = http.getAddress.getPort

  // ---------------- shared streaming queries (one per type mask) ----------------

  /** "rc", "rs", "rr", or "rcrs" — the set of logs a connection's `type`
    * param needs. An unrecognized/empty type set maps to both DEFAULT
    * logs: nothing is ever emitted (F1 gates it) but the A1 counters
    * still observe both feeds, like the reference's always-scanning
    * loop. "rr" is the subreddit-creation feed the reference documents
    * but never implemented (ParamSpec scaladoc) — its own standalone
    * mask, never joined with rc/rs (the `type` param selects one value).
    */
  private def maskKeyOf(spec: ParamSpec): String =
    if (spec.types == Set("rc")) "rc"
    else if (spec.types == Set("rs")) "rs"
    else if (spec.types == Set("rr")) "rr"
    else "rcrs"

  /** Which source logs a mask's shared query scans — THE definition the
    * tap filters, pin/boundary setup, and stream construction all read,
    * so "does this mask read that log" cannot diverge between them.
    */
  private def maskReadsRc(maskKey: String): Boolean =
    maskKey == "rc" || maskKey == "rcrs"
  private def maskReadsRs(maskKey: String): Boolean =
    maskKey == "rs" || maskKey == "rcrs"

  private val queries = new ConcurrentHashMap[String, StreamingQuery]()
  private val queryLock = new Object
  /** Set by [[stop]] BEFORE stopping queries, checked by [[ensureQuery]]
    * under the same lock: a health-tick restart racing stop() would
    * otherwise start a query AFTER stop() iterated the registry —
    * leaking an active query past the server's lifetime (and, since
    * Spark enforces unique active query names per session, poisoning
    * every later server that reuses the name).
    */
  @volatile private var stopping = false
  /** Per-instance suffix on query names: active StreamingQuery names are
    * unique per session, and several servers can coexist in one session
    * (tests, blue/green). The base name stays first for readability.
    */
  private val instanceId = SseServer.instanceSeq.incrementAndGet()

  /** Restart state for the shared queries. On restart after a query
    * death, the dead incarnation's OWN progress log supplies the last
    * committed end offset per source (the path rides in the source
    * description — RedditLogMicroBatchStream.toString), and the new
    * incarnation's start pins move up to it: events appended during the
    * outage are delivered, not skipped (the old restart re-pinned at the
    * current watermark and silently dropped the gap). A query that died
    * before any progress keeps the original pins — no gap either.
    *
    * Deliberately NOT a persistent `checkpointLocation`: the feeds run
    * on foreachBatch's ephemeral temp checkpoint, because a persistent
    * WAL buys an in-process SSE server nothing. The progress pins above
    * already carry the committed offsets, and a SERVER crash loses the
    * connections the offsets existed for anyway. The temp checkpoint's
    * metadata-log writes go through [[NioCheckpointFileManager]]
    * (installed by [[start]]), so they fork no `chmod`.
    *
    * Failure-recovery delivery is therefore at-least-once: the batch in
    * flight at the crash re-processes on restart (frames carry ids, so
    * clients can discard duplicates; the counter passes share the same
    * one-batch residual, documented at [[lastCounted]]).
    */
  private val startPins = new ConcurrentHashMap[String, java.lang.Long]()
  /** Highest batch id whose COUNTER pass completed, per query key —
    * guards tcs/tss against a re-invoked batch id within one query
    * incarnation. Cleared on restart (batch ids restart at 0 with
    * progress-pin recovery), so the one batch in flight at a crash may
    * re-count — the documented at-least-once residual; shrinking it to
    * zero needs a transactional counter sink, which a driver-held
    * AtomicLong is not.
    */
  private val lastCounted = new ConcurrentHashMap[String, java.lang.Long]()

  private def side(maskKey: String, p: String): DataFrame = {
    // Pin the live window's start HERE, synchronously, rather than
    // letting the source resolve its initial offset when the stream
    // thread spins up: start() is asynchronous, so the lazily-resolved
    // offset could land ABOVE a connection's suppression threshold and
    // ids in between would be neither caught up nor streamed. With the
    // pin, the stream start ≤ every connection's suppression threshold
    // (both are maxId reads; the pin happens first; ids are monotone),
    // so ids above the threshold are always covered by the stream.
    // The pin is per (mask, side) and PERSISTENT across restarts — see
    // the restart-state scaladoc above. handleStream pins BEFORE it
    // reads a connection's boundaries (pinSide), so by the time a query
    // is defined here the pin already exists; the computeIfAbsent is the
    // fallback for direct/test use.
    val startId: Long = pinSide(maskKey, p)
    val r = spark.readStream
      .format("graft.sources.RedditLogSource").option("path", p)
      .option("start_id", startId.toString)
    (if (maxPerTrigger > 0) r.option("max_per_trigger", maxPerTrigger.toString)
     else r).load()
  }

  /** Pin (or return the existing pin of) the live-start id for a
    * (query-key, side-path) pair. ORDER MATTERS: this must run BEFORE a
    * connection's boundary read — the boundary promises "everything
    * above me arrives via the live stream", which only holds if the
    * stream's initial offset (pin − 1) is ≤ the boundary. Pinning after
    * the boundary read (the old order, first connection of a mask) left
    * (boundary, pin) covered by neither the stream nor catch-up.
    */
  private def pinSide(key: String, p: String): Long =
    startPins.computeIfAbsent(s"$key@$p", _ => RedditLog.maxId(p) + 1)

  private def liveStream(maskKey: String): DataFrame = maskKey match {
    case "rc" => side(maskKey, rcPath)
    case "rs" => side(maskKey, rsPath)
    case "rr" => side(maskKey, rrPath)
    case _    => side(maskKey, rcPath).unionByName(side(maskKey, rsPath))
  }

  /** Start the shared query for a mask on first use, or RESTART it if a
    * previous incarnation died (a transient batch failure must not turn
    * every present and future connection of the mask into a silent
    * blackhole). Callers: connection setup AND every attached writer
    * loop's periodic health tick, so a mask with live connections heals
    * within ~`probeMillis` even when no new client arrives. The restart
    * resumes from the dead incarnation's committed offsets via its
    * progress log (restart-state scaladoc above) — no events are
    * skipped. Healthy queries stay up
    * for the server's lifetime — an idle pruned-source query costs one
    * empty admission check per trigger, and the health tick's fast path
    * is one volatile read.
    */
  private def ensureQuery(key: String): Unit = {
    if (stopping) return
    val fast = queries.get(key)
    if (fast != null && fast.isActive) return
    queryLock.synchronized {
      if (stopping) return
      val existing = Option(queries.get(key))
      if (existing.forall(!_.isActive)) {
        existing.foreach { dead =>
          dead.exception.foreach(e =>
            System.err.println(s"[sse] restarting dead $key query: ${e.getMessage}"))
          // resume from the dead incarnation's committed offsets: its
          // progress log carries the end offset per source, and the
          // source description carries the side's path (restart-state
          // scaladoc). Pins only move forward — a stale progress object
          // can never rewind a side.
          Option(dead.lastProgress).toSeq.flatMap(_.sources).foreach { sp =>
            for {
              m <- """RedditLogSource\[(.+)\]""".r
                .findFirstMatchIn(Option(sp.description).getOrElse(""))
              end <- Option(sp.endOffset)
            } {
              val next = RedditLogOffset.fromJson(end).maxId + 1
              startPins.merge(s"$key@${m.group(1)}", Long.box(next),
                (a, b) => if (a >= b) a else b)
            }
          }
          // batch ids restart at 0 in the new incarnation
          lastCounted.remove(key)
        }
        // "tap:<side>" keys are the counter-parity count-only queries;
        // anything else is a mask feed. Both share the progress-pin
        // restart machinery above.
        val (stream, base, sink) = key match {
          case "tap:rc" => (side(key, rcPath), "graft-sse-tap-rc",
            (b: DataFrame, id: Long) => handleTapBatch(key, "rc", b, id))
          case "tap:rs" => (side(key, rsPath), "graft-sse-tap-rs",
            (b: DataFrame, id: Long) => handleTapBatch(key, "rs", b, id))
          case mask => (liveStream(mask), s"graft-sse-feed-$mask",
            (b: DataFrame, id: Long) => handleBatch(mask, b, id))
        }
        val name = s"$base.i$instanceId"
        val q = stream.writeStream
          .queryName(name)
          .foreachBatch(sink)
          .trigger(Trigger.ProcessingTime(s"$triggerMillis milliseconds"))
          .start()
        queries.put(key, q)
      }
    }
  }

  /** Counter-parity tap batch (`counterParity` class doc): count-only A1
    * pass over the log that `side`-excluding masks never read, bumping
    * tcs/tss for exactly those connections. One job: a collect of the
    * counting-connection tags per passing row (no shuffle, no payload),
    * tallied by [[bumpCounters]] like the feed's counter half.
    */
  private def handleTapBatch(key: String, side: String, batch: DataFrame,
      batchId: Long): Unit = {
    val snapshot = conns.values.asScala
      .filter(c => !c.closed &&
        (if (side == "rc") !maskReadsRc(c.maskKey) else !maskReadsRs(c.maskKey)))
      .toIndexedSeq
    if (snapshot.isEmpty) return
    // replay guard — same contract as handleBatch's counter half
    if (batchId <= Option(lastCounted.get(key)).map(_.toLong).getOrElse(-1L)) return
    val counted = cidTags(snapshot)(c => col("id") > lit(c.counterBound(side == "rc")) &&
      RedditOps.whitelistPred(c.spec) && RedditOps.attrPred(c.spec))
    bumpCounters(snapshot, batch
      .select(col("event"), counted.as("counted"))
      .filter(size(col("counted")) > 0)
      .collect(), 1)
    lastCounted.put(key, batchId)
  }

  /** The positions in `snapshot` of the connections for which `pred`
    * holds on a row, as one int array column (no nulls; empty when none
    * does) — positions, not connection ids, so a collected row carries
    * 4 bytes per tagged connection.
    */
  private def cidTags(snapshot: IndexedSeq[Connection])(pred: Connection => Column): Column =
    filter(
      array(snapshot.indices.map(i =>
        when(pred(snapshot(i)), lit(i)).otherwise(lit(null))): _*),
      t => t.isNotNull)

  /** A1 counter bump for one event on one connection: rc → tcs, rs →
    * tss; rr counts toward neither (the keepalive payload stays
    * {"tcs","tss","tbs"}).
    */
  private def bump(c: Connection, event: String, n: Long): Unit = event match {
    case "rc" => c.tcs.addAndGet(n)
    case "rs" => c.tss.addAndGet(n)
    case _    => ()
  }

  /** The driver-side counter pass shared by the feed and the tap: `rows`
    * is ONE collected batch with the event in column 0 and, in column
    * `tagsAt`, the [[cidTags]] positions of the connections that count
    * it; each connection's counter moves once by its tally.
    */
  private def bumpCounters(snapshot: IndexedSeq[Connection],
      rows: Array[Row], tagsAt: Int): Unit = {
    val tally = scala.collection.mutable.HashMap.empty[(Int, String), Long]
    rows.foreach { r =>
      val event = r.getString(0)
      r.getSeq[Int](tagsAt).foreach(i =>
        tally((i, event)) = tally.getOrElse((i, event), 0L) + 1L)
    }
    tally.foreach { case ((i, event), n) => bump(snapshot(i), event, n) }
  }

  /** Running shared queries (exposed for tests/metrics). */
  def activeQueries: Seq[StreamingQuery] = queries.values.asScala.toSeq

  /** Globally-ordered (O1) iterator with bounded driver memory, for
    * catch-up only: a resume's history is not capped by admission
    * control, so it cannot be collected at once the way a live
    * micro-batch is. `toLocalIterator` runs ONE SEQUENTIAL JOB PER
    * PARTITION, so draining a 32-partition `orderBy` costs 32
    * scheduling round-trips — measured 4× slower end-to-end than a
    * straight collect. Range-partitioning the sort to a few partitions
    * keeps the memory bound (driver holds one partition's rows) at a
    * handful of round-trips. Ranges ascend with partition index, so
    * sequential traversal preserves global order — the same invariant
    * orderBy-then-iterate relies on.
    */
  private def orderedRows(df: DataFrame): java.util.Iterator[Row] =
    df.repartitionByRange(4, RedditOps.emitOrder: _*)
      .sortWithinPartitions(RedditOps.emitOrder: _*)
      .toLocalIterator()

  /** Connections fully attached to the live feed — registered, mask
    * query up, suppression thresholds fixed (tests/metrics: an append
    * after this point is guaranteed to reach the connection).
    */
  def readyConnections: Int =
    conns.values.asScala.count(c => !c.closed && c.attached)

  /** Test seam: per-connection (rcBoundary, rcSuppress, rsBoundary,
    * rsSuppress) for attached connections — lets specs assert the
    * two-threshold invariants (in particular suppress == boundary for a
    * type with no resume params, the "no orphaned id window" guarantee)
    * without racing real appends.
    */
  /** Test seam: the pinned live-start id for a (query key, side path),
    * if pinned — specs assert pin − 1 ≤ boundary (pinSide scaladoc).
    */
  private[streaming] def pinnedStart(key: String, path: String): Option[Long] =
    Option(startPins.get(s"$key@$path")).map(_.toLong)

  private[streaming] def connectionThresholds: Seq[(Long, Long, Long, Long)] =
    conns.values.asScala.filter(c => c.attached && !c.closed).toSeq
      .map(c => (c.rcBoundary, c.rcSuppress, c.rsBoundary, c.rsSuppress))

  /** One micro-batch → all connections of this mask in ONE Spark job
    * (class scaladoc "Fan-out"): a single collect of the rows some
    * connection emits or counts; counting, O1 ordering and routing run
    * on the driver over that one admitted batch.
    */
  private def handleBatch(maskKey: String, batch: DataFrame, batchId: Long): Unit = {
    val snapshot = conns.values.asScala
      .filter(c => !c.closed && c.maskKey == maskKey).toIndexedSeq
    if (snapshot.isEmpty) return
    // live lower bound, inside the plan: only ids above the
    // connection's per-type boundary exist for this connection at all
    // (dedup against catch-up happens writer-side via the suppress
    // thresholds — Connection scaladoc)
    def boundaryPred(c: Connection): Column =
      (col("event") === "rc" && col("id") > lit(c.rcBoundary)) ||
        (col("event") === "rs" && col("id") > lit(c.rsBoundary)) ||
        (col("event") === "rr" && col("id") > lit(c.rrBoundary))

    // Counter lower bound per side (Connection.counterBound): a
    // RESUMED side's catch-up scan already counts everything ≤
    // suppress, so the live pass must start ABOVE suppress or the
    // (boundary, suppress] overlap is counted twice (frames dedup
    // writer-side; counters have no writer). An unresumed side has no
    // catch-up and an immutable boundary (== suppress), so the
    // boundary is the loss-free bound. Pre-attach batches see
    // suppress = MaxValue and count nothing for a resumed side —
    // exactly the rows its catch-up scan will count.
    def counterPred(c: Connection): Column =
      (col("event") === "rc" && col("id") > lit(c.counterBound(true))) ||
        (col("event") === "rs" && col("id") > lit(c.counterBound(false)))

    // A1 counters: whitelist ∧ attr, deliberately before the type
    // gate. Skipped when this batch id was already counted within
    // this incarnation — a restart re-processes the batch in flight
    // at the crash for frame delivery (at-least-once; clients dedup
    // by id); counters share that one-batch residual (lastCounted
    // scaladoc).
    // The rr feed has NO counter: the reference keepalive payload is
    // {"tcs","tss","tbs"} and stays so (counterPred's arms cover only
    // rc/rs, so an rr batch would count nothing anyway).
    val countThis = maskKey != "rr" &&
      batchId > Option(lastCounted.get(maskKey)).map(_.toLong).getOrElse(-1L)
    val emit = cidTags(snapshot)(c => boundaryPred(c) && RedditOps.pred(c.spec))
    val counted =
      if (countThis) cidTags(snapshot)(c => counterPred(c) &&
        RedditOps.whitelistPred(c.spec) && RedditOps.attrPred(c.spec))
      else typedLit(Array.empty[Int])
    // one frame column per DISTINCT payload projection, built only on
    // rows that some connection of that projection emits
    val projections = snapshot.indices.groupBy(snapshot(_).spec.filterKeys).values.toSeq
    val frames = projections.map { is =>
      when(arrays_overlap(col("emit"), typedLit(is.toArray)),
        RedditOps.sseFrame(col("id"), col("event"),
          RedditOps.projectPayload(snapshot(is.head).spec, col("json"))))
    }
    // row layout: these five by position, then one frame per projection
    val keyCols = Seq("event", "id", "created_utc", "emit", "counted")
    val frameOf = new Array[Int](snapshot.size)
    projections.zipWithIndex.foreach { case (is, k) =>
      is.foreach(frameOf(_) = keyCols.size + k)
    }
    val rows = batch
      .select(col("event"), col("id"), col("created_utc"), col("json"),
        emit.as("emit"), counted.as("counted"))
      .filter(size(col("emit")) > 0 || size(col("counted")) > 0)
      .select(keyCols.map(col) ++ frames: _*)
      .collect()

    if (countThis) {
      bumpCounters(snapshot, rows, 4)
      lastCounted.put(maskKey, batchId)
    }
    // O1 emit order (RedditOps.emitOrder: created_utc, event, id)
    val emitted = rows.filter(_.getSeq[Int](3).nonEmpty)
      .sortBy(r => (r.getLong(2), r.getString(0), r.getLong(1)))
    emitted.foreach { r =>
      r.getSeq[Int](3).foreach { i =>
        val c = snapshot(i)
        // a connection that went away since the snapshot gets nothing
        if (!c.closed && !c.queue.offer(
            SseFrame(r.getString(0), r.getLong(1), r.getString(frameOf(i))))) {
          c.dropped.incrementAndGet()
          // overflow policy (class scaladoc): disconnect beats a
          // silent gap — set the flag AND tear the socket down, so a
          // writer thread blocked in a TCP write to a stalled client
          // (the canonical slow client) unwinds too; the client
          // re-syncs via *_start_id
          if (disconnectSlowClients) {
            c.closed = true
            c.abort()
          }
        }
      }
    }
  }

  // ---------------- HTTP layer ----------------

  private def parseQuery(raw: String): Map[String, Seq[String]] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split('&').toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val k = if (i < 0) kv else kv.substring(0, i)
      val v = if (i < 0) "" else kv.substring(i + 1)
      URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  private def respondJson(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Serve the historical range for backfill/start_id from the log's
    * batch read path. The scan is bounded ABOVE by the per-type
    * suppression thresholds (`rcMax`/`rsMax`) — ids beyond them belong
    * to the live feed, and live frames at-or-below them are dropped by
    * the writer, so each id reaches the client exactly once (the
    * two-threshold hand-off, Connection scaladoc).
    * Only logs the spec actually resumes from are read at all: a type
    * with no backfill/start_id contributes neither rows nor counter
    * increments (its scan range is empty), so skipping it entirely is
    * not observable — and keeps a comments-only fleet from ever listing
    * the rs directory.
    */
  private def catchUp(c: Connection, rcMax: Long, rsMax: Long, rrMax: Long,
      write: String => Unit): Unit = {
    val spec = c.spec
    val needRc = c.needsCatchUp(true)
    val needRs = c.needsCatchUp(false)
    val needRr = c.needsCatchUpRr
    if (!needRc && !needRs && !needRr) {
      return // live-only connection: no historical scan at all
    }
    def side(p: String) = spark.read
      .format("graft.sources.RedditLogSource").option("path", p).load()
    val sides =
      (if (needRc) Seq(side(rcPath)) else Nil) ++
        (if (needRs) Seq(side(rsPath)) else Nil) ++
        (if (needRr) Seq(side(rrPath)) else Nil)
    // NOTE: within the scanned logs the A1 counters still count
    // type-suppressed events (sse.py:179-180; SseServerSpec "keepalive"
    // asserts it) — rr rows count toward neither tcs nor tss (the
    // keepalive payload stays reference-exact). Segment pruning comes
    // from the source's id-range filter pushdown; un-resumed logs are
    // not even listed (see above).
    val hist = sides.reduce(_ unionByName _)
      .filter(RedditOps.resumePred(spec, lit(rcMax), lit(rsMax), lit(rrMax)))
      .filter((col("event") === "rc" && col("id") <= lit(rcMax)) ||
        (col("event") === "rs" && col("id") <= lit(rsMax)) ||
        (col("event") === "rr" && col("id") <= lit(rrMax)))
    // ONE pass counts and emits: every counted row (whitelist ∧ attr —
    // the A1 quirk, before the type gate) comes back, with a null frame
    // where the type gate drops it (pred = type ∧ attr ∧ whitelist); rr
    // counts nowhere. The writer loop sends its first keepalive only
    // after this returns, so the counters it reports are complete.
    val rows = orderedRows(hist
      .filter(RedditOps.whitelistPred(spec) && RedditOps.attrPred(spec))
      .select(when(RedditOps.typePred(spec), RedditOps.sseFrame(col("id"),
          col("event"), RedditOps.projectPayload(spec, col("json")))).as("frame"),
        col("created_utc"), col("event"), col("id")))
    rows.forEachRemaining { r =>
      bump(c, r.getString(2), 1L)
      if (!r.isNullAt(0)) write(r.getString(0))
    }
  }

  /** Superset over the reference (which ignores the header entirely —
    * resumption is query-param only, sse.py:126-129): honor the SSE
    * `Last-Event-ID` reconnect header as an implicit start_id when it is
    * unambiguous — exactly one event type selected (rc and rs ids are
    * separate sequences sharing the frame id channel, so a both-types
    * resume point is undefined) and no explicit backfill/start_id for
    * that type (explicit params win, preserving the reference contract).
    * Keepalive frames carry their own id sequence PREFIXED with `k`
    * (writer loop), so a client reconnecting right after a keepalive
    * sends `Last-Event-ID: kN` — unparsable as a Long, ignored here, and
    * the connection degrades to a plain live connect instead of
    * replaying history from a tiny misread id (the unprefixed format's
    * worst case was a full-log flood). Unparsable values are ignored
    * rather than 400'd — a 400 would break every auto-reconnecting
    * EventSource.
    */
  private def lastEventIdResume(ex: HttpExchange, spec: ParamSpec): ParamSpec =
    Option(ex.getRequestHeaders.getFirst("Last-Event-ID"))
      .flatMap(_.trim.toLongOption) match {
      case Some(n) if spec.types == Set("rc")
          && spec.commentStartId.isEmpty && spec.commentBackfill.isEmpty =>
        spec.copy(commentStartId = Some(n + 1))
      case Some(n) if spec.types == Set("rs")
          && spec.submissionStartId.isEmpty && spec.submissionBackfill.isEmpty =>
        spec.copy(submissionStartId = Some(n + 1))
      case Some(n) if spec.types == Set("rr")
          && spec.subredditStartId.isEmpty && spec.subredditBackfill.isEmpty =>
        spec.copy(subredditStartId = Some(n + 1))
      case _ => spec
    }

  private def handleStream(ex: HttpExchange): Unit = {
    ParamSpec.parse(parseQuery(ex.getRequestURI.getRawQuery)) match {
      case Left(ApiError(status, msg)) =>
        respondJson(ex, status, s"""{"error": "$msg"}""")
      case Right(spec0) =>
        val spec = lastEventIdResume(ex, spec0)
        val ip = ex.getRemoteAddress.getAddress.getHostAddress
        // per-IP connection cap (reference edge: nginx limit_conn,
        // nginx_stream.conf:1-9); 0 = unlimited (and then the map is
        // never touched — no per-IP state accumulates)
        val capped = maxConnsPerIp > 0
        if (capped) {
          val over = ipConns.compute(ip, (_, cur) =>
            if (cur == null) new AtomicInteger(1)
            else { cur.incrementAndGet(); cur })
          if (over.get() > maxConnsPerIp) {
            releaseIp(ip)
            respondJson(ex, 429, """{"error": "connection limit exceeded"}""")
            return
          }
        }
        // Everything below runs under one try/finally: a throw anywhere
        // past the cap acquisition (RedditLog.maxId file I/O in the
        // Connection construction included) must still release the IP
        // slot, or the count leaks permanently and the IP eventually
        // sees nothing but 429s.
        var c: Connection = null
        try {
          val maskKey = maskKeyOf(spec)
          val maskHasRc = maskReadsRc(maskKey)
          val maskHasRs = maskReadsRs(maskKey)
          val maskHasRr = maskKey == "rr"
          if (maskHasRr && rrPath == null) {
            // explicit beats the reference's silent nothing: a server not
            // configured with a subreddits log cannot serve the feed.
            // (The enclosing finally releases the IP slot and closes.)
            respondJson(ex, 400, """{"error": "subreddits feed not configured"}""")
            return
          }
          def futureStart(startId: Option[Long]): Long =
            startId.map(_ - 1).getOrElse(Long.MinValue)
          // live lower bounds (B0), read BEFORE registration — see the
          // Connection scaladoc; a future start_id raises them so the
          // feed skips ids the client asked to skip
          // pin the live streams BEFORE the boundary reads below
          // (pinSide scaladoc: the stream must cover every id above the
          // boundary, so its start must be fixed at-or-before it)
          if (maskHasRc) pinSide(maskKey, rcPath)
          if (maskHasRs) pinSide(maskKey, rsPath)
          if (maskHasRr) pinSide(maskKey, rrPath)
          if (counterParity && !maskHasRc) pinSide("tap:rc", rcPath)
          if (counterParity && !maskHasRs) pinSide("tap:rs", rsPath)
          // with counterParity even an excluded type gets a real live
          // boundary: the tap counts its events from connect time on
          c = new Connection(s"c${connSeq.incrementAndGet()}", spec, maskKey, ip,
            rcBoundary =
              if (maskHasRc || counterParity)
                math.max(RedditLog.maxId(rcPath), futureStart(spec.commentStartId))
              else Long.MaxValue,
            rsBoundary =
              if (maskHasRs || counterParity)
                math.max(RedditLog.maxId(rsPath), futureStart(spec.submissionStartId))
              else Long.MaxValue,
            rrBoundary =
              if (maskHasRr)
                math.max(RedditLog.maxId(rrPath), futureStart(spec.subredditStartId))
              else Long.MaxValue)
          conns.put(c.id, c)
          val healthKeys = Seq(maskKey) ++
            (if (counterParity && !maskHasRc) Seq("tap:rc") else Nil) ++
            (if (counterParity && !maskHasRs) Seq("tap:rs") else Nil)
          healthKeys.foreach(ensureQuery)
          // Suppression thresholds (B1): for a type the client RESUMES
          // (backfill/start_id) this is the catch-up scan's upper bound —
          // a fresh maxId read AFTER registration, ≥ the boundary by id
          // monotonicity. For a type with no resume params catch-up never
          // scans, so the threshold must equal the boundary: a re-read
          // maxId here would claim ids appended between the boundary read
          // and this line for a catch-up pass that doesn't exist, and the
          // writer would drop them — delivered by neither path.
          val rcMax = if (c.needsCatchUp(true)) RedditLog.maxId(rcPath) else -1L
          val rsMax = if (c.needsCatchUp(false)) RedditLog.maxId(rsPath) else -1L
          val rrMax = if (c.needsCatchUpRr) RedditLog.maxId(rrPath) else -1L
          c.rcSuppress =
            if (c.needsCatchUp(true)) math.max(rcMax, futureStart(spec.commentStartId))
            else c.rcBoundary
          c.rsSuppress =
            if (c.needsCatchUp(false)) math.max(rsMax, futureStart(spec.submissionStartId))
            else c.rsBoundary
          c.rrSuppress =
            if (c.needsCatchUpRr) math.max(rrMax, futureStart(spec.subredditStartId))
            else c.rrBoundary
          c.abort = () => try ex.close() catch { case _: Exception => () }
          c.attached = true

          ex.getResponseHeaders.set("Content-Type", "text/event-stream")
          ex.getResponseHeaders.set("Cache-Control", "no-cache")
          val gzip = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
            .exists(_.toLowerCase.contains("gzip"))
          if (gzip) ex.getResponseHeaders.set("Content-Encoding", "gzip")
          ex.sendResponseHeaders(200, 0)
          // syncFlush so each frame's deflate block is pushed through on
          // flush() — compression without buffering-induced latency
          // (the reference gets this from nginx: gzip on +
          // X-Accel-Buffering no, nginx_stream.conf:11-15, 27)
          val out =
            if (gzip) new GZIPOutputStream(ex.getResponseBody, true)
            else ex.getResponseBody
          def write(frame: String): Unit = {
            val bytes = frame.getBytes(StandardCharsets.UTF_8)
            out.write(bytes); out.flush()
            c.tbs.addAndGet(bytes.length)
          }
          var keepAliveId = 0L
          var lastKeepAlive = System.currentTimeMillis()
          var lastWrite = System.currentTimeMillis()
          var lastHealth = System.currentTimeMillis()
          val healthMillis = if (probeMillis > 0) probeMillis else keepAliveMillis
          try {
            catchUp(c, rcMax, rsMax, rrMax, write)
            while (!c.closed) {
              val frame = c.queue.poll(100, TimeUnit.MILLISECONDS)
              if (frame != null) {
                // drop live frames at-or-below the suppression
                // threshold: those ids were served (or deliberately
                // skipped) by catch-up — the dedup half of the
                // two-threshold hand-off (Connection scaladoc)
                val suppressed =
                  (frame.event == "rc" && frame.id <= c.rcSuppress) ||
                    (frame.event == "rs" && frame.id <= c.rsSuppress) ||
                    (frame.event == "rr" && frame.id <= c.rrSuppress)
                if (!suppressed) { write(frame.text); lastWrite = System.currentTimeMillis() }
              }
              val now = System.currentTimeMillis()
              if (now - lastHealth >= healthMillis) {
                // health tick: restart a dead mask/tap query while
                // clients are still attached (ensureQuery scaladoc) —
                // without it a failed query is only noticed by the NEXT
                // connection and existing clients blackhole silently
                lastHealth = now
                healthKeys.foreach(ensureQuery)
              }
              if (now - lastKeepAlive >= keepAliveMillis) {
                keepAliveId += 1
                lastKeepAlive = now
                lastWrite = now
                // keepalive ids are PREFIXED ("k1", "k2", …): they are an
                // independent sequence sharing the SSE id channel with
                // data ids, and an unprefixed small integer arriving back
                // via Last-Event-ID would be indistinguishable from a
                // data id and replay essentially the whole log
                // (lastEventIdResume scaladoc). Legal SSE — the id field
                // is an arbitrary string.
                write(s"id: k$keepAliveId\nevent: keepalive\ndata: " +
                  s"""{"tcs": ${c.tcs.get()}, "tss": ${c.tss.get()}, "tbs": ${c.tbs.get()}}\n\n""")
              } else if (probeMillis > 0 && now - lastWrite >= probeMillis) {
                // liveness probe decoupled from the keepalive cadence:
                // a dead client is only detected by a FAILED WRITE, so
                // with a long keepAliveMillis and no data its per-IP
                // slot could be held for minutes. An SSE comment line
                // (":" prefix) is protocol-invisible to clients and
                // bounds detection at ~probeMillis. Its bytes count
                // toward tbs — "bytes actually written" (A1).
                lastWrite = now
                // blank-line terminated: an empty-data dispatch fires no
                // client event (SSE spec) but keeps naive frame
                // splitters from gluing the comment onto the next frame
                write(": probe\n\n")
              }
            }
          } catch {
            case _: java.io.IOException => // client went away
          }
        } finally {
          if (c != null) { c.closed = true; conns.remove(c.id) }
          if (capped) releaseIp(ip)
          ex.close()
        }
    }
  }

  private val testPage =
    """<html><body><script>
      |var es = new EventSource('/');
      |es.onmessage = function(e) { document.body.append(e.data + '\n'); };
      |</script>streaming…</body></html>""".stripMargin

  // ---------------- lifecycle ----------------

  def start(): SseServer = {
    // foreachBatch queries run on ephemeral temp checkpoints (restart
    // recovery is progress-pin based — restart-state scaladoc). Spark
    // only deletes a temp checkpoint when the query stops WITHOUT error,
    // so a persistently-failing query restarted by the health tick would
    // leak one temp dir per incarnation without this.
    spark.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    NioCheckpointFileManager.install(spark)
    // live queries start lazily per type mask on first connection — a
    // server whose fleet never asks for submissions never touches rs
    http = HttpServer.create(new InetSocketAddress(port), 0)
    http.setExecutor(Executors.newCachedThreadPool())
    http.createContext("/test", (ex: HttpExchange) => {
      val bytes = testPage.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    http.createContext("/", (ex: HttpExchange) => handleStream(ex))
    http.start()
    this
  }

  def stop(): Unit = {
    stopping = true
    conns.values.asScala.foreach(_.closed = true)
    // under queryLock so an in-flight ensureQuery either finished its
    // start (and is stopped here) or observes `stopping` and bails
    queryLock.synchronized {
      queries.values.asScala.foreach(_.stop())
      queries.clear()
    }
    if (http != null) http.stop(0)
  }
}

object SseServer {
  private val instanceSeq = new java.util.concurrent.atomic.AtomicLong()
}
