package layerbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** One log envelope, in the column order of the program's log schema. Also
  * the element type of the generator's `MemoryStream`s.
  */
final case class Env(id: Long, event: String, created_utc: Long,
    author: String, subreddit: String, domain: String, over_18: String,
    is_self: String, json: String)

/** Seeded envelope generator. The same seed always yields the same
  * envelopes; nothing in it depends on timing.
  */
object Gen {
  val Authors: Array[String] = Array.tabulate(60)(i => f"user$i%02d")
  val Subreddits: Array[String] = Array.tabulate(24)(i => s"sub$i")
  private val Domains = Array("example.com", "Site1.com", "news.org", "IMG.host", "self.sub")
  private val Over18 = Array("true", "True", "false", "False", "FALSE")
  private val IsSelf = Array("true", "false", "False")
  private val Words = ("stream spark log segment batch frame query socket event " +
    "reddit comment post thread vote karma mod news pic link text code data " +
    "fast slow big small first last new old").split(' ')
  private val mapper = new ObjectMapper()

  /** Skewed pick: low indices are more frequent, like real author activity. */
  private def skewed(rng: SplittableRandom, n: Int): Int = {
    val u = rng.nextDouble()
    math.min(n - 1, (n * u * u).toInt)
  }

  private def words(rng: SplittableRandom, lo: Int, hi: Int): String =
    Seq.fill(lo + rng.nextInt(hi - lo + 1))(Words(rng.nextInt(Words.length))).mkString(" ")

  def envelope(rng: SplittableRandom, id: Long, event: String, createdUtc: Long): Env = {
    val author = Authors(skewed(rng, Authors.length))
    val sub = Subreddits(rng.nextInt(Subreddits.length))
    val o: ObjectNode = mapper.createObjectNode()
    o.put("id", id); o.put("author", author); o.put("subreddit", sub)
    o.put("created_utc", createdUtc); o.put("score", rng.nextInt(500) - 20)
    if (event == "rc") {
      o.put("body", words(rng, 4, 24))
      Env(id, event, createdUtc, author, sub, null, null, null, mapper.writeValueAsString(o))
    } else {
      val domain = if (rng.nextInt(8) == 0) null else Domains(rng.nextInt(Domains.length))
      val over18 = Over18(rng.nextInt(Over18.length))
      val isSelf = IsSelf(rng.nextInt(IsSelf.length))
      if (domain != null) o.put("domain", domain)
      o.put("over_18", over18.equalsIgnoreCase("true"))
      o.put("is_self", isSelf.equalsIgnoreCase("true"))
      o.put("title", words(rng, 3, 10))
      Env(id, event, createdUtc, author, sub, domain, over18, isSelf,
        mapper.writeValueAsString(o))
    }
  }

  /** Log rows in the shape `RedditLog.writeSegment` takes. */
  def row(e: Env): Map[String, Any] = Map(
    "id" -> e.id, "event" -> e.event, "created_utc" -> e.created_utc,
    "author" -> e.author, "subreddit" -> e.subreddit, "domain" -> e.domain,
    "over_18" -> e.over_18, "is_self" -> e.is_self, "json" -> e.json)

  /** `n` envelopes of one type with ids `firstId` onwards; event time
    * advances `perSecond` ids per second from `baseUtc`.
    */
  def history(seed: Long, event: String, firstId: Long, n: Int, baseUtc: Long,
      perSecond: Int): Array[Env] = {
    val rng = new SplittableRandom(seed * 1000003L + event.hashCode)
    Array.tabulate(n) { i =>
      val id = firstId + i
      envelope(rng, id, event, baseUtc + (id - firstId) / perSecond)
    }
  }
}

/** A client's query string and the benchmark's own model of what the
  * server must send for it. The model is written from the API's documented
  * semantics, independently of the program's parser and predicate
  * compiler; the self-test holds the two to agreement.
  */
final case class ClientSpec(params: (String, String)*) {
  private def first(k: String): Option[String] = params.collectFirst { case (`k`, v) => v }
  private def multi(k: String): Set[String] =
    params.collect { case (`k`, v) => v.split(',').map(_.trim).filter(_.nonEmpty) }.flatten.toSet

  val types: Set[String] = first("type") match {
    case None => Set("rc", "rs")
    case Some(t) if t.startsWith("comment") || t == "rc" => Set("rc")
    case Some(t) if t.startsWith("submission") || t == "rs" => Set("rs")
    case Some(_) => Set.empty
  }
  private val authors = multi("author")
  private val subreddits = multi("subreddit")
  private val domains: Set[String] = first("domain").toSeq
    .flatMap(_.split(',')).map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
  private val over18 = first("over_18").map(_.toLowerCase)
  private val isSelf = first("is_self").map(_.toLowerCase)
  val filterKeys: Seq[String] =
    first("filter").toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  def matches(e: Env): Boolean = {
    val typeOk = types.contains(e.event)
    val attrOk = e.event != "rs" || (
      over18.forall(v => e.over_18 != null && e.over_18.toLowerCase == v) &&
        isSelf.forall(v => e.is_self != null && e.is_self.toLowerCase == v))
    val listed = authors.nonEmpty || subreddits.nonEmpty || domains.nonEmpty
    val whiteOk = !listed || authors.contains(e.author) || subreddits.contains(e.subreddit) ||
      (e.domain != null && domains.contains(e.domain.toLowerCase))
    typeOk && attrOk && whiteOk
  }

  /** The frame's data line for an envelope this spec matches. */
  def data(e: Env): String =
    if (filterKeys.isEmpty) e.json
    else {
      val m = ClientSpec.mapper
      val src = m.readTree(e.json)
      val out = m.createObjectNode()
      val keep = filterKeys.toSet
      val it = src.fields()
      while (it.hasNext) {
        val f = it.next()
        if (keep(f.getKey)) out.set[com.fasterxml.jackson.databind.JsonNode](f.getKey, f.getValue)
      }
      m.writeValueAsString(out)
    }

  def query: String = params.map { case (k, v) =>
    URLEncoder.encode(k, StandardCharsets.UTF_8) + "=" + URLEncoder.encode(v, StandardCharsets.UTF_8)
  }.mkString("&")

  def paramMap: Map[String, Seq[String]] = params.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
}

object ClientSpec {
  private val mapper = new ObjectMapper()

  /** Emit order within one batch: event time, comments before submissions,
    * then id.
    */
  val emitOrdering: Ordering[Env] =
    Ordering.by((e: Env) => (e.created_utc, e.event, e.id))
}
