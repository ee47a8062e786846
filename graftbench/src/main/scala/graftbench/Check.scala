package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.query._

/** One result page reduced to what correctness compares. */
case class Page(ids: Seq[Long], scores: Seq[Double], total: Long)

object Page {
  def of(r: SearchResult): Page = Page(r.hits.map(_.docId), r.hits.map(_.score), r.totalHits)
}

/** Answer comparisons. Scores agree within 1e-9 (relative above 1). */
object Check {
  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** None when equal, else what differs. */
  def diff(got: Page, exp: Page): Option[String] =
    if (got.ids != exp.ids) Some(s"docIds ${got.ids.take(5)} vs ${exp.ids.take(5)}")
    else if (got.scores.zip(exp.scores).exists { case (a, b) => !close(a, b) })
      Some(s"scores ${got.scores.take(3)} vs ${exp.scores.take(3)}")
    else if (got.total != exp.total) Some(s"total ${got.total} vs ${exp.total}")
    else None

  /** The engine's page for `q` against the full-scan oracle over `docstore`:
    * same docIds, same scores, and the same total once capped at
    * `trackTotalHits`.
    */
  def oracle(spark: SparkSession, docstore: DataFrame, q: QuerySpec, got: SearchResult): Option[String] = {
    val (page, total) = NaiveBm25.search(spark, docstore, q)
    diff(Page.of(got), Page(page.map(_.docId), page.map(_.score),
      math.min(total, q.trackTotalHits))).map(d => s"oracle: $d for $q")
  }

  /** The two section pages of a POST /api/search response body. */
  def httpPages(body: String): Seq[Page] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val formats: Formats = DefaultFormats
    val j = parse(body)
    Seq("pravachan_results", "granth_results").map { k =>
      val s = j \ k
      val rs = (s \ "results").children
      Page(rs.map(r => (r \ "document_id").extract[Long]),
        rs.map(r => (r \ "score").extract[Double]), (s \ "total_hits").extract[Long])
    }
  }

  /** The HTTP response for `q` against the node's own pages for the two
    * queries the handler runs.
    */
  def httpVsNode(body: String, q: QuerySpec, node: SearchNode): Option[String] = {
    val got = httpPages(body)
    Gen.httpSpecs(q).zip(got).iterator.flatMap { case (spec, page) =>
      diff(page, Page.of(node.search(spec))).map(d => s"http: $d for $spec")
    }.toSeq.headOption
  }
}

/** Blocking HTTP client over loopback with a kept-alive connection; one
  * per client thread.
  */
final class Http(host: String, port: Int) {
  private val url = new java.net.URL(s"http://$host:$port/api/search")

  def search(body: String): (Int, String) = {
    val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    val out = c.getOutputStream
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val text = if (in == null) "" else
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    (code, text)
  }
}

/** Serving node handed to the HTTP front: delegates every call, and while
  * the tracer is on records each `search` as a span of the HTTP request in
  * flight for that query text (`inflight`: lang + query → request number).
  */
final class TracedNode(inner: SearchNode, tracer: Tracer,
    inflight: ConcurrentHashMap[String, java.lang.Long]) extends SearchNode {
  def search(q: QuerySpec): SearchResult =
    if (!tracer.on) inner.search(q)
    else {
      val req = Option(inflight.get(TracedNode.key(q.lang, q.query))).map(_.longValue).getOrElse(-1L)
      tracer.span("node.search", "http.request", req)(inner.search(q))
    }
  def facetMetadata(fields: Set[String], contentKey: String): Map[String, Map[String, Seq[String]]] =
    inner.facetMetadata(fields, contentKey)
  def context(chunkId: Long): Option[(DocPayload, Option[DocPayload], Option[DocPayload])] =
    inner.context(chunkId)
  def docPayloads(ids: Seq[Long]): Map[Long, DocPayload] = inner.docPayloads(ids)
  override def pinned: SearchNode = {
    val p = inner.pinned
    if (p eq inner) this else new TracedNode(p, tracer, inflight)
  }
}

object TracedNode {
  def key(lang: String, query: String): String = lang + "\u0000" + query
}
