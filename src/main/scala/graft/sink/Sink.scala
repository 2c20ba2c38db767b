package graft.sink

import graft.model.Execution

/** Sink layer (SURVEY §2.4): per-destination PAYLOAD RENDERERS — the
  * reference's observable behavior (its tests assert exact request bodies) —
  * plus a pluggable [[Transport]].
  *
  * Execution model (Spark-first): the upload stage is the only action on a
  * branch plan. Rows reach the sink via `mapPartitions`; each partition
  * groups rows into `batchSize` batches, renders requests, sends them, and
  * emits per-row outcomes into a pinned RDD — the job that pins them also
  * returns the error report, and the transactional writeback (success-only
  * keys) reads the pin, with no driver-side row materialization.
  */

/** One rendered API request. `rowIdx` names the batch-row indices this
  * request carries (per-row requests carry one; job-style requests carry
  * all), so transport outcomes map back to rows for success-filtered
  * writeback (reference returns a Batch of successfully-uploaded rows, e.g.
  * `google_ads_offline_conversions_uploader.py:154-161`).
  */
final case class RenderedRequest(
    kind: String,            // e.g. "upload_click_conversions", "create_job"
    url: String,             // endpoint or service descriptor
    body: String,            // rendered JSON / encoded payload
    rowIdx: Seq[Int])

/** Result of sending one request: `rejected` holds positions WITHIN
  * `rowIdx` that the endpoint refused (partial failure); a transport-level
  * `error` fails every carried row.
  */
final case class TransportResult(
    rejected: Set[Int] = Set.empty,
    error: Option[String] = None)

trait Transport extends Serializable {
  def send(execution: Execution, req: RenderedRequest): TransportResult
}

object Transport {
  val MaxRetries = 3

  /** Reference `safe_call_api` (`uploaders/utils.py:91-104`): up to 3
    * attempts; the terminal failure is surfaced as a TransportResult error
    * (the reference swallows it silently — we keep the row-failure visible
    * so exit-code semantics hold).
    */
  def sendWithRetry(t: Transport, execution: Execution, req: RenderedRequest): TransportResult = {
    var attempt = 1
    var last: TransportResult = TransportResult()
    while (attempt <= MaxRetries) {
      try {
        return t.send(execution, req)
      } catch {
        // an interrupt means Spark is KILLING this task (job cancel,
        // speculative-kill) — re-POSTing a non-idempotent upload from a
        // task that should be dead would duplicate conversions; restore
        // the flag and rethrow instead of "retrying"
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); throw e
        case e: Exception =>
          last = TransportResult(error = Some(s"Error uploading data: ${e.getMessage}"))
          attempt += 1
      }
    }
    last
  }
}

/** Offline transport: accepts everything and appends each request as one
  * JSON line under `dir/<executionKey>/` — executor-safe (unique file per
  * partition task), assertable by tests and inspectable by operators.
  */
final case class FileTransport(dir: String) extends Transport {
  override def send(execution: Execution, req: RenderedRequest): TransportResult = {
    val safeKey = execution.key.replaceAll("[^A-Za-z0-9._-]", "_")
    val d = java.nio.file.Paths.get(dir, safeKey)
    java.nio.file.Files.createDirectories(d)
    val line = Json.obj(
      "kind" -> JStr(req.kind),
      "url" -> JStr(req.url),
      "body" -> JStr(req.body)).render + "\n"
    val f = d.resolve(s"part-${java.util.UUID.randomUUID()}.jsonl")
    java.nio.file.Files.write(f, line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    TransportResult()
  }
}

/** Live HTTP transport over `java.net.http` (JDK built-in — no added
  * dependencies): POSTs each rendered request's body to its URL. Status
  * mapping mirrors the reference uploaders' error handling
  * (`google_analytics_4_measurement_protocol.py:97-139` logs non-2xx;
  * `safe_call_api` retries raised exceptions, `uploaders/utils.py:91-104`):
  *  - 2xx → success for the carried rows;
  *  - 5xx → thrown, so [[Transport.sendWithRetry]] retries up to 3 times;
  *  - any other status → permanent failure for the carried rows.
  * The HttpClient is built lazily per JVM (`@transient` — each executor
  * constructs its own; the case class itself stays serializable).
  *
  * @param rewriteUrl maps the renderer's endpoint to the live target —
  *        identity in production, a mock-server address in tests, or an
  *        API-base injection for staging.
  * @param tokenProvider when set, stamps `Authorization: Bearer <token>`
  *        from the OAuth refresh flow (overriding any static Authorization
  *        header) and, on a 401, invalidates + refreshes once and replays
  *        the request — the transparent-refresh behavior the reference gets
  *        from `google.oauth2.credentials.Credentials`.
  * @param adapt request-level mapping applied BEFORE rewriteUrl: rewrites
  *        the renderer's service descriptor to its REST form and names
  *        extra per-request headers (see [[GoogleRest.adapt]] — e.g.
  *        `login-customer-id` for `googleads://` requests). An adapt
  *        failure (unmappable descriptor, unresolvable DV360 audience) is
  *        a per-request transport error for the carried rows, retried by
  *        [[Transport.sendWithRetry]] like any thrown send failure.
  */
final case class HttpTransport(
    headers: Map[String, String] = Map("Content-Type" -> "application/json"),
    timeoutMs: Long = 15000L,
    rewriteUrl: String => String = identity[String] _,
    tokenProvider: Option[graft.auth.OAuthTokenProvider] = None,
    adapt: RenderedRequest => (RenderedRequest, Map[String, String]) =
      (r: RenderedRequest) => (r, Map.empty[String, String])) extends Transport {

  @transient private lazy val client: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
      .build()

  private def post(req: RenderedRequest, extra: Map[String, String],
      token: Option[String]): java.net.http.HttpResponse[String] = {
    val builder = java.net.http.HttpRequest
      .newBuilder(java.net.URI.create(rewriteUrl(req.url)))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(req.body))
    (headers ++ extra ++ token.map(t => "Authorization" -> s"Bearer $t"))
      .foreach { case (k, v) => builder.header(k, v) }
    client.send(builder.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
  }

  override def send(execution: Execution, req: RenderedRequest): TransportResult = {
    val (mapped, extra) = adapt(req)
    val token = tokenProvider.flatMap(_.accessToken())
    var resp = post(mapped, extra, token)
    // expired/revoked access token: refresh ONCE and replay; any further
    // 401 is a real authorization failure for the carried rows
    if (resp.statusCode() == 401 && token.isDefined &&
        tokenProvider.exists(_.canRefresh)) {
      tokenProvider.foreach(_.invalidate(token.get))
      resp = post(mapped, extra, tokenProvider.flatMap(_.accessToken()))
    }
    val code = resp.statusCode()
    if (code / 100 == 2) TransportResult()
    else if (code >= 500)
      throw new java.io.IOException(s"HTTP $code: ${resp.body().take(200)}")
    else TransportResult(
      error = Some(s"Error uploading data: HTTP $code: ${resp.body().take(200)}"))
  }
}

/** Test transport failing requests per predicate; records sends in a static
  * buffer (single-JVM local mode — tests only).
  */
object RecordingTransport {
  final case class Sent(executionKey: String, req: RenderedRequest)
  val sent = new java.util.concurrent.ConcurrentLinkedQueue[Sent]()
  @volatile var failWhen: (Execution, RenderedRequest) => Option[String] = (_, _) => None
  def reset(): Unit = { sent.clear(); failWhen = (_, _) => None }
}

final case class RecordingTransport() extends Transport {
  override def send(execution: Execution, req: RenderedRequest): TransportResult = {
    RecordingTransport.sent.add(RecordingTransport.Sent(execution.key, req))
    RecordingTransport.failWhen(execution, req) match {
      case Some(msg) => TransportResult(error = Some(msg))
      case None      => TransportResult()
    }
  }
}

/** Renders the exact request payloads of one destination branch.
  *
  * `render` sees the batch rows as ordered field maps (insertion order =
  * pruned schema order, like the reference's row dicts) plus the 1-based
  * global batch iteration (drives REPLACE `remove_all` on iteration 1,
  * `customer_match/abstract_uploader.py:244-249`, and DV360's skip-edit on
  * the creating batch, `display_video/.../abstract_uploader.py:188-206`).
  * A renderer that stamps a time takes the run's `nowMicros` in place of
  * the reference's wall-clock reads, so its payloads are deterministic.
  */
trait PayloadRenderer extends Serializable {
  def render(execution: Execution, rows: Seq[Map[String, Any]], iteration: Long): Seq[RenderedRequest]
}
