package graft.sources

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentHashMap

/** Production HTTP adapter for [[PollSource]] — the live-endpoint leg of
  * the reference's poll-loop service (/root/reference/services/
  * data-ingestion/app/ingest.py:60-121, which GETs a candle REST API once
  * a minute and forwards each response payload). Built on the JDK's
  * `java.net.http.HttpClient`; no extra dependency.
  *
  * The endpoint must expose the cursored feed contract (the reference's
  * `from`/`to` time-window params are the same idea, but index cursors —
  * not wall-clock — are what make checkpoint replay exact):
  *
  *   - `GET url?op=end` → text body: the frontier (count of records
  *     published so far);
  *   - `GET url?op=fetch&since=N&max=M` → newline-delimited record
  *     payloads for cursors `[N, min(N+M, end))`, in cursor order.
  *
  * Records are one line each (JSONL — same framing as
  * [[JsonlFeedPoller]]); payloads therefore must not contain raw
  * newlines. Replay contract: a cursor range must re-fetch identically
  * while retained, which is what makes restart-from-checkpoint
  * exactly-once (the offset log stores cursors, never data).
  *
  * Fetches happen executor-side (the poller is serialized into each
  * [[PollInputPartition]]); the driver only probes `op=end` once per
  * trigger. Transient failures throw — Spark's task retry (fetch) or
  * query restart (frontier probe) re-runs them; a bounded in-place retry
  * (`httpRetries`, default 2) absorbs connection blips without failing
  * the task first.
  *
  * Options: `url` (required), `httpTimeoutMs` (default 10000),
  * `httpRetries` (default 2).
  */
class HttpPoller(options: java.util.Map[String, String])
    extends PollSource.Poller {

  private val url: String = {
    val u = options.get("url")
    require(u != null, "HttpPoller requires option 'url'")
    u
  }
  private val timeoutMs: Long =
    Option(options.get("httptimeoutms"))
      .orElse(Option(options.get("httpTimeoutMs")))
      .map(_.toLong).getOrElse(10000L)
  private val retries: Int =
    Option(options.get("httpretries"))
      .orElse(Option(options.get("httpRetries")))
      .map(_.toInt).getOrElse(2)

  private def get(query: String): String = {
    val req = HttpRequest.newBuilder(URI.create(s"$url?$query"))
      .timeout(Duration.ofMillis(timeoutMs)).GET().build()
    var attempt = 0
    while (true) {
      val resp =
        try HttpPoller.client(timeoutMs).send(req, HttpResponse.BodyHandlers.ofString())
        catch {
          // transport-level blip (connect refused/timed out): retry here
          case e: IOException if attempt < retries =>
            attempt += 1; Thread.sleep(50L * attempt); null
        }
      if (resp != null) {
        resp.statusCode() match {
          case 200 => return resp.body()
          // 5xx = the endpoint itself hiccuped: transient, retry
          case s if s >= 500 && attempt < retries =>
            attempt += 1; Thread.sleep(50L * attempt)
          // 3xx/4xx (and exhausted 5xx) = deterministic config/endpoint
          // error: fail fast, don't mask it behind identical retries
          case s => throw new IOException(s"HTTP $s from $url?$query")
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def end(): Long = get("op=end").trim.toLong

  override def fetch(since: Long, max: Int): Seq[String] = {
    val body = get(s"op=fetch&since=$since&max=$max")
    // Cursor alignment contract: record i of the response IS cursor
    // since+i, so interior empty lines must be kept (they are that
    // cursor's — empty — payload; dropping them would misattribute
    // every later cursor and break checkpoint replay). Only a single
    // trailing newline is a framing artifact, not a record.
    val trimmed = if (body.endsWith("\n")) body.dropRight(1) else body
    if (trimmed.isEmpty) Seq.empty else trimmed.split("\n", -1).toSeq
  }
}

object HttpPoller {
  private val clients = new ConcurrentHashMap[java.lang.Long, HttpClient]()

  /** One client (one selector thread and connection pool) per connect
    * timeout in a JVM, shared by every deserialized poller: `HttpClient`
    * is thread-safe but not serializable, and a client per task copy
    * leaves a selector thread per copy.
    */
  private def client(connectTimeoutMs: Long): HttpClient =
    clients.computeIfAbsent(connectTimeoutMs,
      t => HttpClient.newBuilder().connectTimeout(Duration.ofMillis(t)).build())
}
