package graft.etl

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentHashMap

/** Production HTTP transports for the fetch operators (S3/S4/S8): the
  * `java.net.http`-backed implementations of [[Transport]] and
  * [[BinaryTransport]], carrying the reference's operational policy:
  *
  *  - retry with exponential backoff — 3 attempts, 1s → 2s → 4s capped
  *    at 10s (config/limits.yaml:125-129), honoring a server-sent
  *    `Retry-After: <seconds>` (clamped to [0, cap] — a malformed
  *    negative value must not turn a retryable 429 into a crash);
  *  - retry only what can heal: I/O errors, HTTP 429 and 5xx. Other
  *    4xx fail immediately (a 404 never gets better);
  *  - per-HOST politeness floor between consecutive requests
  *    (config/limits.yaml:105 request_interval_seconds), enforced
  *    JVM-wide so concurrent tasks in one executor share the budget.
  *    Reader-endpoint calls additionally respect the hosted reader's
  *    own rate limit (security.yaml:117 max_requests_per_minute: 20 →
  *    3 s floor on the reader host) while the ORIGIN host keeps its
  *    courtesy floor — the reader fetches the origin on our behalf.
  *    Cluster posture: [[Sources.fetch]]/[[Sources.fetchBinary]] place
  *    each host's requests into one task ([[Sources.byHost]]), so the
  *    JVM-wide floor here is cluster-global by construction;
  *  - force-local security routing (config/security.yaml:124-141,
  *    mirrored from [[Urls.engineFor]] — substring host match, so
  *    subdomains of an internal domain are internal too): an
  *    internal/sensitive/private url is NEVER sent to the external
  *    reader endpoint, even if the row arrives marked engine=jina — it
  *    downgrades to a direct local fetch, exactly the reference's
  *    "force_local overrides --engine" rule;
  *  - redirects are followed MANUALLY (≤5 hops) with the same guard on
  *    every hop: a fetch that started outside force-local space may not
  *    be redirected INTO it (the SSRF hole Redirect.NORMAL would open —
  *    a public server 302-ing the fetcher at 10.x/169.254 metadata).
  *
  * The classes hold only primitive config; the HttpClient is built in
  * `open()` per partition (executor-side) and never serialized — the
  * lifecycle [[Sources.fetch]]/[[Sources.fetchBinary]] already manage.
  * Engine semantics (scripts/extract-jina.sh:1-93): engine=jina wraps
  * the url in the hosted-reader endpoint (`{url}` placeholder);
  * playwright/trafilatura fetch the url directly — markdown conversion
  * (S5) is a downstream relational stage ([[HtmlExtract]]), not a
  * transport concern.
  */
object HttpFetch {

  /** host → earliest next allowed request, shared across the JVM.
    * Bounded: once the map tracks more than [[MaxTrackedHosts]] hosts,
    * expired deadlines are evicted (a million-host frontier must not
    * leak an entry per host forever; an evicted-while-awaited entry
    * just costs one politeness interval in the worst case). Values are
    * boxed so `putIfAbsent` can report an absent key as null.
    */
  private val nextAllowed = new ConcurrentHashMap[String, java.lang.Long]()
  private val MaxTrackedHosts = 8192

  final class HttpStatusException(val code: Int)
    extends java.io.IOException(s"http_$code")

  final class RedirectRefusedException(msg: String)
    extends java.io.IOException(msg)

  def hostOf(url: String): String =
    try Option(URI.create(url).getHost).getOrElse("")
    catch { case _: IllegalArgumentException => "" }

  /** Address-level private-space check, shared with the HTTP client's
    * own parser: `InetAddress` literal-parses every numeric form the
    * client itself would connect to (dotted quad, shortened/dword IPv4,
    * bracketed IPv6, IPv4-mapped IPv6) — so there is no encoding the
    * guard reads differently from the socket layer — and resolves
    * hostnames, so a public NAME whose DNS answer points into private
    * space (rebinding's first resolution) is caught too. Guarded space
    * = loopback, any-local (0.0.0.0 / ::), link-local (169.254.0.0/16,
    * fe80::/10), site-local (RFC-1918, fec0::/10) and IPv6 unique-local
    * (fc00::/7, which InetAddress has no predicate for).
    *
    * Returns None when the host is empty or does not resolve — the
    * fetch itself would fail at connect with the same resolver, so an
    * unresolvable target is refused by reality, not by the guard.
    * Residual TOCTOU: an actively-rebinding name can still answer
    * differently at connect time; pinning would need a custom resolver
    * wired into the client, which java.net.http does not expose.
    */
  private[graft] def privateAddress(host: String): Option[Boolean] =
    if (host.isEmpty) None
    else try {
      Some(java.net.InetAddress.getAllByName(host).exists { a =>
        a.isLoopbackAddress || a.isAnyLocalAddress || a.isLinkLocalAddress ||
          a.isSiteLocalAddress ||
          (a.getAddress.length == 16 && (a.getAddress()(0) & 0xfe) == 0xfc)
      })
    } catch {
      case _: java.io.IOException | _: SecurityException => None
    }

  /** Force-local rule — the JVM-side twin of [[Urls.engineFor]]'s first
    * two branches plus the always-on private-address guard (loopback,
    * RFC-1918, link-local, ULA, .internal/.local — see
    * [[privateAddress]]) from config/security.yaml:10-37.
    * Host matching is UNANCHORED, mirroring engineFor's `rlike`:
    * `docs.machinery.example.com` is as internal as the apex. Textual
    * rules short-circuit first so internal names never touch the
    * resolver.
    */
  def forceLocal(url: String): Boolean = {
    val host = hostOf(url)
    Urls.InternalPattern.r.findFirstIn(host).isDefined ||
      Urls.SensitivePattern.r.findFirstIn(url).isDefined ||
      host == "localhost" || host.endsWith(".internal") || host.endsWith(".local") ||
      privateAddress(host).getOrElse(false)
  }

  /** Redirect-hop policy for a fetch that began at `origin`: an
    * already-local fetch may follow anywhere, but a fetch that started
    * OUTSIDE force-local space may never be redirected into it.
    */
  def hopGuard(origin: String): String => Boolean =
    if (forceLocal(origin)) (_: String) => true
    else (target: String) => !forceLocal(target)

  /** Block until `host`'s politeness window opens, then reserve the next
    * window. CAS loop instead of a lock: writers for DIFFERENT hosts
    * never contend, and a lost race for the same host just re-reads the
    * later deadline.
    */
  private def awaitPoliteness(host: String, intervalMs: Long): Unit = {
    if (intervalMs <= 0 || host.isEmpty) return
    if (nextAllowed.size() > MaxTrackedHosts) {
      val cutoff = System.currentTimeMillis()
      nextAllowed.entrySet().removeIf(e => e.getValue < cutoff)
    }
    var done = false
    while (!done) {
      val now = System.currentTimeMillis()
      val prev: Long = nextAllowed.getOrDefault(host, 0L)
      if (now >= prev) {
        done = nextAllowed.replace(host, prev, now + intervalMs) ||
          (prev == 0L && (nextAllowed.putIfAbsent(host, now + intervalMs) eq null))
      } else Thread.sleep(prev - now)
    }
  }

  /** GET with the retry/backoff/politeness/redirect policy. Returns the
    * raw body bytes of the first successful (2xx) response; throws the
    * last failure once attempts are exhausted, on a non-retryable
    * status, or on a guarded/oversized redirect chain.
    *
    * `extraFloor` is a second (host, interval) politeness key awaited
    * alongside the target's own — the origin host when the target is a
    * hosted-reader wrap. `allowHop` vets every redirect target.
    */
  def get(client: HttpClient, url: String, timeoutMs: Long,
      maxAttempts: Int, initialDelayMs: Long, backoffMultiplier: Int,
      maxDelayMs: Long, perHostIntervalMs: Long,
      extraFloor: Option[(String, Long)] = None,
      allowHop: String => Boolean = _ => true): Array[Byte] = {
    var current = url
    var hops = 0
    var attempt = 1
    var delay = initialDelayMs
    while (true) {
      awaitPoliteness(hostOf(current), perHostIntervalMs)
      extraFloor.foreach { case (h, iv) =>
        if (h != hostOf(current)) awaitPoliteness(h, iv)
      }
      val req = HttpRequest.newBuilder(URI.create(current))
        .timeout(Duration.ofMillis(timeoutMs))
        .header("User-Agent", "graft-fetch/1.0")
        .GET().build()
      val outcome: Either[(Throwable, Option[Long]), Either[String, Array[Byte]]] =
        try {
          val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
          val code = resp.statusCode()
          if (code / 100 == 2) Right(Right(resp.body()))
          else if (Set(301, 302, 303, 307, 308).contains(code) &&
                   resp.headers().firstValue("Location").isPresent) {
            val loc = resp.headers().firstValue("Location").get
            Right(Left(URI.create(current).resolve(loc).toString))
          } else {
            val retryAfter: Option[Long] =
              if (resp.headers().firstValue("Retry-After").isPresent)
                scala.util.Try(math.max(0L,
                  resp.headers().firstValue("Retry-After").get.trim.toLong * 1000)).toOption
              else None
            Left((new HttpStatusException(code),
              if (code == 429 || code / 100 == 5) retryAfter.orElse(Some(delay)) else None))
          }
        } catch {
          case e: InterruptedException => throw e
          case e: java.io.IOException => Left((e, Some(delay)))
        }
      outcome match {
        case Right(Right(body)) => return body
        case Right(Left(target)) =>
          hops += 1
          if (hops > 5)
            throw new RedirectRefusedException(s"too many redirects (last: $target)")
          if (!allowHop(target))
            throw new RedirectRefusedException(s"redirect into guarded space refused: $target")
          current = target // a hop is not a retry: attempt/delay unchanged
        case Left((e, None)) => throw e // non-retryable (plain 4xx)
        case Left((e, Some(wait))) =>
          if (attempt >= maxAttempts) throw e
          Thread.sleep(math.min(wait, maxDelayMs))
          delay = math.min(delay * backoffMultiplier, maxDelayMs)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def newClient(timeoutMs: Long): HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(timeoutMs))
      // redirects are handled manually in get() so every hop passes the
      // force-local guard — NORMAL would follow them invisibly
      .followRedirects(HttpClient.Redirect.NEVER)
      .build()
}

/** S3/S4 page transport. `readerEndpoint` is the hosted-reader template
  * with a `{url}` placeholder (config/limits.yaml:137 shape); tests
  * point it at a loopback server — production at the real reader.
  */
class HttpTransport(
    readerEndpoint: String,
    timeoutMs: Long = 30000, // limits.yaml:138 timeout_seconds: 30
    maxAttempts: Int = 3,
    initialDelayMs: Long = 1000,
    backoffMultiplier: Int = 2,
    maxDelayMs: Long = 10000,
    perHostIntervalMs: Long = 2000, // limits.yaml:105 request_interval_seconds: 2
    readerIntervalMs: Long = 3000   // security.yaml:117 20 req/min
) extends Transport {

  @transient private var client: HttpClient = _

  override def open(): Unit = { client = HttpFetch.newClient(timeoutMs) }
  override def close(): Unit = { client = null }

  override def fetch(url: String, engine: String): (String, String) = {
    // force_local overrides the routed engine: internal/private targets
    // never reach the external reader (security.yaml:124-141).
    val external = engine == "jina" && !HttpFetch.forceLocal(url)
    val target = if (external) readerEndpoint.replace("{url}", url) else url
    // politeness: the wire target's host always floors at its own rate
    // (the reader's 20/min when external); the ORIGIN host keeps the
    // crawl courtesy floor even when the reader fetches on our behalf
    val (interval, extra) =
      if (external) (readerIntervalMs, Some(HttpFetch.hostOf(url) -> perHostIntervalMs))
      else (perHostIntervalMs, None)
    val body = HttpFetch.get(client, target, timeoutMs, maxAttempts,
      initialDelayMs, backoffMultiplier, maxDelayMs, interval,
      extraFloor = extra, allowHop = HttpFetch.hopGuard(target))
    ("ok", new String(body, java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** S8 asset transport: same policy, binary payload out. */
class BinaryHttpTransport(
    timeoutMs: Long = 30000,
    maxAttempts: Int = 3,
    initialDelayMs: Long = 1000,
    backoffMultiplier: Int = 2,
    maxDelayMs: Long = 10000,
    perHostIntervalMs: Long = 2000
) extends BinaryTransport {

  @transient private var client: HttpClient = _

  override def open(): Unit = { client = HttpFetch.newClient(timeoutMs) }
  override def close(): Unit = { client = null }

  override def fetch(url: String): (String, Array[Byte]) =
    ("ok", HttpFetch.get(client, url, timeoutMs, maxAttempts,
      initialDelayMs, backoffMultiplier, maxDelayMs, perHostIntervalMs,
      allowHop = HttpFetch.hopGuard(url)))
}
