package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.functions.UrlFns
import graft.sinks.StoreGen
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** The reference's HTTP serving layer (`POST /api/links`) over
  * [[LinkDb]] — routing, CORS, fixed-window rate limiting and the
  * error/response JSON contract of pkg/linkdb (router.go:29,
  * linkdb.go:80-95, handler.go:24-74, controller.go:282-307,
  * cmd/linksapi/main.go), re-hosted on the JDK's built-in HttpServer
  * (and Spark's bundled json4s) so the library adds no dependencies.
  *
  * `resolve` maps the (already host-normalized) request domain to the
  * LinkDb serving it — Pipeline.serveLinkApi binds it to the requested
  * domain's one store bucket, read in the request's own thread; the
  * answer stays the bounded ≤300-row serving window of LinkDb.query.
  *
  * `storeGeneration` names the store generation the routes read
  * (Pipeline.serveLinkApi: the `_CURRENT` targets of links and pages).
  * A failed store read is retried only when that token moved during
  * the attempt or the failure carries a `StoreGen.StaleGeneration`;
  * the default constant token means a server over fixed frames retries
  * nothing but the latter (see [[storeRead]]).
  *
  * Divergence (documented): the reference rate-limits on Go's
  * `r.RemoteAddr`, which includes the EPHEMERAL client port — every
  * fresh connection gets a fresh window. Keying by client IP follows
  * the evident intent (50 requests / 15 min per caller).
  *
  * Memory bound: the rate map holds at most ~`sweepThreshold` live
  * entries plus whatever arrives inside one sweep window — a client
  * cycling source IPs (trivial over IPv6) can keep that many `Rate`
  * records resident, ~100 bytes each, so the default threshold caps
  * the map at ~10s of MB. Size `sweepThreshold` to taste alongside
  * `rateLimitMax`.
  */
final class LinkApiServer(
    resolve: String => LinkDb,
    port: Int = 8010,
    rateLimitMax: Int = 50,
    rateWindowMs: Long = 15L * 60 * 1000,
    clock: () => Long = () => System.currentTimeMillis(),
    sweepThreshold: Int = 100000,
    storeGeneration: () => String = () => "",
    // beyond the reference's surface: when set, POST /api/ranks serves
    // the store-maintained PageRank of one host (Pipeline.hostRankOf —
    // a read of the host's one rank_bucket directory of the live
    // generation's _RANKS in the calling thread, its schema from the
    // footer of the file it reads: the lookup runs no Spark job)
    rankOf: Option[String => Option[Double]] = None,
    // beyond the reference's surface: when set, POST /api/pages serves
    // the page records of one host (Pipeline.pageDb — a fresh listing
    // of the eTLD+1's page-store bucket directory per request, same
    // bind-late posture as /api/links, read in the calling thread; the
    // bind reads the schema from the footer of a listed file, and
    // neither bind nor query runs a Spark job)
    pageDbOf: Option[String => PageDb] = None,
    // per-request time budget on store reads — the reference caps
    // every DB query at 61 s (controller.go:95-104 SetMaxTime +
    // context.WithTimeout -> "Query timeout"); without it a
    // pathological store read holds an HTTP worker thread forever
    queryBudgetMs: Long = 61000) {

  // isRateLimited (controller.go:282-307): fixed window anchored at the
  // first request, counter reset when the window expires
  private final class Rate(var first: Long, var count: Int)
  private val records = new java.util.concurrent.ConcurrentHashMap[String, Rate]

  private def isRateLimited(id: String): Boolean = {
    val now = clock()
    // bounded memory: evict expired windows once the map grows past the
    // sweep threshold (the reference never evicts — map-per-IP forever).
    // The sweep itself is amortized to once per window: when every
    // entry is live (a wide attack), an every-request O(n) scan would
    // turn the rate check itself into the hot-path cost.
    if (records.size > sweepThreshold) {
      val last = lastSweep.get()
      if (now - last > rateWindowMs && lastSweep.compareAndSet(last, now))
        records.entrySet.removeIf(e => now - e.getValue.first > rateWindowMs)
    }
    var limited = false
    records.compute(id, (_, r) =>
      if (r == null) new Rate(now, 1)
      else if (now - r.first > rateWindowMs) { r.first = now; r.count = 1; r }
      else { r.count += 1; limited = r.count > rateLimitMax; r })
    limited
  }

  private val lastSweep = new java.util.concurrent.atomic.AtomicLong(Long.MinValue / 2)

  LinkApiServer.noDelayUnlessSet()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/api/links", (ex: HttpExchange) =>
    safely(ex, "HandlerGetDomainLinks", "ErrorFailedLinks", "Error getting links")(handleLinks))
  server.createContext("/api/health", (ex: HttpExchange) =>
    safely(ex, "HandlerHealth", "ErrorFailedHealth", "Error serving health")(handleHealth))
  rankOf.foreach(_ => server.createContext("/api/ranks", (ex: HttpExchange) =>
    safely(ex, "HandlerGetHostRank", "ErrorFailedRanks", "Error getting ranks")(handleRanks)))
  pageDbOf.foreach(_ => server.createContext("/api/pages", (ex: HttpExchange) =>
    safely(ex, "HandlerGetHostPages", "ErrorFailedPages", "Error getting pages")(handlePages)))
  server.createContext("/api/docs", (ex: HttpExchange) =>
    safely(ex, "HandlerGetDocs", "ErrorFailedDocs", "Error serving docs")(handleDocs))
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)

  def start(): LinkApiServer = { server.start(); this }

  /** Stops the listener AND the worker pool — the pool's non-daemon
    * threads would otherwise keep the JVM alive after stop().
    */
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def boundPort: Int = server.getAddress.getPort

  /** enableCORS (linkdb.go:80-95): headers on every response, OPTIONS
    * preflight answered immediately. The catch-all 500 envelope is
    * per-route (fn/code/msg) so a failure on /api/pages or /api/ranks
    * doesn't masquerade as a links error.
    */
  private def safely(ex: HttpExchange, fn: String, code: String, msg: String)(
      f: HttpExchange => Unit): Unit =
    try {
      val h = ex.getResponseHeaders
      h.set("Access-Control-Allow-Origin", "*")
      h.set("Access-Control-Allow-Methods", "POST, GET, OPTIONS, PUT, DELETE")
      h.set("Access-Control-Allow-Headers",
        "Accept, Content-Type, Content-Length, Accept-Encoding, X-CSRF-Token, Authorization")
      if (ex.getRequestMethod == "OPTIONS") send(ex, 200, "")
      else f(ex)
    } catch {
      case _: LinkApiServer.QueryTimeout =>
        // the reference folds its context.DeadlineExceeded into the
        // generic 500 envelope; surfacing it as 504 "Query timeout"
        // (controller.go:104's message) keeps the condition observable
        try send(ex, 504, envelope(fn, "ErrorTimeout", "Query timeout"))
        catch { case _: Exception => () }
      case _: Exception =>
        try send(ex, 500, envelope(fn, code, msg))
        catch { case _: Exception => () }
    } finally ex.close()

  private def handleHealth(ex: HttpExchange): Unit =
    if (ex.getRequestMethod == "GET") send(ex, 200, """{"status":"ok"}""")
    else send(ex, 405, envelope("HandlerHealth", "ErrorMethod", "Method Not Allowed"))

  /** GET /api/docs — OpenAPI 3 description of the bound routes, the
    * analogue of the reference's swagger route annotations
    * (router.go:17-29, which declare the spec but never serve it;
    * serving it makes the surface self-describing). Conditional
    * routes (/api/ranks, /api/pages) appear only when bound.
    */
  private def handleDocs(ex: HttpExchange): Unit =
    if (ex.getRequestMethod == "GET") send(ex, 200, openApiSpec)
    else send(ex, 405, envelope("HandlerGetDocs", "ErrorMethod", "Method Not Allowed"))

  private lazy val openApiSpec: String = {
    def schema(props: (String, String)*): JObject = JObject(
      "type" -> JString("object"),
      "properties" -> JObject(props.toList.map { case (n, t) =>
        n -> (JObject("type" -> JString(t)): JValue)
      }))
    def post(summary: String, body: JObject, respDesc: String): JObject = JObject(
      "post" -> JObject(
        "summary" -> JString(summary),
        "requestBody" -> JObject("required" -> JBool(true), "content" ->
          JObject("application/json" -> JObject("schema" -> body))),
        "responses" -> JObject(
          "200" -> JObject("description" -> JString(respDesc)),
          "400" -> JObject("description" -> JString("Request error (errorCode envelope)")),
          "429" -> JObject("description" -> JString("Rate limited: 50 requests / 15 min per caller")))))
    val linksBody = JObject(
      "type" -> JString("object"),
      "required" -> JArray(List(JString("domain"))),
      "properties" -> JObject(
        "domain" -> (JObject("type" -> JString("string")): JValue),
        "sort" -> (JObject("type" -> JString("string"),
          "enum" -> JArray(List("linkUrl", "pageUrl", "linkText",
            "dateFrom", "dateTo").map(JString(_)))): JValue),
        "order" -> (JObject("type" -> JString("string"),
          "enum" -> JArray(List(JString("asc"), JString("desc")))): JValue),
        "limit" -> (JObject("type" -> JString("integer")): JValue),
        "page" -> (JObject("type" -> JString("integer")): JValue),
        "filters" -> (JObject(
          "type" -> JString("array"),
          "items" -> schema("name" -> "string", "kind" -> "string",
            "val" -> "string")): JValue)))
    val links = "/api/links" -> (post(
      "Backlinks of a domain: exact/any filters, sort, paginate, adjacent-merge",
      linksBody,
      "Array of {link_url, page_url, link_text, no_follow, no_index, date_from, date_to, ip, qty}"): JValue)
    val health = "/api/health" -> (JObject("get" -> JObject(
      "summary" -> JString("Health check"),
      "responses" -> JObject("200" -> JObject(
        "description" -> JString("{\"status\":\"ok\"}"))))): JValue)
    val ranks = rankOf.map(_ => "/api/ranks" -> (post(
      "Store-maintained PageRank of one host",
      schema("host" -> "string"),
      "{host, rank}; 404 when the host has no published rank"): JValue))
    val pages = pageDbOf.map(_ => "/api/pages" -> (post(
      "Page records of one host: title/IP/crawl date/robots flags",
      schema("host" -> "string", "path" -> "string", "title" -> "string",
        "limit" -> "integer", "page" -> "integer"),
      "Array of {page_url, title, ip, crawl_date, no_index, page_no_follow}"): JValue))
    // the spec lists its own route too — a self-describing surface
    // that omits /api/docs under-reports itself
    val docs = "/api/docs" -> (JObject("get" -> JObject(
      "summary" -> JString("This OpenAPI description of the bound routes"),
      "responses" -> JObject("200" -> JObject(
        "description" -> JString("OpenAPI 3 document (application/json)"))))): JValue)
    JsonMethods.compact(JObject(
      "openapi" -> JString("3.0.3"),
      "info" -> JObject(
        "title" -> JString("graft link API"),
        "version" -> JString("1")),
      "paths" -> JObject(List(links, health) ++ ranks ++ pages ++ List(docs))))
  }

  /** The POST routes' shared preamble (handler.go:24-40): method →
    * 405, rate limit → 429, unparseable body → 400, each envelope under
    * the route's `function` name `fn`. `handle` gets the parsed body
    * and that route's envelope builder.
    */
  private def postRoute(ex: HttpExchange, fn: String)(
      handle: (JValue, (String, String) => String) => Unit): Unit = {
    def err(code: String, msg: String): String = envelope(fn, code, msg)
    if (ex.getRequestMethod != "POST")
      return send(ex, 405, err("ErrorMethod", "Method Not Allowed"))
    val caller = ex.getRemoteAddress.getAddress.getHostAddress
    if (isRateLimited(caller))
      return send(ex, 429, err("ErrorTooManyRequests", "Too Many Requests"))
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val parsed =
      try Some(JsonMethods.parse(body))
      catch { case _: Exception => None }
    parsed match {
      case None => send(ex, 400, err("ErrorParsing", "Error parsing request"))
      case Some(j) => handle(j, err)
    }
  }

  /** HandlerGetDomainLinks (handler.go:24-74), decision for decision. */
  private def handleLinks(ex: HttpExchange): Unit =
    postRoute(ex, "HandlerGetDomainLinks") { (j, err) =>
      domainOf(j) match {
        case DomainMissing =>
          send(ex, 400, err("ErrorNoDomain", "Domain is required"))
        case DomainUnparseable =>
          send(ex, 400, err("ErrorParsing", "Error parsing domain"))
        case DomainInvalid =>
          send(ex, 400, err("ErrorInvalidDomain", "Invalid domain"))
        case DomainOk(domain) =>
          val out = storeRead(resolve(domain).query(request(j, domain)))
          send(ex, 200, JsonMethods.compact(JArray(out.toList.map(render))))
      }
    }

  /** POST /api/ranks — rank lookup for one host, same envelope rules
    * as /api/links (method, rate limit, parse/validation errors).
    * Unknown host (or a store without a published `_RANKS`) is 404:
    * "no rank" is an answer about the data, not a request error.
    */
  private def handleRanks(ex: HttpExchange): Unit =
    postRoute(ex, "HandlerGetHostRank") { (j, err) =>
      (j \ "host") match {
        case JString(raw) if raw.nonEmpty =>
          val host = raw.trim.toLowerCase
          if (!host.matches(UrlFns.DomainRegex))
            send(ex, 400, err("ErrorInvalidDomain", "Invalid host"))
          else storeRead(rankOf.get(host)) match {
            case Some(r) => send(ex, 200,
              s"""{"host":${JsonMethods.compact(JString(host))},"rank":$r}""")
            case None =>
              send(ex, 404, err("ErrorUnknownHost", "Host not found"))
          }
        case _ =>
          send(ex, 400, err("ErrorNoDomain", "Host is required"))
      }
    }

  /** POST /api/pages — page-record lookup for one host, same envelope
    * rules as /api/links (method, rate limit, parse/validation
    * errors, store retry). Request: `host` (required, exact
    * case-insensitive page host), optional `path`/`title` ("any"
    * substring/regex filters — PageDb's vocabulary), `limit`, `page`.
    * An unknown host returns the empty array like an unmatched
    * domain on /api/links: "no pages" is an answer, not an error.
    */
  private def handlePages(ex: HttpExchange): Unit =
    postRoute(ex, "HandlerGetHostPages") { (j, err) =>
      (j \ "host") match {
        case JString(raw) if raw.nonEmpty =>
          val host = raw.trim.toLowerCase
          if (!host.matches(UrlFns.DomainRegex))
            send(ex, 400, err("ErrorInvalidDomain", "Invalid host"))
          else {
            def str(v: JValue): Option[String] = v match {
              case JString(s) if s.nonEmpty => Some(s)
              case _ => None
            }
            def int(v: JValue, dflt: Int): Int = v match {
              case JInt(n) => n.toInt
              case JLong(n) => n.toInt
              case _ => dflt
            }
            // rlike compiles these user patterns while the query runs
            // (PageDb.anyMatch wraps them as "(?i)pattern") — validate
            // up front so a malformed regex is a 400 request error,
            // not a 500 from the failed query
            val badPattern = Seq(str(j \ "path"), str(j \ "title")).flatten.find { p =>
              try { java.util.regex.Pattern.compile(s"(?i)$p"); false }
              catch { case _: Exception => true }
            }
            if (badPattern.isDefined)
              send(ex, 400, err("ErrorParsing", "Error parsing filter pattern"))
            else {
              val req = PageDbRequest(host,
                pathAny = str(j \ "path"), titleAny = str(j \ "title"),
                limit = int(j \ "limit", 100), page = int(j \ "page", 1))
              val out = storeRead(pageDbOf.get(host).query(req))
              send(ex, 200, JsonMethods.compact(JArray(out.toList.map(renderPage))))
            }
          }
        case _ =>
          send(ex, 400, err("ErrorNoDomain", "Host is required"))
      }
    }

  /** Runs a store read under the request's time budget on a separate
    * (daemon) thread; on expiry the worker is interrupted best-effort
    * and the request fails with [[LinkApiServer.QueryTimeout]] → 504.
    * The deadline wraps the WHOLE retry loop (budget per request, not
    * per attempt — the reference's posture: one 61 s clock started at
    * query submission, controller.go:95-98). The interrupt lands in
    * [[retryWhileMoved]]'s sleep or a Spark action's await; a read that
    * ignores it leaks a pool thread only until the underlying scan
    * finishes, and the HTTP worker is freed immediately either way.
    */
  private def withDeadline[T](f: => T): T = {
    val fut = deadlinePool.submit(new java.util.concurrent.Callable[T] {
      override def call(): T = f
    })
    try fut.get(queryBudgetMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        fut.cancel(true)
        throw new LinkApiServer.QueryTimeout
      case e: java.util.concurrent.ExecutionException =>
        // unwrap so `safely` maps the real failure (504 or 500)
        throw (e.getCause match { case ex: Exception => ex; case _ => e })
    }
  }

  private val deadlinePool = java.util.concurrent.Executors.newCachedThreadPool(
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"linkapi-deadline-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  /** Every store read of a serving route: one clock per request
    * (`queryBudgetMs`, enforced by [[withDeadline]]) around
    * [[retryWhileMoved]]. The deadline is taken before the worker starts,
    * so the retry loop's own budget check never outlives the deadline's.
    */
  private def storeRead[T](read: => T): T = {
    val deadline = System.nanoTime() + queryBudgetMs * 1000000L
    withDeadline(retryWhileMoved(deadline)(read))
  }

  /** Runs `read` (which binds through `resolve`/`rankOf`/`pageDbOf`, so
    * each attempt reads the then-current generation) and retries it
    * only when the store moved under the attempt:
    *   (a) its cause chain holds a `StoreGen.StaleGeneration` — the
    *       generation it resolved was pruned, or `_CURRENT` was mid-swap;
    *   (b) `storeGeneration` read before the attempt differs from the
    *       one read after its failure — a fold committed meanwhile.
    * Everything else fails on the first attempt: a never-created root,
    * a bad plan or a deterministic bug fails the same way on every
    * rebind, and the deadline's interrupt is the 504 path. No message
    * text is read. A store still moving at the deadline is a 504, and
    * the growing sleep keeps a swap storm from turning into a hot loop.
    */
  private def retryWhileMoved[T](deadline: Long)(read: => T): T = {
    def moved(before: String): Boolean =
      try storeGeneration() != before
      catch { case _: StoreGen.StaleGeneration => true }
    var attempt = 1
    while (true) {
      var before: Option[String] = None
      try { before = Some(storeGeneration()); return read }
      catch {
        case e: Exception if LinkApiServer.staleGeneration(e) || before.exists(moved) =>
          if (System.nanoTime() >= deadline) throw new LinkApiServer.QueryTimeout
          attempt += 1
          Thread.sleep(math.min(25L * attempt, 400L))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private sealed trait DomainResult
  private case object DomainMissing extends DomainResult
  private case object DomainUnparseable extends DomainResult
  private case object DomainInvalid extends DomainResult
  private final case class DomainOk(domain: String) extends DomainResult

  /** Accepts `domain.com` and `http(s)://domain.com/...` (handler.go:
    * 45-58), then applies the IsValidDomain grammar (wat.go:613).
    *
    * Divergence (documented): the reference URL-parses any domain
    * merely STARTING with "http", which rejects valid bare domains
    * like `httpbin.org` (url.Parse gives an empty host). We only
    * treat values with an explicit scheme as URLs — the evident
    * intent of the "accepts http://domain.com and domain.com" comment.
    */
  private def domainOf(j: JValue): DomainResult = j \ "domain" match {
    case JString(raw) if raw.nonEmpty =>
      val host =
        if (!raw.startsWith("http://") && !raw.startsWith("https://")) Some(raw)
        else
          try Option(java.net.URI.create(raw).getHost)
          catch { case _: Exception => None }
      host match {
        case None => DomainUnparseable
        case Some(h) if h.toLowerCase.matches(UrlFns.DomainRegex) => DomainOk(h)
        case Some(_) => DomainInvalid
      }
    case _ => DomainMissing
  }

  private def request(j: JValue, domain: String): LinkDbRequest = {
    def str(v: JValue): Option[String] = v match {
      case JString(s) => Some(s)
      case _ => None
    }
    def int(v: JValue, dflt: Int): Int = v match {
      case JInt(n) => n.toInt
      case JLong(n) => n.toInt
      case _ => dflt
    }
    val filters = j \ "filters" match {
      case JArray(arr) =>
        arr.flatMap { f =>
          for {
            n <- str(f \ "name")
            v <- str(f \ "val")
          } yield LinkDbFilter(n, str(f \ "kind").getOrElse("any"), v)
        }
      case _ => Nil
    }
    LinkDbRequest(
      domain = domain,
      filters = filters,
      sort = str(j \ "sort"),
      order = str(j \ "order").getOrElse("asc"),
      limit = int(j \ "limit", 100),
      page = int(j \ "page", 1))
  }

  /** LinkOut with the reference's JSON tags (models.go:28-39). */
  private def render(o: LinkOut): JObject = JObject(
    "link_url" -> JString(o.linkUrl),
    "page_url" -> JString(o.pageUrl),
    "link_text" -> JString(o.linkText),
    "no_follow" -> JInt(o.noFollow),
    "no_index" -> JInt(o.noIndex),
    "date_from" -> JString(o.dateFrom),
    "date_to" -> JString(o.dateTo),
    "ip" -> JArray(o.ips.toList.map(JString(_))),
    "qty" -> JInt(BigInt(o.qty)))

  /** PageOut with tags matching the reference's page-file fields
    * (importer/main.go FilePage; no JSON analogue exists in the
    * reference — pages never had an endpoint there).
    */
  private def renderPage(o: PageOut): JObject = JObject(
    "page_url" -> JString(o.pageUrl),
    "title" -> JString(o.title),
    "ip" -> JString(o.ip),
    "crawl_date" -> JString(o.crawlDate),
    "no_index" -> JInt(o.noIndex),
    "page_no_follow" -> JInt(o.pageNoFollow))

  /** GenerateError (error.go): {errorCode, function, error}. */
  private def envelope(fn: String, code: String, msg: String): String =
    JsonMethods.compact(JObject(
      "errorCode" -> JString(code),
      "function" -> JString(fn),
      "error" -> JString(msg)))

  private def send(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) {
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }
}

object LinkApiServer {
  /** Turns on TCP_NODELAY for the JDK server's sockets unless the user
    * set `sun.net.httpserver.nodelay` either way. The JDK default leaves
    * Nagle's algorithm on, and the server writes a response's headers
    * and its body as two segments: the body waits until the client
    * ACKs the headers, which a client with delayed ACKs holds for up to
    * 40 ms. That stall was about 44 ms of every request, more than the
    * request's own work. The JDK reads the property once, in
    * `sun.net.httpserver.ServerConfig`'s static initializer, so it must
    * be set before the JVM's first `HttpServer.create`.
    */
  private def noDelayUnlessSet(): Unit =
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")

  /** A `StoreGen.StaleGeneration` anywhere in `e`'s cause chain. */
  private def staleGeneration(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(_.isInstanceOf[StoreGen.StaleGeneration])

  /** Store read outlived the request's query budget (the reference's
    * "Query timeout", controller.go:104) — mapped to 504 in `safely`.
    */
  final class QueryTimeout extends RuntimeException("Query timeout")
}
