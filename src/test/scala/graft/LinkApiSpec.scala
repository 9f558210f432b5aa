package graft

import graft.api.{LinkApiServer, LinkDb, LinkDbRequest, PageDb}
import graft.operators.LinkCompaction
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The reference's HTTP contract (handler.go / linkdb.go / router.go)
  * exercised over a real socket with the JDK HttpClient.
  */
class LinkApiSpec extends SparkSpec {

  private lazy val compacted = LinkCompaction.compact(Tables.links(spark, sfDir)).cache()
  private lazy val db = new LinkDb(compacted)

  private val client = HttpClient.newHttpClient()

  private def withServer[A](
      rateLimitMax: Int = 50,
      clock: () => Long = () => System.currentTimeMillis())(f: Int => A): A = {
    val srv = new LinkApiServer(_ => db, port = 0,
      rateLimitMax = rateLimitMax, clock = clock).start()
    try f(srv.boundPort) finally srv.stop()
  }

  private def post(port: Int, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/links"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /api/links serves LinkDb results with the reference's JSON tags") {
    withServer() { port =>
      val resp = post(port, """{"domain":"d3.com","limit":5}""")
      assert(resp.statusCode() == 200)
      assert(resp.headers().firstValue("Access-Control-Allow-Origin").get == "*")
      val JArray(rows) = JsonMethods.parse(resp.body()): @unchecked
      val direct = db.query(LinkDbRequest("d3.com", limit = 5))
      assert(rows.length == direct.length && rows.nonEmpty)
      val JString(firstUrl) = rows.head \ "link_url": @unchecked
      assert(firstUrl == direct.head.linkUrl)
      // every reference field is present on every row
      val tags = Seq("link_url", "page_url", "link_text", "no_follow",
        "no_index", "date_from", "date_to", "ip", "qty")
      rows.foreach(r => tags.foreach(t => assert((r \ t) != JNothing, s"missing $t")))
    }
  }

  test("filters, sort and pagination pass through the JSON body") {
    withServer() { port =>
      val body = """{"domain":"d3.com","limit":3,"page":2,"sort":"pageUrl",
                   |"order":"desc","filters":[{"name":"No Follow","val":"0","kind":"exact"}]}"""
        .stripMargin.replace("\n", "")
      val resp = post(port, body)
      assert(resp.statusCode() == 200)
      val JArray(rows) = JsonMethods.parse(resp.body()): @unchecked
      val direct = db.query(LinkDbRequest("d3.com",
        filters = Seq(api.LinkDbFilter("No Follow", "exact", "0")),
        sort = Some("pageUrl"), order = "desc", limit = 3, page = 2))
      assert(rows.map(r => (r \ "page_url": @unchecked) match { case JString(s) => s })
        == direct.map(_.pageUrl).toList)
      rows.foreach(r => assert((r \ "no_follow") == JInt(0)))
    }
  }

  test("error contract: missing, unparseable and invalid domains") {
    withServer() { port =>
      def code(resp: HttpResponse[String]): String =
        (JsonMethods.parse(resp.body()) \ "errorCode": @unchecked) match { case JString(s) => s }
      val missing = post(port, """{"limit":5}""")
      assert(missing.statusCode() == 400 && code(missing) == "ErrorNoDomain")
      val badJson = post(port, """{"domain": no-quotes}""")
      assert(badJson.statusCode() == 400 && code(badJson) == "ErrorParsing")
      val invalid = post(port, """{"domain":"not a domain"}""")
      assert(invalid.statusCode() == 400 && code(invalid) == "ErrorInvalidDomain")
      // http(s)-prefixed domains are accepted via their host
      val viaUrl = post(port, """{"domain":"https://d3.com/some/path","limit":1}""")
      assert(viaUrl.statusCode() == 200)
      val JArray(rows) = JsonMethods.parse(viaUrl.body()): @unchecked
      assert(rows.nonEmpty)
      // a bare domain that merely STARTS with "http" is still a domain
      // (the reference would 400 here — documented divergence)
      assert(post(port, """{"domain":"httpbin.org","limit":1}""").statusCode() == 200)
    }
  }

  test("OPTIONS preflight and GET /api/health answer with CORS headers") {
    withServer() { port =>
      val pre = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/links"))
          .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(pre.statusCode() == 200)
      assert(pre.headers().firstValue("Access-Control-Allow-Methods").get
        .contains("POST"))
      val health = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/health"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() == 200)
    }
  }

  test("sequential requests on one connection do not wait out a delayed ACK") {
    // without TCP_NODELAY a response's body segment waits for the
    // client's (delayed) ACK of its header segment: ~40 ms a request
    val http11 = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    withServer() { port =>
      def healthMs(): Double = {
        val t0 = System.nanoTime()
        val r = http11.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/health")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 200)
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 10).foreach(_ => healthMs())
      val ms = IndexedSeq.fill(40)(healthMs()).sorted
      val p50 = (ms(19) + ms(20)) / 2
      assert(p50 < 20, f"p50 $p50%.1f ms over 40 health requests: ${ms.map(m => f"$m%.1f")}")
    }
  }

  test("fixed-window rate limiting trips at the limit and resets after it") {
    var now = 0L
    withServer(rateLimitMax = 3, clock = () => now) { port =>
      val codes = (1 to 4).map(_ => post(port, """{"domain":"d3.com","limit":1}""").statusCode())
      assert(codes == Seq(200, 200, 200, 429), s"got $codes")
      // the reference resets the counter once the window has passed
      now += 16 * 60 * 1000L
      assert(post(port, """{"domain":"d3.com","limit":1}""").statusCode() == 200)
    }
  }

  test("POST /api/ranks serves the published host rank with the /api/links envelope") {
    // serving binding is a plain host=>rank lookup (Pipeline.hostRankOf
    // in production — the pruned-store read is pinned in PipelineSpec;
    // here the HTTP contract around it)
    val ranks = Map("h0.example.org" -> 0.512345, "hub.example.com" -> 3.25)
    val srv = new LinkApiServer(_ => db, port = 0, rankOf = Some(ranks.get)).start()
    try {
      val port = srv.boundPort
      def rankPost(body: String): HttpResponse[String] = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/ranks"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def code(resp: HttpResponse[String]): String =
        (JsonMethods.parse(resp.body()) \ "errorCode": @unchecked) match { case JString(s) => s }

      // known host, case-normalized like the links endpoint's domains
      val ok = rankPost("""{"host":" H0.Example.ORG "}""")
      assert(ok.statusCode() == 200)
      val parsed = JsonMethods.parse(ok.body())
      assert((parsed \ "host") == JString("h0.example.org"))
      val JDouble(r) = parsed \ "rank": @unchecked
      assert(r == 0.512345)

      // "no rank for that host" is a data answer (404), not a bad request
      val unknown = rankPost("""{"host":"cold.example.org"}""")
      assert(unknown.statusCode() == 404 && code(unknown) == "ErrorUnknownHost")
      // request errors mirror /api/links
      val invalid = rankPost("""{"host":"not a host"}""")
      assert(invalid.statusCode() == 400 && code(invalid) == "ErrorInvalidDomain")
      val missing = rankPost("""{"limit":3}""")
      assert(missing.statusCode() == 400 && code(missing) == "ErrorNoDomain")
      val badJson = rankPost("""{"host": no-quotes}""")
      assert(badJson.statusCode() == 400 && code(badJson) == "ErrorParsing")
      val get = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/ranks"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 405)
    } finally srv.stop()
  }

  test("/api/ranks is unbound when the store has no rank serving") {
    withServer() { port =>
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/ranks"))
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString("""{"host":"h0.example.org"}"""))
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 404, "no rankOf binding => no route")
    }
  }

  private def postTo(port: Int, route: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$route"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /api/pages serves the store's page records with the page-file tags") {
    // the REAL production binding: fresh partition-pruned page-store
    // read per request (Pipeline.pageDb), store built by the real import
    val fixture = new WatSourceSpec {}.fixturePath
    val out = SparkSpec.tempDir("pagesapi").toString
    Pipeline.importSegments(spark, Seq(fixture), out, stats = false)
    val srv = new LinkApiServer(domain => Pipeline.linkDb(spark, out, domain),
      port = 0, pageDbOf = Some(h => Pipeline.pageDb(spark, out, h))).start()
    try {
      val port = srv.boundPort
      def code(resp: HttpResponse[String]): String =
        (JsonMethods.parse(resp.body()) \ "errorCode": @unchecked) match { case JString(s) => s }

      val ok = postTo(port, "/api/pages", """{"host":" WWW.SiteA.com ","limit":50}""")
      assert(ok.statusCode() == 200)
      val JArray(rows) = JsonMethods.parse(ok.body()): @unchecked
      val direct = Pipeline.pageDb(spark, out, "www.sitea.com")
        .query(api.PageDbRequest("www.sitea.com", limit = 50))
      assert(rows.nonEmpty && rows.length == direct.length)
      val JString(firstUrl) = rows.head \ "page_url": @unchecked
      assert(firstUrl == direct.head.pageUrl)
      val tags = Seq("page_url", "title", "ip", "crawl_date", "no_index", "page_no_follow")
      rows.foreach(r => tags.foreach(t => assert((r \ t) != JNothing, s"missing $t")))

      // the "any" filter vocabulary passes through the body
      val filtered = postTo(port, "/api/pages", """{"host":"www.sitea.com","title":"about"}""")
      val JArray(frows) = JsonMethods.parse(filtered.body()): @unchecked
      val fdirect = Pipeline.pageDb(spark, out, "www.sitea.com")
        .query(api.PageDbRequest("www.sitea.com", titleAny = Some("about")))
      assert(frows.length == fdirect.length)

      // unknown host is an empty data answer, not an error
      val cold = postTo(port, "/api/pages", """{"host":"cold.example.org"}""")
      assert(cold.statusCode() == 200 && cold.body() == "[]")
      // a malformed filter regex is a 400 request error (validated
      // before the rlike reaches the Spark job), in THIS route's envelope
      val badRe = postTo(port, "/api/pages", """{"host":"www.sitea.com","title":"[unclosed"}""")
      assert(badRe.statusCode() == 400 && code(badRe) == "ErrorParsing")
      assert((JsonMethods.parse(badRe.body()) \ "function") == JString("HandlerGetHostPages"))
      // request errors mirror the links envelope
      val invalid = postTo(port, "/api/pages", """{"host":"not a host"}""")
      assert(invalid.statusCode() == 400 && code(invalid) == "ErrorInvalidDomain")
      val missing = postTo(port, "/api/pages", """{"limit":3}""")
      assert(missing.statusCode() == 400 && code(missing) == "ErrorNoDomain")
      val badJson = postTo(port, "/api/pages", """{"host": no-quotes}""")
      assert(badJson.statusCode() == 400 && code(badJson) == "ErrorParsing")
      val get = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/pages"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 405)
    } finally srv.stop()
  }

  test("/api/pages is unbound when the store has no page serving") {
    withServer() { port =>
      val resp = postTo(port, "/api/pages", """{"host":"www.sitea.com"}""")
      assert(resp.statusCode() == 404, "no pageDbOf binding => no route")
    }
  }

  test("GET /api/docs serves an OpenAPI spec listing exactly the bound routes") {
    def docs(port: Int): JValue = {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/docs"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      JsonMethods.parse(resp.body())
    }
    def routes(j: JValue): Set[String] = j \ "paths" match {
      case JObject(fields) => fields.map(_._1).toSet
      case _ => Set.empty
    }
    // minimal binding: conditional routes absent from the spec too
    // (/api/docs lists itself — the spec covers every bound route)
    withServer() { port =>
      val j = docs(port)
      assert((j \ "openapi") == JString("3.0.3"))
      assert(routes(j) == Set("/api/links", "/api/health", "/api/docs"))
    }
    // full binding: ranks + pages appear
    val srv = new LinkApiServer(_ => db, port = 0,
      rankOf = Some(_ => None), pageDbOf = Some(_ => new PageDb(compacted))).start()
    try {
      val j = docs(srv.boundPort)
      assert(routes(j) ==
        Set("/api/links", "/api/health", "/api/ranks", "/api/pages", "/api/docs"))
      // the links request schema documents the filter vocabulary
      val JArray(req) = j \ "paths" \ "/api/links" \ "post" \ "requestBody" \
        "content" \ "application/json" \ "schema" \ "required": @unchecked
      assert(req == List(JString("domain")))
    } finally srv.stop()
  }

  test("route failures answer with their own error envelope, not the links one") {
    val srv = new LinkApiServer(_ => db, port = 0,
      rankOf = Some(_ => throw new RuntimeException("boom")),
      pageDbOf = Some(_ => throw new RuntimeException("boom"))).start()
    try {
      val port = srv.boundPort
      val r = postTo(port, "/api/ranks", """{"host":"h0.example.org"}""")
      assert(r.statusCode() == 500)
      assert((JsonMethods.parse(r.body()) \ "errorCode") == JString("ErrorFailedRanks"))
      assert((JsonMethods.parse(r.body()) \ "function") == JString("HandlerGetHostRank"))
      val p = postTo(port, "/api/pages", """{"host":"h0.example.org"}""")
      assert(p.statusCode() == 500)
      assert((JsonMethods.parse(p.body()) \ "errorCode") == JString("ErrorFailedPages"))
      assert((JsonMethods.parse(p.body()) \ "function") == JString("HandlerGetHostPages"))
    } finally srv.stop()
  }

  test("/api/pages requests spanning a page-store swap succeed via rebind-and-retry") {
    val fixture = new WatSourceSpec {}.fixturePath
    val out = SparkSpec.tempDir("pagesswap").toString
    Pipeline.importSegments(spark, Seq(fixture), out, stats = false)
    // a memory-pinned snapshot of the page records, so re-publishing
    // never reads the store being swapped underneath it
    val snap = graft.sinks.PageStore.read(spark, s"$out/pages")
      .drop("domain_bucket").localCheckpoint(true)
    // the production binding and generation token: the first swap
    // migrates the imported plain store to generations, pruning part
    // files that in-flight reads listed, and only the moved token says
    // so (the read fails in a Spark task, not in StoreGen)
    val srv = Pipeline.serveLinkApi(spark, out, port = 0, rateLimitMax = Int.MaxValue)
    try {
      val port = srv.boundPort
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val codes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
      val hammers = (1 to 8).map(_ => new Thread(() => {
        while (!stop.get()) {
          try codes.add(postTo(port, "/api/pages",
            """{"host":"www.sitea.com","limit":5}""").statusCode())
          catch { case _: java.io.IOException => () }
        }
      }))
      hammers.foreach(_.start())
      // six full prepare+swap cycles of the PAGE store while page
      // requests are in flight (the window foldSegments opens on it);
      // interleave a pause so in-flight requests straddle each swap
      (1 to 6).foreach { _ =>
        val gen = graft.sinks.StoreGen.prepare(spark, s"$out/pages",
          tmp => graft.sinks.PageStore.write(snap, tmp))
        graft.sinks.StoreGen.commit(spark, s"$out/pages", gen)
        Thread.sleep(200)
      }
      // the swaps outpace per-request Spark jobs — keep hammering
      // until the sample is statistically meaningful
      val deadline = System.currentTimeMillis() + 60000
      while (codes.size < 100 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      stop.set(true)
      hammers.foreach(_.join(30000))
      val seen = codes.toArray(Array.empty[Integer]).map(_.intValue).toSeq
      assert(seen.size >= 100, s"want >=100 concurrent requests, got ${seen.size}")
      val bad = seen.filterNot(_ == 200)
      assert(bad.isEmpty,
        s"${bad.size} of ${seen.size} requests failed across swaps: ${bad.take(5)}")
    } finally srv.stop()
  }

  test("requests spanning a store swap succeed via rebind-and-retry") {
    // a REAL store served by the REAL binding (fresh partition-pruned
    // read per request), with compactStream swapping the store
    // directory out from under in-flight requests — the
    // concurrent-reader window foldSegments/compactStream opens.
    val fixture = new WatSourceSpec {}.fixturePath
    val out = SparkSpec.tempDir("swapstore").toString
    Pipeline.importSegments(spark, Seq(fixture), out, stats = false)
    // seed a streamed batch so each compactStream call has input and
    // performs a full prepare+swap cycle (double-counted qty is fine
    // here — this test is about availability, not arithmetic)
    LinkCompaction.compact(graft.sources.WatSource.links(spark, Seq(fixture), Nil))
      .write.mode("overwrite").parquet(s"$out/links_stream/batch=0")
    // the production binding and generation token, rate limit out of
    // the way so EVERY request exercises the store read
    val srv = Pipeline.serveLinkApi(spark, out, port = 0, rateLimitMax = Int.MaxValue)
    try {
      val port = srv.boundPort
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
      val hammers = (1 to 8).map(_ => new Thread(() => {
        while (!stop.get()) {
          val t0 = System.nanoTime()
          try results.add(
            (post(port, """{"domain":"ext2.co.uk","limit":5}""").statusCode(),
              System.nanoTime() - t0))
          catch { case _: java.io.IOException => () }
        }
      }))
      hammers.foreach(_.start())
      // six full prepare+swap cycles while requests are in flight
      (1 to 6).foreach(_ => Pipeline.compactStream(spark, out))
      stop.set(true)
      hammers.foreach(_.join(30000))
      val seen = results.toArray(Array.empty[(Int, Long)]).toSeq
      assert(seen.size >= 100, s"want >=100 concurrent requests, got ${seen.size}")
      val bad = seen.map(_._1).filterNot(_ == 200)
      assert(bad.isEmpty,
        s"${bad.size} of ${seen.size} requests failed across swaps: ${bad.take(5)}")
      // latency REGRESSION gate across the swap window (perfbench's
      // serve_rps and traced api.*_query_ms measure steady-state
      // serving; this bounds the swap window in-suite):
      // per-request work is one partition-pruned read of a tiny store,
      // so even with rebind-and-retry mid-swap the tail must stay in
      // request-serving territory — a full-store scan creeping into
      // the per-request path, or a rebind storm, blows past these by
      // an order of magnitude. Bounds are deliberately loose for
      // sandbox variance; they gate the failure MODE, not the
      // microsecond.
      val ms = seen.map(_._2 / 1e6).sorted.toIndexedSeq
      def pct(p: Double): Double =
        ms(math.max(0, math.min(ms.size - 1, math.ceil(p * ms.size).toInt - 1)))
      val (p50, p99) = (pct(0.5), pct(0.99))
      info(f"swap-window latency over ${ms.size} requests: p50=$p50%.1fms p99=$p99%.1fms")
      assert(p50 < 2000, f"p50 across swaps regressed: $p50%.1fms")
      assert(p99 < 10000, f"p99 across swaps regressed: $p99%.1fms")
    } finally srv.stop()
  }

  test("links and ranks requests across a ranked-store republish all answer 200 with the same links window") {
    // the production binding over a ranked store, both serving routes
    // hammered while publishRankedStore swaps in a second generation
    // built from the same links frame. Unlike the swap tests above, a
    // request that fails on the client side (a dropped connection is an
    // IOException) counts as a failure, not a skipped sample.
    val out = SparkSpec.tempDir("rankswap").toString
    val links = Tables.links(spark, sfDir)
    Pipeline.publishRankedStore(spark, links, out, rankTol = 0.0, rankMaxIters = 8)
    val srv = Pipeline.serveLinkApi(spark, out, port = 0, rateLimitMax = Int.MaxValue)
    try {
      val port = srv.boundPort
      val linksBody = """{"domain":"d3.com","limit":5,"sort":"linkUrl","order":"asc"}"""
      val ranksBody = """{"host":"h3.example.org"}"""
      val before = postTo(port, "/api/links", linksBody)
      assert(before.statusCode() == 200 && before.body().startsWith("[{"),
        s"links before the swap: ${before.statusCode()} ${before.body()}")
      assert(postTo(port, "/api/ranks", ranksBody).statusCode() == 200)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val routes = Seq("/api/links" -> linksBody, "/api/ranks" -> ranksBody)
      val hammers = (0 until 4).map { h =>
        val (route, body) = routes(h % routes.size)
        new Thread(() => {
          while (!stop.get()) {
            val outcome =
              try postTo(port, route, body).statusCode().toString
              catch { case e: Exception => e.toString }
            results.add(route -> outcome)
          }
        })
      }
      hammers.foreach(_.start())
      Pipeline.publishRankedStore(spark, links, out, rankTol = 0.0, rankMaxIters = 8)
      stop.set(true)
      hammers.foreach(_.join(30000))
      val seen = results.toArray(Array.empty[(String, String)]).toSeq
      info(s"${seen.size} requests across the republish")
      routes.foreach { case (route, _) =>
        val n = seen.count(_._1 == route)
        assert(n >= 10, s"want >=10 $route requests across the swap, got $n")
      }
      val bad = seen.filterNot(_._2 == "200")
      assert(bad.isEmpty,
        s"${bad.size} of ${seen.size} requests failed across the swap: ${bad.take(5)}")
      val after = postTo(port, "/api/links", linksBody)
      assert(after.statusCode() == 200 && after.body() == before.body(),
        s"links window changed across the swap: before=${before.body()} after=${after.body()}")
    } finally srv.stop()
  }

  test("a store read outliving the query budget returns 504 Query timeout") {
    // a resolve that hangs simulates the pathological store read the
    // reference bounds with SetMaxTime(61s) (controller.go:95-104);
    // budget shrunk so the spec runs in milliseconds
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val slow: String => LinkDb = { _ =>
      entered.countDown()
      // await interruptibly: the deadline's cancel(true) frees the
      // pool thread here rather than leaking it for the full hang
      release.await(30, java.util.concurrent.TimeUnit.SECONDS)
      db
    }
    val srv = new LinkApiServer(slow, port = 0, queryBudgetMs = 200).start()
    try {
      val t0 = System.nanoTime()
      val resp = post(srv.boundPort, """{"domain":"d3.com","limit":5}""")
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(resp.statusCode() == 504, resp.body())
      assert(resp.body().contains("ErrorTimeout") && resp.body().contains("Query timeout"))
      assert(entered.await(1, java.util.concurrent.TimeUnit.SECONDS))
      // the worker answered at the budget, not the hang's duration
      assert(elapsedMs < 10000, s"took ${elapsedMs}ms")
      // the server stays serviceable: a healthy route still answers
      val ok = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.boundPort}/api/health"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() == 200)
    } finally { release.countDown(); srv.stop() }
  }

  test("a failure while the store generation moved is retried against the new one") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val gen = new java.util.concurrent.atomic.AtomicInteger(0)
    // the first bind fails while a fold commits (the token moves);
    // the retry binds the new generation and answers
    val flaky: String => LinkDb = { _ =>
      if (calls.incrementAndGet() == 1) {
        gen.incrementAndGet()
        throw new RuntimeException("read of a pruned generation")
      }
      db
    }
    val srv = new LinkApiServer(flaky, port = 0,
      storeGeneration = () => gen.get.toString).start()
    try {
      val resp = post(srv.boundPort, """{"domain":"d3.com","limit":5}""")
      assert(resp.statusCode() == 200, resp.body())
      assert(calls.get() == 2, s"attempts=${calls.get()}")
    } finally srv.stop()
  }

  test("a store that moves on every attempt is answered 504 at the budget, not a hot loop") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val gen = new java.util.concurrent.atomic.AtomicInteger(0)
    val failing: String => LinkDb = { _ =>
      calls.incrementAndGet()
      throw new RuntimeException("read of a pruned generation")
    }
    val srv = new LinkApiServer(failing, port = 0, queryBudgetMs = 500,
      storeGeneration = () => gen.incrementAndGet().toString).start()
    try {
      val t0 = System.nanoTime()
      val resp = post(srv.boundPort, """{"domain":"d3.com","limit":5}""")
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(resp.statusCode() == 504, resp.body())
      assert(resp.body().contains("ErrorTimeout"))
      assert(elapsedMs < 10000, s"took ${elapsedMs}ms")
      // the growing sleep between attempts (50, 75, 100, ... ms) caps
      // a 500 ms budget at a handful of attempts
      assert(calls.get() >= 2 && calls.get() <= 10, s"attempts=${calls.get()}")
    } finally srv.stop()
  }

  test("a persistent unknown failure still fails fast as 500, not a budget burn") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val broken: String => LinkDb = { _ =>
      calls.incrementAndGet()
      throw new RuntimeException("deterministic store bug")
    }
    val srv = new LinkApiServer(broken, port = 0).start()
    try {
      val t0 = System.nanoTime()
      val resp = post(srv.boundPort, """{"domain":"d3.com","limit":5}""")
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(resp.statusCode() == 500, resp.body())
      assert(resp.body().contains("ErrorFailedLinks"))
      // the generation token did not move, so there is nothing to
      // rebind to: one attempt, nowhere near the 61 s budget
      assert(calls.get() == 1, s"attempts=${calls.get()}")
      assert(elapsedMs < 10000, s"took ${elapsedMs}ms")
    } finally srv.stop()
  }

  test("a deterministic analysis error is answered 500 on its first bind") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val badPlan: String => LinkDb = { _ =>
      calls.incrementAndGet()
      // the column does not exist in any generation
      new LinkDb(spark.range(1).toDF("id").select("no_such_column"))
    }
    val srv = new LinkApiServer(badPlan, port = 0).start()
    try {
      val resp = post(srv.boundPort, """{"domain":"d3.com","limit":5}""")
      assert(resp.statusCode() == 500, resp.body())
      assert(resp.body().contains("ErrorFailedLinks"))
      assert(calls.get() == 1, s"attempts=${calls.get()}")
    } finally srv.stop()
  }

  test("a never-created store root gets exactly the missing-root binds") {
    val root = SparkSpec.tempDir("noroot").toString + "/never"
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = new LinkApiServer(domain => {
      calls.incrementAndGet()
      Pipeline.linkDb(spark, root, domain)
    }, port = 0).start()
    try {
      val resp = post(srv.boundPort, """{"domain":"d3.com","limit":5}""")
      assert(resp.statusCode() == 500, resp.body())
      // a root that was never created cannot appear by rebinding
      assert(calls.get() == 1, s"attempts=${calls.get()}")
    } finally srv.stop()
  }

  test("a store read inside the budget is unaffected by the deadline") {
    val srv = new LinkApiServer(_ => db, port = 0, queryBudgetMs = 61000).start()
    try {
      val resp = post(srv.boundPort, """{"domain":"d3.com","limit":5}""")
      assert(resp.statusCode() == 200)
    } finally srv.stop()
  }
}
