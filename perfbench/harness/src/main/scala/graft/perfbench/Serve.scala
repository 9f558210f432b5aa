package graft.perfbench

import graft.Pipeline
import graft.api.{LinkDbFilter, LinkDbRequest, LinkOut, PageDbRequest, PageOut}
import graft.sinks.StoreGen
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** The read path every workload runs second: serve the store the
  * write path built. One closed-loop client sends a seeded request mix
  * (60% links, 20% pages, 20% ranks) until the run ends. Keys follow a
  * Zipf law of exponent `request_zipf_s` over the generator's
  * popularity-ordered key lists (0 draws them uniformly).
  */
object Serve {

  /** One request of the mix: its route, its JSON body, the domain or
    * host it names and, on /api/links, the parsed query.
    */
  final case class Req(kind: String, body: String, key: String, links: Option[LinkDbRequest])

  private val MixSize = 4096
  /** Each route's share of the mix. */
  private val Weights = Seq("links" -> 0.6, "pages" -> 0.2, "ranks" -> 0.2)

  private def zipf(n: Int, s: Double): Array[Double] =
    (1 to n).map(k => 1.0 / math.pow(k, s)).scanLeft(0.0)(_ + _).tail.toArray

  private def pick(rnd: scala.util.Random, cum: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble() * cum.last)
    math.min(cum.length - 1, if (i >= 0) i else -i - 1)
  }

  // the server's JSON rendering of each answer (LinkApiServer)
  private def render(o: LinkOut): JValue = JObject(
    "link_url" -> JString(o.linkUrl), "page_url" -> JString(o.pageUrl),
    "link_text" -> JString(o.linkText), "no_follow" -> JInt(o.noFollow),
    "no_index" -> JInt(o.noIndex), "date_from" -> JString(o.dateFrom),
    "date_to" -> JString(o.dateTo), "ip" -> JArray(o.ips.toList.map(JString(_))),
    "qty" -> JInt(BigInt(o.qty)))
  private def render(o: PageOut): JValue = JObject(
    "page_url" -> JString(o.pageUrl), "title" -> JString(o.title),
    "ip" -> JString(o.ip), "crawl_date" -> JString(o.crawlDate),
    "no_index" -> JInt(o.noIndex), "page_no_follow" -> JInt(o.pageNoFollow))

  /** The seeded request mix. */
  def mix(ctx: Ctx): IndexedSeq[Req] = {
    val rnd = new scala.util.Random(ctx.seed * 7919L + 17L)
    val domains = ctx.strings("link_domains").toIndexedSeq
    val pageHosts = ctx.strings("page_hosts").toIndexedSeq
    val rankHosts = ctx.strings("rank_hosts").toIndexedSeq
    val s = ctx.double("request_zipf_s")
    val (cd, cp, cr) = (zipf(domains.size, s), zipf(pageHosts.size, s), zipf(rankHosts.size, s))
    val sorts = IndexedSeq(None, Some("linkUrl"), Some("pageUrl"), Some("linkText"),
      Some("dateFrom"), Some("dateTo"))
    // blocks of five in seeded order keep the mix at exactly 60/20/20
    // from the first requests on
    val routes = Iterator.continually(rnd.shuffle(Seq(0, 1, 2, 3, 4))).flatten
    (0 until MixSize).map { _ =>
      val u = routes.next()
      if (u < 3) {
        val d = domains(pick(rnd, cd))
        val sort = sorts(rnd.nextInt(sorts.size))
        val order = if (rnd.nextBoolean()) "asc" else "desc"
        val limit = 10 + rnd.nextInt(91)
        val page = 1 + rnd.nextInt(3)
        val filter =
          if (rnd.nextInt(3) == 0) Some(LinkDbFilter("Link Path", "any", s"a${1 + rnd.nextInt(9)}"))
          else None
        val body = JObject(List("domain" -> JString(d), "order" -> JString(order),
            "limit" -> JInt(limit), "page" -> JInt(page)) ++
          sort.map(s => "sort" -> JString(s)) ++
          filter.map(f => "filters" -> JArray(List(JObject("name" -> JString(f.name),
            "kind" -> JString(f.kind), "val" -> JString(f.value))))))
        Req("links", JsonMethods.compact(body), d,
          Some(LinkDbRequest(d, filter.toSeq, sort, order, limit, page)))
      } else if (u == 3) {
        val h = pageHosts(pick(rnd, cp))
        Req("pages", JsonMethods.compact(JObject("host" -> JString(h))), h, None)
      } else {
        val h = rankHosts(pick(rnd, cr))
        Req("ranks", JsonMethods.compact(JObject("host" -> JString(h))), h, None)
      }
    }
  }

  /** The direct-call answer to `r`, rendered as the server renders
    * it, with the spans of its bind and query when traced: (answer,
    * bind span, query span).
    */
  def direct(ctx: Ctx, out: String, r: Req, t: Option[Tracer] = None)
      : (JValue, Option[Span], Option[Span]) = {
    import ctx.spark
    def span[T](name: String)(f: => T): (T, Option[Span]) = t match {
      case Some(tr) => val (v, s) = tr.span(name)(f); (v, Some(s))
      case None => (f, None)
    }
    r.kind match {
      case "links" =>
        val (db, bind) = span("sinks.links_bind")(Pipeline.linkDb(spark, out, r.key))
        val (rows, q) = span("api.links_query")(db.query(r.links.get))
        (JArray(rows.toList.map(render)), bind, q)
      case "pages" =>
        val (db, bind) = span("sinks.pages_bind")(Pipeline.pageDb(spark, out, r.key))
        val (rows, q) = span("api.pages_query")(db.query(PageDbRequest(r.key)))
        (JArray(rows.toList.map(render)), bind, q)
      case "ranks" =>
        val (_, bind) = span("sinks.ranks_bind")(Pipeline.hostRanksFor(spark, out, Seq(r.key)))
        val (rank, q) = span("api.ranks_lookup")(Pipeline.hostRankOf(spark, out, r.key))
        (rank.fold[JValue](JNothing)(v => JObject("host" -> JString(r.key), "rank" -> JDouble(v))),
          bind, q)
    }
  }

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()
    def send(r: Req): HttpResponse[String] = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/${r.kind}"))
        .timeout(Duration.ofSeconds(120))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(r.body)).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  /** Serves the store at `out`; returns the server's set-up time
    * (start, one warm-up request per route and, untraced, the direct
    * answers those requests are checked against).
    */
  def run(ctx: Ctx, out: String): Double = {
    import ctx.res
    val t0 = System.nanoTime()
    val server = Pipeline.serveLinkApi(ctx.spark, out, port = 0, rateLimitMax = Int.MaxValue)
    try {
      val reqs = mix(ctx)
      val client = new Client(server.boundPort)
      // fixed sample: the first request of each route, sent as the
      // warm-up; its HTTP body must equal the rendering of the direct
      // call's answer. Untraced, the direct calls run beside the
      // warm-up requests; traced, they run one at a time afterwards.
      val sample = Seq("links", "pages", "ranks").map(kind => reqs.find(_.kind == kind).get)
      val (warm, untracedAnswers) = parallel(sample.map(r => () => client.send(r)),
        if (ctx.tracer.isEmpty) sample.map(r => () => direct(ctx, out, r)._1) else Nil)
      val setupS = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] server up and warm in $setupS%.1f s")
      val t1 = System.nanoTime()
      val answers = ctx.tracer match {
        case None =>
          loop(ctx, reqs, client)
          untracedAnswers
        case Some(t) => traced(ctx, t, out, sample, client)
      }
      for (((r, resp), answer) <- sample.zip(warm).zip(answers)) {
        res.check(s"serve: ${r.kind} body = direct answer for ${r.body}",
          resp.statusCode == 200 && JsonMethods.parse(resp.body) == answer,
          s"status ${resp.statusCode}: ${resp.body.take(300)} vs ${JsonMethods.compact(answer).take(300)}")
      }
      System.err.println(f"[perfbench] requests served and checked in ${(System.nanoTime() - t1) / 1e9}%.1f s")
      setupS
    } finally server.stop()
  }

  /** Runs every call on its own thread and waits for all of them. */
  private def parallel[A, B](as: Seq[() => A], bs: Seq[() => B]): (Seq[A], Seq[B]) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(as.size + bs.size)
    def submit[T](c: () => T) = pool.submit(new java.util.concurrent.Callable[T] {
      override def call(): T = c()
    })
    try {
      val (fa, fb) = (as.map(submit(_)), bs.map(submit(_)))
      (fa.map(_.get()), fb.map(_.get()))
    } finally pool.shutdown()
  }

  /** The closed loop: one client sends the next request of the mix
    * when the last one returns, until the run ends.
    */
  private def loop(ctx: Ctx, reqs: IndexedSeq[Req], client: Client): Unit = {
    import ctx.res
    val done = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Boolean)]
    val until = ctx.deadline()
    while (System.nanoTime() < until) {
      val r = reqs(done.size % reqs.size)
      val t0 = System.nanoTime()
      val ok =
        try client.send(r).statusCode == 200
        catch { case _: Exception => false }
      done += ((r.kind, (System.nanoTime() - t0) / 1e6, ok))
    }
    val all = done.toSeq
    res.attempted += all.size
    res.failed += all.count(!_._3)
    // a failed request is slower than every percentile
    def lat(xs: Seq[(String, Double, Boolean)]) =
      xs.map { case (_, ms, ok) => if (ok) ms else Double.PositiveInfinity }
    val meanMs = Weights.map { case (kind, _) =>
      val xs = lat(all.filter(_._1 == kind))
      res.metric(s"${kind}_p50_ms", Stats.median(xs), "ms", xs.size)
      res.metric(s"${kind}_mean_ms", xs.sum / xs.size, "ms", xs.size)
      kind -> xs.sum / xs.size
    }.toMap
    res.metric("serve_p50_ms", Stats.median(lat(all)), "ms", all.size)
    res.metric("serve_p90_ms", Stats.pct(lat(all), 90), "ms", all.size)
    // requests per second of the 60/20/20 mix: the route means weighted
    // by the mix, so a window that ends inside a block of five does not
    // tilt the rate towards the routes it happened to send
    val mixMs = Weights.map { case (kind, w) => w * meanMs(kind) }.sum
    res.metric("serve_rps", 1e3 / mixMs, "req/s", all.size)
  }

  /** Per-layer costs of the sample requests, one route at a time;
    * returns their direct answers.
    */
  private def traced(ctx: Ctx, t: Tracer, out: String, sample: Seq[Req],
      client: Client): Seq[JValue] = {
    import ctx.{res, spark}
    def http(): Seq[Double] = sample.map { r =>
      val t0 = System.nanoTime()
      res.attempted += 1
      if (client.send(r).statusCode != 200) res.failed += 1
      (System.nanoTime() - t0) / 1e6
    }
    // the same requests over HTTP untraced, then traced
    t.detach()
    val plain = http()
    t.attach()
    val traced = http()
    val resolve = sample.map(_ => t.span("sinks.resolve")(StoreGen.resolve(spark, s"$out/links"))._2)
    val answers = sample.map(r => direct(ctx, out, r, Some(t)))
    val spans = answers.flatMap { case (_, b, q) => b.toSeq ++ q }
    def metric(name: String, span: String, unit: String)(f: Span => Double): Unit = {
      val xs = spans.filter(_.name == span).map(f)
      res.metric(name, Stats.median(xs), unit, xs.size)
    }
    metric("sinks.links_bind_ms", "sinks.links_bind", "ms")(_.ms)
    metric("sinks.links_bind_jobs", "sinks.links_bind", "jobs")(_.counts.jobs)
    metric("sinks.pages_bind_ms", "sinks.pages_bind", "ms")(_.ms)
    metric("sinks.pages_bind_tasks", "sinks.pages_bind", "tasks")(_.counts.tasks)
    metric("sinks.ranks_bind_ms", "sinks.ranks_bind", "ms")(_.ms)
    metric("sinks.ranks_bind_tasks", "sinks.ranks_bind", "tasks")(_.counts.tasks)
    metric("api.links_query_ms", "api.links_query", "ms")(_.ms)
    metric("api.links_jobs_per_req", "api.links_query", "jobs")(_.counts.jobs)
    metric("api.pages_query_ms", "api.pages_query", "ms")(_.ms)
    metric("api.pages_jobs_per_req", "api.pages_query", "jobs")(_.counts.jobs)
    metric("api.ranks_lookup_ms", "api.ranks_lookup", "ms")(_.ms)
    metric("api.ranks_jobs_per_req", "api.ranks_lookup", "jobs")(_.counts.jobs)
    val linkRows = answers.zip(sample).collect {
      case ((JArray(rows), _, Some(q)), r) if r.kind == "links" =>
        q.counts.inputRecords.toDouble / math.max(rows.size, 1)
    }
    res.metric("api.links_rows_read_per_row", Stats.median(linkRows), "ratio", linkRows.size)
    res.metric("sinks.resolve_ms", Stats.median(resolve.map(_.ms)), "ms", resolve.size)
    // a ranks lookup binds inside the call; the other routes bind first
    val directMs = answers.zip(sample).map { case ((_, b, q), r) =>
      q.get.ms + (if (r.kind == "ranks") 0.0 else b.get.ms)
    }
    res.metric("api.http_overhead_ms", Stats.median(traced) - Stats.median(directMs), "ms", sample.size)
    res.metric("trace.serve_overhead_pct",
      100.0 * (Stats.median(traced) - Stats.median(plain)) / Stats.median(plain), "%", sample.size)
    answers.map(_._1)
  }
}
