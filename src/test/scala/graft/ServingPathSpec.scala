package graft

import graft.api.{LinkDb, LinkDbFilter, LinkDbRequest, PageDb, PageDbRequest}
import graft.sinks.{LinkStore, PageStore, StoreGen}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Differential: the serving path (`Pipeline.linkDb`, `pageDb` and
  * `hostRankOf`, which read one bucket's parquet files in the calling
  * thread) against the Spark frame path (`new LinkDb(df)`,
  * `new PageDb(df)`, `hostRanksFor`) over the whole store. Both apply
  * the one request definition of LinkDb/PageDb, so every answer must be
  * exactly equal, in order: filters, case-insensitive regexes, sorts
  * with their tiebreak and null ordering, windows and fallbacks.
  */
class ServingPathSpec extends SparkSpec {

  private def store: String = ServingReadSpec.store

  private val absent = Seq("absent-one.com", "absent-two.org", "absent-three.co.uk")
  private val sorts = Seq(None, Some("linkUrl"), Some("pageUrl"), Some("linkText"),
    Some("dateFrom"), Some("dateTo"), Some("bogus"))
  private val limits = Seq(0, 1, 100, 101, -5, 3, 7)
  // the last page overflows the Int offset
  private val pages = Seq(1, 2, 3, 4, Int.MaxValue / 2)

  private def strings(df: DataFrame, c: String): Seq[String] =
    df.select(c).distinct().collect().flatMap(r => Option(r.getString(0))).toSeq.sorted

  /** The seeded request mix over a links store: every domain and its
    * subdomain-qualified forms plus the absent ones, crossed with
    * every sort, order, limit, page and filter kind.
    */
  private def linkRequests(links: DataFrame, seed: Long, n: Int): Seq[LinkDbRequest] = {
    val rnd = new scala.util.Random(seed)
    val rows = links.collect().toSeq
    def any[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def field(n: String) = rows.flatMap(r => Option(r.getAs[Any](n)).map(_.toString)).distinct
    val domains = field("link_domain").sorted
    val qualified = rows.flatMap { r =>
      Option(r.getAs[String]("link_subdomain")).filter(_.nonEmpty)
        .map(s => s"$s.${r.getAs[String]("link_domain")}")
    }.distinct.sorted
    val keys = domains ++ qualified ++ absent
    // values seen in the data, their case flipped, and regexes with
    // metacharacters
    val filterValues = Map(
      "No Follow" -> Seq("0", "1", "x"),
      "Link Path" -> (field("link_path") ++ Seq("^/.*", "[a-z]+/?", "x?q")),
      "Source Host" -> (field("page_host").map(_.toUpperCase) ++ Seq("(www|b)\\..*", ".")),
      "Source Path" -> (field("page_path") ++ Seq("/.+", "^$")),
      "Anchor" -> (field("link_text").map(_.toUpperCase) ++ Seq("h.l+o", "^\\w+$")),
      "IP" -> (field("ip") ++ Seq("\\d+\\.\\d+\\..*", "1\\.2")))
    val filterNames = filterValues.keys.toSeq.sorted
    val grid = for {
      key <- keys; sort <- sorts; order <- Seq("asc", "desc")
    } yield LinkDbRequest(key, Nil, sort, order, any(limits),
      if (rnd.nextBoolean()) 1 else any(pages))
    val random = (0 until n).map { _ =>
      val filters = (0 until rnd.nextInt(3)).map { _ =>
        val name = any(filterNames)
        LinkDbFilter(name, any(Seq("exact", "any")), any(filterValues(name)))
      }
      LinkDbRequest(any(keys), filters, any(sorts), any(Seq("asc", "desc")),
        any(limits), any(pages))
    }
    // every filter name with both kinds on every domain
    val everyFilter = for {
      name <- filterNames; kind <- Seq("exact", "any"); key <- domains
    } yield LinkDbRequest(key, Seq(LinkDbFilter(name, kind, any(filterValues(name)))))
    grid ++ random ++ everyFilter
  }

  private def pageRequests(pagesDf: DataFrame, seed: Long): Seq[PageDbRequest] = {
    val rnd = new scala.util.Random(seed)
    def any[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val hosts = strings(pagesDf, "page_host") ++ absent
    val paths = strings(pagesDf, "page_path") ++ Seq("^/.*", "X")
    val titles = strings(pagesDf, "title").map(_.toUpperCase) ++ Seq(".+", "^$")
    for {
      host <- hosts
      path <- Seq(None, Some(any(paths)))
      title <- Seq(None, Some(any(titles)))
      limit <- Seq(0, 1, 100, 101, -5)
    } yield PageDbRequest(host, path, title, limit, any(pages))
  }

  /** `f` over the frame, cached: one Spark job per request either way,
    * but not one scan of the store's files per request.
    */
  private def cached[T](df: DataFrame)(f: DataFrame => T): T = {
    val c = df.cache()
    try f(c) finally c.unpersist()
  }

  private def assertSameLinks(out: String, reqs: Seq[LinkDbRequest]): Unit =
    cached(LinkStore.read(spark, s"$out/links")) { links =>
      val frame = new LinkDb(links)
      reqs.foreach { r =>
        assert(Pipeline.linkDb(spark, out, r.domain).query(r) == frame.query(r), r)
      }
    }

  private def assertSamePages(out: String, reqs: Seq[PageDbRequest]): Unit =
    cached(PageStore.read(spark, s"$out/pages")) { pages =>
      val frame = new PageDb(pages)
      reqs.foreach { r =>
        assert(Pipeline.pageDb(spark, out, r.host).query(r) == frame.query(r), r)
      }
    }

  test("the direct serving path answers exactly as the frame path on a folded store") {
    val links = LinkStore.read(spark, s"$store/links")
    val reqs = linkRequests(links, seed = 17, n = 120)
    assert(reqs.size >= 300, reqs.size)
    assertSameLinks(store, reqs)
    // the mix is not vacuous: a good share of the answers have rows
    assert(reqs.count(r => Pipeline.linkDb(spark, store, r.domain).query(r).nonEmpty) > reqs.size / 5)

    val pageReqs = pageRequests(PageStore.read(spark, s"$store/pages"), seed = 18)
    assertSamePages(store, pageReqs)
    assert(pageReqs.exists(r => Pipeline.pageDb(spark, store, r.host).query(r).nonEmpty))

    val hosts = strings(Pipeline.hostRanks(spark, store).get, "host")
    assert(hosts.nonEmpty)
    for (h <- hosts ++ absent) {
      val viaFrame = Pipeline.hostRanksFor(spark, store, Seq(h)).collect()
        .headOption.map(_.getDouble(1))
      assert(Pipeline.hostRankOf(spark, store, h) == viaFrame, h)
    }
  }

  private def handMade: String = ServingPathSpec.handMade

  test("the direct serving path answers exactly as the frame path on hand-made edge rows") {
    val links = LinkStore.read(spark, s"$handMade/links")
    val ties = Seq("ties.com", "www.ties.com", "dév.ties.com", "other.org").flatMap { d =>
      for (sort <- sorts; order <- Seq("asc", "desc"); limit <- Seq(1, 100))
        yield LinkDbRequest(d, Nil, sort, order, limit, 2)
    }
    val reqs = linkRequests(links, seed = 23, n = 60) ++ ties
    assertSameLinks(handMade, reqs)
    assertSamePages(handMade, pageRequests(PageStore.read(spark, s"$handMade/pages"), seed = 24))

    // the one definition itself: nulls sort first ascending and last
    // descending, and ties fall through to the full composite key
    val byText = Pipeline.linkDb(spark, handMade, "ties.com")
    def textsOf(order: String) = byText.query(
      LinkDbRequest("ties.com", sort = Some("linkText"), order = order)).map(_.linkText)
    val textRows = links.filter("link_domain = 'ties.com'")
    val nulls = textRows.filter("link_text is null").count().toInt
    assert(nulls > 0)
    val asc = textsOf("asc")
    assert(asc.take(nulls).forall(_.isEmpty) && asc == asc.sorted(Ordering.String), asc)
    val desc = textsOf("desc")
    assert(desc.takeRight(nulls).forall(_.isEmpty), desc)
    // the tiebreak makes the order independent of the input's: the
    // frame path over a shuffled frame answers the same
    val shuffled = new LinkDb(links.repartition(5, org.apache.spark.sql.functions.col("page_host")))
    ties.foreach(r => assert(shuffled.query(r) == Pipeline.linkDb(spark, handMade, r.domain).query(r), r))
  }
}

object ServingPathSpec {

  /** A store of hand-made rows: nulls, empty strings, non-ASCII and
    * astral-plane text, and ties on every sort key, so the order of an
    * answer rests on the tiebreak and on where nulls sort. Rows are
    * listed against their sort order, so a reader that kept file order
    * on ties would differ.
    */
  lazy val handMade: String = {
    val spark = SparkSpec.session
    val store = ServingReadSpec.store
    val out = SparkSpec.tempDir("servingpath-hand").toString
    val linkSchema = LinkStore.read(spark, s"$store/links").drop("domain_bucket").schema
    val pageSchema = PageStore.read(spark, s"$store/pages").drop("domain_bucket").schema
    def row(schema: StructType, values: Map[String, Any]): Row =
      Row.fromSeq(schema.map { f =>
        values.getOrElse(f.name, f.dataType match {
          case IntegerType => 0
          case LongType => 1L
          case _ => "x"
        })
      })
    val texts = Seq(null, "", "Same", "same", "😀 emoji", "ÄÖÜ", "same")
    val linkRows = for {
      (sub, si) <- Seq("", "www", null, "dév").zipWithIndex
      (path, pi) <- Seq("/b", "/a", "", null, "/😀", "/é").zipWithIndex
      host <- Seq("z.org", "a.org", "ü.net")
    } yield row(linkSchema, Map(
      "link_domain" -> (if ((si + pi) % 5 == 4) "other.org" else "ties.com"),
      "link_subdomain" -> sub, "link_path" -> path, "link_rawquery" -> (if (pi % 2 == 0) "" else null),
      "page_host" -> host, "page_path" -> Seq("/p", "", null)(pi % 3),
      "page_rawquery" -> "", "link_scheme" -> Seq("1", "2")(si % 2),
      "link_text" -> texts((si * 6 + pi) % texts.size),
      "nofollow" -> (pi % 2), "noindex" -> 0,
      "date_from" -> Seq("2024-01-01", "2023-12-31", null)(pi % 3),
      "date_to" -> Seq("2024-02-01", null)(si % 2),
      "ip" -> Seq("1.1.1.1", "", null)((si + pi) % 3), "page_scheme" -> "2", "qty" -> (pi + 1).toLong))
    val pageRows = for {
      (path, pi) <- Seq("/b", "/a", "", null, "/😀").zipWithIndex
      title <- Seq(null, "", "Tïtle", "😀", "t")
    } yield row(pageSchema, Map(
      "page_host" -> "www.ties.com", "page_domain" -> "ties.com",
      "page_path" -> path, "page_rawquery" -> Seq("", null)(pi % 2),
      "crawl_date" -> Seq("2024-01-01", null)(pi % 2), "ip" -> Seq("", "9.9.9.9", null)(pi % 3),
      "title" -> title, "page_scheme" -> "1"))
    def frame(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(java.util.Arrays.asList(rows.reverse: _*), schema)
    StoreGen.publish(spark, s"$out/links", LinkStore.write(frame(linkRows, linkSchema), _))
    StoreGen.publish(spark, s"$out/pages", PageStore.write(frame(pageRows, pageSchema), _))
    out
  }
}
