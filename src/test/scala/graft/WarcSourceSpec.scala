package graft

import graft.sources.{WarcSource, WatSource}
import org.apache.spark.sql.functions._
import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

class WarcSourceSpec extends SparkSpec {

  /** One WARC record, CRLF-framed, correct Content-Length. */
  private def record(warcType: String, uri: String, date: String, ip: String,
      payload: String, extraHeaders: Seq[String] = Nil): String = {
    val body = payload.replace("\n", "\r\n")
    val h = Seq(
      "WARC/1.0",
      s"WARC-Type: $warcType",
      s"WARC-Target-URI: $uri",
      s"WARC-Date: $date",
      s"WARC-IP-Address: $ip") ++ extraHeaders ++ Seq(
      s"Content-Length: ${body.getBytes(UTF_8).length}")
    h.mkString("\r\n") + "\r\n\r\n" + body + "\r\n\r\n"
  }

  private def httpHtml(html: String, status: String = "200 OK",
      cType: String = "text/html; charset=utf-8"): String =
    s"HTTP/1.1 $status\nContent-Type: $cType\n\n$html"

  private val pageA = record("response", "http://www.sitea.com/index.html",
    "2024-05-01T12:00:00Z", "1.2.3.4", httpHtml(
      """<html><head><title> Site A </title>
        |<meta name=viewport content="w">
        |</head><body>
        |<a href="http://ext1.com/page">hello</a>
        |<a href='http://www.sitea.com/self'>self</a>
        |<a href="https://sub.ext2.co.uk/x?q=1" rel="nofollow me">deep <b>x</b></a>
        |<a href="/relative/only">rel</a>
        |</body></html>""".stripMargin))

  // noindex robots meta: page dropped entirely, links and all
  private val pageNoindex = record("response", "https://hidden.example.net/secret",
    "2024-07-03T00:00:00Z", "7.7.7.7", httpHtml(
      """<html><head><meta name="robots" content="noindex,follow"></head>
        |<body><a href="http://leaked.org/x">t</a></body></html>""".stripMargin))

  // canonical pointing elsewhere: dropped (same rule as the WAT path)
  private val pageCanon = record("response", "https://dup.example.com/copy",
    "2024-07-01T00:00:00Z", "9.9.9.9", httpHtml(
      """<html><head><link rel="canonical" href="/original"></head>
        |<body><a href="http://kept-anyway.com/x">t</a></body></html>""".stripMargin))

  private val page404 = record("response", "http://gone.example.com/x",
    "2024-05-02T00:00:00Z", "2.2.2.2", httpHtml("<html>gone</html>", status = "404 Not Found"))

  private val pageJson = record("response", "http://api.example.com/x",
    "2024-05-02T00:00:00Z", "3.3.3.3", httpHtml("{}", cType = "application/json"))

  private val reqRecord = record("request", "http://www.sitea.com/index.html",
    "2024-05-01T12:00:00Z", "1.2.3.4", "GET /index.html HTTP/1.1\nHost: www.sitea.com\n")

  private val infoRecord = record("warcinfo", "", "2024-05-01T00:00:00Z", "",
    "software: graft-fixture\n")

  private def gzMembers(parts: Seq[String]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    parts.foreach { p => // one gzip MEMBER per record — the CC layout
      val g = new GZIPOutputStream(out)
      g.write(p.getBytes(UTF_8)); g.finish(); g.close()
    }
    out.toByteArray
  }

  private lazy val dir = SparkSpec.tempDir("warc").toFile
  private lazy val fileA: String = {
    val f = new java.io.File(dir, "crawl-00000.warc.gz")
    val s = new FileOutputStream(f)
    try s.write(gzMembers(Seq(infoRecord, reqRecord, pageA, page404, pageJson)))
    finally s.close()
    f.getAbsolutePath
  }
  private lazy val fileB: String = {
    val f = new java.io.File(dir, "crawl-00001.warc") // plain, not gzipped
    val s = new FileOutputStream(f)
    try s.write((pageNoindex + pageCanon).getBytes(UTF_8)) finally s.close()
    f.getAbsolutePath
  }

  test("records: multi-member gzip framing, types, HTTP split") {
    val r = WarcSource.records(spark, Seq(fileA)).collect()
    assert(r.length == 5)
    val byType = r.groupBy(_.getAs[String]("warc_type")).view.mapValues(_.length).toMap
    assert(byType == Map("warcinfo" -> 1, "request" -> 1, "response" -> 3))
    val a = r.find(x => x.getAs[String]("target_uri") == "http://www.sitea.com/index.html"
      && x.getAs[String]("warc_type") == "response").get
    assert(a.getAs[Int]("http_status") == 200)
    assert(a.getAs[String]("http_content_type") == "text/html")
    assert(a.getAs[String]("body").contains("<title> Site A </title>"))
    assert(!a.getAs[String]("body").startsWith("HTTP/")) // headers split off
    assert(r.find(_.getAs[String]("target_uri") == "http://gone.example.com/x")
      .get.getAs[Int]("http_status") == 404)
  }

  test("records: comma-joined paths both read; plain .warc works") {
    val r = WarcSource.records(spark, Seq(fileA, fileB))
    assert(r.count() == 7)
    assert(r.filter(col("warc_file").contains("crawl-00001")).count() == 2)
  }

  test("records: body cap truncates payload but preserves framing") {
    val big = record("response", "http://big.example.com/x",
      "2024-05-01T00:00:00Z", "1.1.1.1", httpHtml("<html>" + "x" * 5000 + "</html>"))
    val f = new java.io.File(dir, "big.warc.gz")
    val s = new FileOutputStream(f)
    try s.write(gzMembers(Seq(big, pageA))) finally s.close()
    val r = WarcSource.records(spark, Seq(f.getAbsolutePath), maxBodyBytes = 1000)
      .orderBy("target_uri").collect()
    assert(r.length == 2) // record AFTER the capped one still parses
    val capped = r.find(_.getAs[String]("target_uri") == "http://big.example.com/x").get
    assert(capped.getAs[Boolean]("truncated"))
    assert(capped.getAs[String]("body").length < 1000)
    assert(!r.find(_.getAs[String]("target_uri") == "http://www.sitea.com/index.html")
      .get.getAs[Boolean]("truncated"))
  }

  test("htmlPages keeps only 200 text/html responses") {
    val p = WarcSource.htmlPages(WarcSource.records(spark, Seq(fileA))).collect()
    assert(p.map(_.getAs[String]("page_url")).toSeq == Seq("http://www.sitea.com/index.html"))
    assert(p.head.getAs[String]("crawl_date") == "2024-05-01")
  }

  test("pages: WAT-equivalent gates run on reconstructed HTML metadata") {
    val p = WarcSource.pages(spark, Seq(fileA, fileB))
    val urls = p.select("page_url").as[String](spark.implicits.newStringEncoder).collect().toSet
    // noindex and foreign-canonical pages dropped, like the WAT path
    assert(urls == Set("http://www.sitea.com/index.html"))
    val row = p.collect().head
    assert(row.getAs[String]("title") == "Site A")
    assert(row.getAs[String]("page_domain") == "sitea.com")
  }

  test("links: anchors through the shared derivation — schema parity with WatSource") {
    val warcLinks = WarcSource.links(spark, Seq(fileA, fileB))
    val watLinks = WatSource.links(spark, new WatSourceSpec {}.fixturePath)
    // identical compaction input: names + types (nullability may be
    // tighter on the WARC side — its columns coalesce to "")
    assert(warcLinks.schema.fields.toSeq.map(f => (f.name, f.dataType)) ==
      watLinks.schema.fields.toSeq.map(f => (f.name, f.dataType)))
    val rows = warcLinks.collect().map(r =>
      (r.getAs[String]("link_domain"), r.getAs[String]("link_subdomain"),
        r.getAs[String]("link_text"), r.getAs[Int]("nofollow"))).toSet
    // same-host, relative-only anchors dropped; nofollow rel honored;
    // nested markup stripped from anchor text
    assert(rows == Set(
      ("ext1.com", "", "hello", 0),
      ("ext2.co.uk", "sub", "deep x", 1)))
  }

  test("q59: fixture WARC chain yields the exact expected link rollup") {
    import graft.sources.WarcFixture
    val out = graft.operators.WarcOps.q59_warc_links.run(spark, sfDir).collect()
    // every kept link is one of the fixture's external anchors; chaff
    // records (warcinfo/request/404/json/noindex/canonical) add zero
    assert(out.map(_.getAs[Long]("qty")).sum == WarcFixture.ExpectedLinks.toLong)
    // one output row per distinct external domain the formula reaches
    val domains = (for {
      f <- 0 until WarcFixture.Files
      i <- 0 until WarcFixture.PagesPerFile
      k <- 0 until WarcFixture.LinksPerPage
    } yield (i * 7 + f * 11 + k) % WarcFixture.ExtDomains).toSet
    assert(out.length == domains.size)
    assert(out.map(_.getAs[String]("link_domain")).toSet ==
      domains.map(d => s"ext$d.org"))
    // rebuild-once: a second run reuses the materialized fixture
    val again = graft.operators.WarcOps.q59_warc_links.run(spark, sfDir).collect()
    assert(again.map(_.toString).sorted.toSeq == out.map(_.toString).sorted.toSeq)
  }

  test("text: tags, script/style and entities stripped for the documents pipeline") {
    val html = record("response", "http://t.example.com/", "2024-01-01T00:00:00Z", "1.1.1.1",
      httpHtml("<html><head><style>p{color:red}</style><script>var x=1;</script></head>" +
        "<body><p>Hello&nbsp;world &amp; friends</p><div>bye</div></body></html>"))
    val f = new java.io.File(dir, "text.warc")
    val s = new FileOutputStream(f)
    try s.write(html.getBytes(UTF_8)) finally s.close()
    val t = WarcSource.text(spark, Seq(f.getAbsolutePath)).collect().head.getAs[String]("text")
    assert(t == "Hello world & friends bye", s"got '$t'")
    assert(!t.contains("color") && !t.contains("var x"))
  }
}
