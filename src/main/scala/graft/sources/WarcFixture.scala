package graft.sources

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

/** Deterministic on-disk WARC fixture for the q59 ingestion query —
  * the driver's correctness/bench harness passes only a parquet
  * `sfDir`, so the raw-WARC chain gets its input from here: a fixed
  * set of `.warc.gz` files materialized once under the JVM temp dir as
  * a [[graft.SealedDir]] keyed by a digest of the records themselves
  * (`_*` names are invisible to Hadoop's input listing, so the seal
  * never reaches the parser).
  *
  * Shape mirrors the Common Crawl layout WarcSource targets
  * (reference: pkg/commoncrawl/wat.go reads the WAT sidecars of
  * exactly these records): one gzip MEMBER per record, `response`
  * records carrying full HTTP payloads, interleaved with the record
  * types an importer must skip — warcinfo, request, 404s, non-HTML
  * content types, robots-noindex pages and canonical-elsewhere
  * duplicates. Every quality gate in the shared WAT/WARC rule chain
  * fires on at least one record, so the end-to-end row count pins the
  * whole chain, not just the parser.
  */
object WarcFixture {

  val Files = 3
  val PagesPerFile = 25
  val LinksPerPage = 3
  val ExtDomains = 40

  /** Kept (page, external-link) rows the fixture must yield. */
  val ExpectedLinks: Int = Files * PagesPerFile * LinksPerPage

  private def record(warcType: String, uri: String, date: String, ip: String,
      payload: String): String = {
    val body = payload.replace("\n", "\r\n")
    val h = Seq(
      "WARC/1.0",
      s"WARC-Type: $warcType",
      s"WARC-Target-URI: $uri",
      s"WARC-Date: $date",
      s"WARC-IP-Address: $ip",
      s"Content-Length: ${body.getBytes(UTF_8).length}")
    h.mkString("\r\n") + "\r\n\r\n" + body + "\r\n\r\n"
  }

  private def httpHtml(html: String, status: String = "200 OK",
      cType: String = "text/html; charset=utf-8"): String =
    s"HTTP/1.1 $status\nContent-Type: $cType\n\n$html"

  private def page(f: Int, i: Int): String = {
    val host = s"www.site$f-$i.com"
    val anchors = (0 until LinksPerPage).map { k =>
      val d = (i * 7 + f * 11 + k) % ExtDomains
      s"""<a href="http://ext$d.org/p/$k?id=$k">anchor $k</a>"""
    }.mkString("\n")
    record("response", s"http://$host/page$i.html",
      f"2024-06-${(i % 28) + 1}%02dT08:00:00Z", s"10.$f.$i.1", httpHtml(
        s"""<html><head><title>Site $f/$i</title></head><body>
           |$anchors
           |<a href="http://$host/self">internal</a>
           |<a href="/relative">relative</a>
           |</body></html>""".stripMargin))
  }

  /** Records an importer must NOT emit links for. */
  private def chaff(f: Int): Seq[String] = Seq(
    record("warcinfo", "", "2024-06-01T00:00:00Z", "",
      "software: graft-fixture\n"),
    record("request", s"http://www.site$f-0.com/page0.html",
      "2024-06-01T08:00:00Z", s"10.$f.0.1",
      s"GET /page0.html HTTP/1.1\nHost: www.site$f-0.com\n"),
    record("response", s"http://gone$f.example.com/x",
      "2024-06-02T00:00:00Z", "2.2.2.2",
      httpHtml("<html><a href=\"http://dead.org/x\">x</a></html>",
        status = "404 Not Found")),
    record("response", s"http://api$f.example.com/x",
      "2024-06-02T00:00:00Z", "3.3.3.3",
      httpHtml("""{"k": 1}""", cType = "application/json")),
    record("response", s"https://hidden$f.example.net/secret",
      "2024-06-03T00:00:00Z", "7.7.7.7", httpHtml(
        """<html><head><meta name="robots" content="noindex"></head>
          |<body><a href="http://leaked.org/x">t</a></body></html>""".stripMargin)),
    record("response", s"https://dup$f.example.com/copy",
      "2024-06-03T00:00:00Z", "9.9.9.9", httpHtml(
        """<html><head><link rel="canonical" href="/original"></head>
          |<body><a href="http://kept-anyway.com/x">t</a></body></html>""".stripMargin)))

  private def gzMembers(parts: Seq[String]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    parts.foreach { p =>
      val g = new GZIPOutputStream(out)
      g.write(p.getBytes(UTF_8)); g.finish(); g.close()
    }
    out.toByteArray
  }

  /** Materialize (once) and return the fixture directory. */
  def dir(): String = {
    val files = (0 until Files).map(f =>
      f"crawl-$f%05d.warc.gz" -> (chaff(f) ++ (0 until PagesPerFile).map(page(f, _))))
    val key = graft.SealedDir.digest(files.flatMap { case (n, recs) => n +: recs }: _*)
    graft.SealedDir.getOrBuild(sys.props("java.io.tmpdir"), "graft-warc-fixture", key) { build =>
      files.foreach { case (name, recs) =>
        val s = new FileOutputStream(s"$build/$name")
        try s.write(gzMembers(recs)) finally s.close()
      }
    }
  }
}
