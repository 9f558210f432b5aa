package graft

import graft.sources.WatSource
import org.apache.spark.sql.functions._
import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

class WatSourceSpec extends SparkSpec {

  private def watLine(uri: String, ip: String, date: String,
      robots: Option[String], links: Seq[(String, String, String, String)],
      canonical: Option[String] = None): String = {
    val metas = robots.map(r =>
      s"""{"name":"robots","content":"$r"}""").getOrElse("""{"name":"viewport","content":"x"}""")
    val headLinks = canonical
      .map(c => s"""[{"path":"LINK@/href","url":"$c","rel":"canonical"}]""")
      .getOrElse("[]")
    val linksJson = links.map { case (path, url, text, rel) =>
      s"""{"path":"$path","url":"$url","text":"$text","rel":"$rel"}"""
    }.mkString("[", ",", "]")
    s"""{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"$uri","WARC-IP-Address":"$ip","WARC-Date":"$date"},""" +
      s""""Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":{"Head":{"Title":"t","Metas":[$metas],"Link":$headLinks},"Links":$linksJson}}}}}"""
  }

  lazy val fixturePath: String = {
    val dir = SparkSpec.tempDir("wat").toFile
    val f = new java.io.File(dir, "test.wat.gz")
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(f)), "UTF-8"))
    w.write("WARC/1.0\n") // header noise the parser must skip
    w.write("WARC-Type: metadata\n")
    w.write(watLine("http://www.sitea.com/index.html", "1.2.3.4", "2024-05-01T12:00:00Z",
      Some("nofollow"), Seq(
        ("A@/href", "http://ext1.com/page", "hello", ""),
        ("A@/href", "http://www.sitea.com/self", "self", ""), // same host -> dropped
        ("A@/href", "https://sub.ext2.co.uk/x?q=1", "deep", "nofollow me"),
        ("IMG@/src", "http://img.ext3.com/a.gif", "", ""), // non-anchor -> dropped
        ("A@/href", "/relative/only", "rel", ""))) + "\n") // no scheme -> dropped
    w.write(watLine("https://b.org/p", "5.6.7.8", "2024-06-02T01:00:00Z",
      None, Seq(
        ("A@/href", "//proto.rel.net/path", "pr", ""),
        ("A@/href", "http://assets.net/logo.png", "img", ""), // ignored ext
        ("A@/href", "http://192.168.0.1/x", "ip", ""))) + "\n") // ip host -> dropped
    // canonical points at another path -> the whole page is dropped
    w.write(watLine("https://dup.example.com/copy", "9.9.9.9", "2024-07-01T00:00:00Z",
      None, Seq(("A@/href", "http://kept-anyway.com/x", "t", "")),
      canonical = Some("/original")) + "\n")
    // canonical agrees with the page -> kept
    w.write(watLine("https://canon.example.com/self", "8.8.8.8", "2024-07-02T00:00:00Z",
      None, Seq(("A@/href", "http://fromcanon.org/y", "t", "")),
      canonical = Some("https://canon.example.com/self")) + "\n")
    // noindex page: dropped entirely, links and all (wat.go:746-749)
    w.write(watLine("https://hidden.example.net/secret", "7.7.7.7", "2024-07-03T00:00:00Z",
      Some("noindex"), Seq(("A@/href", "http://leaked.org/x", "t", ""))) + "\n")
    // PSL-hard hosts: a PRIVATE-section suffix page (github.io) linking
    // to wildcard/exception-rule and 3-label-suffix hosts — the full
    // public-suffix table must split all of these like Go publicsuffix
    w.write(watLine("https://blog.user.github.io/post", "6.6.6.6", "2024-07-04T00:00:00Z",
      None, Seq(
        ("A@/href", "http://x.www.ck/a", "exc", ""), // !www.ck exception
        ("A@/href", "https://deep.site.com.pl/b?id=2", "pl", ""),
        ("A@/href", "https://other.user.github.io/c", "same-site", ""), // same eTLD+1 -> dropped
        ("A@/href", "http://github.io/d", "bare-suffix", ""))) + "\n") // no eTLD+1 -> dropped
    w.write("{ this is not valid json\n")
    w.close()
    f.getAbsolutePath
  }

  test("noindex pages are dropped before link extraction") {
    val hosts = WatSource.pages(spark, fixturePath).collect()
      .map(_.getAs[String]("page_host")).toSet
    assert(!hosts.contains("hidden.example.net"))
    val l = WatSource.links(spark, fixturePath).collect()
    assert(!l.exists(_.getAs[String]("link_domain") == "leaked.org"))
  }

  test("canonical-link gate drops mismatched pages, keeps agreeing ones") {
    val hosts = WatSource.pages(spark, fixturePath).collect()
      .map(_.getAs[String]("page_host")).toSet
    assert(!hosts.contains("dup.example.com"), "mismatched canonical must drop the page")
    assert(hosts.contains("canon.example.com"), "matching canonical must keep the page")
    val l = WatSource.links(spark, fixturePath).collect()
    assert(!l.exists(_.getAs[String]("link_domain") == "kept-anyway.com"))
    assert(l.exists(_.getAs[String]("link_domain") == "fromcanon.org"))
  }

  test("pages parses envelope fields and robots metas") {
    val p = WatSource.pages(spark, fixturePath).collect()
    assert(p.length == 4) // sitea, b.org, canon.example.com, github.io blog (dup dropped)
    val a = p.find(_.getAs[String]("page_host") == "www.sitea.com").get
    assert(a.getAs[Int]("noindex") == 0 && a.getAs[Int]("page_nofollow") == 1)
    assert(a.getAs[String]("page_domain") == "sitea.com")
    assert(a.getAs[String]("crawl_date") == "2024-05-01")
    val b = p.find(_.getAs[String]("page_host") == "b.org").get
    assert(b.getAs[Int]("noindex") == 0 && b.getAs[Int]("page_nofollow") == 0)
  }

  test("links keeps anchors to external valid hosts only") {
    val l = WatSource.links(spark, fixturePath).collect()
    val byDomain = l.map(r => r.getAs[String]("link_domain") -> r).toMap
    // page A: ext1.com kept; sub.ext2.co.uk kept with eTLD+1 split;
    // self/same-host, IMG, relative all dropped.
    // page B: proto.rel.net kept via protocol-relative; .png and IP dropped.
    // canonical page contributes fromcanon.org.
    assert(byDomain.keySet ==
      Set("ext1.com", "ext2.co.uk", "rel.net", "fromcanon.org", "www.ck", "site.com.pl"))
    val e2 = byDomain("ext2.co.uk")
    assert(e2.getAs[String]("link_subdomain") == "sub")
    assert(e2.getAs[String]("link_rawquery") == "q=1")
    assert(e2.getAs[String]("link_scheme") == "2")
    assert(e2.getAs[Int]("nofollow") == 1) // page-level robots nofollow
    val pr = byDomain("rel.net")
    assert(pr.getAs[String]("link_scheme") == "2") // // resolves as https
    assert(pr.getAs[Int]("nofollow") == 0)
    assert(byDomain("ext1.com").getAs[Int]("nofollow") == 1) // page-level
  }

  test("ignoreDomains drops blocklisted link domains") {
    val l = WatSource.links(spark, fixturePath, ignoreDomains = Seq("ext1.com")).collect()
    assert(!l.exists(_.getAs[String]("link_domain") == "ext1.com"))
    assert(l.exists(_.getAs[String]("link_domain") == "rel.net"))
  }

  test("wat links flow into compaction") {
    val compacted = graft.operators.LinkCompaction.compact(WatSource.links(spark, fixturePath))
    assert(compacted.count() == 6)
    assert(compacted.agg(sum("qty")).head.getLong(0) == 6)
  }

  test("full PSL governs source + link domain splits (wat.go:664)") {
    val p = WatSource.pages(spark, fixturePath).collect()
    val gh = p.find(_.getAs[String]("page_host") == "blog.user.github.io").get
    assert(gh.getAs[String]("page_domain") == "user.github.io") // private suffix
    val l = WatSource.links(spark, fixturePath).collect()
    val byDomain = l.map(r => r.getAs[String]("link_domain") -> r).toMap
    // exception rule !www.ck: www.ck IS the registrable domain
    assert(byDomain("www.ck").getAs[String]("link_subdomain") == "x")
    // 3-label host under the com.pl suffix
    assert(byDomain("site.com.pl").getAs[String]("link_subdomain") == "deep")
    // same-eTLD+1 link (other.user.github.io from blog.user.github.io)
    // is an internal link under the PSL and must be dropped
    assert(!l.exists(_.getAs[String]("link_subdomain") == "other"))
    // a bare public suffix has no registrable domain -> dropped
    assert(!l.exists(r => Option(r.getAs[String]("link_domain")).contains("github.io")))
  }
}
