package graft

import graft.api.{LinkDb, LinkDbFilter, LinkDbRequest}
import graft.operators.LinkCompaction
import graft.sinks.LinkStore
import java.nio.file.Files

class LinkDbSpec extends SparkSpec {

  private lazy val compacted = LinkCompaction.compact(Tables.links(spark, sfDir)).cache()
  private lazy val db = new LinkDb(compacted)

  test("domain query returns only that domain, bounded and sorted") {
    val out = db.query(LinkDbRequest("d3.com", limit = 50))
    assert(out.nonEmpty && out.length <= 50)
    assert(out.forall(o => o.linkUrl.contains("://d3.com") || o.linkUrl.contains(".d3.com")))
  }

  test("subdomain in the request narrows to that subdomain") {
    val out = db.query(LinkDbRequest("www.d4.com"))
    assert(out.nonEmpty)
    assert(out.forall(_.linkUrl.contains("://www.d4.com")))
  }

  test("multi-part TLD domains resolve via the suffix table") {
    val out = db.query(LinkDbRequest("d7.co.uk"))
    assert(out.nonEmpty)
    assert(out.forall(_.linkUrl.contains("d7.co.uk")))
  }

  test("filters: No Follow exact int, Anchor any case-insensitive") {
    val nf = db.query(LinkDbRequest("d3.com",
      filters = Seq(LinkDbFilter("No Follow", "exact", "1"))))
    assert(nf.forall(_.noFollow == 1))
    val anchor = db.query(LinkDbRequest("d3.com",
      filters = Seq(LinkDbFilter("Anchor", "any", "URGENT"))))
    assert(anchor.nonEmpty)
    assert(anchor.forall(_.linkText.toLowerCase.contains("urgent")))
  }

  test("exact Link Path filter anchors the match") {
    val out = db.query(LinkDbRequest("d3.com",
      filters = Seq(LinkDbFilter("Link Path", "exact", "/p/1"))))
    assert(out.nonEmpty)
    assert(out.forall(_.linkUrl.contains("/p/1")))
  }

  test("sort + order + pagination are deterministic and disjoint") {
    val req = LinkDbRequest("d3.com", sort = Some("pageUrl"), order = "desc", limit = 5)
    val p1 = db.query(req)
    val p1again = db.query(req)
    assert(p1 == p1again)
    val p2 = db.query(req.copy(page = 2))
    assert(p1.map(_.pageUrl).toSet.intersect(p2.map(_.pageUrl).toSet).isEmpty ||
      p1 != p2) // pages may share pageUrl (different linkUrl) but not be equal
    val urls = p1.map(_.pageUrl)
    assert(urls == urls.sorted.reverse)
  }

  test("merge collapses duplicate (linkUrl,pageUrl,linkText,noFollow) runs") {
    val out = db.query(LinkDbRequest("d3.com", limit = 100))
    val keys = out.map(o => (o.linkUrl, o.pageUrl, o.linkText, o.noFollow))
    assert(keys.distinct.length == keys.length)
  }

  test("LinkStore round-trip prunes partitions for a domain read") {
    val path = SparkSpec.tempDir("linkstore").toString
    LinkStore.write(compacted, path)
    val one = LinkStore.readDomain(spark, path, "d3.com")
    val expect = compacted.filter(org.apache.spark.sql.functions.col("link_domain") === "d3.com")
    assert(one.count() == expect.count() && one.count() > 0)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("domain_bucket"),
      "domain read must prune on the bucket partition column")
    // API works identically over the store
    val viaStore = new LinkDb(LinkStore.readDomain(spark, path, "d3.com"))
      .query(LinkDbRequest("d3.com", limit = 10))
    val viaMem = db.query(LinkDbRequest("d3.com", limit = 10))
    assert(viaStore == viaMem)
  }

  test("driver-side bucketOfDomain equals the Column-side bucket computation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val domains = Seq("d3.com", "d7.co.uk", "example.org", "a.b.c.github.io",
      "xn--bcher-kva.example", "", "ünïcode.test")
    val viaColumn = domains.toDF("d")
      .select(pmod(xxhash64(col("d")), lit(LinkStore.NumBuckets.toLong)).cast("int"))
      .collect().map(_.getInt(0)).toSeq
    assert(domains.map(LinkStore.bucketOfDomain) == viaColumn)
  }

  test("out-of-range limit falls back to 100, like the reference controller") {
    val dflt = db.query(LinkDbRequest("d3.com"))
    assert(db.query(LinkDbRequest("d3.com", limit = 0)) == dflt)
    assert(db.query(LinkDbRequest("d3.com", limit = -7)) == dflt)
    assert(db.query(LinkDbRequest("d3.com", limit = 500)) == dflt)
    assert(db.query(LinkDbRequest("d3.com", page = -2)) == dflt)
  }

  test("validated store write fails loudly on an invalid domain") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val path = SparkSpec.tempDir("linkstorebad").toString
    // valid rows sail through with validation on
    LinkStore.write(compacted, path, validate = true)
    assert(LinkStore.read(spark, path).count() == compacted.count())
    // one corrupted domain kills the whole write (storelinks semantics)
    val corrupt = compacted.withColumn("link_domain",
      when(col("link_text") === compacted.select("link_text").head().getString(0),
        lit("bad_domain")).otherwise(col("link_domain")))
    val e = intercept[Exception] {
      LinkStore.write(corrupt, SparkSpec.tempDir("linkstorebad2").toString,
        validate = true)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("invalid link_domain")),
      s"unexpected failure: ${messages(e).mkString(" | ")}")
  }
}
