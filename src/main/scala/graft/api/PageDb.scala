package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Page-record lookup request: `host` is an exact (case-insensitive)
  * page host; `pathAny`/`titleAny` are case-insensitive substring/regex
  * matches (the LinkDb "any" filter vocabulary applied to page
  * metadata). Out-of-range limit falls back to 100, page to 1 — same
  * conventions as the links API.
  */
final case class PageDbRequest(
    host: String,
    pathAny: Option[String] = None,
    titleAny: Option[String] = None,
    limit: Int = 100,
    page: Int = 1)

/** One served page record (the reference's page-file line, models.go /
  * importer/main.go FilePage: URL, title, IP, crawl date, robots
  * flags).
  */
final case class PageOut(
    pageUrl: String, title: String, ip: String, crawlDate: String,
    noIndex: Int, pageNoFollow: Int)

/** Query surface over page records — the page-side sibling of
  * [[LinkDb]], closing the loop on the reference's page records (they
  * exist to answer "what do we know about this page": title, IP, crawl
  * date, robots flags).
  *
  * Same shape as LinkDb: [[query]] defines a request once (every
  * predicate a Column, a sort carrying a full deterministic key, the
  * requested ≤100-row window, the rendering), and the rows come from
  * either path: `new PageDb(pages)` over any pages DataFrame
  * (WatSource.pages output or PageStore.read) runs it as a Spark plan;
  * `Pipeline.pageDb` (what the server binds) reads the eTLD+1's one
  * page-store bucket directory in the calling thread, with no Spark
  * job ([[ServingRows]]).
  */
final class PageDb private[graft] (source: ServingRows) {

  def this(pages: DataFrame) = this(ServingRows.frame(pages))

  private def anyMatch(c: Column, pattern: String): Column =
    c.isNotNull && c.rlike(s"(?i)$pattern")

  def query(req: PageDbRequest): Seq[PageOut] = {
    // same fallback convention as LinkDb (controller.go:29-34)
    val limit = ServingRows.limitOf(req.limit)
    // page_host is lowercased at extraction time (UrlFns.urlHost), so a
    // bare equality keeps the predicate pushable into the parquet scan
    // — wrapping the column in lower() would defeat the row-group
    // pruning PageStore's in-bucket sort exists for
    val filter = Seq(
      req.pathAny.map(p => anyMatch(col("page_path"), p)),
      req.titleAny.map(t => anyMatch(col("title"), t))
    ).flatten.foldLeft(col("page_host") === req.host.toLowerCase)(_ && _)
    // the FULL remaining row as tiebreak: otherwise two captures of
    // one URL differing only in title tie completely and pagination
    // at the boundary becomes engine-arbitrary
    val order = Seq(col("page_path").asc, col("page_rawquery").asc,
      col("crawl_date").asc, col("ip").asc, col("title").asc,
      col("page_scheme").asc, col("noindex").asc, col("page_nofollow").asc)
    source.page(filter, order, req.page, limit, limit)
      .map { r =>
        def s(n: String) = Option(r.getAs[String](n)).getOrElse("")
        val url = (if (s("page_scheme") == "1") "http" else "https") + "://" +
          s("page_host") +
          (if (s("page_path").isEmpty) "/" else s("page_path")) +
          (if (s("page_rawquery").isEmpty) "" else "?" + s("page_rawquery"))
        PageOut(url, s("title"), s("ip"), s("crawl_date"),
          r.getAs[Int]("noindex"), r.getAs[Int]("page_nofollow"))
      }
  }
}
