package graft.api

import graft.functions.UrlFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Request-side filter: `name` ∈ {"No Follow", "Link Path",
  * "Source Host", "Source Path", "Anchor", "IP"}, `kind` ∈
  * {"exact", "any"} — the reference's APIRequest filter vocabulary
  * (pkg/linkdb/controller.go:131-197). Values are regexes, matched
  * case-insensitively; `exact` anchors the pattern (`^v$`), `any`
  * matches anywhere.
  */
final case class LinkDbFilter(name: String, kind: String, value: String)

/** POST /api/links request body equivalent (pkg/linkdb/models.go).
  * `sort` ∈ {linkUrl, pageUrl, linkText, dateFrom, dateTo}, `order` ∈
  * {asc, desc}; out-of-range limit falls back to 100, page to 1, and
  * unknown sort/order values fall back to the defaults — all silently,
  * exactly like the reference controller.
  */
final case class LinkDbRequest(
    domain: String,
    filters: Seq[LinkDbFilter] = Nil,
    sort: Option[String] = None,
    order: String = "asc",
    limit: Int = 100,
    page: Int = 1)

/** API response row (pkg/linkdb/models.go LinkOut). */
final case class LinkOut(
    linkUrl: String, pageUrl: String, linkText: String,
    noFollow: Int, noIndex: Int, dateFrom: String, dateTo: String,
    ips: Seq[String], qty: Long)

/** The LinkDB query API — the drop-in for the reference's
  * ControllerGetDomainLinks (controller.go:22-129). [[query]] defines a
  * request once: its filter and sort Columns, the window, the rendering
  * of a row and the adjacent-duplicate merge. Where the rows come from
  * is the only thing that differs between the two ways to build one:
  *   - `new LinkDb(links)` over any compacted-links DataFrame
  *     (LinkCompaction output / LinkStore.read) runs the window as a
  *     Spark plan: the domain predicate pushes into the scan, and
  *     prunes partitions when the source is a LinkStore read. For
  *     analytics and fixed frames.
  *   - `Pipeline.linkDb` (what the server binds) reads the domain's one
  *     bucket directory of the live store generation in the calling
  *     thread and evaluates the same Columns there ([[ServingRows]]):
  *     no Spark job.
  *
  * Either way sort+offset+limit bound the fetched window exactly like
  * the reference's cursor (`limit*3` rows from `skip=(page-1)*limit`),
  * and the adjacent-duplicate merge (cleanDomainLinks,
  * controller.go:199-254) is then a sequential fold over that ≤300-row
  * page, as in the reference.
  *
  * Divergence (documented): the reference inherits Mongo's unstable
  * sort on ties, so pagination under ties is nondeterministic there;
  * here the sort appends the full composite key as a tiebreak, making
  * every page deterministic.
  */
final class LinkDb private[graft] (source: ServingRows) {

  def this(links: DataFrame) = this(ServingRows.frame(links))

  // includes link_subdomain: the compacted store's unique key is
  // (domain, subdomain, path, rawquery, page_host), so without it two
  // distinct rows could tie on the whole sort key and pagination would
  // be engine-arbitrary at the boundary
  private val defaultSortCols = Seq(
    "link_domain", "link_subdomain", "link_path", "link_rawquery",
    "page_host", "page_path", "page_rawquery", "date_from", "date_to")

  private def sortColumns(req: LinkDbRequest): Seq[Column] = {
    val names = req.sort match {
      case Some("linkUrl") => Seq("link_domain", "link_path", "link_rawquery")
      case Some("pageUrl") => Seq("page_host", "page_path", "page_rawquery")
      case Some("linkText") => Seq("link_text")
      case Some("dateFrom") => Seq("date_from")
      case Some("dateTo") => Seq("date_to")
      case _ => defaultSortCols
    }
    val keyed = names.map(n => if (req.order == "desc") col(n).desc else col(n).asc)
    // deterministic tiebreak on the remaining composite key
    keyed ++ (defaultSortCols.filterNot(names.contains) :+ "ip").map(col(_).asc)
  }

  private def filterColumn(f: LinkDbFilter): Option[Column] = {
    def re(c: String): Option[Column] = {
      val pat = if (f.kind == "exact") s"(?i)^${f.value}$$" else s"(?i)${f.value}"
      Some(col(c).rlike(pat))
    }
    f.name match {
      case "No Follow" => f.value.toIntOption.map(col("nofollow") === _)
      case "Link Path" => re("link_path")
      case "Source Host" => re("page_host")
      case "Source Path" => re("page_path")
      case "Anchor" => re("link_text")
      case "IP" => re("ip")
      case _ => None
    }
  }

  def query(req: LinkDbRequest): Seq[LinkOut] = {
    val limit = ServingRows.limitOf(req.limit)
    val (etld1, sub) = UrlFns.splitDomain(req.domain)
    val domainPred =
      if (sub.isEmpty) col("link_domain") === etld1
      else col("link_domain") === etld1 && col("link_subdomain") === sub
    val filter = req.filters.flatMap(filterColumn).foldLeft(domainPred)(_ && _)
    // the reference over-fetches 3x the page because merging can shrink it
    val window = source.page(filter, sortColumns(req), req.page, limit, limit * 3)
    val rows = window.map { r =>
      def s(n: String) = Option(r.getAs[String](n)).getOrElse("")
      val linkUrl = showScheme(s("link_scheme")) + "://" + showSub(s("link_subdomain")) +
        s("link_domain") + showPath(s("link_path")) + showQuery(s("link_rawquery"))
      val pageUrl = showScheme(s("page_scheme")) + "://" + s("page_host") +
        showPath(s("page_path")) + showQuery(s("page_rawquery"))
      LinkOut(linkUrl, pageUrl, s("link_text"), r.getAs[Int]("nofollow"),
        r.getAs[Int]("noindex"), s("date_from"), s("date_to"),
        Seq(s("ip")), r.getAs[Long]("qty"))
    }
    mergeAdjacent(rows, limit)
  }

  /** cleanDomainLinks (controller.go:199-254): merge runs of rows with
    * equal (linkUrl, pageUrl, linkText, noFollow) — widest date range,
    * distinct IPs, summed qty — and cut at `limit`.
    *
    * Divergence (documented): the reference's comparisons narrow the
    * range instead (controller.go:225-231 keeps the LARGER DateFrom and
    * the SMALLER DateTo) — an apparent inversion; we implement the
    * evident intent (min DateFrom / max DateTo), consistent with the
    * importer's compaction rules (main.go:583-588).
    */
  private def mergeAdjacent(rows: Seq[LinkOut], limit: Int): Seq[LinkOut] = {
    val out = Seq.newBuilder[LinkOut]
    var n = 0
    var cur: Option[LinkOut] = None
    val it = rows.iterator
    while (it.hasNext && n < limit) {
      val r = it.next()
      cur match {
        case Some(c) if c.linkUrl == r.linkUrl && c.pageUrl == r.pageUrl &&
            c.linkText == r.linkText && c.noFollow == r.noFollow =>
          cur = Some(c.copy(
            dateFrom = if (c.dateFrom <= r.dateFrom) c.dateFrom else r.dateFrom,
            dateTo = if (c.dateTo >= r.dateTo) c.dateTo else r.dateTo,
            ips = (c.ips ++ r.ips).distinct,
            qty = c.qty + r.qty))
        case Some(c) =>
          out += c; n += 1; cur = Some(r)
        case None =>
          cur = Some(r)
      }
    }
    cur.foreach { c => if (n < limit) { out += c; n += 1 } }
    out.result()
  }

  private def showScheme(code: String) = if (code == "1") "http" else "https"
  private def showSub(s: String) = if (s.isEmpty) "" else s + "."
  private def showPath(p: String) = if (p.isEmpty) "/" else p
  private def showQuery(q: String) = if (q.isEmpty) "" else "?" + q
}
