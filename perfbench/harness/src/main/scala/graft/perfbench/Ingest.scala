package graft.perfbench

import graft.Pipeline
import graft.operators.{GraphOps, LinkCompaction}
import graft.sinks.{LinkStore, PageStore, StoreGen}
import graft.sources.{SegmentManifest, WatSource}
import org.apache.spark.sql.functions._

/** The write path every workload runs first: import every segment of
  * the manifest into a fresh store, then one rank-maintaining fold (rank
  * tolerance 1e-6, at most `rank_max_iters` iterations).
  */
object Ingest {

  private def rankCap(ctx: Ctx): Int = ctx.param("rank_max_iters")
  private def manifest(ctx: Ctx): String = s"${ctx.input}/wat.paths"

  /** Import + fold into `out`, each inside a span when traced; returns
    * the import and fold wall times (ns) and their spans.
    */
  private def importAndFold(ctx: Ctx, out: String, tracer: Option[Tracer] = None)
      : (Long, Long, Seq[Span]) = {
    import ctx.spark
    def timed[T](name: String)(f: => T): (T, Long, Option[Span]) = {
      val t0 = System.nanoTime()
      tracer match {
        case Some(t) =>
          val (v, s) = t.span(name)(f)
          (v, s.nanos, Some(s))
        case None =>
          val v = f
          (v, System.nanoTime() - t0, None)
      }
    }
    val (m, i, si) = timed("Pipeline.import") {
      Pipeline.importManifest(spark, manifest(ctx), out, baseDir = Some(ctx.input))
    }
    val (f, fo, sf) = timed("Pipeline.fold") {
      Pipeline.foldSegments(spark, out, maintainRanks = true,
        rankTol = 1e-6, rankMaxIters = rankCap(ctx))
    }
    if (!verify(ctx, out, m, f)) throw new IllegalStateException(s"store at $out failed its checks")
    (i, fo, si.toSeq ++ sf)
  }

  /** Output checks on a finished store; true when all hold. */
  private def verify(ctx: Ctx, out: String, m: Pipeline.ManifestStats,
      f: Pipeline.FoldStats): Boolean = {
    import ctx.{res, spark}
    val segs = ctx.long("segments")
    val r = Pipeline.links(spark, out).agg(count(lit(1)), sum(col("qty"))).head()
    System.err.println(s"[perfbench] fold ran ${f.rankIters.getOrElse(0)} rank iterations")
    Seq(
      res.check("ingest: every segment imported", m.imported.size == segs,
        s"${m.imported.size} of $segs"),
      res.check("ingest: stored rows = distinct keys", r.getLong(0) == ctx.long("distinct_keys"),
        s"${r.getLong(0)} vs ${ctx.long("distinct_keys")}"),
      res.check("ingest: sum(qty) = raw links", r.getLong(1) == ctx.long("raw_links"),
        s"${r.getLong(1)} vs ${ctx.long("raw_links")}"),
      res.check("ingest: _RANKS published", Pipeline.hostRanks(spark, out).isDefined),
      res.check("ingest: rank_iters <= cap", f.rankIters.exists(_ <= rankCap(ctx)),
        s"${f.rankIters}")
    ).forall(identity)
  }

  /** Bytes of the live generation of the links and pages stores. */
  private def storeBytes(ctx: Ctx, out: String): Long =
    Seq("links", "pages").map(s =>
      Fs.treeBytes(StoreGen.resolve(ctx.spark, s"$out/$s"))._2).sum

  /** Timed import + fold into `out`, which stays for serving. */
  def untraced(ctx: Ctx, out: String): Unit = {
    import ctx.res
    val raw = ctx.long("raw_links").toDouble
    res.attempted += 1
    val (i, f, _) = importAndFold(ctx, out)
    res.metric("import_links_per_s", raw / (i / 1e9), "links/s", 1)
    res.metric("fold_s", f / 1e9, "s", 1)
    res.metric("store_bytes_per_link", storeBytes(ctx, out) / raw, "B/link", 1)
  }

  /** The traced import + fold into `out`, which stays for serving (run
    * first, so it pays the same cold start as the untraced run), then
    * each layer's calls on the same input.
    */
  def traced(ctx: Ctx, t: Tracer, out: String): Unit = {
    import ctx.{res, spark}
    val raw = ctx.long("raw_links")
    val tmp = s"${ctx.work}/layers"
    t.attach()
    res.attempted += 1
    val (_, _, Seq(imp, fold)) = importAndFold(ctx, out, Some(t))
    // sources: parse every segment once, materialised
    val files = SegmentManifest.parse(spark, manifest(ctx), Some(ctx.input)).flatMap(_.files)
    val ((links, pages), parse) = t.span("sources.parse") {
      (WatSource.links(spark, files).localCheckpoint(true),
        WatSource.pages(spark, files).localCheckpoint(true))
    }
    val nLinks = links.count()
    val nPages = pages.count()
    res.check("ingest: parsed links = raw links", nLinks == raw, s"$nLinks vs $raw")
    res.check("ingest: parsed pages = pages", nPages == ctx.long("pages"),
      s"$nPages vs ${ctx.long("pages")}")
    val (compacted, compact) = t.span("operators.compact") {
      LinkCompaction.compact(links).localCheckpoint(true)
    }
    val nCompacted = compacted.count()
    val (_, lw) = t.span("sinks.linkstore_write") {
      LinkStore.write(compacted, s"$tmp/links", validate = true)
    }
    val (_, pw) = t.span("sinks.pagestore_write") {
      PageStore.write(pages.select(col("page_domain"), col("page_host"), col("page_path"),
        col("page_rawquery"), col("page_scheme"), col("title"), col("ip"),
        col("crawl_date"), col("noindex"), col("page_nofollow")), s"$tmp/pages")
    }
    val (files1, bytes1) = Fs.treeBytes(s"$tmp/links")
    val (files2, bytes2) = Fs.treeBytes(s"$tmp/pages")
    val ((_, iters), pr) = t.span("operators.pagerank") {
      val (ranks, it) = GraphOps.pageRankOnEdges(
        GraphOps.edgesOf(LinkStore.read(spark, s"$tmp/links").drop("domain_bucket")),
        maxIters = rankCap(ctx), tol = Some(1e-6))
      ranks.count()
      (ranks, it)
    }
    Fs.delete(tmp)
    val segs = ctx.long("segments").toDouble

    res.metric("sources.parse_ms", parse.ms, "ms", 1)
    res.metric("sources.raw_links", nLinks, "count", 1)
    res.metric("sources.pages", nPages, "count", 1)
    res.metric("operators.compact_ms", compact.ms, "ms", 1)
    res.metric("operators.compact_ratio", nCompacted.toDouble / nLinks, "ratio", 1)
    res.metric("operators.pagerank_ms", pr.ms, "ms", 1)
    res.metric("operators.rank_iters", iters, "count", 1)
    res.metric("operators.rank_jobs_per_iter", pr.counts.jobs.toDouble / math.max(iters, 1), "jobs/iter", 1)
    res.metric("sinks.linkstore_write_ms", lw.ms, "ms", 1)
    res.metric("sinks.pagestore_write_ms", pw.ms, "ms", 1)
    res.metric("sinks.files_written", files1 + files2, "count", 1)
    res.metric("sinks.bytes_written", bytes1 + bytes2, "B", 1)
    res.metric("Pipeline.import_ms_per_segment", imp.ms / segs, "ms", 1)
    res.metric("Pipeline.import_jobs_per_segment", imp.counts.jobs / segs, "jobs", 1)
    res.metric("Pipeline.fold_jobs", fold.counts.jobs, "jobs", 1)
    res.metric("Pipeline.fold_other_ms", fold.ms - pr.ms - compact.ms - lw.ms - pw.ms, "ms", 1)
    res.metric("Pipeline.shuffle_bytes",
      imp.counts.shuffleWrite + fold.counts.shuffleWrite, "B", 1)
    res.metric("traced.import_links_per_s", raw / (imp.ms / 1e3), "links/s", 1)
    res.metric("traced.fold_s", fold.ms / 1e3, "s", 1)
  }
}
