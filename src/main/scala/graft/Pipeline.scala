package graft

import graft.operators.LinkCompaction
import graft.sinks.LinkStore
import graft.sources.{SegmentManifest, WatSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end import orchestration — the Spark equivalent of the
  * reference's `cmd/importer` + `cmd/storelinks` mains: WAT segments →
  * link extraction → aggressive compaction → domain-bucketed store,
  * plus the per-page record store.
  *
  * Where the Go importer runs file-at-a-time worker pools with
  * intermediate sorted text files (importer/main.go:150-260), here each
  * stage is one declarative plan over ALL segment files at once:
  * `spark.read.text(paths*)` makes every WAT file an input split, so
  * the same call scales from one fixture file to a full crawl's
  * segment list on a cluster. "Already imported" bookkeeping comes in
  * two layers: every write is an idempotent overwrite, and
  * [[importManifest]] adds the reference's manifest/marker
  * orchestration (segment list from wat.paths, `.imported`-style
  * completion markers, restart-from-last-segment).
  */
object Pipeline {

  final case class ImportStats(
      pages: Long, links: Long, compacted: Long, domains: Long)

  /** Import WAT segments into a link store + page store at `outDir`.
    * Returns counts for monitoring (one extra action per count — call
    * with `stats = false` to skip them in production).
    */
  def importSegments(
      spark: SparkSession,
      watPaths: Seq[String],
      outDir: String,
      ignoreDomains: Seq[String] = Nil,
      stats: Boolean = true): ImportStats = {
    require(watPaths.nonEmpty, "no WAT segments given")
    val pages = WatSource.pages(spark, watPaths)
    val links = WatSource.links(spark, watPaths, ignoreDomains)
    val compacted = LinkCompaction.compact(links)
    // external data crosses the store boundary here: validate loudly,
    // like storelinks does at load time
    LinkStore.write(compacted, s"$outDir/links", validate = true)
    graft.sinks.PageStore.write(
      pages.select(col("page_domain"), col("page_host"), col("page_path"),
        col("page_rawquery"), col("page_scheme"), col("title"), col("ip"),
        col("crawl_date"), col("noindex"), col("page_nofollow")),
      s"$outDir/pages")
    if (stats) {
      // all counts come from the MATERIALIZED stores: compaction sums
      // qty, so sum(qty) over the store IS the raw link count — no
      // third pass over the WAT files just for monitoring numbers
      val stored = LinkStore.read(spark, s"$outDir/links")
      val (nCompacted, nLinks, nDomains) = {
        val r = stored.agg(count(lit(1)), sum(col("qty")),
          countDistinct(col("link_domain"))).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))
      }
      ImportStats(
        pages = spark.read.parquet(s"$outDir/pages").count(),
        links = nLinks,
        compacted = nCompacted,
        domains = nDomains)
    } else ImportStats(-1, -1, -1, -1)
  }

  final case class ManifestStats(
      imported: Seq[String], skipped: Seq[String], remaining: Seq[String])

  /** Manifest-driven import with restart-from-last-segment semantics —
    * the Spark analogue of the reference's `InitImport` (parse
    * wat.paths.gz into segments, wat.go:147-219) +
    * `SelectSegmentToImport` (wat.go:979) + `.imported` markers
    * (importer/main.go:193-260).
    *
    * Each manifest segment imports into its own store directory under
    * `outDir/segments/<id>` and gets a completion marker as the LAST
    * step; on restart, marker-complete segments are skipped, and a
    * segment interrupted mid-write (no marker) re-imports via
    * idempotent overwrite — run the same call any number of times and
    * the completed stores are identical, with nothing double-counted.
    * Readers go through [[segmentLinks]]/[[foldSegments]], which only
    * ever see marker-complete segments.
    *
    * `maxSegments` bounds one run's work (the reference's operators run
    * segment-at-a-time the same way); `remaining` in the result is what
    * a subsequent run would pick up.
    *
    * `segmentSelector` is the reference importer's optional 4th CLI arg
    * (`1,3,5` / `2-7` / `4`, importer/main.go:108-116): restrict the
    * run to those segment ordinals, in selector order, already-imported
    * ones still skipped (main.go:142-160). Divergence (documented): a
    * selected ordinal missing from the manifest throws here instead of
    * Go's silent `os.Exit(0)` — an operator typo should fail loudly,
    * not no-op. Unselected segments don't appear in the result at all,
    * matching the reference's "only segments from command line" loop.
    *
    * `staging`: when set, each segment's files are first materialized
    * into this directory via [[stageSegmentFiles]] (bounded-retry
    * fetch — the reference's DownloadFile loop) and the staged copies
    * are deleted once the segment's completion marker is down; the
    * Hadoop reader then only ever opens local/staged bytes, so a flaky
    * object store costs retries, not a failed import.
    *
    * `autoFoldEvery`: when > 0, run [[autoFold]] with that threshold
    * after each segment completes — completed segments fold into the
    * main store every N segments instead of accumulating for one giant
    * end-of-manifest fold.
    */
  def importManifest(
      spark: SparkSession,
      manifestPath: String,
      outDir: String,
      ignoreDomains: Seq[String] = Nil,
      baseDir: Option[String] = None,
      maxSegments: Int = Int.MaxValue,
      segmentSelector: Option[String] = None,
      staging: Option[String] = None,
      autoFoldEvery: Int = 0,
      fetch: Option[(String, String) => Unit] = None): ManifestStats = {
    val parsed = SegmentManifest.parse(spark, manifestPath, baseDir)
    require(parsed.nonEmpty, s"empty manifest: $manifestPath")
    val segments = segmentSelector match {
      case None => parsed
      case Some(sel) =>
        // first manifest appearance wins a duplicated ordinal, like the
        // reference's linear SelectSegmentByID scan (wat.go:995)
        val byOrd = parsed
          .flatMap(s => SegmentManifest.segmentOrdinal(s.id).map(_ -> s))
          .foldLeft(Map.empty[Int, SegmentManifest.Segment]) {
            case (m, (o, s)) => if (m.contains(o)) m else m + (o -> s)
          }
        SegmentManifest.parseSelector(sel).distinct.map(ord =>
          byOrd.getOrElse(ord, throw new IllegalArgumentException(
            s"segment ordinal $ord not in manifest $manifestPath " +
              s"(have: ${byOrd.keys.toSeq.sorted.mkString(",")})")))
    }
    // a segment is done if its marker exists OR a fold already consumed
    // it (the fold deletes the segment dir, marker included — without
    // the ledger check a re-run of the same manifest would re-import
    // and re-fold everything after cleanup)
    val folded = foldedSegments(spark, s"$outDir/links") ++
      foldedSegments(spark, s"$outDir/pages")
    val (done, todo) = segments.partition(s =>
      folded(s.id) || SegmentManifest.isImported(spark, outDir, s.id))
    val (run, rest) = todo.splitAt(maxSegments)
    run.foreach { seg =>
      val source = staging match {
        case None => seg
        case Some(dir) => stageSegmentFiles(spark, seg, dir, fetch = fetch)
      }
      importSegments(spark, source.files, SegmentManifest.segmentDir(outDir, seg.id),
        ignoreDomains, stats = false)
      SegmentManifest.markImported(spark, outDir, seg)
      // staged bytes served their purpose once the marker is down —
      // drop them so staging stays one-segment-sized, not crawl-sized
      staging.foreach { dir =>
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/${seg.id}"), true)
      }
      if (autoFoldEvery > 0) autoFold(spark, outDir, autoFoldEvery)
    }
    ManifestStats(run.map(_.id), done.map(_.id), rest.map(_.id))
  }

  /** Compacted links of every COMPLETED segment (marker-gated): rows
    * across segments may share a compaction key until [[foldSegments]]
    * merges them — same read-time contract as [[streamedLinks]].
    */
  def segmentLinks(spark: SparkSession, outDir: String): DataFrame = {
    val ids = SegmentManifest.completedSegments(spark, outDir)
    require(ids.nonEmpty, s"no completed segments under $outDir")
    segmentLinksOf(spark, outDir, ids)
  }

  private def segmentLinksOf(spark: SparkSession, outDir: String,
      ids: Seq[String]): DataFrame =
    ids.map(id => LinkStore.read(spark,
        s"${SegmentManifest.segmentDir(outDir, id)}/links").drop("domain_bucket"))
      .reduce(_ unionByName _)

  /** Page records of every COMPLETED segment (marker-gated). */
  def segmentPages(spark: SparkSession, outDir: String): DataFrame = {
    val ids = SegmentManifest.completedSegments(spark, outDir)
    require(ids.nonEmpty, s"no completed segments under $outDir")
    segmentPagesOf(spark, outDir, ids)
  }

  private def segmentPagesOf(spark: SparkSession, outDir: String,
      ids: Seq[String]): DataFrame =
    ids.map(id => graft.sinks.PageStore.read(spark,
        s"${SegmentManifest.segmentDir(outDir, id)}/pages").drop("domain_bucket"))
      .reduce(_ unionByName _)

  /** Rewrite a main store through the generation commit protocol
    * ([[graft.sinks.StoreGen]]): write the next `_gen-<n>` dir, then
    * atomically move the `_CURRENT` pointer — the main stores are
    * rebuilt FROM their previous contents, so an in-place overwrite
    * would delete the only copy before the new one is known good, and
    * the old rename-swap invalidated in-flight readers. The previous
    * generation stays on disk until the NEXT commit, so a reader that
    * resolved it always finishes against intact files; a reader that
    * outlives two folds is retried by the serving layer, because the
    * store's generation moved under it (LinkApiServer.storeRead).
    * Single writer per store root,
    * ENFORCED by the [[graft.sinks.StoreLease]] writer lease: a second
    * scheduled rewrite refuses loudly instead of racing
    * StoreGen.prepare's stray-generation prune.
    */
  private def safeRewrite(spark: SparkSession, path: String,
      write: String => Unit): Unit =
    graft.sinks.StoreLease.withLease(spark, path) { lease =>
      val gen = graft.sinks.StoreGen.prepare(spark, path, write)
      // a zombie writer (paused past staleness, lease stale-broken by
      // a successor) must refuse the pointer swap, not race the
      // successor's generation prune
      lease.ensureHeld()
      graft.sinks.StoreGen.commit(spark, path, gen)
    }

  /** Segment ids already folded into a main store: the `_FOLDED`
    * ledger file the fold writes INTO the generation's data directory
    * (underscore prefix = invisible to parquet readers, like
    * `_SUCCESS`). Because the ledger travels inside the generation,
    * the atomic pointer swap updates data and ledger together — there
    * is no window where one exists without the other.
    */
  def foldedSegments(spark: SparkSession, storePath: String): Set[String] = {
    val resolved = graft.sinks.StoreGen.resolve(spark, storePath)
    val fs = new org.apache.hadoop.fs.Path(resolved)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledger = new org.apache.hadoop.fs.Path(resolved, FoldLedger)
    if (!fs.exists(ledger)) Set.empty
    else {
      val in = fs.open(ledger)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  private val FoldLedger = "_FOLDED"

  private def writeLedger(spark: SparkSession, storeTmp: String,
      ids: Set[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(storeTmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(storeTmp, FoldLedger), true)
    try out.write(ids.toSeq.sorted.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Fold completed segments plus any existing main store into a
    * freshly compacted main store (links AND pages) — the
    * manifest-import counterpart of [[compactStream]] — EXACTLY ONCE
    * per segment. Each store's `_FOLDED` ledger (swapped atomically
    * with its data) records which segments it already contains, so a
    * rerun after a crash at ANY point folds only what's missing and
    * never double-counts qty; segment directories are deleted only
    * after BOTH stores' ledgers cover them. Calling this with nothing
    * new to fold is a no-op, so it can run on a schedule — and because
    * "run on a schedule" invites a SECOND scheduler, the whole fold
    * runs under the [[graft.sinks.StoreLease]] writer leases of both
    * stores (links acquired first, then pages — every multi-lease
    * caller must keep that order): a concurrent fold gets a loud
    * [[graft.sinks.LeaseHeldException]] before touching anything,
    * instead of racing StoreGen.prepare's prune of the other writer's
    * in-flight generation. A holder that dies mid-fold goes stale
    * after [[graft.sinks.StoreLease.DefaultStaleMs]] and the ledger
    * protocol makes the rerun fold exactly what's missing.
    *
    * `onLeased` is a test seam (and natural progress hook) invoked
    * once both leases are held, before any data moves.
    *
    * `maintainRanks`: carry host PageRank across folds incrementally.
    * The ranks live INSIDE the links generation dir (`_RANKS` parquet —
    * underscore-prefixed like `_FOLDED`, so data readers never see it
    * and the atomic pointer swap publishes data, ledger and ranks
    * together). Each fold warm-starts the power method from the
    * PREVIOUS generation's ranks on the NEW edge set
    * ([[graft.operators.GraphOps.pageRankOnEdges]] `init`): the damped
    * update is a contraction, so a start near the fixed point converges
    * to the same ranking in FEWER iterations — and each saved iteration
    * is a saved join+agg over the whole graph, which at 100 TB is the
    * entire cost of rank maintenance under incremental import. Read
    * them back with [[hostRanks]]. Pass it on EVERY scheduled fold:
    * a fold without it publishes a generation with no `_RANKS`, and
    * the next maintaining fold cold-starts.
    */
  def foldSegments(spark: SparkSession, outDir: String,
      onLeased: () => Unit = () => (),
      maintainRanks: Boolean = false,
      rankTol: Double = 1e-6,
      rankMaxIters: Int = 200): FoldStats =
    graft.sinks.StoreLease.withLease(spark, s"$outDir/links") { linksLease =>
      graft.sinks.StoreLease.withLease(spark, s"$outDir/pages") { pagesLease =>
        onLeased()
        foldSegmentsLeased(spark, outDir, maintainRanks, rankTol, rankMaxIters,
          beforeCommit = () => { linksLease.ensureHeld(); pagesLease.ensureHeld() })
      }
    }

  final case class FoldStats(
      foldedLinks: Seq[String], foldedPages: Seq[String], rankIters: Option[Int])

  /** The `_RANKS` artifact of the LIVE links generation, if a
    * maintainRanks fold has published one. Full (host, rank) frame —
    * the warm-start input; serving paths use [[hostRanksFor]] instead,
    * which prunes to the requested hosts' buckets.
    */
  def hostRanks(spark: SparkSession, outDir: String): Option[DataFrame] = {
    val resolved = graft.sinks.StoreGen.resolve(spark, s"$outDir/links")
    val p = new org.apache.hadoop.fs.Path(resolved, RanksArtifact)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString).select(col("host"), col("rank")))
    else None
  }

  /** SERVING read of the live ranks: only the requested hosts'
    * `rank_bucket=` directories of `_RANKS` are listed and scanned
    * ([[graft.sinks.StoreGen.readPartitions]]), so a rank lookup
    * against a crawl-scale artifact touches ≤ hosts.size of
    * [[graft.sinks.LinkStore.NumBuckets]] partitions instead of the
    * full host table. Building the frame runs no Spark job once the
    * generation's `_RANKS` schema is memoized (its first bind infers
    * it: a listing job over every bucket plus a footer job); a whole
    * `_RANKS` read paid both on every call. Empty frame when no ranks
    * artifact is published.
    */
  def hostRanksFor(spark: SparkSession, outDir: String,
      hosts: Seq[String]): DataFrame = {
    val buckets = hosts.map(LinkStore.bucketOfDomain).distinct
    graft.sinks.StoreGen.readPartitions(spark, s"$outDir/links", RanksArtifact,
        "rank_bucket", buckets) match {
      case Some(r) =>
        r.filter(col("rank_bucket").isin(buckets: _*) &&
            col("host").isin(hosts: _*))
          .select(col("host"), col("rank"))
      case None =>
        import spark.implicits._
        Seq.empty[(String, Double)].toDF("host", "rank")
    }
  }

  /** One host's live rank via the pruned [[hostRanksFor]] read. */
  def hostRankOf(spark: SparkSession, outDir: String,
      host: String): Option[Double] =
    hostRanksFor(spark, outDir, Seq(host)).collect()
      .headOption.map(_.getDouble(1))

  /** `_RANKS` layout: parquet partitioned by `rank_bucket` =
    * xxhash64(host) mod NumBuckets — the same bucketing the link store
    * uses for domains, so a serving lookup prunes to one bucket. One
    * file per bucket (the repartition): ranks are one row per host,
    * so even a crawl-scale artifact stays NumBuckets loader-sized
    * files instead of buckets × writer-tasks shards.
    */
  private def writeRanks(ranks: DataFrame, dest: String): Unit =
    ranks.withColumn("rank_bucket", LinkStore.bucketOf(col("host")))
      .repartition(col("rank_bucket"))
      .write.mode("overwrite").partitionBy("rank_bucket").parquet(dest)

  /** Bootstrap/publish a ranked link store DIRECTLY from a raw link
    * frame — the one-shot alternative to segment folds for users who
    * already hold extracted links: compaction + store write + a
    * [[RanksArtifact]] fit (warm-started from the previous generation
    * when one exists) land in ONE prepared generation behind the
    * writer lease, published by the same atomic pointer swap as
    * [[foldSegments]]. Returns the rank iterations run.
    */
  def publishRankedStore(spark: SparkSession, rawLinks: DataFrame, outDir: String,
      rankTol: Double = 1e-6, rankMaxIters: Int = 200): Int =
    graft.sinks.StoreLease.withLease(spark, s"$outDir/links") { lease =>
      var iters = 0
      val gen = graft.sinks.StoreGen.prepare(spark, s"$outDir/links", tmp => {
        LinkStore.write(LinkCompaction.compact(rawLinks), tmp)
        val edges = graft.operators.GraphOps.edgesOf(
          LinkStore.read(spark, tmp).drop("domain_bucket"))
        val (ranks, it) = graft.operators.GraphOps.pageRankOnEdges(
          edges, maxIters = rankMaxIters, tol = Some(rankTol),
          init = hostRanks(spark, outDir))
        writeRanks(ranks, s"$tmp/$RanksArtifact")
        iters = it
      })
      lease.ensureHeld()
      graft.sinks.StoreGen.commit(spark, s"$outDir/links", gen)
      iters
    }

  private val RanksArtifact = "_RANKS"

  private def foldSegmentsLeased(spark: SparkSession, outDir: String,
      maintainRanks: Boolean, rankTol: Double, rankMaxIters: Int,
      beforeCommit: () => Unit = () => ()): FoldStats = {
    val completed = SegmentManifest.completedSegments(spark, outDir)
    val linksLedger = foldedSegments(spark, s"$outDir/links")
    val pagesLedger = foldedSegments(spark, s"$outDir/pages")
    // the two sets differ only across the crash window between the two
    // swaps below — recovery folds the store that missed its swap
    val linksToFold = completed.filterNot(linksLedger)
    val pagesToFold = completed.filterNot(pagesLedger)

    var linksGen = -1L
    var rankIters: Option[Int] = None
    if (linksToFold.nonEmpty) {
      val segs = segmentLinksOf(spark, outDir, linksToFold)
      val existing =
        try Some(LinkStore.read(spark, s"$outDir/links").drop("domain_bucket"))
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      val all = existing.fold(segs)(e => segs.unionByName(e))
      linksGen = graft.sinks.StoreGen.prepare(spark, s"$outDir/links", tmp => {
        LinkStore.write(LinkCompaction.compact(all), tmp)
        writeLedger(spark, tmp, linksLedger ++ linksToFold)
        if (maintainRanks) {
          // edges from the MATERIALIZED new generation (cheaper than
          // recompacting), warm-started from the LIVE generation's
          // ranks — both exist simultaneously only here, between the
          // data write and the pointer swap
          val edges = graft.operators.GraphOps.edgesOf(
            LinkStore.read(spark, tmp).drop("domain_bucket"))
          val (ranks, iters) = graft.operators.GraphOps.pageRankOnEdges(
            edges, maxIters = rankMaxIters, tol = Some(rankTol),
            init = hostRanks(spark, outDir))
          writeRanks(ranks, s"$tmp/$RanksArtifact")
          rankIters = Some(iters)
        }
      })
    }
    var pagesGen = -1L
    if (pagesToFold.nonEmpty) {
      val pages = segmentPagesOf(spark, outDir, pagesToFold)
      val existingPages =
        try Some(graft.sinks.PageStore.read(spark, s"$outDir/pages").drop("domain_bucket"))
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      // page records carry no qty: an identical row from two folds is
      // the same crawl record twice, so the fold dedups exactly
      val allPages = existingPages.fold(pages)(e => pages.unionByName(e)).distinct()
      pagesGen = graft.sinks.StoreGen.prepare(spark, s"$outDir/pages", tmp => {
        graft.sinks.PageStore.write(allPages, tmp)
        writeLedger(spark, tmp, pagesLedger ++ pagesToFold)
      })
    }
    // BOTH generations are prepared before EITHER pointer moves: a
    // failure during the (long) write phase leaves both live stores
    // untouched (the stray generation dirs are swept by the next
    // prepare). The rewrites read the old generations while writing
    // the new ones, so no checkpoint is needed.
    // last chance to detect a lease lost during the (long) write
    // phase: a zombie fold must abandon its prepared generations
    // (swept by the successor's next prepare) rather than swap
    // pointers over the successor's work
    beforeCommit()
    if (linksToFold.nonEmpty) graft.sinks.StoreGen.commit(spark, s"$outDir/links", linksGen)
    if (pagesToFold.nonEmpty) graft.sinks.StoreGen.commit(spark, s"$outDir/pages", pagesGen)

    // cleanup LAST, and only for segments both ledgers now cover: a
    // crash anywhere above leaves the segment dirs in place and the
    // ledgers tell the rerun what (if anything) is still missing
    val inBoth = (linksLedger ++ linksToFold) intersect (pagesLedger ++ pagesToFold)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (id <- completed if inBoth(id))
      fs.delete(new org.apache.hadoop.fs.Path(
        SegmentManifest.segmentDir(outDir, id)), true)
    FoldStats(linksToFold, pagesToFold, rankIters)
  }

  /** Materialize one segment's WAT files into `stagingDir` with bounded
    * retries and linear backoff — the Spark-side analogue of the
    * reference's download loop (`fileutils.DownloadFile`,
    * pkg/fileutils/fileutils.go:37-83: N attempts, sleep between, fail
    * the segment after the last). Each file lands via a `.part` temp +
    * rename, so a crash mid-copy never leaves a complete-looking file;
    * a staged file that already exists with the source's length is
    * skipped (restart-friendly). Returns the segment re-pointed at the
    * staged copies, ready for [[importSegments]].
    *
    * `fetch` defaults to a Hadoop-FileSystem copy (works for any
    * scheme the cluster's Hadoop conf can open); tests inject flaky
    * fetchers, and deployments can swap in an HTTP download.
    */
  def stageSegmentFiles(
      spark: SparkSession,
      seg: SegmentManifest.Segment,
      stagingDir: String,
      maxAttempts: Int = 3,
      backoffMs: Long = 500L,
      sleep: Long => Unit = Thread.sleep,
      fetch: Option[(String, String) => Unit] = None): SegmentManifest.Segment = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    val conf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val dstFs = p(stagingDir).getFileSystem(conf)
    val segDir = s"$stagingDir/${seg.id}"
    dstFs.mkdirs(p(segDir))
    val doFetch = fetch.getOrElse { (src: String, dst: String) =>
      val srcFs = p(src).getFileSystem(conf)
      if (!org.apache.hadoop.fs.FileUtil.copy(
          srcFs, p(src), dstFs, p(dst), false, true, conf))
        throw new java.io.IOException(s"copy $src -> $dst reported failure")
    }
    val staged = seg.files.map { src =>
      val dst = s"$segDir/${p(src).getName}"
      val srcLen =
        try Some(p(src).getFileSystem(conf).getFileStatus(p(src)).getLen)
        catch { case _: java.io.IOException => None }
      val alreadyStaged = srcLen.exists(l =>
        dstFs.exists(p(dst)) && dstFs.getFileStatus(p(dst)).getLen == l)
      if (!alreadyStaged) {
        val part = s"$dst.part"
        var attempt = 1
        var ok = false
        while (!ok) {
          try {
            dstFs.delete(p(part), false)
            doFetch(src, part)
            ok = true
          } catch {
            case _: Exception if attempt < maxAttempts =>
              sleep(backoffMs * attempt)
              attempt += 1
            case e: Exception =>
              throw new java.io.IOException(
                s"fetching $src failed after $maxAttempts attempts", e)
          }
        }
        dstFs.delete(p(dst), false)
        if (!dstFs.rename(p(part), p(dst)))
          throw new java.io.IOException(s"failed to move staged $part to $dst")
      }
      dst
    }
    SegmentManifest.Segment(seg.id, staged)
  }

  /** Run [[foldSegments]] iff the number of completed-but-unfolded
    * segments has reached `threshold` — the incremental-load policy the
    * reference runs operationally (storelinks per segment,
    * cmd/storelinks/main.go:45-178), expressed as a size trigger so a
    * long manifest import folds periodically instead of accumulating
    * every segment until one giant final fold. Returns whether a fold
    * ran. The exactly-once `_FOLDED` ledger makes fold timing purely a
    * performance choice: any schedule of autoFold calls yields the
    * same final store as one fold at the end.
    */
  def autoFold(spark: SparkSession, outDir: String, threshold: Int): Boolean = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    val completed = SegmentManifest.completedSegments(spark, outDir)
    val linksLedger = foldedSegments(spark, s"$outDir/links")
    val pagesLedger = foldedSegments(spark, s"$outDir/pages")
    val unfolded = completed.count(id => !linksLedger(id) || !pagesLedger(id))
    val fold = unfolded >= threshold
    if (fold) foldSegments(spark, outDir)
    fold
  }

  /** Continuous ingestion: watch a directory for new WAT files and
    * micro-batch them through the SAME extraction + compaction plan as
    * batch import. Each micro-batch compacts within itself and writes
    * an OVERWRITE into its own `batch=<id>` partition — so an
    * at-least-once replay after a crash rewrites the same partition
    * instead of double-counting (foreachBatch is at-least-once; the
    * batchId is the idempotency key). Uses foreachBatch because
    * full-history compaction as a streaming aggregate would hold
    * unbounded state.
    *
    * Read the result with [[streamedLinks]] (cross-batch duplicates
    * merge at query time, as the reference's API does) or fold it into
    * the main bucketed store with [[compactStream]].
    */
  def streamImport(
      spark: SparkSession,
      watchDir: String,
      outDir: String,
      checkpoint: String,
      ignoreDomains: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery = {
    val lines = spark.readStream
      .option("maxFilesPerTrigger", 8)
      .text(watchDir)
      .toDF("line")
    WatSource.linksFromLines(lines, ignoreDomains)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        LinkCompaction.compact(batch)
          .write.mode("overwrite")
          .parquet(s"$outDir/links_stream/batch=$batchId")
      }
      .start()
  }

  /** All streamed links (the `batch` partition column is dropped; rows
    * across batches may share a compaction key until [[compactStream]]
    * folds them).
    */
  def streamedLinks(spark: SparkSession, outDir: String): DataFrame =
    spark.read.option("basePath", s"$outDir/links_stream")
      .parquet(s"$outDir/links_stream").drop("batch")

  /** Fold the streamed batches plus any existing main store into a
    * freshly compacted main store — the periodic re-compaction pass.
    * NOTE: the caller owns deleting `links_stream` afterwards (this
    * library never removes data); folding the same stream batches twice
    * double-counts their qty, as StreamImportSpec demonstrates.
    */
  def compactStream(spark: SparkSession, outDir: String): Unit = {
    val streamed = streamedLinks(spark, outDir)
    val existing =
      try Some(LinkStore.read(spark, s"$outDir/links").drop("domain_bucket"))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val all = existing.fold(streamed)(e => streamed.unionByName(e))
    // temp-write + swap: reads the old store while writing, and a
    // failed write can't destroy the only copy (see safeRewrite)
    safeRewrite(spark, s"$outDir/links",
      tmp => LinkStore.write(LinkCompaction.compact(all), tmp))
  }

  /** Query surface over an imported store — the LinkDB API bound to a
    * domain-pruned read. The store keys `link_domain` by eTLD+1, so the
    * pruning predicate uses the request's registrable domain; the
    * subdomain part of the request is applied by LinkDb.query itself.
    */
  def linkDb(spark: SparkSession, outDir: String, domain: String): api.LinkDb = {
    val (etld1, _) = graft.functions.UrlFns.splitDomain(domain)
    new api.LinkDb(LinkStore.readDomain(spark, s"$outDir/links", etld1))
  }

  /** Full store scan (for analytics over all domains). */
  def links(spark: SparkSession, outDir: String): DataFrame =
    LinkStore.read(spark, s"$outDir/links")

  /** Page-record lookup surface over an imported store, bound to a
    * partition-pruned eTLD+1 read (the page-side sibling of [[linkDb]]
    * — title/IP/crawl-date/robots lookups from the page records the
    * import already persists).
    */
  def pageDb(spark: SparkSession, outDir: String, host: String): api.PageDb = {
    val (etld1, _) = graft.functions.UrlFns.splitDomain(host)
    new api.PageDb(graft.sinks.PageStore.readDomain(spark, s"$outDir/pages", etld1))
  }

  /** Serve the store over HTTP — the reference's `cmd/linksapi`
    * (POST /api/links with CORS + rate limiting). Each request binds a
    * FRESH read of the live generation's one bucket directory
    * (StoreGen.readPartitions), so the per-request scan is
    * 1/NumBuckets of the store plus row-group pruning, and a store
    * rewrite (compactStream/foldSegments) is picked up by the very next
    * request. What carries across requests is metadata only: the
    * schema of each store's live generation, memoized per generation
    * directory. That is safe because a committed generation is never
    * written again and the memo is replaced when `_CURRENT` moves.
    * DataFrames are not kept: one bound to a generation would read
    * files that the second fold after it prunes. So after the first
    * request of a generation, a bind runs no Spark job and each route
    * runs only its query's job. `port = 0` picks an ephemeral port.
    *
    * The server's generation token is the pair of `_CURRENT` targets of
    * links and pages (`_RANKS` rides in the links generation). A failed
    * request is retried only when that pair moved during the attempt or
    * the read met a `StoreGen.StaleGeneration`; anything else is a 500
    * on the first attempt. No listing cache needs refreshing before a
    * retry: every serving read names explicit `_gen-N` paths, and a
    * committed generation is never rewritten.
    */
  def serveLinkApi(spark: SparkSession, outDir: String, port: Int = 8010,
      rateLimitMax: Int = 50): api.LinkApiServer =
    new api.LinkApiServer(domain => linkDb(spark, outDir, domain), port,
      rateLimitMax = rateLimitMax,
      storeGeneration = () =>
        Seq("links", "pages").map(s => graft.sinks.StoreGen.resolve(spark, s"$outDir/$s"))
          .mkString(","),
      // rank serving rides the same server: a read of the requested
      // host's _RANKS bucket directory per request; stores without a
      // published ranks artifact just 404
      rankOf = Some(host => hostRankOf(spark, outDir, host)),
      // page serving too: a fresh read of the eTLD+1's page-store
      // bucket directory per request, the sibling of the links binding
      pageDbOf = Some(host => pageDb(spark, outDir, host))).start()

  final case class ExportStats(
      input: Long, gated: Long, deduped: Long, semdeduped: Long,
      decontaminated: Long, exported: Long, shards: Int,
      lineDeduped: Long = -1, boilerplated: Long = -1)

  /** Rewrites `base`'s text to the surviving lines of a q77/q80-shaped
    * kept-lines frame (doc_id, n_kept, kept_text). Docs ABSENT from
    * the frame never produced a line — no [a-z]+ run at all (numeric
    * tables, non-Latin scripts), so the line passes cannot see them —
    * and pass through UNCHANGED: they can't be line-duplicates or
    * chrome, and an inner join here would silently bias the corpus
    * against non-Latin text (the DSIR divergence note's sibling
    * case). Docs PRESENT with n_kept = 0 lost every line on the
    * merits (all-duplicate / all-chrome) and drop. n_chars re-derives
    * from the rewritten text — the original count would describe
    * bytes the doc no longer has.
    */
  private[graft] def rewriteToKeptLines(base: DataFrame, kept: DataFrame): DataFrame =
    base.join(
        kept.select(col("doc_id"), col("n_kept"), col("kept_text")),
        Seq("doc_id"), "left")
      .filter(col("n_kept").isNull || col("n_kept") > 0)
      .select(col("doc_id"),
        when(col("n_kept").isNotNull, col("kept_text"))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))

  /** Curated-corpus delivery — the last mile of the training-data
    * story, wiring the individually-verified stages into ONE export:
    *
    *   gate (q47 Gopher verdicts + q57 classifier keep)
    *   → [optional] BOILERPLATE strip (q80: a line in a strict
    *     majority of its host's docs is site chrome and is removed
    *     from every doc of that host; runs FIRST among the line
    *     passes — chrome should drop outright, not win q77's
    *     first-occurrence survivorship in whichever doc the line
    *     stream meets first)
    *   → [optional] LINE dedup (q77: duplicated lines survive only at
    *     their globally-first occurrence; docs REWRITE to their kept
    *     lines, docs left with nothing drop — the RefinedWeb
    *     line-survivorship pass, run before the doc-level passes so
    *     shared text can't glue distinct docs into near-dups)
    *   → near-dedup (q31/q60 SimHash machinery; the LOWER doc_id of
    *     every pair within hamming ≤ 3 survives — exact dups are
    *     hamming 0, so one pass subsumes q24)
    *   → [optional] SEMANTIC dedup (q70 SemDeDup over an embeddings
    *     frame keyed vec_id = doc_id, clustered by the q40
    *     trained-centroid argmax — catches paraphrases SimHash's
    *     lexical signature cannot)
    *   → decontaminate (a verbatim 32-char span shared with the eval
    *     set drops the doc; with `contamRatePct` set, q81's
    *     13-token-gram overlap-fraction rule drops docs too)
    *   → select: q65 temperature-smoothed source quotas, or — with
    *     `dsirTarget` set — q76 DSIR importance resampling toward the
    *     target predicate (top `mixTarget` by log importance ratio)
    *   → [[graft.sinks.JsonlSink]] gzip shards.
    *
    * Each arrow is an anti-join or semi-join against a frame the
    * corpus-side plan never re-derives per row; the dedup/decontam
    * flag frames are benchmark- or pair-sized, far below the corpus.
    * Shard count derives from the exported doc count (one count job)
    * so shard files stay loader-sized at any corpus scale; membership
    * stays deterministic per doc via the sink's hash routing.
    *
    * Stage counts return as [[ExportStats]] — curation yield is a
    * number every pipeline run must record, not re-derive. The
    * exported count is always computed (it sizes the shards); the
    * per-stage funnel counts are extra actions (`deduped` re-runs the
    * anti-join; `input` re-scans the raw corpus) — pass
    * `stats = false` to skip them in production, like
    * [[importSegments]] (skipped counts report -1).
    */
  def exportCorpus(spark: SparkSession, sfDir: String, outPath: String,
      mixTarget: Int = 1000, docsPerShard: Int = 100000,
      evalPred: org.apache.spark.sql.Column = col("doc_id") % 50 === 7,
      semdedupEmb: Option[DataFrame] = None,
      lineDedup: Boolean = false,
      boilerplate: Boolean = false,
      contamRatePct: Option[Int] = None,
      dsirTarget: Option[org.apache.spark.sql.Column] = None,
      gate: Boolean = true,
      stats: Boolean = true): ExportStats = {
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val train = docs.filter(!evalPred)

    // gate: row-local verdicts, corpus-side plan stays one scan.
    // `gate = false` skips it — the recipe for pre-curated sources
    // (and the rehearsal mode that drives the dedup/decontaminate
    // stages at full corpus size: on the synthetic testdata the
    // gopher gate keeps ~0.02%, so with it on nothing downstream
    // ever sees a multi-million-doc frame)
    val gated0 = (if (!gate) train else {
      val keepIds = operators.TextOps.gopherVerdicts(train)
        .filter(col("verdict") === "keep").select(col("doc_id"))
        .join(operators.InferenceOps.scoredFrame(train)
          .filter(col("keep") === 1).select(col("doc_id")), "doc_id")
      train.join(keepIds, "doc_id")
    })
      // gated is the input of THREE downstream plans (dedup pairs,
      // contamination grams, final join) — pin it once. TRADE: this
      // stores the gated corpus (text included) on executor-local
      // disk; the alternative is re-running scan+gate per consumer
      // (3× the input IO). At 100 TB pick by cluster storage — the
      // stages are deterministic, so both choices export identically
      .localCheckpoint(false)

    // optional host-boilerplate strip: q80's majority-line chrome
    // removal, REWRITING text to the surviving lines. Runs before
    // line dedup (chrome drops outright instead of surviving at its
    // first occurrence) and before the doc-level dedups (shared
    // chrome inflates SimHash similarity between distinct docs)
    val stripped = if (!boilerplate) gated0 else
      rewriteToKeptLines(gated0,
        operators.CurationOps.boilerplateStrip(gated0))
        .localCheckpoint(false)

    // optional line dedup: REWRITES text to the kept lines (q77's
    // keep-first semantics); a doc whose every line lived elsewhere
    // first drops here. Runs before the doc-level dedups so shared
    // text can't make distinct docs look near-identical.
    val gated = if (!lineDedup) stripped else
      rewriteToKeptLines(stripped,
        operators.CurationOps.lineDedupText(stripped))
        .localCheckpoint(false)

    // near-dedup: drop the higher id of every hamming ≤ 3 pair
    // (pair frame ≪ corpus — near-dup density, not corpus size)
    val dupIds = operators.SimilarityOps.simhashPairs(gated)
      .select(greatest(col("a_id"), col("b_id")).as("doc_id")).distinct()
      // near-dup-density-sized, consumed twice (export anti-join + the
      // stats count) — pinning it keeps the stats pass from re-running
      // the SimHash pair stage, the sf100 rehearsal's costliest recompute
      .localCheckpoint(false)
    val deduped = gated.join(dupIds, Seq("doc_id"), "left_anti")

    // semantic dedup: q70 verdicts over the embedding table (vec_id =
    // doc_id), clustered with |cluster| held ~flat at every scale —
    // semdedupAssign subdivides cells past the driver-fit cap with
    // row-local sign bits, so the within-cluster pair stage stays
    // ~linear in the corpus (the un-subdivided cells went quadratic at
    // sf100: ~8e11 pair dots); only the drop-id frame (near-dup
    // density, not corpus
    // size) reaches the corpus-side anti-join
    val semdeduped = semdedupEmb.fold(deduped) { emb =>
      // multi-probe assignment (r18): top-2 cells per vector close the
      // argmax-boundary misses; the exploded frame double-counts a
      // pair at worst (max-sim groupBy dedups) and the drop-id frame
      // distincts before the anti-join
      val dropIds = operators.SimilarityOps.semdedupVerdicts(
        operators.SimilarityOps.semdedupAssignMulti(emb, emb.count()), col("sd_cluster"))
        .filter(!col("kept")).select(col("vec_id").as("doc_id")).distinct()
        // same pin as dupIds: without it the stats count replays the
        // entire within-cell pair compare over the embedding table
        .localCheckpoint(false)
      deduped.join(dropIds, Seq("doc_id"), "left_anti")
    }

    // decontaminate: a verbatim 32-char span shared with the eval set
    // drops the doc (the ~13-token decontamination unit; q53's 8-char
    // grams are the diagnostic REPORT, not a drop predicate — see
    // TextOps.contamination). `contamRatePct` ADDS q81's
    // fraction-threshold rule on top: a doc whose shared 13-token-gram
    // fraction exceeds the percentage also drops — the span rule
    // catches exact leaks, the rate rule catches paraphrased/partial
    // ones; both drop frames are eval-overlap-sized, not corpus-sized
    val contamSpan = operators.TextOps.contamination(
      semdeduped, docs.filter(evalPred), gram = 32).select(col("doc_id"))
    val contaminated = contamRatePct.fold(contamSpan) { pct =>
      contamSpan.unionAll(
        operators.TextOps.contaminationRate(
          semdeduped, docs.filter(evalPred), pctThreshold = pct)
          .filter(col("contaminated") === 1).select(col("doc_id")))
    }
    val clean = semdeduped.join(contaminated, Seq("doc_id"), "left_anti")
      // feeds the mix draw's count AND the final export join
      .localCheckpoint(false)

    // select: source-quota mix by default; DSIR importance resampling
    // toward the target predicate when the recipe asks for it.
    // DOCUMENTED DIVERGENCE between the branches: DSIR scores docs by
    // their extracted word features, so a doc with NO [a-z]+ runs
    // (numeric tables, non-Latin text) has no score and can never be
    // drawn here, while the quota draw could select it — a corpus
    // where that matters should gate on langid (q28) first
    val drawn = dsirTarget match {
      case None =>
        operators.TextOps.sourceMixDraw(clean, mixTarget).select(col("doc_id"))
      case Some(target) =>
        operators.CurationOps.dsirScores(clean, target)
          .orderBy(col("dsir_logw").desc, col("doc_id").asc)
          .limit(mixTarget)
          .select(col("doc_id"))
    }
    val exported = clean.join(drawn, "doc_id")
      .select(col("doc_id"), col("source"), col("lang"), col("text"))

    val nExported = exported.count()
    val shards = math.max(1, math.ceil(nExported.toDouble / docsPerShard).toInt)
    sinks.JsonlSink.write(exported, outPath, shards)
    if (stats) ExportStats(
      input = train.count(), gated = gated0.count(), deduped = deduped.count(),
      semdeduped = if (semdedupEmb.isDefined) semdeduped.count() else -1,
      decontaminated = clean.count(), exported = nExported, shards = shards,
      lineDeduped = if (lineDedup) gated.count() else -1,
      boilerplated = if (boilerplate) stripped.count() else -1)
    else ExportStats(-1, -1, -1, -1, -1, exported = nExported, shards = shards)
  }
}
