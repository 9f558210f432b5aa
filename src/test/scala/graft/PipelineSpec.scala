package graft

import graft.api.LinkDbRequest
import java.nio.file.Files

class PipelineSpec extends SparkSpec {

  test("WAT segments import end-to-end and serve LinkDB queries") {
    // reuse the WatSourceSpec fixture generator through a fresh instance
    val fixture = new WatSourceSpec {}.fixturePath
    val out = SparkSpec.tempDir("graftstore").toString
    val stats = Pipeline.importSegments(spark, Seq(fixture), out,
      ignoreDomains = Seq("ignored.example"))
    // 4 valid pages (sitea, b.org, canon, blog.user.github.io) and 6
    // kept links: 2 + 1 + 1 + 2 (see the WatSourceSpec fixture)
    assert(stats.pages == 4)
    assert(stats.links == 6)
    assert(stats.compacted == 6)
    assert(stats.domains == 6)

    // the store answers the reference's API contract
    val db = Pipeline.linkDb(spark, out, "ext2.co.uk")
    val out1 = db.query(LinkDbRequest("ext2.co.uk"))
    assert(out1.length == 1)
    assert(out1.head.linkUrl == "https://sub.ext2.co.uk/x?q=1")
    assert(out1.head.noFollow == 1)

    // idempotent re-import (the reference's .imported marker semantics)
    val stats2 = Pipeline.importSegments(spark, Seq(fixture), out)
    assert(stats2.compacted == stats.compacted)
  }

  test("multi-segment import reads every WAT file") {
    val fixture = new WatSourceSpec {}.fixturePath
    // second segment = a copy of the first under a different name
    val seg2 = SparkSpec.tempDir("wat2")
      .resolve("seg2.wat.gz")
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixture), seg2)
    val out = SparkSpec.tempDir("graftstore2").toString
    val stats = Pipeline.importSegments(spark, Seq(fixture, seg2.toString), out)
    assert(stats.pages == 8, "both segments' pages must load")
    assert(stats.links == 12, "raw link count doubles with the duplicated segment")
    assert(stats.compacted == 6, "compaction merges the duplicate segment's rows")
  }

  test("manifest import resumes from completion markers without double-counting") {
    import graft.sources.SegmentManifest
    // two one-file segments in distinct parent dirs (segment id = dir name)
    val fixture = new WatSourceSpec {}.fixturePath
    def segCopy(name: String): String = {
      val d = SparkSpec.tempDir(name)
      val f = d.resolve("part.wat.gz")
      Files.copy(java.nio.file.Paths.get(fixture), f)
      f.toString
    }
    val (f1, f2) = (segCopy("sega"), segCopy("segb"))
    val (id1, id2) = (SegmentManifest.segmentId(f1), SegmentManifest.segmentId(f2))
    val out = SparkSpec.tempDir("manifeststore").toString
    val manifest = SparkSpec.tempFile("wat", ".paths")
    Files.writeString(manifest, s"# comment line\n$f1\n\n$f2\n")

    // run 1 imports only the first segment (bounded run), as if the
    // process died before reaching the second
    val r1 = Pipeline.importManifest(spark, manifest.toString, out, maxSegments = 1)
    assert(r1.imported == Seq(id1) && r1.remaining == Seq(id2))
    assert(SegmentManifest.isImported(spark, out, id1))
    assert(!SegmentManifest.isImported(spark, out, id2))
    // a crash mid-segment leaves data but no marker: fake seg2 debris
    Files.createDirectories(java.nio.file.Paths.get(
      SegmentManifest.segmentDir(out, id2), "links"))
    // readers only ever see marker-complete segments
    assert(Pipeline.segmentLinks(spark, out).count() == 6)

    val seg1Rows = Pipeline.segmentLinks(spark, out)
      .collect().map(_.toString).sorted.toSeq

    // run 2 resumes: skips the completed segment, redoes the broken one
    val r2 = Pipeline.importManifest(spark, manifest.toString, out)
    assert(r2.skipped == Seq(id1) && r2.imported == Seq(id2) && r2.remaining.isEmpty)
    val all = Pipeline.segmentLinks(spark, out)
    assert(all.count() == 12, "both segments complete, nothing double-counted")
    // the already-imported segment's store is untouched by the resume
    val seg1After = graft.sinks.LinkStore
      .read(spark, s"${SegmentManifest.segmentDir(out, id1)}/links")
      .drop("domain_bucket").collect().map(_.toString).sorted.toSeq
    assert(seg1After == seg1Rows)

    // run 3 is a no-op
    val r3 = Pipeline.importManifest(spark, manifest.toString, out)
    assert(r3.imported.isEmpty && r3.skipped.toSet == Set(id1, id2))

    // folding merges the duplicate segments' rows exactly once
    Pipeline.foldSegments(spark, out)
    val folded = Pipeline.links(spark, out)
    assert(folded.count() == 6)
    import org.apache.spark.sql.functions.{col, sum}
    assert(folded.agg(sum(col("qty"))).head().getLong(0) == 12)
    // pages fold too: the identical segment copies dedupe to one record
    // per page, and the pageDb surface works off the folded store
    val served = Pipeline.pageDb(spark, out, "www.sitea.com")
      .query(api.PageDbRequest("www.sitea.com"))
    assert(served.length == 1 && served.head.title == "t")
    // folding is idempotent-safe for pages (pure dedup) even though
    // links would double-count — rerun and the page count holds
    Pipeline.foldSegments(spark, out)
    assert(Pipeline.pageDb(spark, out, "www.sitea.com")
      .query(api.PageDbRequest("www.sitea.com")).length == 1)
  }

  test("a gzipped manifest parses to the same segments as the plain one") {
    import graft.sources.SegmentManifest
    import graft.sources.SegmentManifest.Segment
    // the reference ships its manifest as wat.paths.gz: a comment, a
    // blank line, relative and absolute entries
    val lines = Seq(
      "# crawl segments",
      "segments/1700000000.12/wat/a.warc.wat.gz",
      "",
      "/archive/segments/1700000000.13/wat/b.warc.wat.gz",
      "segments/1700000000.12/wat/c.warc.wat.gz")
    val d = SparkSpec.tempDir("gzmanifest")
    val plain = d.resolve("wat.paths")
    Files.writeString(plain, lines.mkString("", "\n", "\n"))
    val gz = d.resolve("wat.paths.gz")
    val w = new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz)), "UTF-8")
    try w.write(lines.mkString("", "\n", "\n")) finally w.close()
    val base = Some("/crawl/")
    val fromGz = SegmentManifest.parse(spark, gz.toString, base)
    assert(fromGz == SegmentManifest.parse(spark, plain.toString, base))
    assert(fromGz == Seq(
      Segment("1700000000.12", Seq(
        "/crawl/segments/1700000000.12/wat/a.warc.wat.gz",
        "/crawl/segments/1700000000.12/wat/c.warc.wat.gz")),
      Segment("1700000000.13", Seq("/archive/segments/1700000000.13/wat/b.warc.wat.gz"))))
  }

  test("segment stores are plain, and one left bucketed by an older import folds the same") {
    import graft.sinks.{LinkStore, PageStore}
    import graft.sources.SegmentManifest
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, sum}
    val fixture = new WatSourceSpec {}.fixturePath
    def segCopy(name: String): String = {
      val f = SparkSpec.tempDir(name).resolve("part.wat.gz")
      Files.copy(java.nio.file.Paths.get(fixture), f)
      f.toString
    }
    val manifest = SparkSpec.tempFile("ly", ".paths")
    Files.writeString(manifest, Seq(segCopy("lya"), segCopy("lyb")).mkString("", "\n", "\n"))
    def imported(name: String): String = {
      val out = SparkSpec.tempDir(name).toString
      Pipeline.importManifest(spark, manifest.toString, out)
      out
    }
    val (plain, mixed) = (imported("lyplain"), imported("lymixed"))
    def entries(dir: String): Seq[String] = new java.io.File(dir).list().toSeq
    val ids = SegmentManifest.completedSegments(spark, plain)
    assert(ids.size == 2)
    for (id <- ids; store <- Seq("links", "pages")) {
      val names = entries(s"${SegmentManifest.segmentDir(plain, id)}/$store")
      assert(names.exists(_.endsWith(".parquet")), s"$id/$store: $names")
      assert(!names.exists(_.startsWith("domain_bucket=")), s"$id/$store: $names")
    }

    // rewrite one segment of `mixed` in the bucketed layout, as an
    // import before plain segment stores left it
    val old = SegmentManifest.segmentDir(mixed, SegmentManifest.completedSegments(spark, mixed).head)
    def rewrite(store: String, write: (DataFrame, String) => Unit): Unit = {
      val df = spark.read.parquet(s"$old/$store")
      write(spark.createDataFrame(df.collectAsList(), df.schema), s"$old/$store")
      assert(entries(s"$old/$store").exists(_.startsWith("domain_bucket=")))
    }
    rewrite("links", LinkStore.write(_, _))
    rewrite("pages", PageStore.write(_, _))

    Seq(plain, mixed).foreach(Pipeline.foldSegments(spark, _))
    def rows(df: DataFrame): Seq[String] =
      df.drop("domain_bucket").collect().map(_.toString).sorted.toSeq
    def qty(out: String): Long =
      Pipeline.links(spark, out).agg(sum(col("qty"))).head().getLong(0)
    assert(rows(Pipeline.links(spark, mixed)) == rows(Pipeline.links(spark, plain)))
    assert(qty(mixed) == qty(plain) && qty(plain) == 12, "2 identical segments x 6 links")
    assert(rows(PageStore.read(spark, s"$mixed/pages")) ==
      rows(PageStore.read(spark, s"$plain/pages")))
  }

  test("segment selector restricts a manifest run like the importer's 4th arg") {
    import graft.sources.SegmentManifest
    // ordinal parsing mirrors the reference's SegmentID derivation
    assert(SegmentManifest.segmentOrdinal("1687947420.12") == Some(12))
    assert(SegmentManifest.segmentOrdinal("1687947420.12.extra") == Some(12))
    assert(SegmentManifest.segmentOrdinal("nodots") == None)
    assert(SegmentManifest.segmentOrdinal("a.notnum") == None)
    assert(SegmentManifest.segmentOrdinal("a.") == None)
    // selector grammar mirrors parseSegmentInput
    assert(SegmentManifest.parseSelector("1,3,5") == Seq(1, 3, 5))
    assert(SegmentManifest.parseSelector("2-5") == Seq(2, 3, 4, 5))
    assert(SegmentManifest.parseSelector("7") == Seq(7))
    intercept[IllegalArgumentException](SegmentManifest.parseSelector("5-2"))
    intercept[IllegalArgumentException](SegmentManifest.parseSelector("1-2-3"))
    intercept[NumberFormatException](SegmentManifest.parseSelector("1-3,5"))
    intercept[NumberFormatException](SegmentManifest.parseSelector("x"))

    // three one-file segments named like Common Crawl segment dirs
    val fixture = new WatSourceSpec {}.fixturePath
    val root = SparkSpec.tempDir("selseg")
    def segCopy(ord: Int): String = {
      val d = Files.createDirectories(root.resolve(s"1687947420.$ord"))
      val f = d.resolve("part.wat.gz")
      Files.copy(java.nio.file.Paths.get(fixture), f)
      f.toString
    }
    val files = Seq(1, 2, 3).map(segCopy)
    val out = SparkSpec.tempDir("selstore").toString
    val manifest = SparkSpec.tempFile("sel", ".paths")
    Files.writeString(manifest, files.mkString("", "\n", "\n"))

    // range selector: only segments 2-3 run; segment 1 untouched/unlisted
    val r = Pipeline.importManifest(spark, manifest.toString, out,
      segmentSelector = Some("2-3"))
    assert(r.imported == Seq("1687947420.2", "1687947420.3"))
    assert(r.skipped.isEmpty && r.remaining.isEmpty)
    assert(!SegmentManifest.isImported(spark, out, "1687947420.1"))

    // re-run with a list selector: done segments skip, new ones import
    val r2 = Pipeline.importManifest(spark, manifest.toString, out,
      segmentSelector = Some("3,1"))
    assert(r2.imported == Seq("1687947420.1") && r2.skipped == Seq("1687947420.3"))

    // an ordinal missing from the manifest fails loudly (documented
    // divergence from Go's silent exit)
    val e = intercept[IllegalArgumentException](
      Pipeline.importManifest(spark, manifest.toString, out,
        segmentSelector = Some("9")))
    assert(e.getMessage.contains("not in manifest"))
  }

  test("pageDb serves page records from the partition-pruned page store") {
    val fixture = new WatSourceSpec {}.fixturePath
    val out = SparkSpec.tempDir("pagestore").toString
    Pipeline.importSegments(spark, Seq(fixture), out)
    val res = Pipeline.pageDb(spark, out, "www.sitea.com")
      .query(api.PageDbRequest("www.sitea.com"))
    assert(res.length == 1)
    assert(res.head.pageUrl == "http://www.sitea.com/index.html")
    assert(res.head.title == "t" && res.head.ip == "1.2.3.4")
    assert(res.head.crawlDate == "2024-05-01")
    // host matching is exact: the bare domain has no page record
    assert(Pipeline.pageDb(spark, out, "sitea.com")
      .query(api.PageDbRequest("sitea.com")).isEmpty)
    // any-filters narrow by title/path
    assert(Pipeline.pageDb(spark, out, "www.sitea.com")
      .query(api.PageDbRequest("www.sitea.com", titleAny = Some("nope"))).isEmpty)
    assert(Pipeline.pageDb(spark, out, "www.sitea.com")
      .query(api.PageDbRequest("www.sitea.com", pathAny = Some("index"))).length == 1)
    // the domain read prunes on the bucket partition column
    val plan = graft.sinks.PageStore
      .readDomain(spark, s"$out/pages", "sitea.com")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("domain_bucket"))
  }

  test("linkDb prunes the store by eTLD+1 so subdomain requests work") {
    val fixture = new WatSourceSpec {}.fixturePath
    val out = SparkSpec.tempDir("graftstore3").toString
    Pipeline.importSegments(spark, Seq(fixture), out)
    val viaSub = Pipeline.linkDb(spark, out, "sub.ext2.co.uk")
      .query(LinkDbRequest("sub.ext2.co.uk"))
    assert(viaSub.length == 1, "subdomain-qualified request must hit the eTLD+1 partition")
    assert(viaSub.head.linkUrl == "https://sub.ext2.co.uk/x?q=1")
  }

  test("staged fetch retries a flaky source and completes the import") {
    import graft.sources.SegmentManifest
    val fixture = new WatSourceSpec {}.fixturePath
    val d = SparkSpec.tempDir("flakyseg")
    val f = d.resolve("part.wat.gz")
    Files.copy(java.nio.file.Paths.get(fixture), f)
    val out = SparkSpec.tempDir("flakystore").toString
    val staging = SparkSpec.tempDir("flakystaging").toString
    val manifest = SparkSpec.tempFile("flaky", ".paths")
    Files.writeString(manifest, f.toString + "\n")

    // a source that fails twice then delivers — the DownloadFile loop's
    // raison d'être. Counts attempts so we can assert the retry count.
    var attempts = 0
    val flaky: (String, String) => Unit = (src, dst) => {
      attempts += 1
      if (attempts < 3) throw new java.io.IOException(s"transient fetch failure $attempts")
      Files.copy(java.nio.file.Paths.get(src), java.nio.file.Paths.get(dst))
    }
    val r = Pipeline.importManifest(spark, manifest.toString, out,
      staging = Some(staging), fetch = Some(flaky))
    assert(attempts == 3, "two failures then success")
    assert(r.imported == Seq(SegmentManifest.segmentId(f.toString)))
    assert(SegmentManifest.isImported(spark, out, SegmentManifest.segmentId(f.toString)))
    assert(Pipeline.segmentLinks(spark, out).count() == 6,
      "import read the STAGED bytes and produced the usual store")
    // staged copies are dropped once the marker is down
    assert(!Files.exists(java.nio.file.Paths.get(staging, SegmentManifest.segmentId(f.toString))))

    // a permanently-failing source exhausts its attempts loudly
    val out2 = SparkSpec.tempDir("flakystore2").toString
    val always: (String, String) => Unit =
      (_, _) => throw new java.io.IOException("gone")
    val e = intercept[java.io.IOException] {
      Pipeline.importManifest(spark, manifest.toString, out2,
        staging = Some(staging), fetch = Some(always))
    }
    assert(e.getMessage.contains("after 3 attempts"))
    assert(!SegmentManifest.isImported(spark, out2, SegmentManifest.segmentId(f.toString)))
  }

  test("stageSegmentFiles skips already-staged files and backs off between attempts") {
    import graft.sources.SegmentManifest
    val fixture = new WatSourceSpec {}.fixturePath
    val d = SparkSpec.tempDir("stageseg")
    val f = d.resolve("part.wat.gz")
    Files.copy(java.nio.file.Paths.get(fixture), f)
    val seg = SegmentManifest.Segment(SegmentManifest.segmentId(f.toString), Seq(f.toString))
    val staging = SparkSpec.tempDir("stagedir").toString

    var sleeps = List.empty[Long]
    var attempts = 0
    val flaky: (String, String) => Unit = (src, dst) => {
      attempts += 1
      if (attempts < 3) throw new java.io.IOException("flap")
      Files.copy(java.nio.file.Paths.get(src), java.nio.file.Paths.get(dst))
    }
    val staged = Pipeline.stageSegmentFiles(spark, seg, staging,
      backoffMs = 10, sleep = ms => sleeps ::= ms, fetch = Some(flaky))
    assert(staged.files.size == 1 && staged.files.head.endsWith("part.wat.gz"))
    assert(sleeps.reverse == List(10L, 20L), "linear backoff between attempts")

    // second call: the staged file matches the source length → no fetch
    attempts = 0
    val again = Pipeline.stageSegmentFiles(spark, seg, staging,
      fetch = Some((_, _) => { attempts += 1; throw new AssertionError("must not fetch") }))
    assert(attempts == 0 && again.files == staged.files)
  }

  test("autoFold folds at the threshold and matches the fold-once store") {
    import graft.sources.SegmentManifest
    import org.apache.spark.sql.functions.{col, sum}
    val fixture = new WatSourceSpec {}.fixturePath
    def segCopy(name: String): String = {
      val dd = SparkSpec.tempDir(name)
      val ff = dd.resolve("part.wat.gz")
      Files.copy(java.nio.file.Paths.get(fixture), ff)
      ff.toString
    }
    val files = Seq(segCopy("afa"), segCopy("afb"), segCopy("afc"))
    def manifestOf(fs: Seq[String]): String = {
      val m = SparkSpec.tempFile("af", ".paths")
      Files.writeString(m, fs.mkString("", "\n", "\n"))
      m.toString
    }
    // periodic: fold after every segment (threshold 1)
    val outA = SparkSpec.tempDir("afper").toString
    Pipeline.importManifest(spark, manifestOf(files), outA, autoFoldEvery = 1)
    // every segment folded as it completed → no segment dirs remain
    assert(SegmentManifest.completedSegments(spark, outA).isEmpty)
    assert(Pipeline.foldedSegments(spark, s"$outA/links").size == 3)
    // fold-once: import everything, then one manual fold
    val outB = SparkSpec.tempDir("afonce").toString
    Pipeline.importManifest(spark, manifestOf(files), outB)
    Pipeline.foldSegments(spark, outB)
    def canon(out: String): (Seq[String], Long) = {
      val df = Pipeline.links(spark, out).drop("domain_bucket")
      (df.collect().map(_.toString).sorted.toSeq,
        df.agg(sum(col("qty"))).head().getLong(0))
    }
    assert(canon(outA) == canon(outB),
      "any autoFold schedule must equal the fold-once store")
    assert(canon(outA)._2 == 18, "3 identical segments x 6 links, nothing double-counted")

    // threshold above the backlog → no fold runs
    val outC = SparkSpec.tempDir("afnone").toString
    Pipeline.importManifest(spark, manifestOf(Seq(files.head)), outC, autoFoldEvery = 5)
    assert(Pipeline.foldedSegments(spark, s"$outC/links").isEmpty)
    assert(SegmentManifest.completedSegments(spark, outC).size == 1)
    assert(!Pipeline.autoFold(spark, outC, threshold = 2), "below threshold: no-op")
    assert(Pipeline.autoFold(spark, outC, threshold = 1), "at threshold: folds")
    assert(Pipeline.foldedSegments(spark, s"$outC/links").size == 1)
  }

  test("concurrent folds: one winner, one clean refusal, sequential-equivalent store") {
    import graft.sinks.LeaseHeldException
    import org.apache.spark.sql.functions.{col, sum}
    val fixture = new WatSourceSpec {}.fixturePath
    def segCopy(name: String): String = {
      val dd = SparkSpec.tempDir(name)
      val ff = dd.resolve("part.wat.gz")
      Files.copy(java.nio.file.Paths.get(fixture), ff)
      ff.toString
    }
    def manifestOf(fs: Seq[String]): String = {
      val m = SparkSpec.tempFile("cf", ".paths")
      Files.writeString(m, fs.mkString("", "\n", "\n"))
      m.toString
    }
    val filesA = Seq(segCopy("cfa"), segCopy("cfb"))
    val out = SparkSpec.tempDir("cfstore").toString
    Pipeline.importManifest(spark, manifestOf(filesA), out)

    // writer A: a fold held open mid-flight (leases down, no data moved
    // yet) — the window where a second scheduler would previously race
    // StoreGen.prepare's prune of A's in-flight generation
    val leased = new java.util.concurrent.CountDownLatch(1)
    val unblock = new java.util.concurrent.CountDownLatch(1)
    @volatile var aFailure: Throwable = null
    val a = new Thread(() => {
      try Pipeline.foldSegments(spark, out,
        onLeased = () => { leased.countDown(); unblock.await() })
      catch { case t: Throwable => aFailure = t }
    }, "writer-a")
    a.start()
    assert(leased.await(30, java.util.concurrent.TimeUnit.SECONDS), "A must lease")

    // writer B: refused LOUDLY while A holds the lease, before touching
    // anything — no stray generation dirs, no pointer movement
    intercept[LeaseHeldException](Pipeline.foldSegments(spark, out))
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$out/links/_CURRENT")),
      "the refused fold must not have published anything")

    unblock.countDown()
    a.join(120000)
    assert(aFailure == null, s"winner must complete cleanly: $aFailure")

    // B's retry after the winner: the ledger covers both segments → no-op
    Pipeline.foldSegments(spark, out)

    // the contended store equals a sequential fold of identical segments
    val filesB = Seq(segCopy("cfc"), segCopy("cfd"))
    val outSeq = SparkSpec.tempDir("cfseq").toString
    Pipeline.importManifest(spark, manifestOf(filesB), outSeq)
    Pipeline.foldSegments(spark, outSeq)
    def canon(o: String): (Seq[String], Long) = {
      val df = Pipeline.links(spark, o).drop("domain_bucket")
      (df.collect().map(_.toString).sorted.toSeq,
        df.agg(sum(col("qty"))).head().getLong(0))
    }
    assert(canon(out) == canon(outSeq),
      "contended fold + refused retry must equal sequential folding")
    // leases released: a later scheduled fold is free to run
    Pipeline.foldSegments(spark, out)
  }

  test("maintainRanks folds carry PageRank across deltas: same ranking, fewer iterations") {
    import graft.operators.GraphOps
    // delta 2 is a DIFFERENT segment: two new pages linking to new
    // hosts, so the second fold genuinely grows the graph
    def watSeg(name: String, lines: Seq[String]): String = {
      val d = SparkSpec.tempDir(name)
      val f = d.resolve("part.wat.gz").toFile
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f)), "UTF-8"))
      lines.foreach(l => w.write(l + "\n"))
      w.close()
      f.getAbsolutePath
    }
    def page(uri: String, links: Seq[(String, String)]): String = {
      val linksJson = links.map { case (url, text) =>
        s"""{"path":"A@/href","url":"$url","text":"$text","rel":""}"""
      }.mkString("[", ",", "]")
      s"""{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"$uri","WARC-IP-Address":"1.1.1.1","WARC-Date":"2024-05-01T12:00:00Z"},""" +
        s""""Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":{"Head":{"Title":"t","Metas":[],"Link":[]},"Links":$linksJson}}}}}"""
    }
    val seg1 = watSeg("rkseg1", Seq(
      page("http://www.alpha.com/a", Seq(
        "http://hub.example.com/x" -> "h", "http://beta.org/b" -> "b")),
      page("http://beta.org/idx", Seq(
        "http://hub.example.com/y" -> "h", "http://gamma.net/g" -> "g"))))
    val seg2 = watSeg("rkseg2", Seq(
      page("http://www.delta.io/d", Seq(
        "http://hub.example.com/z" -> "h", "http://newhost.com/n" -> "n")),
      page("http://gamma.net/p", Seq("http://newhost.com/m" -> "n"))))
    val out = SparkSpec.tempDir("rkstore").toString
    def manifestOf(fs: Seq[String]): String = {
      val m = SparkSpec.tempFile("rk", ".paths")
      Files.writeString(m, fs.mkString("", "\n", "\n"))
      m.toString
    }
    val tol = 1e-9

    // delta 1: cold start (no previous _RANKS artifact)
    assert(Pipeline.hostRanks(spark, out).isEmpty)
    Pipeline.importManifest(spark, manifestOf(Seq(seg1)), out)
    val f1 = Pipeline.foldSegments(spark, out, maintainRanks = true, rankTol = tol)
    assert(f1.rankIters.nonEmpty && f1.rankIters.get > 1, "cold start iterates")
    val r1 = Pipeline.hostRanks(spark, out).get
    assert(r1.columns.toSeq == Seq("host", "rank"))

    // delta 2: warm start from the published generation's ranks
    Pipeline.importManifest(spark, manifestOf(Seq(seg1, seg2)), out)
    val f2 = Pipeline.foldSegments(spark, out, maintainRanks = true, rankTol = tol)
    val maintained = Pipeline.hostRanks(spark, out).get

    // cold recompute over the SAME final store edges, same tol
    val (coldRanks, coldIters) = GraphOps.pageRankOnEdges(
      GraphOps.edgesOf(Pipeline.links(spark, out).drop("domain_bucket")),
      maxIters = 500, tol = Some(tol))
    assert(f2.rankIters.get < coldIters,
      s"warm-start fold must save iterations: warm=${f2.rankIters.get} cold=$coldIters")
    val warmTop = GraphOps.top100(maintained).collect().map(_.toString).toSeq
    val coldTop = GraphOps.top100(coldRanks).collect().map(_.toString).toSeq
    assert(warmTop == coldTop, "maintained ranks must match a cold recompute at tol")
    // the second delta's new host is ranked
    assert(maintained.collect().map(_.getString(0)).contains("newhost.com"))

    // a fold with nothing new to fold leaves the ranks artifact intact
    val f3 = Pipeline.foldSegments(spark, out, maintainRanks = true, rankTol = tol)
    assert(f3.rankIters.isEmpty && Pipeline.hostRanks(spark, out).nonEmpty)
  }

  test("exportCorpus delivers gate->dedup->semdedup->decontaminate->mix as JSONL shards") {
    import org.apache.spark.sql.functions._
    val out = SparkSpec.tempDir("export").toString + "/corpus"
    // embedding frame where doc b+1 is a semantic near-dup of doc b
    // (for b % 25 == 0): the q70 stage must drop the b+1 docs
    val e = Tables.table(spark, sfDir, "embeddings")
    val semDupVictims = e.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 1).as("vec_id"),
        expr("transform(embedding, (x, i) -> if(i = 0, cast(x + 0.001f as float), x))")
          .as("embedding"), col("label"))
    val victimIds = semDupVictims.collect().map(_.getLong(0)).toSet
    val emb = e.filter(col("vec_id") % 25 =!= 1).unionAll(semDupVictims)
    // docsPerShard forces multiple shards at fixture scale
    val stats = Pipeline.exportCorpus(spark, sfDir, out,
      mixTarget = 40, docsPerShard = 10, semdedupEmb = Some(emb))

    // the funnel only narrows, and every stage did something sane
    assert(stats.input > 0)
    assert(stats.gated <= stats.input)
    assert(stats.deduped <= stats.gated)
    assert(stats.semdeduped <= stats.deduped)
    assert(stats.decontaminated <= stats.semdeduped)
    assert(stats.exported <= math.min(stats.decontaminated, 40L))
    assert(stats.exported > 0)
    assert(stats.shards == math.max(1, math.ceil(stats.exported / 10.0).toInt))

    // shards round-trip: every exported row survives byte-exactly
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val back = graft.sinks.JsonlSink.read(spark, out, schema)
    assert(back.count() == stats.exported)

    // exported docs actually honor the stage predicates: every doc is
    // gate-kept, none is the larger member of a near-dup pair, none
    // shares an 8-gram with the eval set
    val ids = back.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.forall(_ % 50 != 7), "eval docs must never export")
    assert(ids.intersect(victimIds).isEmpty,
      s"semantic near-dups must never export: ${ids.intersect(victimIds)}")
    val verdicts = operators.TextOps.gopherVerdicts(
      Tables.table(spark, sfDir, "documents"))
      .filter(col("verdict") =!= "keep")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.intersect(verdicts).isEmpty, "gate-rejected docs exported")

    // membership is input-partitioning-independent: a re-export lands
    // every doc in the same shard id (the sink hashes doc_id, and the
    // curation stages are deterministic)
    val out2 = SparkSpec.tempDir("export2").toString + "/corpus"
    val stats2 = Pipeline.exportCorpus(spark, sfDir, out2,
      mixTarget = 40, docsPerShard = 10, semdedupEmb = Some(emb))
    assert(stats2 == stats)
    def shardOf(dir: String): Map[Long, Long] =
      spark.read.schema(schema).json(dir)
        .select(col("doc_id"), col("shard").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shardOf(out) == shardOf(out2),
      "shard membership must be deterministic across runs")
  }

  test("exportCorpus composes boilerplate strip, line dedup and DSIR selection") {
    import org.apache.spark.sql.functions._
    val out = SparkSpec.tempDir("export3").toString + "/corpus"
    val target = col("source").isin("src0", "src1")
    val stats = Pipeline.exportCorpus(spark, sfDir, out,
      mixTarget = 40, docsPerShard = 10,
      lineDedup = true, boilerplate = true, contamRatePct = Some(20),
      dsirTarget = Some(target))

    // the funnel narrows through the optional stages too
    assert(stats.boilerplated >= 0 && stats.boilerplated <= stats.gated)
    assert(stats.lineDeduped >= 0 && stats.lineDeduped <= stats.boilerplated)
    assert(stats.deduped <= stats.lineDeduped)
    assert(stats.exported > 0 && stats.exported <= 40)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val back = graft.sinks.JsonlSink.read(spark, out, schema)
    assert(back.count() == stats.exported)
    // every exported text is a line-dedup REWRITE: the normalized
    // token stream (lowercase words), never empty
    assert(back.filter(!col("text").rlike("^[a-z]+( [a-z]+)*$")).count() == 0,
      "exported text must be the rebuilt normalized token stream")
    // DSIR selection overselects the target sources vs their 2-in-20
    // base rate
    val srcs = back.select("source").collect().map(_.getString(0))
    val share = srcs.count(s => s == "src0" || s == "src1").toDouble / srcs.length
    assert(share >= 0.1, s"target share $share below base rate")
    // the composed recipe is deterministic end to end
    val out2 = SparkSpec.tempDir("export4").toString + "/corpus"
    val stats2 = Pipeline.exportCorpus(spark, sfDir, out2,
      mixTarget = 40, docsPerShard = 10,
      lineDedup = true, boilerplate = true, contamRatePct = Some(20),
      dsirTarget = Some(target))
    assert(stats2 == stats)
  }

  test("exportCorpus gate=false feeds the dedup stages the whole train split") {
    import org.apache.spark.sql.functions._
    val out = SparkSpec.tempDir("export_ng").toString + "/corpus"
    val stats = Pipeline.exportCorpus(spark, sfDir, out,
      mixTarget = 40, docsPerShard = 10, gate = false)
    val nTrain = Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 50 =!= 7).count()
    // no gate: the funnel's first stage sees EVERY train doc (the gated
    // run keeps only the gopher∩classifier survivors)
    assert(stats.gated == nTrain, s"gated ${stats.gated} != train $nTrain")
    assert(stats.deduped <= stats.gated)
    assert(stats.exported > 0 && stats.exported <= 40)
    val gatedRun = Pipeline.exportCorpus(spark, sfDir,
      SparkSpec.tempDir("export_g").toString + "/corpus",
      mixTarget = 40, docsPerShard = 10)
    assert(gatedRun.gated < stats.gated,
      "the gate must keep strictly fewer docs than no-gate")
  }

  test("boilerplate stage composition strips planted chrome and drops all-chrome docs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the exact composition exportCorpus(boilerplate = true) runs —
    // the organic pipeline fixture has no host-majority chrome, so the
    // strip is exercised here on a corpus that does. 6 docs on one
    // host: every doc opens with the same banner line (chrome), doc 5
    // is ONLY the banner (drops), the rest keep their unique tails.
    // Lines chunk at LineWidth (10) tokens, so the banner must fill
    // whole chunks: 20 tokens = 2 chunks. Tokens must be pure [a-z]+
    // runs — the tokenizer drops digits, so "cookie1" would collapse
    // every word to "cookie"
    def w(tag: String, k: Int) = tag + ('a' + k).toChar.toString
    val banner = (0 until 20).map(w("cookie", _)).mkString(" ")
    val docs = (0L to 5L).map { i =>
      val tail = if (i == 5) ""
        else (0 until 20).map(j => w("body" + ('a' + i.toInt).toChar, j)).mkString(" ")
      (i, s"$banner $tail".trim, "en", "host-a")
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("bigint"))
    val out = Pipeline.rewriteToKeptLines(docs,
      operators.CurationOps.boilerplateStrip(docs)).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == (0L to 4L), "all-chrome doc must drop")
    out.foreach { r =>
      val t = r.getAs[String]("text")
      assert(!t.contains("cookie"), s"chrome survived in: $t")
      assert(t.startsWith("body" + ('a' + r.getLong(0).toInt).toChar + "a"),
        s"body lost from: $t")
      assert(r.getAs[Long]("n_chars") == t.length.toLong)
    }
  }

  test("rewriteToKeptLines drops on the merits but passes token-less docs through") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = Seq(
      (1L, "alpha beta gamma", "en", "src0"), // rewritten to kept lines
      (2L, "dup dup dup", "en", "src0"),      // present, n_kept = 0 → drops
      (3L, "1234 5678 %%%", "xx", "src1")     // token-less: absent from kept
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("bigint"))
    val kept = Seq(
      (1L, 2, "alpha beta"),
      (2L, 0, "")
    ).toDF("doc_id", "n_kept", "kept_text")

    val out = Pipeline.rewriteToKeptLines(base, kept)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // doc 1 rewrote; its n_chars describes the NEW text
    assert(out(0).getAs[String]("text") == "alpha beta")
    assert(out(0).getAs[Long]("n_chars") == 10L)
    // the token-less doc passes through byte-identical — the line
    // passes never saw it, so it cannot be a duplicate
    assert(out(1).getAs[String]("text") == "1234 5678 %%%")
    assert(out(1).getAs[String]("lang") == "xx")
  }

  test("publishRankedStore lands store + _RANKS in one generation; serving reads prune") {
    import org.apache.spark.sql.functions._
    val out = SparkSpec.tempDir("pubrank").toString
    val raw = Tables.links(spark, sfDir)
    val tol = 1e-9

    // one-shot publish: compaction + store + ranks behind a single swap
    val coldIters = Pipeline.publishRankedStore(spark, raw, out, rankTol = tol)
    assert(coldIters > 1, "cold start must iterate")
    val served = Pipeline.links(spark, out)
    assert(served.count() > 0, "store must be queryable after publish")
    val full = Pipeline.hostRanks(spark, out).get
    assert(full.columns.toSeq == Seq("host", "rank"))

    // the artifact IS the fixed point: matches a cold recompute over
    // the published store's own edges at the same tol
    val (cold, _) = graft.operators.GraphOps.pageRankOnEdges(
      graft.operators.GraphOps.edgesOf(served.drop("domain_bucket")),
      maxIters = 500, tol = Some(tol))
    assert(graft.operators.GraphOps.top100(full).collect().map(_.toString).toSeq ==
      graft.operators.GraphOps.top100(cold).collect().map(_.toString).toSeq)

    // pruned serving read: same answer as filtering the full frame...
    val hosts = Seq("h0.example.org", "h3.example.org")
    val pruned = Pipeline.hostRanksFor(spark, out, hosts)
    val viaFull = full.filter(col("host").isin(hosts: _*))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pruned.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap == viaFull)
    // ...through a plan that scans only the hosts' rank_bucket partitions
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("rank_bucket"),
      s"serving read must partition-prune on rank_bucket:\n$plan")
    assert(Pipeline.hostRankOf(spark, out, "h0.example.org").contains(viaFull("h0.example.org")))
    assert(Pipeline.hostRankOf(spark, out, "nosuch.example.org").isEmpty)

    // republish warm-starts from the live generation's artifact
    val warmIters = Pipeline.publishRankedStore(spark, raw, out, rankTol = tol)
    assert(warmIters < coldIters,
      s"republish must warm-start: warm=$warmIters cold=$coldIters")

    // a store with no published ranks serves the empty frame, not an error
    val bare = SparkSpec.tempDir("norank").toString
    assert(Pipeline.hostRanksFor(spark, bare, Seq("x.com")).isEmpty)
    assert(Pipeline.hostRankOf(spark, bare, "x.com").isEmpty)
  }
}
