package graft

import graft.api.{LinkDbRequest, PageDbRequest}
import graft.sinks.{LinkStore, PageStore, StoreGen}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}

/** The serving reads — `LinkStore.readDomain`, `PageStore.readDomain`
  * and `Pipeline.hostRanksFor` — list only the requested bucket
  * directories of the live generation and take its schema from
  * StoreGen's per-generation memo. Pinned here: what they cost in Spark
  * jobs, that they return exactly the rows of the whole-store reads,
  * and that a vanished generation fails as a stale store instead of
  * answering empty.
  */
class ServingReadSpec extends SparkSpec {

  /** links + pages + `_RANKS`: the WAT fixture imported and folded
    * with rank maintenance, as the server sees a production store.
    */
  private def foldedStore(prefix: String, segments: Int = 1): (String, java.nio.file.Path) = {
    val fixture = new WatSourceSpec {}.fixturePath
    val out = Files.createTempDirectory(prefix).toString
    val manifest = Files.createTempFile(prefix, ".paths")
    Files.writeString(manifest, fixture + "\n")
    Pipeline.importManifest(spark, manifest.toString, out)
    Pipeline.foldSegments(spark, out, maintainRanks = true, rankTol = 1e-9)
    (out, manifest)
  }

  private lazy val store: String = foldedStore("servingread")._1

  private val absent = Seq("absent-one.com", "absent-two.org", "absent-three.co.uk")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def strings(df: DataFrame, c: String): Seq[String] =
    df.select(c).distinct().collect().map(_.getString(0)).toSeq

  /** Spark jobs started by this thread while `f` runs. The listener bus
    * is asynchronous, so a tagged sentinel job is run afterwards and
    * awaited: its start event is delivered after every earlier one.
    */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-during-${java.util.UUID.randomUUID()}"
    val sentinel = s"$tag-sentinel"
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.CountDownLatch(1)
    def tags(e: SparkListenerJobStart): Set[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .fold(Set.empty[String])(_.split(",").toSet)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val t = tags(e)
        if (t.contains(sentinel)) done.countDown()
        else if (t.contains(tag)) counted.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val v = try f finally sc.removeJobTag(tag)
      sc.addJobTag(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(sentinel)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      (v, counted.get())
    } finally sc.removeSparkListener(listener)
  }

  test("a bind of an already-bound generation runs no Spark job; each lookup runs one") {
    val domain = "ext2.co.uk"
    val host = "www.sitea.com"
    val rankHost = strings(Pipeline.hostRanks(spark, store).get, "host").min
    // the first bind of a generation infers and memoizes its schemas
    Pipeline.linkDb(spark, store, domain)
    Pipeline.pageDb(spark, store, host)
    Pipeline.hostRanksFor(spark, store, Seq(rankHost))

    val (links, linksBind) = jobsDuring(Pipeline.linkDb(spark, store, domain))
    val (pages, pagesBind) = jobsDuring(Pipeline.pageDb(spark, store, host))
    val (_, ranksBind) = jobsDuring(Pipeline.hostRanksFor(spark, store, Seq(rankHost)))
    assert((linksBind, pagesBind, ranksBind) == ((0, 0, 0)))

    val (linkRows, linksQuery) = jobsDuring(links.query(LinkDbRequest(domain)))
    val (pageRows, pagesQuery) = jobsDuring(pages.query(PageDbRequest(host)))
    val (rank, ranksQuery) = jobsDuring(Pipeline.hostRankOf(spark, store, rankHost))
    assert((linksQuery, pagesQuery, ranksQuery) == ((1, 1, 1)))
    assert(linkRows.nonEmpty && pageRows.nonEmpty && rank.nonEmpty)
  }

  test("after a fold publishes, the next bind serves the new generation") {
    val (out, manifest) = foldedStore("servingrefold")
    val domain = "ext2.co.uk"
    val before = Pipeline.linkDb(spark, out, domain).query(LinkDbRequest(domain))
    assert(before.map(_.qty) == Seq(1L))
    assert(jobsDuring(Pipeline.linkDb(spark, out, domain))._2 == 0)
    // a second segment holding the same links doubles every qty
    val seg2 = Files.createTempDirectory("servingrefold2").resolve("part.wat.gz")
    Files.copy(Paths.get(Files.readString(manifest).trim), seg2)
    Files.writeString(manifest, Files.readString(manifest) + seg2 + "\n")
    Pipeline.importManifest(spark, manifest.toString, out)
    assert(Pipeline.foldSegments(spark, out, maintainRanks = true).foldedLinks.nonEmpty)
    // the memo entry of the old generation is replaced: this bind
    // infers the new schema, and it answers with the new rows
    val (db, rebind) = jobsDuring(Pipeline.linkDb(spark, out, domain))
    assert(rebind > 0, "bind after a publish must re-infer, not reuse the old entry")
    assert(db.query(LinkDbRequest(domain)).map(_.qty) == Seq(2L))
    assert(jobsDuring(Pipeline.linkDb(spark, out, domain))._2 == 0)
  }

  test("bucket-directory reads return exactly the whole-store rows of every key") {
    val links = LinkStore.read(spark, s"$store/links")
    for (d <- strings(links, "link_domain") ++ absent)
      assert(rows(LinkStore.readDomain(spark, s"$store/links", d)) ==
        rows(links.filter(col("link_domain") === d)), d)
    val pages = PageStore.read(spark, s"$store/pages")
    for (d <- strings(pages, "page_domain") ++ absent)
      assert(rows(PageStore.readDomain(spark, s"$store/pages", d)) ==
        rows(pages.filter(col("page_domain") === d)), d)
    val ranks = Pipeline.hostRanks(spark, store).get
    val hosts = strings(ranks, "host")
    assert(hosts.nonEmpty)
    for (h <- hosts ++ absent)
      assert(rows(Pipeline.hostRanksFor(spark, store, Seq(h))) ==
        rows(ranks.filter(col("host") === h)), h)
    assert(rows(Pipeline.hostRanksFor(spark, store, hosts ++ absent)) == rows(ranks))
    assert(absent.forall(h => Pipeline.hostRankOf(spark, store, h).isEmpty))
  }

  test("a legacy plain store (no _CURRENT) is still served") {
    val root = Files.createTempDirectory("servinglegacy").toString + "/links"
    val compacted = operators.LinkCompaction.compact(Tables.links(spark, sfDir))
    LinkStore.write(compacted, root)
    assert(StoreGen.resolve(spark, root) == root)
    val whole = LinkStore.read(spark, root)
    for (d <- strings(whole, "link_domain") ++ absent)
      assert(rows(LinkStore.readDomain(spark, root, d)) ==
        rows(whole.filter(col("link_domain") === d)), d)
  }

  /** The failure a serving bind must raise when its generation is gone:
    * a [[StoreGen.StaleGeneration]], the type the server's retry rebinds
    * on, never another error or an empty answer.
    */
  private def assertStale(what: String)(read: => Any): Unit = {
    val e = intercept[Exception](read)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[StoreGen.StaleGeneration]), s"$what: $e")
  }

  private def allReads(out: String): Seq[(String, () => Any)] = Seq(
    "links" -> (() => LinkStore.readDomain(spark, s"$out/links", "ext2.co.uk")),
    "links (absent bucket)" -> (() => LinkStore.readDomain(spark, s"$out/links", absent.head)),
    "pages" -> (() => PageStore.readDomain(spark, s"$out/pages", "sitea.com")),
    "ranks" -> (() => Pipeline.hostRanksFor(spark, out, Seq("www.sitea.com"))))

  test("inside the pointer-missing swap window every serving read fails as stale") {
    val (out, _) = foldedStore("servingwindow")
    val f = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val saved = Seq("links", "pages").map { s =>
      val ptr = new org.apache.hadoop.fs.Path(s"$out/$s/_CURRENT")
      val name = StoreGen.resolve(spark, s"$out/$s").split('/').last
      // the mid-swap instant of a copy+delete rename: the old pointer
      // object is gone, the new one not yet visible
      assert(f.delete(ptr, false))
      (ptr, name)
    }
    for ((what, read) <- allReads(out)) assertStale(what)(read())
    // the swap completes and the same reads heal
    saved.foreach { case (ptr, name) =>
      val o = f.create(ptr, true)
      try o.write(s"$name\n".getBytes("UTF-8")) finally o.close()
    }
    assert(LinkStore.readDomain(spark, s"$out/links", "ext2.co.uk").count() == 1)
    assert(Pipeline.hostRankOf(spark, out, "www.sitea.com").nonEmpty)
  }

  test("a pointer read between its rename and its checksum sidecar's fails as stale") {
    val (out, _) = foldedStore("servingcrc")
    val saved = Seq("links", "pages").map { s =>
      val ptr = Paths.get(out, s, "_CURRENT")
      val name = Files.readString(ptr)
      // the local-FS commit instant after the pointer's rename and
      // before its `.crc` sidecar's: new bytes under the old checksum
      Files.writeString(ptr,
        name.map(c => if (c.isDigit) ('0' + (c - '0' + 1) % 10).toChar else c))
      (ptr, name)
    }
    for ((what, read) <- allReads(out)) assertStale(what)(read())
    saved.foreach { case (ptr, name) => Files.writeString(ptr, name) }
    assert(LinkStore.readDomain(spark, s"$out/links", "ext2.co.uk").count() == 1)
  }

  test("a pruned generation fails as stale, never as an empty answer") {
    val (out, _) = foldedStore("servingpruned")
    // bind once so the generation's schemas are memoized: the memo
    // must not turn a vanished generation into empty frames
    allReads(out).foreach(_._2())
    Seq("links", "pages").foreach { s =>
      val gen = StoreGen.resolve(spark, s"$out/$s")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(gen))
    }
    for ((what, read) <- allReads(out)) assertStale(what)(read())
  }
}
