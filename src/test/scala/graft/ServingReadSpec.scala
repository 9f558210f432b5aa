package graft

import graft.api.{LinkDbRequest, PageDbRequest}
import graft.sinks.{LinkStore, PageStore, StoreGen}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}

/** The serving reads — `LinkStore.readDomain`, `PageStore.readDomain`
  * and `Pipeline.hostRanksFor` — list only the requested bucket
  * directories of the live generation and read its schema from the
  * footer of a listed file. Pinned here: what they cost in Spark
  * jobs, that they return exactly the rows of the whole-store reads,
  * and that a vanished generation fails as a stale store instead of
  * answering empty.
  */
class ServingReadSpec extends SparkSpec {

  private def foldedStore(prefix: String): (String, java.nio.file.Path) =
    ServingReadSpec.foldedStore(spark, prefix)

  private def store: String = ServingReadSpec.store

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

  test("a serving bind and lookup of a bound generation run no Spark job") {
    val domain = "ext2.co.uk"
    val host = "www.sitea.com"
    // the first bind of a freshly folded generation reads its schemas
    // from file footers: no inference job
    val (fresh, _) = foldedStore("servingfirstbind")
    val (_, firstBinds) = jobsDuring(Seq(
      Pipeline.linkDb(spark, fresh, domain),
      Pipeline.pageDb(spark, fresh, host),
      Pipeline.hostRanksFor(spark, fresh, Seq(host))))
    assert(firstBinds == 0, "first bind of a generation")
    // a plain root served as written by importSegments, on every bind
    val plain = SparkSpec.tempDir("servingplainbind").toString
    Pipeline.importSegments(spark, Seq(new WatSourceSpec {}.fixturePath), plain)
    for (_ <- 1 to 2) {
      val (_, plainBinds) = jobsDuring(Seq(
        Pipeline.linkDb(spark, plain, domain), Pipeline.pageDb(spark, plain, host)))
      assert(plainBinds == 0, "bind of a plain root")
    }

    val rankHost = strings(Pipeline.hostRanks(spark, store).get, "host").min
    val (links, linksBind) = jobsDuring(Pipeline.linkDb(spark, store, domain))
    val (pages, pagesBind) = jobsDuring(Pipeline.pageDb(spark, store, host))
    val (_, ranksBind) = jobsDuring(Pipeline.hostRanksFor(spark, store, Seq(rankHost)))
    assert((linksBind, pagesBind, ranksBind) == ((0, 0, 0)))

    val (linkRows, linksQuery) = jobsDuring(links.query(LinkDbRequest(domain)))
    val (pageRows, pagesQuery) = jobsDuring(pages.query(PageDbRequest(host)))
    val (rank, ranksQuery) = jobsDuring(Pipeline.hostRankOf(spark, store, rankHost))
    assert((linksQuery, pagesQuery, ranksQuery) == ((0, 0, 0)))
    assert(linkRows.nonEmpty && pageRows.nonEmpty && rank.nonEmpty)
  }

  /** The keys of every serving route over the shared store, absent
    * ones included, and one lookup per key as a request runs it: bind
    * and query.
    */
  private def lookups(): Seq[(String, () => Any)] = {
    val links = strings(LinkStore.read(spark, s"$store/links"), "link_domain").sorted ++ absent
    val pages = strings(PageStore.read(spark, s"$store/pages"), "page_host").sorted ++ absent
    val ranks = strings(Pipeline.hostRanks(spark, store).get, "host").sorted ++ absent
    links.map(d => s"links $d" -> (() => Pipeline.linkDb(spark, store, d).query(LinkDbRequest(d)))) ++
      pages.map(h => s"pages $h" -> (() => Pipeline.pageDb(spark, store, h).query(PageDbRequest(h)))) ++
      ranks.map(h => s"ranks $h" -> (() => Pipeline.hostRankOf(spark, store, h)))
  }

  test("a hundred serving lookups broadcast nothing") {
    val all = lookups()
    val sc = spark.sparkContext
    // broadcast ids are handed out in order: the id after the lookups
    // is the one after the id before them only if none was created
    def nextId(): Long = { val b = sc.broadcast(0); try b.id finally b.destroy() }
    val before = nextId()
    val answers = (0 until 100).map(i => all(i % all.size)._2())
    assert(nextId() == before + 1, "broadcasts created by 100 lookups")
    assert(answers.count {
      case xs: Seq[_] => xs.nonEmpty
      case o: Option[_] => o.nonEmpty
    } > 20)
  }

  test("concurrent serving lookups answer as a single thread does") {
    val all = lookups()
    assert(all.size >= 8)
    val expected = all.map { case (what, run) => what -> run() }.toMap
    // as LinkApiServer serves: 8 threads, each on its own keys
    val threads = 8
    val perThread = 60
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val work = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = {
            start.await()
            (0 until perThread).flatMap { i =>
              val (what, run) = all((t + i * threads) % all.size)
              val got = run()
              if (got == expected(what)) None else Some(s"$what: $got")
            }
          }
        })
      }
      start.countDown()
      val wrong = work.flatMap(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      assert(wrong.isEmpty, wrong.take(5))
    } finally pool.shutdownNow()
  }

  test("after a fold publishes, the next bind serves the new generation") {
    val (out, manifest) = foldedStore("servingrefold")
    val domain = "ext2.co.uk"
    val before = Pipeline.linkDb(spark, out, domain).query(LinkDbRequest(domain))
    assert(before.map(_.qty) == Seq(1L))
    assert(jobsDuring(Pipeline.linkDb(spark, out, domain))._2 == 0)
    // a second segment holding the same links doubles every qty
    val seg2 = SparkSpec.tempDir("servingrefold2").resolve("part.wat.gz")
    Files.copy(Paths.get(Files.readString(manifest).trim), seg2)
    Files.writeString(manifest, Files.readString(manifest) + seg2 + "\n")
    Pipeline.importManifest(spark, manifest.toString, out)
    assert(Pipeline.foldSegments(spark, out, maintainRanks = true).foldedLinks.nonEmpty)
    // the bind lists the new generation and reads its schema from a
    // footer, with no job, and it answers with the new rows
    val (db, rebind) = jobsDuring(Pipeline.linkDb(spark, out, domain))
    assert(rebind == 0, "bind after a publish runs no job")
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
    val root = SparkSpec.tempDir("servinglegacy").toString + "/links"
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
    // bind once first: a read that worked must not turn a vanished
    // generation into empty frames
    allReads(out).foreach(_._2())
    Seq("links", "pages").foreach { s =>
      val gen = StoreGen.resolve(spark, s"$out/$s")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(gen))
    }
    for ((what, read) <- allReads(out)) assertStale(what)(read())
  }

  /** The serving lookups themselves — bind and query, as a request
    * runs them — over each window in which the store moved.
    */
  private def assertLookupsStale(out: String): Unit = {
    assertStale("links lookup")(
      Pipeline.linkDb(spark, out, "ext2.co.uk").query(LinkDbRequest("ext2.co.uk")))
    assertStale("pages lookup")(
      Pipeline.pageDb(spark, out, "www.sitea.com").query(PageDbRequest("www.sitea.com")))
    assertStale("ranks lookup")(Pipeline.hostRankOf(spark, out, "www.sitea.com"))
  }

  test("serving lookups fail as stale, never empty, in the swap, checksum and pruned windows") {
    val (out, _) = foldedStore("servinglookups")
    val f = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptrs = Seq("links", "pages").map(s => Paths.get(out, s, "_CURRENT"))
    val names = ptrs.map(Files.readString(_))
    // bind once while the store is whole
    assert(Pipeline.linkDb(spark, out, "ext2.co.uk").query(LinkDbRequest("ext2.co.uk")).nonEmpty)
    assert(Pipeline.hostRankOf(spark, out, "www.sitea.com").nonEmpty)

    // the swap window: the pointer deleted, its successor not yet there
    ptrs.foreach(p => assert(f.delete(new org.apache.hadoop.fs.Path(p.toString), false)))
    assertLookupsStale(out)
    ptrs.zip(names).foreach { case (p, n) =>
      val o = f.create(new org.apache.hadoop.fs.Path(p.toString), true)
      try o.write(n.getBytes("UTF-8")) finally o.close()
    }
    assert(Pipeline.hostRankOf(spark, out, "www.sitea.com").nonEmpty)

    // the checksum window: new pointer bytes under the old sidecar
    ptrs.zip(names).foreach { case (p, n) =>
      Files.writeString(p, n.map(c => if (c.isDigit) ('0' + (c - '0' + 1) % 10).toChar else c))
    }
    assertLookupsStale(out)
    ptrs.zip(names).foreach { case (p, n) => Files.writeString(p, n) }
    assert(Pipeline.hostRankOf(spark, out, "www.sitea.com").nonEmpty)

    // a pruned generation, bound before it went and after
    val bound = Pipeline.linkDb(spark, out, "ext2.co.uk")
    Seq("links", "pages").foreach { s =>
      SealedDir.deleteRecursively(Paths.get(StoreGen.resolve(spark, s"$out/$s")))
    }
    assertStale("links query of an earlier bind")(bound.query(LinkDbRequest("ext2.co.uk")))
    assertLookupsStale(out)
  }
}


object ServingReadSpec {

  /** One folded store per test JVM for the specs that only read it. */
  lazy val store: String = foldedStore(SparkSpec.session, "servingread")._1

  /** links + pages + `_RANKS`: the WAT fixture imported and folded
    * with rank maintenance, as the server sees a production store.
    * Returns the store and its manifest.
    */
  def foldedStore(spark: org.apache.spark.sql.SparkSession,
      prefix: String): (String, java.nio.file.Path) = {
    val fixture = new WatSourceSpec {}.fixturePath
    val out = SparkSpec.tempDir(prefix).toString
    val manifest = SparkSpec.tempFile(prefix, ".paths")
    Files.writeString(manifest, fixture + "\n")
    Pipeline.importManifest(spark, manifest.toString, out)
    Pipeline.foldSegments(spark, out, maintainRanks = true, rankTol = 1e-9)
    (out, manifest)
  }
}
