package graft

import org.apache.spark.sql.SparkSession

/** Multi-executor shakeout: the closest a sandbox gets to a real
  * cluster. `local-cluster[2,4,2048]` spawns TWO SEPARATE EXECUTOR
  * JVMs (not local-mode threads), so this run exercises what
  * `local[32]` structurally cannot:
  *
  *   - executor-side classloading of every custom Catalyst piece
  *     (expressions, `BoundedCollectSet`/`MinHashAgg` buffers,
  *     `TopKPerGroupExec`) in a JVM that never ran the driver;
  *   - real cross-JVM shuffle + partial-aggregate-buffer
  *     serialization (local mode short-circuits transport);
  *   - closure/literal shipping for the plan-embedded artifacts
  *     (q40's Lloyd centroid matrix, q34's hyperplanes, broadcast
  *     ignore lists).
  *
  * Counts are pinned against a plain local-mode run of the SAME
  * queries in the same process (sequential sessions — one
  * SparkContext at a time), so a divergence fails loudly. Run:
  *
  * {{{
  *   SPARK_SCALA_VERSION=2.13 sbt "runMain graft.ClusterRehearsal"
  * }}}
  *
  * (forked JVM carries the full classpath; executors inherit it via
  * extraClassPath. The env var is required: the worker's executor
  * launcher probes SPARK_HOME's build layout without it and dies
  * with "Cannot find any build directories".)
  */
object ClusterRehearsal {

  private val Sf = "/root/testdata/sf0.01"

  private def queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    Seq(
      "q31_simhash" -> SparkEntry.queries("q31_simhash"),
      "q30_minhash_lsh" -> SparkEntry.queries("q30_minhash_lsh"),
      "q40_ivf_cosine" -> SparkEntry.queries("q40_ivf_cosine"),
      "q66_substring_dup" -> SparkEntry.queries("q66_substring_dup"),
      "q67_substring_scrub" -> SparkEntry.queries("q67_substring_scrub"),
      "q68_cocitation" -> SparkEntry.queries("q68_cocitation"),
      "q39_topk_per_group" -> SparkEntry.queries("q39_topk_per_group"),
      "q17_compact_links" -> SparkEntry.queries("q17_compact_links"),
      // r8: the cluster-keyed dedup self-join and the iterative vocab
      // fit both ship driver-built state (centroid/merge literals,
      // checkpointed frames) to fresh executor JVMs
      "q70_semdedup" -> SparkEntry.queries("q70_semdedup"),
      "q71_bpe_train" -> SparkEntry.queries("q71_bpe_train"),
      // r8b: PqEncode/PqAdc reference objects (codebook arrays) must
      // deserialize in executor JVMs; q74's propagation loop ships
      // checkpointed label frames; q75's merge fold chains 30 lambda
      // expressions built from driver-side fit state
      "q73_pq_ann" -> SparkEntry.queries("q73_pq_ann"),
      "q74_dedup_keep" -> SparkEntry.queries("q74_dedup_keep"),
      "q75_bpe_encode" -> SparkEntry.queries("q75_bpe_encode"),
      // r8c: q76's broadcast weight table + decimal cnt·w scoring,
      // q77's packed-bigint-min winner aggregate and doc rebuild, q78's
      // deferred-norm score chain across 8 checkpointed rounds, s08's
      // sliding-window explode through TopKPerGroupExec — all in
      // executor JVMs that never ran the driver
      "q76_dsir" -> SparkEntry.queries("q76_dsir"),
      "q77_line_dedup" -> SparkEntry.queries("q77_line_dedup"),
      // r9: q80's per-(source,line) doc-frequency aggregate + the
      // un-hinted boilerplate join-back, cross-JVM; q81's broadcast
      // eval gram set + row-local distinct-gram arrays
      "q80_boilerplate" -> SparkEntry.queries("q80_boilerplate"),
      "q81_contamination_rate" -> SparkEntry.queries("q81_contamination_rate"),
      "q78_hits" -> SparkEntry.queries("q78_hits"),
      "s08_stream_trending" -> SparkEntry.queries("s08_stream_trending"))

  private def session(master: String): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(s"graft-cluster-rehearsal-$master")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosAsLong, "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    val withExec =
      if (master.startsWith("local-cluster")) b
        .config("spark.executor.memory", "2g")
        // executors are fresh JVMs spawned from SPARK_HOME — they need
        // the graft classes; the forked sbt JVM's classpath has them
        .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      else b
    withExec.getOrCreate()
  }

  final case class EndpointStats(n: Int, p50Ms: Double, p99Ms: Double)

  /** Nearest-rank percentile over millisecond latencies. */
  private def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) -1.0
    else sorted(math.max(0, math.min(sorted.size - 1, math.ceil(p * sorted.size).toInt - 1)))

  private def runAll(master: String)
      : (Map[String, Long], Map[String, String], Map[String, EndpointStats]) = {
    val spark = session(master)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val counts = queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val n = fn(spark, Sf).count()
        println(f"[cluster-rehearsal] $master%-24s $name%-22s ${(System.nanoTime() - t0) / 1e9}%6.1fs rows=$n")
        name -> n
      }.toMap
      val annStats = annRehearsal(spark, master)
      val (responses, latencies) = servingRehearsal(spark, master)
      (counts ++ annStats, responses, latencies)
    } finally spark.stop()
  }

  /** Stat keys the `_ANN_INDEX` rehearsal contributes to the parity
    * check (same deterministic corpus content ⇒ same fine cell count,
    * calibrated rung, and candidate rows on every master).
    */
  private val AnnStatKeys =
    Seq("ann_fine_total", "ann_probe_den", "ann_cand_rows")

  /** `_ANN_INDEX` fit-publish-load rehearsal (r19): builds a
    * fine-engaged clustered corpus, fits + PUBLISHES the artifact on
    * this master, drops every JVM fit memo (a fresh session), reloads
    * from the STORE, and runs a probed candidate count whose plan
    * ships the fine tables to the executor JVMs as Broadcasts (the
    * r19 transport — on local-cluster the executors genuinely fetch
    * the broadcast blocks; local mode short-circuits).
    */
  private def annRehearsal(spark: SparkSession, master: String): Map[String, Long] = {
    val sim = operators.SimilarityOps
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-rehearsal").toString
    try {
      val n = 300000L
      val dim = Tables.EmbeddingDim
      val t0 = System.nanoTime()
      spark.range(n).select(
          org.apache.spark.sql.functions.col("id").as("vec_id"),
          org.apache.spark.sql.functions.expr(
            s"transform(sequence(0, ${dim - 1}), j -> cast(" +
              "sin((id % 3000 * 131 + j * 17) * 12.9898d) * 43758.5453d % 1.0d" +
              " + 0.05d * (sin((id * 7919 + j) * 78.233d) * 12543.21d % 1.0d)" +
              " as float))").as("embedding"),
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("c"),
            (org.apache.spark.sql.functions.col("id") % 3000).cast("string"))
            .as("label"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val fitted = sim.probeIvfFit(spark, dir)
      require(fitted.fine.isDefined, "ann rehearsal premise: fine level engaged")
      sim.dropFitMemosForTest(dir)
      val loaded = sim.probeIvfFit(spark, dir)
      require(loaded.fine.get.probeDen == fitted.fine.get.probeDen &&
        loaded.fine.get.total == fitted.fine.get.total,
        "loaded _ANN_INDEX diverges from the fitted index")
      val cand = sim.probeIvfCandidates(spark, dir,
        math.max(1, loaded.fine.get.total / 16)).count()
      println(f"[cluster-rehearsal] $master%-24s ann_index (fit+publish+load+probe) " +
        f"${(System.nanoTime() - t0) / 1e9}%6.1fs fine=${loaded.fine.get.total} " +
        s"den=${loaded.fine.get.probeDen} cand=$cand")
      Map("ann_fine_total" -> loaded.fine.get.total.toLong,
        "ann_probe_den" -> loaded.fine.get.probeDen.toLong,
        "ann_cand_rows" -> cand)
    } finally {
      sim.dropFitMemosForTest(dir)
      SealedDir.deleteRecursively(java.nio.file.Paths.get(
        s"${BucketedTables.Root}/${BucketedTables.dirKey(dir)}"))
      SealedDir.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  // explicit timeouts: a request wedged in send() would otherwise keep
  // a non-daemon hammer thread alive past its join and hang the JVM
  // after main() returns
  private val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  private val ReqTimeout = java.time.Duration.ofSeconds(30)

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val resp = client.send(
      java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(ReqTimeout)
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def get(port: Int, path: String): (Int, String) = {
    val resp = client.send(
      java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(ReqTimeout).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private val LinksBody = """{"domain":"d3.com","limit":5,"sort":"linkUrl","order":"asc"}"""
  private val RanksBody = """{"host":"h3.example.org"}"""

  /** Serving-layer shakeout — the one surface the query sweep can't
    * reach: [[Pipeline.publishRankedStore]] builds a real ranked store
    * on THIS master's executors, [[Pipeline.serveLinkApi]] binds the
    * HTTP surface to partition-pruned per-request reads, and a second
    * publish swaps the live generation out from under 4 hammer threads
    * mid-request (the rebind-retry window LinkApiSpec pins in local
    * mode, here with the store read fanned across executor JVMs).
    * Returns the canonical responses so [[main]] can assert PARITY
    * across local[8] and local-cluster; the all-200 swap invariant is
    * asserted here, inside each master's run.
    */
  private def servingRehearsal(spark: SparkSession, master: String)
      : (Map[String, String], Map[String, EndpointStats]) = {
    val out = java.nio.file.Files.createTempDirectory("graft-serve-rehearsal").toString
    val links = Tables.links(spark, Sf)
    // tol=0 never converges early: both masters run EXACTLY 8 rank
    // iterations, so rank parity is a pure float-tolerance comparison
    Pipeline.publishRankedStore(spark, links, out, rankTol = 0.0, rankMaxIters = 8)
    // rate limit out of the way so every hammer request hits the store
    val srv = Pipeline.serveLinkApi(spark, out, port = 0, rateLimitMax = Int.MaxValue)
    try {
      val port = srv.boundPort
      val health = get(port, "/api/health")
      val linksResp = post(port, "/api/links", LinksBody)
      val ranksResp = post(port, "/api/ranks", RanksBody)
      require(health._1 == 200 && linksResp._1 == 200 && ranksResp._1 == 200,
        s"serving bind failed: health=$health links=$linksResp ranks=$ranksResp")
      // live-store-swap under load: two hammer threads per endpoint so
      // BOTH serving routes cross the swap window, with per-request
      // latency recorded — the p50/p99 evidence SERVING.json carries
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]()
      val dropped = new java.util.concurrent.atomic.AtomicInteger(0)
      val endpoints = Seq("/api/links" -> LinksBody, "/api/ranks" -> RanksBody)
      val hammers = (0 until 4).map { h =>
        val (path, body) = endpoints(h % endpoints.size)
        new Thread(() => {
          while (!stop.get()) {
            val t0 = System.nanoTime()
            // catch broadly so a throw can't silently kill the thread
            // and degrade the 4-thread hammer to fewer — but only the
            // SWAP failure mode (connection refused/reset = IOException)
            // records the -1 sentinel that fails the all-200 assertion.
            // A client-internal hiccup unrelated to the store swap is
            // COUNTED (asserted ~zero below — a persistent non-IO
            // failure must not become an invisible busy-loop
            // contributing no samples) and backed off briefly.
            try results.add((path, post(port, path, body)._1, System.nanoTime() - t0))
            catch {
              case _: InterruptedException => stop.set(true)
              case _: java.io.IOException =>
                results.add((path, -1, System.nanoTime() - t0))
              case e: Exception =>
                dropped.incrementAndGet()
                System.err.println(s"[cluster-rehearsal] hammer dropped: $e")
                Thread.sleep(100)
            }
          }
        })
      }
      hammers.foreach { t => t.setDaemon(true); t.start() }
      Pipeline.publishRankedStore(spark, links, out, rankTol = 0.0, rankMaxIters = 8)
      stop.set(true)
      hammers.foreach(_.join(60000))
      val seen = results.toArray(Array.empty[(String, Int, Long)]).toSeq
      val bad = seen.filterNot(_._2 == 200)
      require(seen.size >= 20, s"want >=20 in-flight requests across the swap, got ${seen.size}")
      require(bad.isEmpty, s"${bad.size} of ${seen.size} requests failed across the swap: ${bad.take(5)}")
      require(dropped.get() == 0, s"${dropped.get()} hammer requests dropped on non-IO exceptions")
      // the swapped-in generation was published from the same links
      // frame — the served window must come back identical
      val afterSwap = post(port, "/api/links", LinksBody)
      require(afterSwap == linksResp,
        s"post-swap response diverged: before=$linksResp after=$afterSwap")
      val stats = seen.groupBy(_._1).map { case (path, rows) =>
        val ms = rows.map(_._3 / 1e6).sorted.toIndexedSeq
        path.stripPrefix("/api/") -> EndpointStats(ms.size,
          math.rint(percentile(ms, 0.5) * 1000) / 1000,
          math.rint(percentile(ms, 0.99) * 1000) / 1000)
      }
      println(s"[cluster-rehearsal] $master serving: ${seen.size} requests across live swap, all 200 — " +
        stats.toSeq.sortBy(_._1).map { case (e, st) =>
          s"$e n=${st.n} p50=${st.p50Ms}ms p99=${st.p99Ms}ms"
        }.mkString("; "))
      (Map(
        "serve_health" -> s"${health._1}:${health._2}",
        "serve_links" -> s"${linksResp._1}:${linksResp._2}",
        "serve_ranks" -> s"${ranksResp._1}:${ranksResp._2}"), stats)
    } finally srv.stop()
  }

  /** serve_ranks carries a float rank: 8 fixed iterations are the same
    * arithmetic on both masters, but executor-count changes summation
    * order — equal within 1e-9, not bit-equal. Everything else must
    * match byte-for-byte.
    */
  private def servingParity(a: Map[String, String], b: Map[String, String]): Seq[String] = {
    val RankRe = """(\{"host":[^,]+,"rank":)(-?[\d.eE+-]+)(\})""".r
    a.keySet.union(b.keySet).toSeq.sorted.flatMap { k =>
      (a.get(k), b.get(k)) match {
        case (Some(x), Some(y)) if k == "serve_ranks" =>
          (RankRe.findFirstMatchIn(x), RankRe.findFirstMatchIn(y)) match {
            case (Some(mx), Some(my))
              if mx.group(1) == my.group(1) &&
                math.abs(mx.group(2).toDouble - my.group(2).toDouble) < 1e-9 => None
            case _ => Some(s"$k: local=$x cluster=$y")
          }
        case (Some(x), Some(y)) if x == y => None
        case (x, y) => Some(s"$k: local=$x cluster=$y")
      }
    }
  }

  /** Per-master, per-endpoint p50/p99 across the live-swap window —
    * the serving-latency evidence artifact (r10 verdict item 8).
    */
  private def writeServingJson(
      byMaster: Seq[(String, Map[String, EndpointStats])]): Unit = {
    val json = byMaster.map { case (master, stats) =>
      val eps = stats.toSeq.sortBy(_._1).map { case (e, st) =>
        s""""$e":{"n":${st.n},"p50_ms":${st.p50Ms},"p99_ms":${st.p99Ms}}"""
      }.mkString(",")
      s""""$master":{$eps}"""
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("SERVING.json"), json + "\n")
    println(s"[cluster-rehearsal] serving latencies -> SERVING.json: $json")
  }

  /** s09 at CLUSTER shape (r12 — the round-11 flagship's missing
    * evidence): the manifest-watching SegmentIngest stream driven on
    * multi-JVM executors against a scaled manifest (24 segments vs the
    * spec fixture's 3), with fragments landing progressively, a KILL
    * while imports are in flight, and a restart from the same
    * checkpoint. Asserts the two-layer exactly-once contract end to
    * end: file-source offsets + `_IMPORTED` markers compose so the
    * restarted stream completes every segment exactly once, the final
    * stores are row-identical to a batch `importManifest` of the same
    * manifest, and a caught-up replay rewrites no marker.
    */
  private def ingestRehearsal(spark: SparkSession, master: String): Unit = {
    val (seg, pages, links, frags) = (24, 60, 5, 6)
    val fixture = sources.ManifestFixture.scaledDir(seg, pages, links, frags)
    val watch = java.nio.file.Files.createTempDirectory("graft-ingest-watch")
    val out = java.nio.file.Files.createTempDirectory("graft-ingest-cluster").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ingest-ckpt").toString
    def landFragment(i: Int): Unit = {
      val name = f"frag$i%02d.paths"
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(fixture, "fragments", name), watch.resolve(name))
    }
    def completed: Seq[String] =
      sources.SegmentManifest.completedSegments(spark, out)
    def waitFor(cond: => Boolean, what: String, timeoutMs: Long = 300000): Unit = {
      val t0 = System.nanoTime()
      while (!cond) {
        require((System.nanoTime() - t0) / 1e6 < timeoutMs,
          s"ingest rehearsal timed out waiting for $what")
        Thread.sleep(250)
      }
    }
    // phase 1: half the fragments are already published when the
    // watcher starts (the importer-joins-a-running-crawl shape)
    (0 until frags / 2).foreach(landFragment)
    val q1 = graft.streaming.SegmentIngest.start(
      spark, watch.toString, out, ckpt, availableNow = false)
    try {
      waitFor(completed.size >= seg / 4, s"first ${seg / 4} segments")
      // phase 2: the remaining fragments land while imports run…
      (frags / 2 until frags).foreach(landFragment)
      // …and the stream is KILLED with imports in flight (stop() as
      // soon as the next marker appears — segments beyond it are
      // mid-batch or undelivered)
      waitFor(completed.size >= seg / 2, s"${seg / 2} segments before the kill")
    } finally q1.stop()
    q1.awaitTermination()
    val afterKill = completed.size
    println(s"[cluster-rehearsal] $master ingest: killed stream at " +
      s"$afterKill/$seg segments imported")
    // restart from the SAME checkpoint: offsets skip consumed
    // fragments, markers skip completed segments, the drain finishes
    // everything else exactly once
    graft.streaming.SegmentIngest.start(
      spark, watch.toString, out, ckpt, availableNow = true).awaitTermination()
    val ids = completed.sorted
    require(ids.size == seg,
      s"restarted drain left ${seg - ids.size} of $seg segments unimported")
    // parity: a fresh batch importManifest of the same manifest must
    // produce row-identical per-segment stores
    val batchOut = java.nio.file.Files.createTempDirectory("graft-ingest-batch").toString
    val stats = Pipeline.importManifest(spark, s"$fixture/manifest/wat.paths", batchOut)
    require(stats.imported.size == seg && stats.remaining.isEmpty,
      s"batch parity import incomplete: $stats")
    def segRows(store: String, id: String): Seq[String] =
      graft.sinks.LinkStore.read(spark,
          s"${sources.SegmentManifest.segmentDir(store, id)}/links")
        .drop("domain_bucket").collect().map(_.toString).sorted.toSeq
    ids.foreach { id =>
      require(segRows(out, id) == segRows(batchOut, id),
        s"segment $id: stream-ingested store diverged from batch import")
    }
    // idempotence: a caught-up replay must rewrite nothing
    def markerStamps: Map[String, Long] = ids.map { id =>
      id -> new java.io.File(sources.SegmentManifest.segmentDir(out, id),
        sources.SegmentManifest.Marker).lastModified()
    }.toMap
    val stamps = markerStamps
    graft.streaming.SegmentIngest.start(
      spark, watch.toString, out, ckpt, availableNow = true).awaitTermination()
    require(markerStamps == stamps, "caught-up replay rewrote a marker")
    println(s"[cluster-rehearsal] $master ingest: $seg segments (${pages}p×${links}l), " +
      s"kill at $afterKill + restart → exactly-once, batch parity, replay no-op")
  }

  /** Serving probe against a SCALE-FACTOR store (r12 — verdict item:
    * p50/p99 existed only at rehearsal scale): publish the ranked
    * store from the given corpus on the full box, then hammer both
    * endpoints steady-state (no swap — the swap contract is the
    * rehearsal's job) and MERGE the per-endpoint p50/p99 into
    * SERVING.json under a `<sfDir>:<master>` key. Run:
    * `sbt "runMain graft.ClusterRehearsal serve /tmp/graft_sf10"`.
    */
  private def scaleServe(sfDir: String): Unit = {
    val master = s"local[${Runtime.getRuntime.availableProcessors}]"
    val spark = session(master)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val out = java.nio.file.Files.createTempDirectory("graft-serve-scale").toString
      val t0 = System.nanoTime()
      val iters = Pipeline.publishRankedStore(spark, Tables.links(spark, sfDir), out)
      val publishS = math.rint((System.nanoTime() - t0) / 1e7) / 100
      val srv = Pipeline.serveLinkApi(spark, out, port = 0, rateLimitMax = Int.MaxValue)
      try {
        val port = srv.boundPort
        require(get(port, "/api/health")._1 == 200, "health failed")
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]()
        val dropped = new java.util.concurrent.atomic.AtomicInteger(0)
        val endpoints = Seq("/api/links" -> LinksBody, "/api/ranks" -> RanksBody)
        val hammers = (0 until 4).map { h =>
          val (path, body) = endpoints(h % endpoints.size)
          new Thread(() => {
            while (!stop.get()) {
              val t = System.nanoTime()
              try results.add((path, post(port, path, body)._1, System.nanoTime() - t))
              catch {
                case _: InterruptedException => stop.set(true)
                case _: java.io.IOException =>
                  results.add((path, -1, System.nanoTime() - t))
                case e: Exception =>
                  dropped.incrementAndGet()
                  System.err.println(s"[cluster-rehearsal] hammer dropped: $e")
                  Thread.sleep(100)
              }
            }
          })
        }
        hammers.foreach { t => t.setDaemon(true); t.start() }
        Thread.sleep(20000)
        stop.set(true)
        hammers.foreach(_.join(60000))
        val seen = results.toArray(Array.empty[(String, Int, Long)]).toSeq
        val bad = seen.filterNot(_._2 == 200)
        require(seen.size >= 40, s"want >=40 requests, got ${seen.size}")
        require(bad.isEmpty, s"${bad.size} of ${seen.size} failed: ${bad.take(5)}")
        require(dropped.get() == 0, s"${dropped.get()} hammer requests dropped on non-IO exceptions")
        val stats = seen.groupBy(_._1).map { case (path, rows) =>
          val ms = rows.map(_._3 / 1e6).sorted.toIndexedSeq
          path.stripPrefix("/api/") -> EndpointStats(ms.size,
            math.rint(percentile(ms, 0.5) * 1000) / 1000,
            math.rint(percentile(ms, 0.99) * 1000) / 1000)
        }
        val eps = stats.toSeq.sortBy(_._1).map { case (e, st) =>
          s""""$e":{"n":${st.n},"p50_ms":${st.p50Ms},"p99_ms":${st.p99Ms}}"""
        }.mkString(",")
        val entry = s""""$sfDir:$master":{$eps,"publish_s":$publishS,"rank_iters":$iters}"""
        // merge into SERVING.json via a real parse/re-serialize so a
        // re-run for the same <sfDir>:<master> REPLACES its stale
        // entry instead of appending a duplicate key (consumers keep
        // whichever duplicate their parser prefers; the file must not
        // accrete dead entries across runs)
        val p = java.nio.file.Paths.get("SERVING.json")
        val merged = {
          import org.json4s._
          import org.json4s.jackson.JsonMethods
          val cur: JObject =
            if (java.nio.file.Files.exists(p))
              JsonMethods.parse(java.nio.file.Files.readString(p)) match {
                case o: JObject => o
                case other => sys.error(s"unexpected SERVING.json shape: $other")
              }
            else JObject()
          val add = JsonMethods.parse("{" + entry + "}").asInstanceOf[JObject]
          val kept = cur.obj.filterNot { case (k, _) => k == s"$sfDir:$master" }
          JsonMethods.compact(JObject(kept ++ add.obj))
        }
        java.nio.file.Files.writeString(p, merged + "\n")
        println(s"[cluster-rehearsal] scale serve $sfDir on $master: ${seen.size} requests " +
          s"all 200 — " + stats.toSeq.sortBy(_._1).map { case (e, st) =>
            s"$e p50=${st.p50Ms}ms p99=${st.p99Ms}ms" }.mkString("; ") +
          s" (publish ${publishS}s, $iters rank iters)")
      } finally srv.stop()
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("serve")) {
      scaleServe(args.lift(1).getOrElse("/tmp/graft_sf10"))
      return
    }
    val (local, localServe, localLat) = runAll("local[8]")
    val (cluster, clusterServe, clusterLat) = runAll("local-cluster[2,4,2048]")
    locally {
      val s = session("local-cluster[2,4,2048]")
      s.sparkContext.setLogLevel("ERROR")
      try ingestRehearsal(s, "local-cluster[2,4,2048]") finally s.stop()
    }
    writeServingJson(Seq("local[8]" -> localLat, "local-cluster[2,4,2048]" -> clusterLat))
    val diverged = (queries.map(_._1) ++ AnnStatKeys)
      .filter(n => local(n) != cluster(n))
      .map(n => s"$n: local=${local(n)} cluster=${cluster(n)}") ++
      servingParity(localServe, clusterServe)
    if (diverged.nonEmpty) {
      diverged.foreach(n => System.err.println(
        s"[cluster-rehearsal] DIVERGED $n"))
      sys.exit(1)
    }
    println(s"[cluster-rehearsal] OK: ${queries.size} queries + serving surface " +
      "(health/links/ranks + live-swap) identical across local[8] and local-cluster[2,4,2048]")
  }
}
