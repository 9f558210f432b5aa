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
  * SparkContext at a time), so a divergence fails loudly. Build the
  * classes, then run:
  *
  * {{{
  *   sbt compile
  *   tools/run_main.sh graft.ClusterRehearsal
  * }}}
  *
  * (run_main.sh puts the absolute class directory on the classpath,
  * which executors inherit via extraClassPath, hands them the same
  * add-opens list, and exports SPARK_SCALA_VERSION: the worker's
  * executor launcher probes SPARK_HOME's build layout without it and
  * dies with "Cannot find any build directories".)
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

  private def runAll(master: String): (Map[String, Long], StoreAnswers) = {
    val spark = session(master)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val counts = queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val n = fn(spark, Sf).count()
        println(f"[cluster-rehearsal] $master%-24s $name%-22s ${(System.nanoTime() - t0) / 1e9}%6.1fs rows=$n")
        name -> n
      }.toMap
      (counts ++ annRehearsal(spark, master), storeRehearsal(spark, master))
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

  /** What one master's published store answers: a sorted links window
    * for one domain and one host's rank.
    */
  private final case class StoreAnswers(links: Seq[api.LinkOut], rank: Option[Double])

  private val LinksReq = api.LinkDbRequest("d3.com", sort = Some("linkUrl"), limit = 5)
  private val RankHost = "h3.example.org"

  /** Store leg: [[Pipeline.publishRankedStore]] compacts the links,
    * writes the store and runs PageRank on THIS master's executors,
    * then the serving reads ([[Pipeline.linkDb]], [[Pipeline.hostRankOf]])
    * answer from the published generation. `rankTol = 0.0` never
    * converges early, so both masters run EXACTLY 8 rank iterations
    * and rank parity is a pure float-tolerance comparison.
    */
  private def storeRehearsal(spark: SparkSession, master: String): StoreAnswers = {
    val out = java.nio.file.Files.createTempDirectory("graft-store-rehearsal")
    try {
      val t0 = System.nanoTime()
      Pipeline.publishRankedStore(spark, Tables.links(spark, Sf), out.toString,
        rankTol = 0.0, rankMaxIters = 8)
      val answers = StoreAnswers(
        Pipeline.linkDb(spark, out.toString, LinksReq.domain).query(LinksReq),
        Pipeline.hostRankOf(spark, out.toString, RankHost))
      require(answers.links.nonEmpty && answers.rank.isDefined,
        s"store rehearsal premise: ${LinksReq.domain} has links and $RankHost a rank, got $answers")
      println(f"[cluster-rehearsal] $master%-24s store (publish+links+rank) " +
        f"${(System.nanoTime() - t0) / 1e9}%6.1fs links=${answers.links.size} " +
        s"rank($RankHost)=${answers.rank.get}")
      answers
    } finally SealedDir.deleteRecursively(out)
  }

  /** The links window must match row for row. The rank is float
    * arithmetic whose summation order follows the executor count:
    * equal within 1e-9, not bit-equal.
    */
  private def storeParity(a: StoreAnswers, b: StoreAnswers): Seq[String] =
    (if (a.links == b.links) Nil
     else Seq(s"store links: local=${a.links} cluster=${b.links}")) ++
      ((a.rank, b.rank) match {
        case (Some(x), Some(y)) if math.abs(x - y) < 1e-9 => Nil
        case (x, y) => Seq(s"store rank: local=$x cluster=$y")
      })

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
    val outDir = java.nio.file.Files.createTempDirectory("graft-ingest-cluster")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ingest-ckpt")
    val batchDir = java.nio.file.Files.createTempDirectory("graft-ingest-batch")
    val (out, ckpt, batchOut) = (outDir.toString, ckptDir.toString, batchDir.toString)
    try {
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
    } finally Seq(watch, outDir, ckptDir, batchDir).foreach(SealedDir.deleteRecursively)
  }

  def main(args: Array[String]): Unit = {
    val (local, localStore) = runAll("local[8]")
    val (cluster, clusterStore) = runAll("local-cluster[2,4,2048]")
    locally {
      val s = session("local-cluster[2,4,2048]")
      s.sparkContext.setLogLevel("ERROR")
      try ingestRehearsal(s, "local-cluster[2,4,2048]") finally s.stop()
    }
    val diverged = (queries.map(_._1) ++ AnnStatKeys)
      .filter(n => local(n) != cluster(n))
      .map(n => s"$n: local=${local(n)} cluster=${cluster(n)}") ++
      storeParity(localStore, clusterStore)
    if (diverged.nonEmpty) {
      diverged.foreach(n => System.err.println(
        s"[cluster-rehearsal] DIVERGED $n"))
      sys.exit(1)
    }
    println(s"[cluster-rehearsal] OK: ${queries.size} queries + ANN index + published store " +
      "(links window, host rank) identical across local[8] and local-cluster[2,4,2048]; " +
      "ingest exactly-once on local-cluster[2,4,2048]")
  }
}
