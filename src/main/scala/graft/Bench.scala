package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to the actual machine, not a fixed small number: an
    // unset env var must not quietly bench a 32-core box at local[4]
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    // under spark-submit the submitter owns the master (and may point
    // at a real cluster); standalone runs build their own local one
    val spark = (if (sys.props.contains("spark.master")) GraftConf.submitted(cpus)
                 else GraftConf.local(cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // _ANN_INDEX provenance (r20, VERDICT item 7): whether a sealed
    // cross-session ANN index artifact pre-existed at RUN START, so a
    // fit-included draw and a load-path draw are distinguishable from
    // the artifact alone (the fit leaves the timed ANN rows after first
    // touch at SFs where the fine level engages). Recorded before any
    // query runs — this run's own publish must not count.
    val annIndexPreexisting = AnnIndexStore.published(sfDir)
    // one trivial action first so JVM/codegen warm-up isn't billed to
    // whichever query happens to run first
    spark.range(1000).selectExpr("sum(id)").collect()
    // two timed runs per query, best-of: first execution pays JIT +
    // codegen compilation that a long-lived cluster amortizes away
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    def once(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // INTERLEAVED passes: the full suite runs twice end-to-end, so the
    // two samples of any one query are minutes apart — a contended
    // stretch of the sweep (r5 recorded q41 at 3.8x steady-state from
    // two back-to-back reps inside one noisy window) can no longer
    // sign BOTH samples of the same query. Per-query minima across
    // passes; a transient failure in one pass must not mark a query
    // failed if the other pass succeeded.
    val pass1 = named.map { case (n, fn) => n -> once(fn) }.toMap
    val pass2 = named.map { case (n, fn) => n -> once(fn) }.toMap
    val results = named.map { case (name, fn) =>
      val (a, r) = (pass1(name), pass2(name))
      val b =
        if (a < 0 || r < 0) math.max(a, r) // at most one good run
        else if (math.min(a, r) > 0.5 && math.abs(a - r) > math.min(a, r)) {
          // residual cross-pass disagreement on a non-trivial query:
          // spend ONE tie-break rep — but a failed rep returns the -1
          // sentinel, which must not demote two good samples to "failed"
          val c = once(fn)
          if (c < 0) math.min(a, r) else math.min(math.min(a, r), c)
        } else math.min(a, r)
      name -> b
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // -1 sentinels mark failures; keep them visible per-query but never
    // inside the timing total
    val total = results.map(_._2).filter(_ >= 0).sum
    // env facts ride along so a degraded run (contended driver box,
    // unset cpu env) is attributable from the artifact alone
    // ANN quality rides with the timing artifact: a regression in the
    // LSH banding / IVF centroid constants must be visible across
    // rounds as a recorded number, not only as a ScalaTest threshold.
    // q40 is graded recall@10 against q32's exact top-k; q34 by its
    // planted near-identical pairs (the embWithNearDups fixture).
    val recallJson = (try {
      def idPairs(name: String, a: String, b: String) =
        SparkEntry.queries(name)(spark, sfDir).collect()
          .map(r => (r.getAs[Long](a), r.getAs[Long](b))).toSet
      // planted-pair convention comes from the fixture's own constants
      // (Tables.embWithNearDups) — not a hand-copied modulus/offset
      val exact = idPairs("q32_cosine_topk", "q_id", "n_id")
      val ivf = idPairs("q40_ivf_cosine", "q_id", "n_id")
      val pq = idPairs("q73_pq_ann", "q_id", "n_id")
      val planted = Tables.table(spark, sfDir, "embeddings")
        .filter(org.apache.spark.sql.functions.col("vec_id") % Tables.DupEvery === 0)
        .select("vec_id").collect().map(_.getLong(0))
        .map(v => (v, v + Tables.EmbDupOffset)).toSet
      val lsh = idPairs("q34_lsh_cosine", "a_id", "b_id")
      if (exact.isEmpty || planted.isEmpty) None
      else Some(
        s""""q40_ivf_recall_at10":${ivf.intersect(exact).size.toDouble / exact.size},""" +
          s""""q73_pq_recall_at10":${pq.intersect(exact).size.toDouble / exact.size},""" +
          s""""q34_lsh_planted_recall":${planted.intersect(lsh).size.toDouble / planted.size}""")
    } catch { // never fail the bench over the quality probe — but a broken
      // probe must be attributable from the run output, not silent
      case e: Throwable =>
        System.err.println(s"recall probe failed: $e")
        None
    })
      .map(r => s"{$r}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      recallJson.fold("")(r => s""""recall":$r,""") +
      s""""sf":"$sfDir","master":"${spark.sparkContext.master}",""" +
      s""""ann_index_preexisting":$annIndexPreexisting,""" +
      s""""parallelism":${spark.sparkContext.defaultParallelism}}"""
    recallJson.foreach(r => java.nio.file.Files.writeString(
      java.nio.file.Paths.get("RECALL.json"), r))
    println(line)
    // The driver's scrape keeps only the LAST ~2000 chars of stdout and
    // parses a JSON line out of that window (r8: the full line is ~2.3k
    // chars, so its head fell off the window and `parsed` came back
    // null). 89 full query names can never fit, so the FINAL stdout
    // line is a compact duplicate under the unique qNN/sNN prefixes
    // (~1.3k chars incl. the sbt [success] trailer) — same totals, same
    // values at ms precision; the full-name record stays in BENCH.json.
    // qNN/sNN prefixes are unique once _verify companions get a "v"
    // suffix (qNNv); any residual collision keeps its full name
    def shortKey(k: String): String =
      k.take(3) + (if (k.endsWith("_verify")) "v"
                   else if (k.endsWith("_scale")) "s" else "")
    val prefixCount = results.groupBy(r => shortKey(r._1)).map { case (p, g) => p -> g.size }
    val shortQs = results.map { case (k, v) =>
      val key = if (prefixCount(shortKey(k)) == 1) shortKey(k) else k
      "\"" + key + "\":" + (math.rint(v * 1000) / 1000) }
      .mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},"unit":"sec","queries":$shortQs,""" +
      recallJson.fold("")(r => s""""recall":$r,""") +
      s""""sf":"$sfDir","master":"${spark.sparkContext.master}",""" +
      s""""ann_index_preexisting":$annIndexPreexisting,""" +
      s""""parallelism":${spark.sparkContext.defaultParallelism},"full_names":"BENCH.json"}"""
    // belt-and-braces for the driver's stdout scrape (r1/r2 both lost the
    // line to sbt prefixing): the same JSON also lands in a file — and in
    // the round-numbered file directly when the round is known, so the
    // recorded numbers never depend on a scrape at all
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH.json"), line)
    // tolerate junk in the env var — a bad round label must not turn a
    // completed bench into a nonzero exit after the numbers are in
    sys.env.get("SPARK_GRAFT_ROUND")
      .flatMap(r => scala.util.Try(r.trim.stripPrefix("r").toInt).toOption)
      .foreach(n => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"BENCH_r$n%02d.json"), line))
    spark.stop()
    // the compact line is the LAST thing on stdout — nothing (not even
    // spark.stop's listener-bus chatter, which goes to stderr) after it
    println(compact)
  }
}
