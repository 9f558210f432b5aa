package graft

import org.apache.spark.sql.functions._

/** Bucketed-table co-location — the shuffle-free join path for the
  * store's recurring fact-fact joins (SURVEY §5).
  *
  * At 100 TB the link/page fact tables are joined on the same keys
  * every generation (host, orderkey-shaped ids). Writing both sides
  * `bucketBy(n, key)` makes every later join and aggregation on that
  * key SHUFFLE-FREE: Spark matches bucket files pairwise instead of
  * exchanging either side. This spec proves the claim on the executed
  * plan, not by assertion in prose: the same join that carries two
  * Exchanges unbucketed carries ZERO when both sides are bucketed.
  */
class BucketedJoinSpec extends SparkSpec {

  /** Shuffle-exchange count in the executed plan (broadcast exchanges
    * excluded — they move a dimension, not the fact stream).
    */
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))

  test("joins and aggregates on the bucket key run with zero shuffle exchanges") {
    val li = Tables.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    val ord = Tables.table(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val conf = spark.conf
    val prevThresh = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    try {
      // force the shuffle-join shape a fact-fact join has at scale
      // (broadcast/AQE would hide the exchanges this spec counts)
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")

      val plain = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_custkey")).agg(sum(col("l_quantity")).as("q"))
      assert(exchanges(plain) >= 2,
        "unbucketed fact-fact join should exchange both sides (spec premise)")

      spark.sql("DROP TABLE IF EXISTS bjs_lineitem")
      spark.sql("DROP TABLE IF EXISTS bjs_orders")
      li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("bjs_lineitem")
      ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("bjs_orders")
      val bli = spark.table("bjs_lineitem")
      val bord = spark.table("bjs_orders")

      val bucketed = bli.join(bord, bli("l_orderkey") === bord("o_orderkey"))
      assert(exchanges(bucketed) == 0,
        s"bucketed join must not shuffle:\n${bucketed.queryExecution.executedPlan}")
      // and the co-location survives a downstream aggregate on the key
      val agg = bli.groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
      assert(exchanges(agg) == 0,
        s"aggregate on the bucket key must not shuffle:\n${agg.queryExecution.executedPlan}")

      // identical results either way — co-location is a layout choice,
      // not a semantics change
      val a = plain.orderBy("o_custkey").collect().map(_.toString).toSeq
      val b = bucketed.groupBy(col("o_custkey")).agg(sum(col("l_quantity")).as("q"))
        .orderBy("o_custkey").collect().map(_.toString).toSeq
      assert(a == b)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS bjs_lineitem")
      spark.sql("DROP TABLE IF EXISTS bjs_orders")
    }
  }

  test("bucketed docs_nd layout: identical rows, text joins without a corpus exchange") {
    // row-set equality vs the derived frame (the layout is a
    // materialization, never a semantic change)
    val derived = Tables.docsWithNearDups(spark, sfDir, spread = false)
      .select(col("doc_id"), col("text"), col("n_chars"))
    val bucketed = BucketedTables.docsNearDups(spark, sfDir)
      .select(col("doc_id"), col("text"), col("n_chars"))
    assert(bucketed.count() == derived.count())
    assert(bucketed.exceptAll(derived).isEmpty && derived.exceptAll(bucketed).isEmpty)
    // the dedup verify shape: a doc_id-keyed join against a small pair
    // frame must not exchange the corpus side (only the pair side may
    // shuffle to the bucket partitioning)
    import spark.implicits._
    val pairs = Seq((0L, 25L), (50L, 75L)).toDF("a_id", "b_id")
    // GraftConf sessions set this globally; the shared test session is
    // minimal, so pin it here (and restore) — the assertion below is
    // the proof the conf actually removes the corpus-side Sort
    val conf = spark.conf
    val prevOrd = conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val joined = bucketed.select(col("doc_id").as("a_id"), col("text"))
      .join(pairs.hint("merge"), "a_id")
    try joined.collect()
    finally conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", prevOrd)
    // AQE plan strings print the Initial Plan too — grade the final one
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the corpus side must read its buckets directly, pre-sorted: no
    // shuffle exchange and no re-Sort on its subtree (the pair side's
    // one exchange + sort is fine). The scan's sortBy order is trusted
    // because every bucket is a single file (GraftConf enables the
    // sorted-bucket-scan conf; this assertion is its safety net).
    val exchangeCount = plan.linesIterator
      .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
    val sortCount = plan.linesIterator.count(_.trim.matches("[:+\\- *()0-9]*Sort \\[.*"))
    assert(exchangeCount <= 1, s"corpus side exchanged:\n$plan")
    assert(sortCount <= 1, s"corpus side re-sorted:\n$plan")
    assert(plan.contains("Bucketed: true"), s"bucket scan not used:\n$plan")
  }

  test("multi-pass layout ingest keeps single-file buckets and the exact row set") {
    // the r17 constrained-disk ingest: a tiny pass budget forces the
    // bucket-range pass split; the result must be indistinguishable
    // from a single-pass build — one file per bucket (the sorted-scan
    // trust), every row present exactly once, and per-file ordering
    // real
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
      f.delete(): Unit
    }
    val src = SparkSpec.tempDir("graft-mp-src").toFile
    val key = src.getAbsolutePath.replaceAll("/+$", "").replaceAll("[^A-Za-z0-9._-]", "_")
    val parent = new java.io.File("/tmp/graft_bucketed/v2/" + key)
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sfDir, "documents.parquet"),
        java.nio.file.Paths.get(src.getAbsolutePath, "documents.parquet"))
      sys.props("graft.layout.passBudgetBytes") = "8192" // ~8 passes at sf0.001
      val built =
        try BucketedTables.docsNearDups(spark, src.getAbsolutePath)
        finally sys.props.remove("graft.layout.passBudgetBytes")
      val layoutDir = Option(parent.listFiles()).getOrElse(Array.empty)
        .find(_.getName.startsWith("docs_nd")).get
      assert(new java.io.File(layoutDir, "_GRAFT_DONE").isFile)
      val bucketFiles = layoutDir.listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      // one file per NON-EMPTY bucket: multi-pass must never split a
      // bucket across files (bucket ids live in the file names)
      val byBucket = bucketFiles.groupBy(_.getName.split("_")(1).take(5))
      assert(byBucket.values.forall(_.length == 1),
        s"bucket written by more than one pass: ${bucketFiles.map(_.getName).toSeq}")
      // exact row set vs the derived frame
      val derived = Tables.docsWithNearDups(spark, src.getAbsolutePath, spread = false)
      assert(built.count() == derived.count())
      assert(built.exceptAll(derived).isEmpty && derived.exceptAll(built).isEmpty)
      // per-file ordering is real (the sorted-bucket-scan trust):
      // read each bucket file raw and check doc_id is non-decreasing
      import spark.implicits._
      bucketFiles.foreach { bf =>
        val ids = spark.read.parquet(bf.getAbsolutePath)
          .select("doc_id").collect().map(_.getLong(0))
        assert(ids.sameElements(ids.sorted), s"bucket file out of order: ${bf.getName}")
      }
      // the doc_id-keyed merge join must not re-sort or exchange the
      // corpus side — same assertion as the single-pass spec above
      val pairs = Seq((0L, 25L)).toDF("a_id", "b_id")
      val joined = built.select(col("doc_id").as("a_id"), col("text"))
        .join(pairs.hint("merge"), "a_id")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange")) <= 1, plan)
    } finally {
      rmrf(src); rmrf(parent)
      val tblKey = s"graft_b_docs_nd_$key".replaceAll("[^A-Za-z0-9_]", "_")
      spark.catalog.listTables().collect().filter(_.name.startsWith(tblKey))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    }
  }

  test("superseded layouts are garbage-collected when the source is rewritten") {
    // a source rewrite produces a new fingerprint → a new layout dir;
    // the old one is stale by construction (nothing can re-attach it)
    // and must NOT be orphaned — at sf100 a lineitem layout is ~15 GB
    // and this disk has hit ENOSPC twice
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
      f.delete(): Unit
    }
    val src = SparkSpec.tempDir("graft-gc-src").toFile
    val key = src.getAbsolutePath.replaceAll("/+$", "").replaceAll("[^A-Za-z0-9._-]", "_")
    val parent = new java.io.File("/tmp/graft_bucketed/v2/" + key)
    def layouts(): Seq[String] =
      Option(parent.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("docs_nd")).map(_.getName).toSeq.sorted
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(sfDir, "documents.parquet"),
        java.nio.file.Paths.get(src.getAbsolutePath, "documents.parquet"))
      assert(BucketedTables.docsNearDups(spark, src.getAbsolutePath).count() > 0)
      val before = layouts()
      assert(before.length == 1, s"expected one layout, got $before")
      // simulate the testdata regeneration: same bytes, new mtime
      val f = new java.io.File(src, "documents.parquet")
      assert(f.setLastModified(f.lastModified() + 60000))
      // under the default grace window the stale layout SURVIVES — it
      // was attached moments ago, and a concurrent session could still
      // be scanning it (the r17 ADVICE hazard: GC-at-attach deleting
      // parquet out from under an overlapping bench run)
      assert(BucketedTables.docsNearDups(spark, src.getAbsolutePath).count() > 0)
      val during = layouts()
      assert(during.length == 2,
        s"recently-attached stale layout must outlive the grace window: $during")
      assert(during.exists(!before.contains(_)), "rewrite must produce a new layout key")
      // once the window passes (grace → 1ms here), the next attach
      // sweeps it; drop the catalog entry so the attach path (where the
      // GC lives) re-runs instead of short-circuiting
      spark.catalog.listTables().collect()
        .filter(_.name.startsWith(s"graft_b_docs_nd_$key".replaceAll("[^A-Za-z0-9_]", "_")))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
      Thread.sleep(50)
      sys.props("graft.layout.gcGraceMs") = "1"
      val after =
        try { assert(BucketedTables.docsNearDups(spark, src.getAbsolutePath).count() > 0); layouts() }
        finally sys.props.remove("graft.layout.gcGraceMs")
      assert(after.length == 1, s"stale sibling layout not GC'd after the grace window: $after")
      assert(after != before, "rewrite must produce a new layout key")
    } finally {
      rmrf(src)
      rmrf(parent)
      val tblKey = s"graft_b_docs_nd_$key".replaceAll("[^A-Za-z0-9_]", "_")
      spark.catalog.listTables().collect()
        .filter(_.name.startsWith(tblKey))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    }
  }
}
