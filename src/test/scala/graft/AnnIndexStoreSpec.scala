package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

/** Fit-once / load-many for the `_ANN_INDEX` artifact: the first
  * session over a fine-engaged corpus fits and PUBLISHES; a fresh
  * session (simulated by dropping every dir-keyed fit memo) must LOAD
  * the identical index — bit-for-bit centroids, calibrated probe
  * fraction, fit-pressure gauge — without re-running the O(corpus)
  * fit.
  */
class AnnIndexStoreSpec extends SparkSpec {

  private def writeClusteredCorpus(dir: String, n: Long): Unit = {
    val dim = Tables.EmbeddingDim
    spark.range(n).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), j -> cast(" +
          "sin((id % 3000 * 131 + j * 17) * 12.9898d) * 43758.5453d % 1.0d" +
          " + 0.05d * (sin((id * 7919 + j) * 78.233d) * 12543.21d % 1.0d)" +
          " as float))").as("embedding"),
        concat(lit("c"), (col("id") % 3000).cast("string")).as("label"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete(): Unit
  }

  test("ANN index artifact: fit publishes once, a fresh session loads the identical index") {
    val dir = SparkSpec.tempDir("graft_annstore").toString
    try {
      val n = 300000L
      writeClusteredCorpus(dir, n)
      assert(SimilarityOps.fineEngagedFor(n), "test premise: fine regime engages")

      // session 1: fit + publish
      val fitted = SimilarityOps.probeIvfFit(spark, dir)
      assert(fitted.fine.isDefined)
      val parent = new java.io.File(
        s"${BucketedTables.Root}/${BucketedTables.dirKey(dir)}")
      val sealedDirs = Option(parent.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("annindex-") &&
          new java.io.File(f, "_GRAFT_DONE").isFile)
      assert(sealedDirs.length == 1, s"expected one sealed artifact, got ${sealedDirs.toSeq}")

      // "session 2": all JVM memos dropped — the store is the only
      // non-refit path back to a fine index
      SimilarityOps.dropFitMemosForTest(dir)
      val t0 = System.nanoTime()
      val loaded = SimilarityOps.probeIvfFit(spark, dir)
      val loadSecs = (System.nanoTime() - t0) / 1e9

      // identical index, field by field
      assert(loaded.cents == fitted.cents, "coarse centroids differ")
      assert(loaded.cnorms == fitted.cnorms, "coarse norms differ")
      val (lf, ff) = (loaded.fine.get, fitted.fine.get)
      assert(lf.probeDen == ff.probeDen, "calibrated probeDen differs")
      assert(lf.offsets.toSeq == ff.offsets.toSeq, "fine offsets differ")
      assert(lf.fitPress == ff.fitPress, "fit pressure differs")
      (0 until loaded.n).foreach { c =>
        assert(lf.cents(c).toSeq == ff.cents(c).toSeq, s"fine cents differ at cell $c")
        assert(lf.norms(c).toSeq == ff.norms(c).toSeq, s"fine norms differ at cell $c")
      }
      // the load must be store-speed, not fit-speed (the 300k fit+
      // calibration runs ~20s+ here; a parquet read of ~600 cells is
      // sub-second — 5s leaves slack for a loaded CI box)
      assert(loadSecs < 5.0, f"load took $loadSecs%.1fs — did it re-fit?")

      // and the assignment the loaded index produces is byte-identical
      val e = Tables.embeddings(spark, dir).limit(2000)
      val a1 = fitted.assignCell(e).select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      val a2 = loaded.assignCell(e).select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(a1 == a2, "loaded index assigns differently")
    } finally {
      SimilarityOps.dropFitMemosForTest(dir)
      rmrf(new java.io.File(
        s"${BucketedTables.Root}/${BucketedTables.dirKey(dir)}"))
      rmrf(new java.io.File(dir))
    }
  }

  test("delta ingest: a spread +5% batch assigns with no refit; a concentrated one trips the gauge") {
    val dir = SparkSpec.tempDir("graft_annstore_delta").toString
    try {
      val n = 300000L
      writeClusteredCorpus(dir, n)
      val e = Tables.embeddings(spark, dir)
      // segment-import simulation: ~95% of the corpus is the fitted
      // base, every 21st vector arrives later as the delta batch
      val base = e.filter(col("vec_id") % 21 =!= 0)
      val delta = e.filter(col("vec_id") % 21 === 0)
      val nBase = base.count()
      assert(SimilarityOps.fineEngagedFor(nBase))
      val coarse = SimilarityOps.fitIvfK(
        SimilarityOps.embSample(base), SimilarityOps.ivfCellsFor(nBase))
      val fine = SimilarityOps.fitFineLevelFrame(spark, base, coarse)
      val den = SimilarityOps.probeCalibrate(spark, base, coarse.copy(fine = Some(fine)))
      val idx = coarse.copy(fine = Some(fine.copy(probeDen = den)))

      // the production delta path: assign + gauge, NO refit
      val row = SimilarityOps.deltaDriftGauge(spark, idx, base, delta).collect().head
      assert(row.getAs[Long]("refit_due") == 0L,
        s"spread delta must not demand a refit: $row")
      assert(row.getAs[Long]("holdout_recall_pct") >= 90L, s"recall gate: $row")
      assert(row.getAs[Long]("max_cell_shift_ppm") <= row.getAs[Long]("shift_cap_ppm"),
        s"spread delta moved a cell share past the cap: $row")
      assert(row.getAs[Long]("delta_rows") > 0L)

      // adversarial delta: the same row count, all in ONE tight cluster
      // the fit never saw — the share gauge must trip BEFORE anyone
      // serves long candidate lists out of the swollen cell
      val dim = Tables.EmbeddingDim
      val hot = spark.range(n / 21).select(
        (col("id") + 1000000000L).as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), j -> cast(" +
          "sin(j * 3.77d) + 0.001d * (sin((id * 7919 + j) * 78.233d) * 12543.21d % 1.0d)" +
          " as float))").as("embedding"),
        lit("hot").as("label"))
      val row2 = SimilarityOps.deltaDriftGauge(spark, idx, base, hot).collect().head
      assert(row2.getAs[Long]("refit_due") == 1L,
        s"concentrated delta must trip the gauge: $row2")
      assert(row2.getAs[Long]("max_cell_shift_ppm") > row2.getAs[Long]("shift_cap_ppm"))
    } finally {
      SimilarityOps.dropFitMemosForTest(dir)
      rmrf(new java.io.File(
        s"${BucketedTables.Root}/${BucketedTables.dirKey(dir)}"))
      rmrf(new java.io.File(dir))
    }
  }
}
