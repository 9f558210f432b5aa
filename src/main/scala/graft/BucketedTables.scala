package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Orderkey-bucketed layout for the two recurring fact tables — the
  * ingest-time decision that makes every later join and aggregation on
  * the order key SHUFFLE-FREE (the `BucketedJoinSpec` claim, landed as
  * a production path).
  *
  * At 100 TB the store's fact tables are joined and re-aggregated on
  * the same keys every generation; a warehouse that re-shuffles the
  * widest stream for each query is paying the layout cost per-query
  * that it could pay once at ingest. `lineitem`/`orders` bucketed by
  * orderkey into the same bucket count co-locate: `groupBy(l_orderkey)`
  * needs no exchange, and `perOrder ⋈ orders` matches bucket files
  * pairwise (q02's first two exchanges — the |lineitem|-wide ones —
  * disappear; q03's whole pre-top-k pipeline becomes exchange-free).
  *
  * Mechanics: bucketing in Spark lives in the catalog, not the parquet
  * footer, and the default session catalog is in-memory — so the files
  * are written ONCE and later sessions re-attach them with a
  * metadata-only `CREATE TABLE … CLUSTERED BY` over the existing files.
  * Each layout is a [[SealedDir]] under `Root/<dir key>`, keyed by
  * [[SealedDir.keyOf]] over its derivation frame and bucket parameters:
  * a regenerated source or an edited recipe keys a new layout, and the
  * build-once protocol (lock, private build, seal, rename) is
  * SealedDir's, so the catalog only ever names a sealed layout.
  *
  * Bucket count: fixed per LAYOUT, not per session (a bucketed table's
  * file count is part of its on-disk identity). 32 here sizes sf10's
  * 60M-row lineitem at ~2M rows/bucket; a cluster ingest picks
  * `size / 256 MB` at write time the same way `LinkStore` does.
  */
object BucketedTables {

  val Buckets = 32
  private[graft] val Root = "/tmp/graft_bucketed/v2"

  /** Bucketed lineitem plus `rev_part = cast(l_extendedprice *
    * (1 - l_discount) as decimal(18,10))` materialized at ingest:
    * Spark's double→decimal cast goes through `Double.toString` (a
    * string parse per row — ~1.2s over sf10's 60M rows), while parquet
    * DECIMAL(18,10) decodes straight to a compact long. Every revenue
    * aggregate sums the stored column instead of re-casting; the values
    * are bit-identical to the inline cast (same HALF_UP round to 10
    * fractional digits, and |rev| < 10^8 so precision 18 never
    * overflows).
    */
  def lineitem(spark: SparkSession, dir: String): DataFrame =
    derived(spark, dir, "lineitem", "l_orderkey",
      lineitemWithRevPart(spark, dir))

  private[graft] def lineitemWithRevPart(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "lineitem").withColumn("rev_part",
      org.apache.spark.sql.functions.expr(
        "cast(l_extendedprice * (1 - l_discount) as decimal(18,10))"))

  def orders(spark: SparkSession, dir: String): DataFrame =
    derived(spark, dir, "orders", "o_orderkey", Tables.table(spark, dir, "orders"))

  /** The fuzzy-dedup corpus ([[Tables.docsWithNearDups]], near-dup
    * variants included) bucketed AND sorted by doc_id — the r16 layout
    * for the recurring dedup runs: every family member's text-side
    * joins key on doc_id (the verify stage's participant semi-join and
    * both pair joins, q30's sketch-screen joins), so the corpus-wide
    * text exchange those paths re-paid per run disappears — only the
    * compact pair frames shuffle. The bucketed read also replaces the
    * round-robin `spread` exchange: 32 single-file buckets arrive as
    * 32 parallel splits. Row set is IDENTICAL to the derived frame
    * (the write materializes it once, dir-keyed and idempotent); at
    * crawl scale this is the ingest-time decision — near-dup variants
    * are just corpus rows there.
    */
  def docsNearDups(spark: SparkSession, dir: String): DataFrame =
    derived(spark, dir, "docs_nd", "doc_id",
      Tables.docsWithNearDups(spark, dir, spread = false))

  /** The host link-graph edge list ([[graft.operators.GraphOps.edgesOf]]
    * over the links derivation) bucketed AND sorted by `src` — plus its
    * dual bucketed by `dst` — the r20 ingest-time layout for the
    * iterative graph family (q51/q78/q79/q82/q52 and their verify
    * companions). Two r19 findings drive it (guide §2.4/§6):
    *   - a `localCheckpoint` edge pin reports UnknownPartitioning under
    *     AQE (OPTIMIZATION_r19.md, change 1), so at any scale where
    *     the edge side is not broadcast the per-iteration contribs join
    *     RE-SHUFFLES it — ×10 iterations for PageRank, ×8 for HITS.
    *     Bucketed by the join key, the edge side arrives exchange-free
    *     AND pre-sorted in every iteration.
    *   - the edge DERIVATION (orders ⨝ customer + distinct over the
    *     full fact stream) was re-paid per graph query per run, while
    *     the distinct edge set itself changes only with the source
    *     data — exactly the once-per-generation ingest decision the
    *     lineitem/orders/docs_nd layouts already encode. The dual
    *     layout serves the dst-keyed consumers (q78's hub step, q52's
    *     in-degree aggregate) the same way.
    * Row set is IDENTICAL to the derived frame. The layout key is the
    * `edgesOf(Tables.links(…))` plan plus the orders and customer files
    * it reads, so a regenerated testdata dir or an edit to the links or
    * edge recipe keys a new layout instead of re-attaching stale edges.
    */
  def hostEdgesBySrc(spark: SparkSession, dir: String): DataFrame =
    hostEdges(spark, dir, "src")

  def hostEdgesByDst(spark: SparkSession, dir: String): DataFrame =
    hostEdges(spark, dir, "dst")

  private def hostEdges(spark: SparkSession, dir: String, key: String): DataFrame =
    derived(spark, dir, s"host_edges_$key", key,
      graft.operators.GraphOps.edgesOf(Tables.links(spark, dir)))

  /** Transient-disk budget per ingest pass. The layout build's PEAK
    * footprint is not the output (≈ source size): the repartition
    * shuffle plus the per-task sortBy spill each hold a decoded copy
    * of the stream in flight — r17 measured the single-pass sf100
    * lineitem build (11 GB source) ENOSPC-ing a disk with ~55 GB
    * free. Splitting the build into bucket-RANGE passes bounds the
    * transient copy to ~budget bytes per pass while keeping the
    * single-file-per-bucket invariant (each bucket is written by
    * exactly one pass, and within a pass each task owns exactly one
    * bucket). The trade is P source scans; an ingest is once per
    * generation, and on a real cluster (distributed shuffle disk) the
    * budget is simply set high enough that P = 1.
    */
  private def passBudgetBytes: Long =
    sys.props.get("graft.layout.passBudgetBytes").map(_.toLong)
      .getOrElse(3L * 1024 * 1024 * 1024)

  /** The bucketed layout of `source` under `Root/<dir key>/<name>-<key>`:
    * built once through [[SealedDir.getOrBuild]] and attached to the
    * session catalog with a metadata-only `CREATE TABLE … LOCATION`.
    * Completion is SealedDir's seal, not Hadoop's `_SUCCESS`,
    * which a multi-pass build leaves after its FIRST pass.
    */
  private def derived(spark: SparkSession, dir: String, name: String,
      bucketKey: String, source: => DataFrame): DataFrame = {
    lazy val src = source
    val key = SealedDir.keyOf(dir, name, src, bucketKey, Buckets)
    // identifier charset is stricter than the PATH charset (dirKey
    // keeps '.'/'-' for readable layout dirs; unquoted SQL identifiers
    // allow neither)
    val tbl = s"graft_b_${name}_${dirKey(dir)}_$key".replaceAll("[^A-Za-z0-9_]", "_")
    var built = false
    val path = SealedDir.getOrBuild(s"$Root/${dirKey(dir)}", name, key) { tmpPath =>
      built = true
      write(spark, src, bucketKey, tmpPath, s"${tbl}_build")
    }
    // a rebuild at the same path must not be read through the
    // session's cached file listing of the old table
    if (built) spark.sql(s"DROP TABLE IF EXISTS $tbl")
    if (!spark.catalog.tableExists(tbl))
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $tbl (${src.schema.toDDL}) USING PARQUET
           |CLUSTERED BY ($bucketKey) SORTED BY ($bucketKey) INTO $Buckets BUCKETS
           |LOCATION '$path'""".stripMargin)
    spark.table(tbl)
  }

  /** Write `src` bucketed and sorted by `bucketKey` into `path`, in as
    * many bucket-range passes as [[passBudgetBytes]] needs for its
    * input size, under the throwaway catalog name `tmpTbl`.
    */
  private def write(spark: SparkSession, src: DataFrame, bucketKey: String,
      path: String, tmpTbl: String): Unit = {
    val srcBytes = src.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum
    val passes = math.min(Buckets,
      math.max(1, math.ceil(srcBytes.toDouble / passBudgetBytes).toInt))
    try {
      spark.sql(s"DROP TABLE IF EXISTS $tmpTbl")
      (0 until passes).foreach { p =>
        val lo = p * Buckets / passes
        val hi = (p + 1) * Buckets / passes - 1
        // the pass filter uses the exact bucket-id function
        // (pmod(murmur3, n) — the same mapping `repartition(n, col)`
        // and the bucketBy writer use), so each bucket's rows appear
        // in exactly one pass. Within the pass, repartition on the
        // bucket key makes each task own exactly one bucket and
        // write ONE file — the layout scans only trust `sortBy`
        // ordering for single-file buckets, and the in-order buckets
        // are what lets sort-merge joins on the key run with no Sort
        // at read time.
        val part = if (passes == 1) src
          else src.filter(org.apache.spark.sql.functions
            .expr(s"pmod(hash($bucketKey), $Buckets)").between(lo, hi))
        part
          .repartition(Buckets, org.apache.spark.sql.functions.col(bucketKey))
          .write
          .bucketBy(Buckets, bucketKey)
          .sortBy(bucketKey)
          .option("path", path)
          .mode(if (p == 0) "overwrite" else "append")
          .saveAsTable(tmpTbl)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tmpTbl") // external: files unaffected
  }

  private[graft] def dirKey(dir: String): String =
    dir.replaceAll("/+$", "").replaceAll("[^A-Za-z0-9._-]", "_")
}
