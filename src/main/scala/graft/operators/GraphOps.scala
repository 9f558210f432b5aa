package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._

/** §2C (link graph) — graph analytics over the backlink fact table:
  * the link rows ARE a (page host → link host) edge list, so the
  * canonical link-graph questions (degree distributions, PageRank)
  * complete the reference's link-analytics story (the reference stores
  * the edges but never computes over the graph).
  */
object GraphOps {

  /** Distinct (src page host → dst link host) edges from any frame in
    * the compacted-link schema — the testdata `links` table and the
    * pipeline's folded store share it, so the SAME extraction feeds
    * q51/q52 and the store-maintained incremental ranks
    * (Pipeline.foldSegments(maintainRanks = true)).
    */
  private[graft] def edgesOf(links: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    links
      .select(col("page_host").as("src"),
        concat(
          when(col("link_subdomain") === "", lit(""))
            .otherwise(concat(col("link_subdomain"), lit("."))),
          col("link_domain")).as("dst"))
      .distinct()

  /** The registered graph queries read the host edge list from the
    * r20 bucketed ingest layout (BucketedTables.hostEdgesBySrc/Dst —
    * same row set as [[edgesOf]] over the links derivation, persisted
    * once per source generation):
    *   - the in-loop joins key the edge side on `src` (contribs) or
    *     `dst` (HITS' hub step); a bucketed scan supplies that
    *     distribution exchange-free and pre-sorted at ANY scale,
    *     whereas the old `localCheckpoint` pin reports
    *     UnknownPartitioning under AQE (r19, OPTIMIZATION_r19.md) and re-shuffles
    *     per iteration wherever the edge side is too big to broadcast;
    *   - the links ⨝ customer + distinct derivation — the only
    *     corpus-wide work in these queries — moves to the layout build
    *     instead of being re-paid by every graph query per run.
    * Store-fed paths (Pipeline.foldSegments) keep [[edgesOf]] + the
    * checkpoint pin: their edges derive from the live store, not a
    * fingerprinted base table.
    */
  private def edges(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.BucketedTables.hostEdgesBySrc(s, dir)

  private def edgesDst(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.BucketedTables.hostEdgesByDst(s, dir)

  /** In-degree distribution — the power-law histogram every link-graph
    * audit starts with: for each in-degree (distinct linking hosts),
    * how many target hosts have it. Two map-side-combined aggregates,
    * nothing else; at 100 TB both shuffles carry one row per (host) and
    * per (degree) respectively.
    */
  val q52_degree_dist: GraftQuery = GraftQuery(
    "q52_degree_dist",
    (s, dir) =>
      // dst-bucketed layout: the first aggregate's grouping key IS the
      // bucket key, so the per-host count needs no exchange at all
      edgesDst(s, dir)
        .groupBy(col("dst"))
        .agg(count(lit(1)).cast("bigint").as("in_degree"))
        .groupBy(col("in_degree"))
        .agg(count(lit(1)).cast("bigint").as("n_hosts"))
        .orderBy(col("in_degree")),
    Some(Tables.linksCte +
      """, e AS (
        |  SELECT DISTINCT page_host AS src,
        |    (CASE WHEN link_subdomain = '' THEN '' ELSE link_subdomain || '.' END)
        |      || link_domain AS dst
        |  FROM links
        |), deg AS (
        |  SELECT dst, CAST(COUNT(*) AS BIGINT) AS in_degree FROM e GROUP BY dst
        |)
        |SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_hosts
        |FROM deg GROUP BY in_degree ORDER BY in_degree""".stripMargin)
  )

  private val Damping = 0.85
  private val PageRankIters = 10

  /** PageRank over the host graph: fixed-iteration power method, each
    * iteration ONE join + ONE aggregate (contributions grouped by
    * target) plus a broadcast scalar for the dangling mass —
    * the standard DataFrame-native iterative-graph shape (like q36's
    * label propagation), lineage truncated per iteration so the plan
    * stays flat. Dangling hosts (no out-edges) redistribute their mass
    * evenly, keeping total rank = N at every step (the spec asserts
    * it). Deterministic given the graph; rows-only because float
    * summation order differs across engines.
    */
  /** Power-method PageRank with two stopping modes: fixed `maxIters`
    * (the registered q51 — deterministic job count for bench), and an
    * optional L1-convergence tolerance. With `tol` set, each iteration
    * pays ONE extra aggregate action (the L1 delta vs the previous
    * ranks — cheap: both sides are the already-materialized lazy
    * checkpoints) and stops as soon as sum(|Δrank|) < tol — on a
    * converged graph that saves every remaining join+agg round,
    * which at 100 TB is the whole cost.
    */
  private[graft] def pageRank(
      s: org.apache.spark.sql.SparkSession, dir: String,
      maxIters: Int = PageRankIters,
      tol: Option[Double] = None): org.apache.spark.sql.DataFrame =
    top100(pageRankWithStats(s, dir, maxIters, tol, init = None)._1)

  /** The q51 serving projection over a full ranks frame. */
  private[graft] def top100(ranks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // order on the ROUNDED rank (the serving precision): unrounded
    // doubles carry partitioning-dependent summation noise at the ulp,
    // so two runs with different physical plans would break ties of
    // equal displayed rank differently
    ranks.orderBy(round(col("rank"), 6).desc, col("host").asc).limit(100)
      .select(col("host"), round(col("rank"), 6).as("rank"))

  /** Full-control variant: `init` warm-starts the power method from a
    * previous (host, rank) frame — the INCREMENTAL path when segments
    * arrive as deltas. New hosts enter at the cold-start 1.0, vanished
    * hosts drop out via the inner join to the current node set, and
    * because the damped update is a contraction no rescaling is needed:
    * a warm start near the fixed point just converges in FEWER
    * iterations (with `tol` set, each saved iteration is a saved
    * join+agg over the whole graph — at 100 TB that is the entire cost
    * of rank maintenance under incremental import). Returns the ranks
    * and the number of iterations actually run.
    */
  private[graft] def pageRankWithStats(
      s: org.apache.spark.sql.SparkSession, dir: String,
      maxIters: Int = PageRankIters,
      tol: Option[Double] = None,
      init: Option[org.apache.spark.sql.DataFrame] = None)
      : (org.apache.spark.sql.DataFrame, Int) =
    pageRankOnEdges(edges(s, dir), maxIters, tol, init, pinEdges = false)

  /** Core power method over an arbitrary (src, dst) edge frame — the
    * incremental path feeds it the CURRENT store's edges and the
    * PREVIOUS run's ranks.
    */
  /** `pinEdges = false` (r20) is for edge frames that are CHEAP TO
    * RE-SCAN and already carry the join distribution — the bucketed
    * host_edges layout: a checkpoint pin would trade the bucket
    * partitioning (exchange-free in-loop joins, OPTIMIZATION_r19.md:
    * checkpoint leaves report UnknownPartitioning) for an in-memory
    * copy the loop re-shuffles every iteration at cluster scale.
    * Derived/store edge frames keep the default pin so the derivation
    * isn't re-run per iteration.
    */
  private[graft] def pageRankOnEdges(
      edgeFrame: org.apache.spark.sql.DataFrame,
      maxIters: Int = PageRankIters,
      tol: Option[Double] = None,
      init: Option[org.apache.spark.sql.DataFrame] = None,
      pinEdges: Boolean = true)
      : (org.apache.spark.sql.DataFrame, Int) = {
    // r19: NO repartition(src) before the pin — measured (OPTIMIZATION_r19.md):
    // a localCheckpoint leaf under AQE reports UnknownPartitioning, so
    // the in-loop join never reused that exchange; it was a pure setup
    // cost. (r20: real exchange reuse comes from the bucketed edge
    // layout, which passes pinEdges = false.)
    val e = if (pinEdges) edgeFrame.localCheckpoint(false) else edgeFrame
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst")))
      .distinct()
      .localCheckpoint(false)
    val n = nodes.count().toDouble
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    // r19: out_deg rides the rank frame via ONE setup join — the old
    // spelling re-joined ranks⨝outDeg inside every iteration, and the
    // join subtree was EVALUATED TWICE per iteration (once under the
    // dangling-mass broadcast, once under contribs)
    val init0 = init.fold(nodes.withColumn("rank", lit(1.0))) { prev =>
      nodes.join(prev.select(col("host").as("ph"), col("rank").as("prank")),
        col("host") === col("ph"), "left")
        .select(col("host"), coalesce(col("prank"), lit(1.0)).as("rank"))
    }
    var ranks = init0.join(outDeg, init0("host") === outDeg("src"), "left")
      .select(init0("host"), col("out_deg"), col("rank"))
      .localCheckpoint(false)
    var iter = 0
    var converged = false
    // dangling mass over the carried out_deg column — no join needed
    // (the old spelling re-evaluated a ranks⨝outDeg subtree for it).
    // coalesce: sum over ZERO rows (empty graph) is null, and getDouble
    // would NPE.
    val dmCol = coalesce(sum(when(col("out_deg").isNull, col("rank"))), lit(0.0))
    // tol mode pays ONE driver action per iteration anyway (the
    // convergence decision), so the dangling mass for the NEXT round
    // rides that same action as a second aggregate column — no
    // per-iteration BroadcastExchange subtree at all. Fixed-iters mode
    // has no action to ride and keeps the in-plan broadcast: a
    // DEDICATED scalar action per iteration was built and measured
    // SLOWER (OPTIMIZATION_r19.md: q51 2.6→3.1s — the sync head() costs more
    // than the exchange it replaces; AQE overlaps in-plan stages).
    var dmassScalar: Option[Double] =
      if (tol.isDefined) Some(ranks.agg(dmCol).head().getDouble(0)) else None
    while (iter < maxIters && !converged) {
      val contribs = ranks.filter(col("out_deg").isNotNull)
        .select(col("host"), (col("rank") / col("out_deg")).as("share"))
        .join(e, col("host") === e("src"))
        .groupBy(col("dst"))
        .agg(sum(col("share")).as("in_share"))
      val joined = ranks
        .select(col("host"), col("out_deg"), col("rank").as("prev"))
        .join(contribs, col("host") === col("dst"), "left")
      def update(dm: org.apache.spark.sql.Column) =
        (lit(1 - Damping) + lit(Damping) *
          (dm + coalesce(col("in_share"), lit(0.0)))).as("rank")
      val next = dmassScalar
        .fold {
          val danglingMass = ranks.filter(col("out_deg").isNull)
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("dmass"))
          joined.crossJoin(broadcast(danglingMass))
            .select(col("host"), col("out_deg"),
              update(col("dmass") / n), col("prev"))
        } { dm =>
          joined.select(col("host"), col("out_deg"),
            update(lit(dm / n)), col("prev"))
        }
        // lazy: still truncates lineage (the optimizer sees a leaf),
        // but merely BUILDING the q51 plan (explain/PlanAudit) no
        // longer executes the iterations — only nodes.count() runs.
        .localCheckpoint(false)
      iter += 1
      tol.foreach { t =>
        // the L1 delta reads the carried prev column straight off the
        // materialized checkpoint — the old spelling paid a full extra
        // join job per iteration for it
        val g = next.agg(
          coalesce(sum(abs(col("rank") - col("prev"))), lit(0.0)).as("l1"),
          dmCol.as("dmass")).head()
        converged = g.getDouble(0) < t
        dmassScalar = Some(g.getDouble(1))
      }
      ranks = next
    }
    // FULL frame — reusable as the next run's `init`
    (ranks.select(col("host"), col("rank")), iter)
  }

  val q51_pagerank: GraftQuery = GraftQuery(
    "q51_pagerank",
    (s, dir) => pageRank(s, dir),
    None // float summation order is engine-specific; invariants in GraphOpsSpec
  )

  private val VerifyIters = 3
  private val PrVerifyScale = 1000000000000L // 1e12: rank 1.0 = 10^12 units

  /** q51's DRIVER-GATED companion (the q30→q30_verify pattern): the
    * same damped power method spelled in INTEGER arithmetic — ranks
    * carried as `rank × 10^12` BIGINTs, every division a truncating
    * integer `div` — so three fixed iterations produce bit-identical
    * numbers in any engine and the query carries a full rows+schema+
    * hash oracle. Float q51 stays rows-only (summation order); this
    * pins the graph derivation, dangling-mass redistribution and
    * update rule cross-engine, and GraphOpsSpec asserts the float and
    * integer spellings agree to within the truncation error, so a
    * rank regression fails the DRIVER gate, not just ScalaTest.
    * Truncation loses < 1 unit (10^-12 of a rank) per division;
    * magnitudes stay ≤ n·10^12 ≪ Long.Max.
    */
  private[graft] def pageRankExact(
      edgeFrame: org.apache.spark.sql.DataFrame,
      iters: Int = VerifyIters,
      init: Option[org.apache.spark.sql.DataFrame] = None,
      pinEdges: Boolean = true): org.apache.spark.sql.DataFrame = {
    val e = if (pinEdges) edgeFrame.localCheckpoint(false) else edgeFrame
    val nodes = e.select(col("src").as("host"))
      .union(e.select(col("dst"))).distinct().localCheckpoint(false)
    val n = nodes.count()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))
    // warm start (q82_verify): previous (host, rank_scaled) seeds the
    // iteration; new hosts enter at the cold-start scale, vanished
    // hosts drop out via the projection onto the current node set —
    // the integer mirror of pageRankOnEdges' `init`
    val init0 = init.fold(nodes.withColumn("r", lit(PrVerifyScale))) { prev =>
      nodes.join(prev.select(col("host").as("ph"), col("rank_scaled").as("pr")),
        col("host") === col("ph"), "left")
        .select(col("host"), coalesce(col("pr"), lit(PrVerifyScale)).as("r"))
    }
    // r19: same restructure as pageRankOnEdges — out_deg rides the rank
    // frame (one setup join, not a twice-evaluated per-iteration join);
    // the dangling mass stays an in-plan broadcast (one execution per
    // iteration, stages overlapped by AQE). Integer sums commute
    // exactly, so the restructure is bit-identical by construction.
    var ranks = init0.join(outDeg, init0("host") === outDeg("src"), "left")
      .select(init0("host"), col("out_deg"), col("r"))
      .localCheckpoint(false)
    for (_ <- 1 to iters) {
      val dmass = ranks.filter(col("out_deg").isNull)
        .agg(coalesce(sum(col("r")), lit(0L)).as("dmass"))
      val contribs = ranks.filter(col("out_deg").isNotNull)
        .select(col("host"), expr("r div out_deg").as("share"))
        .join(e, col("host") === e("src"))
        .groupBy(col("dst")).agg(sum(col("share")).as("in_share"))
      ranks = ranks.select(col("host"), col("out_deg"))
        .join(contribs, col("host") === col("dst"), "left")
        .crossJoin(broadcast(dmass))
        .select(col("host"), col("out_deg"),
          (lit(15L * PrVerifyScale / 100) +
            expr(s"(85 * ((dmass div $n) + coalesce(in_share, CAST(0 AS BIGINT)))) div 100"))
            .as("r"))
        .localCheckpoint(false)
    }
    ranks.select(col("host"), col("r").cast("bigint").as("rank_scaled"))
  }

  /** One integer power-method iteration as DuckDB CTEs, over tables
    * `${pfx}e` / `${pfx}nodes` / `${pfx}deg`, reading ranks from
    * `${pfx}r0` (k=1) or `${pfx}it{k-1}`. The prefix lets q82_verify
    * chain TWO phases (previous graph, then the warm-started full
    * graph) in one statement; q51_verify uses the empty prefix.
    */
  private def prVerifyIterSql(k: Int, pfx: String = ""): String = {
    val prev = if (k == 1) s"${pfx}r0" else s"${pfx}it${k - 1}"
    s""", ${pfx}d$k AS (
       |  SELECT COALESCE(SUM(r), 0) AS dmass FROM $prev
       |  WHERE host NOT IN (SELECT src FROM ${pfx}deg)
       |), ${pfx}c$k AS (
       |  SELECT e.dst AS host, SUM(p.r // g.out_deg) AS in_share
       |  FROM $prev p JOIN ${pfx}deg g ON p.host = g.src JOIN ${pfx}e e ON p.host = e.src
       |  GROUP BY e.dst
       |), ${pfx}it$k AS (
       |  SELECT nd.host,
       |    ${15L * PrVerifyScale / 100} +
       |      (85 * ((SELECT dmass FROM ${pfx}d$k) // (SELECT COUNT(*) FROM ${pfx}nodes)
       |        + COALESCE(c.in_share, 0))) // 100 AS r
       |  FROM ${pfx}nodes nd LEFT JOIN ${pfx}c$k c ON nd.host = c.host
       |)""".stripMargin
  }

  val q51_verify: GraftQuery = GraftQuery(
    "q51_verify",
    (s, dir) => pageRankExact(edges(s, dir), pinEdges = false)
      .orderBy(col("rank_scaled").desc, col("host").asc),
    Some(Tables.linksCte +
      """, e AS (
        |  SELECT DISTINCT page_host AS src,
        |    (CASE WHEN link_subdomain = '' THEN '' ELSE link_subdomain || '.' END)
        |      || link_domain AS dst
        |  FROM links
        |), nodes AS (
        |  SELECT src AS host FROM e UNION SELECT dst FROM e
        |), deg AS (
        |  SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY src
        |), r0 AS (
        |  SELECT host, CAST(%S% AS BIGINT) AS r FROM nodes
        |)""".stripMargin.replace("%S%", PrVerifyScale.toString) +
      (1 to VerifyIters).map(k => prVerifyIterSql(k)).mkString +
      s"""
         |SELECT host, CAST(r AS BIGINT) AS rank_scaled FROM it$VerifyIters
         |ORDER BY rank_scaled DESC, host""".stripMargin)
  )

  /** The deterministic "segment delta" split for q82: ~5% of the
    * distinct host edges (md5-keyed — the cross-engine contract hash)
    * are "the newly imported segment's edges"; the rest are the graph
    * the previous rank run saw. The reference's recurring production
    * job is exactly this shape: InitImport selects one segment, the
    * store folds it in, and ranks must be maintained without
    * recomputing from scratch (reference: cmd/importer/main.go's
    * segment-import loop; the reference itself stores edges but never
    * ranks them).
    */
  private def edgeIsNew: org.apache.spark.sql.Column =
    conv(substring(md5(concat(col("src"), lit("|"), col("dst"))), 1, 8), 16, 10)
      .cast("bigint") % 20 === 0

  private val EdgeIsNewSql =
    "CAST(('0x' || substr(md5(src || '|' || dst), 1, 8)) AS BIGINT) % 20 = 0"

  private val RankDeltaTol = 1e-6
  private val RankDeltaMaxIters = 60

  /** Incremental PageRank under segment import — q82: converge on the
    * previous graph (all edges minus the delta segment), then
    * warm-start the full graph from those ranks. The damped update is
    * a contraction, so the warm start converges in FEWER iterations
    * (measured on this fixture: 2 vs 7 cold at tol=1e-6 — each saved
    * iteration is a saved join+agg over the whole graph, the entire
    * cost of rank maintenance at 100 TB). Output is the serving
    * top-100 plus the iteration counts as columns, so the
    * fewer-iterations claim rides the query result itself; cold-vs-
    * warm iteration savings and fixed-point agreement are asserted in
    * GraphOpsSpec. Rows-only like q51 (float summation order);
    * q82_verify pins the warm-start dataflow cross-engine in integer
    * arithmetic.
    */
  val q82_rank_delta: GraftQuery = GraftQuery(
    "q82_rank_delta",
    (s, dir) => {
      // r20: the bucketed layout replaces the r19 checkpoint pin — the
      // derivation it deduplicated now lives in the layout build, and
      // an unpinned scan keeps the bucket distribution both phases'
      // in-loop joins key on (a checkpoint leaf loses it, OPTIMIZATION_r19.md)
      val all = edges(s, dir)
      val (prev, prevIters) = pageRankOnEdges(all.filter(!edgeIsNew),
        maxIters = RankDeltaMaxIters, tol = Some(RankDeltaTol), pinEdges = false)
      val (warm, warmIters) = pageRankOnEdges(all,
        maxIters = RankDeltaMaxIters, tol = Some(RankDeltaTol), init = Some(prev),
        pinEdges = false)
      top100(warm)
        .withColumn("iters_prev", lit(prevIters))
        .withColumn("iters_warm", lit(warmIters))
    },
    None // float summation order is engine-specific; invariants in GraphOpsSpec
  )

  private val DeltaVerifyIters = 2

  /** q82's DRIVER-GATED companion (q51_verify pattern): the warm-start
    * dataflow in integer arithmetic — [[DeltaVerifyIters]] exact
    * iterations on the previous graph, then [[DeltaVerifyIters]] more
    * on the FULL graph seeded from the previous ranks (new hosts enter
    * at the cold-start scale) — all chained into one DuckDB statement
    * via the prefixed iteration CTEs. Green means the delta split, the
    * warm-start projection (carry/enter/drop), and the update rule all
    * match an independent engine bit-for-bit.
    */
  val q82_verify: GraftQuery = GraftQuery(
    "q82_verify",
    (s, dir) => {
      val all = edges(s, dir)
      val prevRanks = pageRankExact(all.filter(!edgeIsNew), DeltaVerifyIters,
        pinEdges = false)
      pageRankExact(all, DeltaVerifyIters, init = Some(prevRanks),
        pinEdges = false)
        .orderBy(col("rank_scaled").desc, col("host").asc)
    },
    Some(Tables.linksCte +
      """, e AS (
        |  SELECT DISTINCT page_host AS src,
        |    (CASE WHEN link_subdomain = '' THEN '' ELSE link_subdomain || '.' END)
        |      || link_domain AS dst
        |  FROM links
        |), pe AS (
        |  SELECT src, dst FROM e WHERE NOT (%NEW%)
        |), pnodes AS (
        |  SELECT src AS host FROM pe UNION SELECT dst FROM pe
        |), pdeg AS (
        |  SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM pe GROUP BY src
        |), pr0 AS (
        |  SELECT host, CAST(%S% AS BIGINT) AS r FROM pnodes
        |)""".stripMargin
        .replace("%NEW%", EdgeIsNewSql)
        .replace("%S%", PrVerifyScale.toString) +
      (1 to DeltaVerifyIters).map(k => prVerifyIterSql(k, "p")).mkString +
      s""", nodes AS (
         |  SELECT src AS host FROM e UNION SELECT dst FROM e
         |), deg AS (
         |  SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM e GROUP BY src
         |), r0 AS (
         |  SELECT nd.host, COALESCE(p.r, CAST($PrVerifyScale AS BIGINT)) AS r
         |  FROM nodes nd LEFT JOIN pit$DeltaVerifyIters p ON nd.host = p.host
         |)""".stripMargin +
      (1 to DeltaVerifyIters).map(k => prVerifyIterSql(k)).mkString +
      s"""
         |SELECT host, CAST(r AS BIGINT) AS rank_scaled FROM it$DeltaVerifyIters
         |ORDER BY rank_scaled DESC, host""".stripMargin)
  )

  /** Rank SERVING — the read-side of the store-maintained incremental
    * PageRank (Pipeline.foldSegments(maintainRanks)/
    * publishRankedStore): look up the live generation's `_RANKS` for a
    * requested host set through the bucket-pruned
    * [[graft.Pipeline.hostRanksFor]] path — the same read
    * `POST /api/ranks` binds per request. The plan scans only the
    * requested hosts' `rank_bucket=` partitions, so the lookup cost is
    * O(requested buckets), not O(hosts in the crawl). Input store
    * comes from [[graft.sources.RankedStoreFixture]] (built once per
    * sfDir via the real publish path, cached). Rows-only: ranks are
    * float; the maintained-vs-cold equality and serving semantics are
    * pinned in PipelineSpec/GraphOpsSpec/LinkApiSpec.
    */
  val q69_host_rank_serve: GraftQuery = GraftQuery(
    "q69_host_rank_serve",
    (s, dir) => {
      val store = graft.sources.RankedStoreFixture.dir(s, dir)
      // the links fixture's five page hosts — the serving hot set
      val hosts = (0 to 4).map(i => s"h$i.example.org")
      graft.Pipeline.hostRanksFor(s, store, hosts)
        .select(col("host"), round(col("rank"), 6).as("rank"))
        .orderBy(col("host"))
    },
    None // serving read of a store artifact; no parquet table for DuckDB
  )

  /** q69's DRIVER-GATED companion: the store's FULL `_RANKS` artifact
    * dumps dir-keyed with ranks floored to BIGINT 1e-9 units, and the
    * query runs the PRUNED serving read ([[graft.Pipeline.hostRanksFor]]
    * — bucket-pruned partition scan) with the same quantization; the
    * oracle filters the full dump to the requested hosts. Green means
    * the pruned read returns exactly the full artifact's rows for the
    * hot set — partition pruning certified value-exact, cross-engine,
    * while float q69 stays rows-only.
    */
  val q69_verify: GraftQuery = GraftQuery(
    "q69_verify",
    (s, dir) => {
      val store = graft.sources.RankedStoreFixture.dir(s, dir)
      val dump = Tables.oracleDumpPath("q69_ranks", dir)
      graft.Pipeline.hostRanks(s, store)
        .getOrElse(sys.error(s"store at $store has no _RANKS artifact"))
        .select(col("host"), floor(col("rank") * 1e9).cast("bigint").as("rank_scaled"))
        .write.mode("overwrite").parquet(dump)
      val hosts = (0 to 4).map(i => s"h$i.example.org")
      graft.Pipeline.hostRanksFor(s, store, hosts)
        .select(col("host"), floor(col("rank") * 1e9).cast("bigint").as("rank_scaled"))
        .orderBy(col("host"))
    },
    Some {
      val hostList = (0 to 4).map(i => s"'h$i.example.org'").mkString(", ")
      s"""SELECT host, rank_scaled
         |FROM read_parquet('${Tables.oracleDumpPath("q69_ranks", Tables.VerifyDir)}/*.parquet')
         |WHERE host IN ($hostList)
         |ORDER BY host""".stripMargin
    }
  )

  private val HitsIters = 8

  /** HITS (Kleinberg 1999) hubs & authorities over an arbitrary
    * (src, dst) edge frame — the mutually-recursive complement to
    * PageRank's single score: auth(v) = Σ_{u→v} hub(u), hub(u) =
    * Σ_{u→v} auth(v), converging to the principal singular vectors of
    * the adjacency matrix.
    *
    * Scale shape mirrors [[pageRankOnEdges]]: the edge list is pinned
    * ONCE (r19 — the former src-/dst-partitioned twin pins assumed a
    * checkpoint leaf keeps its hash partitioning for the two join
    * directions; OPTIMIZATION_r19.md records that false under AQE, so the
    * second pin was a pure extra exchange+copy), the per-iteration
    * score frames are one row per host, and lineage truncates per
    * iteration via lazy checkpoints. Two deliberate differences
    * from the textbook loop, both exploiting that each update is
    * LINEAR in the scores:
    *   - normalization defers to ONE final pass (the unnormalized
    *     iterate is a scalar multiple of the normalized one, so the
    *     final directions are identical) — that removes two
    *     norm-aggregate driver actions per iteration. Magnitudes grow
    *     as σ_max^(2·iters); doubles overflow only past σ_max ≈ 1e19,
    *     far beyond any real link graph's top singular value.
    *   - zero-score hosts drop out of the iterate frames instead of
    *     riding along (an absent host contributes exactly nothing
    *     through the inner joins); the full host set right-joins back
    *     once at the end.
    */
  private[graft] def hitsOnEdges(
      edgeFrame: org.apache.spark.sql.DataFrame,
      iters: Int = HitsIters): org.apache.spark.sql.DataFrame = {
    // r19: ONE pinned edge copy. The old src- and dst-partitioned twin
    // pins assumed the checkpoint leaf keeps its hash partitioning for
    // the two join directions — measured false under AQE (OPTIMIZATION_r19.md:
    // LogicalRDD reports UnknownPartitioning), so the second pin was a
    // full extra exchange + copy buying nothing.
    val e = edgeFrame.localCheckpoint(false)
    hitsCore(e, e, iters)
  }

  /** The loop body over an explicit (src-keyed, dst-keyed) edge-frame
    * pair. r20: what the r17/r18 twin checkpoint pins TRIED to be —
    * per-direction join distributions — the bucketed host_edges layouts
    * actually deliver (src-bucketed for the auth step's join, the dst
    * dual for the hub step), with no pin at all: each iteration scans
    * 32 single-file sorted buckets, exchange-free on the edge side.
    * Same rows in both frames, so results are the single-pin spelling's.
    */
  private def hitsCore(
      eSrc: org.apache.spark.sql.DataFrame,
      eDst: org.apache.spark.sql.DataFrame,
      iters: Int): org.apache.spark.sql.DataFrame = {
    val nodes = eSrc.select(col("src").as("host"))
      .union(eSrc.select(col("dst")))
      .distinct()
      .localCheckpoint(false)
    var hubs = nodes.withColumn("score", lit(1.0)).localCheckpoint(false)
    var auths = hubs
    var i = 0
    while (i < iters) {
      // one checkpoint per ROUND (on hubs): the auth half-step folds
      // into the hub lineage, so truncation cost is paid once per
      // iteration, not twice
      auths = hubs.join(eSrc, hubs("host") === eSrc("src"))
        .groupBy(col("dst")).agg(sum(col("score")).as("score"))
        .withColumnRenamed("dst", "host")
      hubs = auths.join(eDst, auths("host") === eDst("dst"))
        .groupBy(col("src")).agg(sum(col("score")).as("score"))
        .withColumnRenamed("src", "host")
        .localCheckpoint(false)
      i += 1
    }
    // pin the final auth half-step once: both its norm scalar and the
    // output join consume it
    auths = auths.localCheckpoint(false)
    // ONE normalization + host-set completion pass; greatest() guards
    // the all-zero degenerate graph (0/0 → NaN). In-plan broadcasts,
    // not driver-side scalar actions — the scalar spelling was built
    // and measured slower (OPTIMIZATION_r19.md; same finding as the pagerank
    // dangling mass: a sync head() costs more than the exchange)
    def normScalar(f: org.apache.spark.sql.DataFrame) = f.agg(
      greatest(sqrt(sum(col("score") * col("score"))), lit(1e-12)).as("nrm"))
    val aN = normScalar(auths)
    val hN = normScalar(hubs)
    nodes.select(col("host"))
      .join(auths.select(col("host").as("ah"), col("score").as("a")),
        col("host") === col("ah"), "left")
      .join(hubs.select(col("host").as("hh"), col("score").as("h")),
        col("host") === col("hh"), "left")
      .crossJoin(broadcast(aN))
      .crossJoin(broadcast(hN.withColumnRenamed("nrm", "hnrm")))
      .select(col("host"),
        (coalesce(col("a"), lit(0.0)) / col("nrm")).as("auth"),
        (coalesce(col("h"), lit(0.0)) / col("hnrm")).as("hub"))
  }

  /** q78: HITS over the crawl's host graph — top 100 authorities with
    * their hub scores, the link-analytics complement to q51 (a
    * backlink API wants "most-endorsed hosts" = authorities AND
    * "best directory pages" = hubs). Ordering on the ROUNDED score
    * (q51's serving-precision rule) keeps the result set stable
    * against partitioning-order float noise. Rows-only: float
    * summation order is engine-specific; GraphOpsSpec pins a
    * hand-computed small-graph fixture and the L2-norm invariant.
    */
  val q78_hits: GraftQuery = GraftQuery(
    "q78_hits",
    (s, dir) =>
      hitsCore(edges(s, dir), edgesDst(s, dir), HitsIters)
        .orderBy(round(col("auth"), 6).desc, col("host").asc)
        .limit(100)
        .select(col("host"), round(col("auth"), 6).as("auth"),
          round(col("hub"), 6).as("hub")),
    None // float order; invariants + fixture parity in GraphOpsSpec
  )

  private val HitsVerifyScale = 1000000000L // 1e9: max score = 10^9 units

  /** q78's DRIVER-GATED companion (q51_verify's sibling): two full
    * HITS rounds from hub₀ = 1 in pure INTEGER arithmetic —
    * normalization-free iterates are exact integer sums (the update
    * is linear, so skipping per-round normalization only rescales),
    * then ONE final max-normalization to `score × 10^9` via
    * truncating integer division. Bit-identical in any engine →
    * full rows+schema+hash oracle; magnitudes stay ≤ n⁴ ≈ 10^7
    * before the 10^9 scale-up, far under Long.Max. GraphOpsSpec
    * asserts the float spelling ranks hosts in the same order.
    */
  private[graft] def hitsExact(edgeFrame: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val e = edgeFrame.localCheckpoint(false)
    hitsExactCore(e, e)
  }

  /** Dual-frame core, mirroring [[hitsCore]]: the dst-keyed frame feeds
    * the steps that join/aggregate on `dst`, the src-keyed one the
    * others — bucketed inputs make each exchange-free on the edge side.
    */
  private def hitsExactCore(
      eSrc: org.apache.spark.sql.DataFrame,
      eDst: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nodes = eSrc.select(col("src").as("host"))
      .union(eSrc.select(col("dst"))).distinct()
    def step(scores: org.apache.spark.sql.DataFrame,
        joinOn: String, groupTo: String): org.apache.spark.sql.DataFrame = {
      val e = if (joinOn == "dst") eDst else eSrc
      e.join(scores.withColumnRenamed("host", "jh"), col(joinOn) === col("jh"))
        .groupBy(col(groupTo)).agg(sum(col("s")).as("s"))
        .withColumnRenamed(groupTo, "host")
    }
    val a1 = eDst.groupBy(col("dst")).agg(count(lit(1)).cast("bigint").as("s"))
      .withColumnRenamed("dst", "host") // auth₁ = in-degree (hub₀ = 1)
    val h1 = step(a1, "dst", "src")
    val a2 = step(h1, "src", "dst").localCheckpoint(false)
    val h2 = step(a2, "dst", "src").localCheckpoint(false)
    val aMax = a2.agg(coalesce(max(col("s")), lit(0L)).as("amax"))
    val hMax = h2.agg(coalesce(max(col("s")), lit(0L)).as("hmax"))
    nodes
      .join(a2.select(col("host").as("ah"), col("s").as("a")),
        col("host") === col("ah"), "left")
      .join(h2.select(col("host").as("hh"), col("s").as("h")),
        col("host") === col("hh"), "left")
      .crossJoin(broadcast(aMax))
      .crossJoin(broadcast(hMax))
      .select(col("host"),
        expr(s"cast(coalesce((a * $HitsVerifyScale) div nullif(amax, 0), 0) as bigint)")
          .as("auth_scaled"),
        expr(s"cast(coalesce((h * $HitsVerifyScale) div nullif(hmax, 0), 0) as bigint)")
          .as("hub_scaled"))
  }

  val q78_verify: GraftQuery = GraftQuery(
    "q78_verify",
    (s, dir) => hitsExactCore(edges(s, dir), edgesDst(s, dir))
      .orderBy(col("auth_scaled").desc, col("host").asc),
    Some(Tables.linksCte +
      s""", e AS (
         |  SELECT DISTINCT page_host AS src,
         |    (CASE WHEN link_subdomain = '' THEN '' ELSE link_subdomain || '.' END)
         |      || link_domain AS dst
         |  FROM links
         |), nodes AS (
         |  SELECT src AS host FROM e UNION SELECT dst FROM e
         |), a1 AS (
         |  SELECT dst AS host, CAST(COUNT(*) AS BIGINT) AS s FROM e GROUP BY dst
         |), h1 AS (
         |  SELECT e.src AS host, SUM(x.s) AS s FROM e JOIN a1 x ON e.dst = x.host GROUP BY e.src
         |), a2 AS (
         |  SELECT e.dst AS host, SUM(x.s) AS s FROM e JOIN h1 x ON e.src = x.host GROUP BY e.dst
         |), h2 AS (
         |  SELECT e.src AS host, SUM(x.s) AS s FROM e JOIN a2 x ON e.dst = x.host GROUP BY e.src
         |)
         |SELECT nd.host,
         |  CAST(COALESCE((a.s * $HitsVerifyScale) // NULLIF((SELECT MAX(s) FROM a2), 0), 0) AS BIGINT) AS auth_scaled,
         |  CAST(COALESCE((h.s * $HitsVerifyScale) // NULLIF((SELECT MAX(s) FROM h2), 0), 0) AS BIGINT) AS hub_scaled
         |FROM nodes nd
         |LEFT JOIN a2 a ON nd.host = a.host
         |LEFT JOIN h2 h ON nd.host = h.host
         |ORDER BY auth_scaled DESC, nd.host""".stripMargin)
  )

  /** q79: weakly-connected components of the host graph, reported as a
    * size histogram (how many islands of each size the crawl's link
    * structure splits into — the connectivity audit next to q52's
    * degree view). Components come from the SAME min-label propagation
    * loop as the near-dup clustering ([[TextOps.clusterPairs]] — edges
    * fed as undirected pairs, labels are lexicographic-min hosts), so
    * its scale posture is shared and already 10×-rehearsed: one
    * join+agg per round over the pinned edge list, lineage truncated,
    * loud failure past the iteration bound (host graphs are
    * small-diameter; the bound is a diameter cap, not a quota). The
    * oracle recomputes components independently via DuckDB's recursive
    * CTE (min reachable host per node).
    */
  val q79_host_components: GraftQuery = GraftQuery(
    "q79_host_components",
    (s, dir) => {
      val labels = TextOps.clusterPairs(
        edges(s, dir).select(col("src").as("a_id"), col("dst").as("b_id")))
      labels.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("component_size"))
        .groupBy(col("component_size"))
        .agg(count(lit(1)).cast("bigint").as("n_components"))
        .orderBy(col("component_size"))
    },
    Some("WITH RECURSIVE " + Tables.linksCte.stripPrefix("WITH ") +
      """, e AS (
        |  SELECT DISTINCT page_host AS src,
        |    (CASE WHEN link_subdomain = '' THEN '' ELSE link_subdomain || '.' END)
        |      || link_domain AS dst
        |  FROM links
        |), ed AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT dst, src FROM e
        |), reach(src, lbl) AS (
        |  SELECT src, src FROM (SELECT DISTINCT src FROM ed) n
        |  UNION
        |  SELECT ed.src, r.lbl FROM ed JOIN reach r ON ed.dst = r.src
        |), comp AS (
        |  SELECT src AS host, MIN(lbl) AS cid FROM reach GROUP BY src
        |), sizes AS (
        |  SELECT cid, COUNT(*) AS component_size FROM comp GROUP BY cid
        |)
        |SELECT component_size, CAST(COUNT(*) AS BIGINT) AS n_components
        |FROM sizes GROUP BY component_size ORDER BY component_size""".stripMargin)
  )

  val all: Seq[GraftQuery] =
    Seq(q51_pagerank, q51_verify, q52_degree_dist, q69_host_rank_serve,
      q69_verify, q78_hits, q78_verify, q79_host_components,
      q82_rank_delta, q82_verify)
}
