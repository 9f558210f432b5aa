package graft

import org.apache.spark.sql.SparkSession

/** The 100-TB posture as code: one place that turns cluster shape into
  * the session knobs every graft plan assumes, so the same library runs
  * unchanged from `local[32]` smoke tests to a 1000-executor crawl.
  *
  * Usage (cluster, via spark-submit — see README_SUBMIT.md):
  * {{{
  *   val spark = GraftConf.cluster(totalCores = 1000 * 4)
  *     .appName("graft-import").getOrCreate()
  * }}}
  *
  * Usage (local dev/bench):
  * {{{
  *   val spark = GraftConf.local(cpus = 32).getOrCreate()
  * }}}
  *
  * Why each knob (the scale rationale SURVEY §5 argues in prose):
  *
  *   - `shuffle.partitions = 2 × totalCores` (floor 2× so every core
  *     gets work even with stragglers; AQE coalesces the excess after
  *     each exchange, so over-partitioning costs little and
  *     under-partitioning — the default 200 on a 4000-core cluster —
  *     serializes the whole job).
  *   - `adaptive.coalescePartitions.initialPartitionNum = 32 ×
  *     totalCores` (i.e. 16 × the shuffle-partition count, floor
  *     1024): shuffle partition count must scale
  *     with DATA, not just cores — at 100× the tuned scale, a
  *     cores-sized count hands each sort task a multi-pass
  *     spill (the first sf100 spot-run: q07's per-partition window
  *     sorts went 53× for 10× data). Over-provisioning the INITIAL
  *     count is free because AQE coalesces every small shuffle back
  *     to ~64 MB targets — toy SFs plan the same post-coalesce counts
  *     they always did, giant SFs fan out before the sort instead of
  *     spilling through it. 8 × was not enough: the r15 sf100 probe
  *     caught q29's 41 GB pair exchange capped at 256 partitions —
  *     5.5 M groups per final-aggregate task, just past the hash-map
  *     budget, so every task fell back to sort-merge (260 GB of
  *     memory spill, 9 min of GC). 32 × keeps a 10×-the-rehearsed-SF
  *     exchange under the ~64 MB/partition hash-agg sweet spot;
  *     MapStatus compression keeps the map-side tracking cost flat
  *     at six-figure partition counts.
  *   - AQE on, with skew-join splitting: crawl data is Zipfian in
  *     every key that matters (domain, host, length); static plans
  *     that were right at sample scale are wrong at crawl scale.
  *     The salted-join operator (q37) remains for the keys AQE can't
  *     see (first-stage aggregation skew).
  *   - `autoBroadcastJoinThreshold = 64m`: the dimension sides here
  *     (eval-set grams, ignore lists, PSL table, centroids) are
  *     megabytes — broadcast them even when statistics are stale;
  *     64m keeps a 4 GiB-heap executor safe (broadcast lives once
  *     per executor, not per task).
  *   - `files.maxPartitionBytes = 256m`: parquet scans of ~100 KB rows
  *     (documents with text) decode to ~2-3× their on-disk size;
  *     256m input splits keep a task's working set inside a
  *     per-core share of executor memory while halving the task
  *     count of the default 128m.
  *   - `parquet.filterPushdown`/`columnarReaderBatchSize` stay at
  *     defaults — the plans already push filters and prune columns
  *     (PLANS.md audits this per query).
  *   - `GraftExtensions` registered so `minhash_sig`/`etld1`/… work
  *     from plain SQL and the rank-filter → TopKPerGroup rewrite is
  *     active everywhere, not just code paths that call the Scala API.
  *   - `nanosAsLong` + UTC: the events table is TIMESTAMP(NANOS);
  *     every reader needs the same clock and the same decode.
  */
object GraftConf {

  /** True when the current process is a correctness-dump run
    * (graft.Verify sets the property). Queries whose ORACLE needs a
    * dir-keyed dump but whose production plan doesn't (q76: the dump is
    * oracle input, not a plan dependency) write it only under this
    * flag, so the bench path measures the production plan. Queries
    * whose own plan READS the dump back (q30_verify and friends) dump
    * unconditionally — there the write IS the plan's checkpoint.
    */
  def oracleDumps: Boolean = sys.props.get("graft.oracle.dumps").contains("1")

  /** Session builder for a real cluster. `totalCores` = executors ×
    * cores-per-executor; pass the value spark-submit will allocate
    * (master/deploy-mode/memory come from spark-submit itself and are
    * deliberately NOT set here).
    */
  /** Data-proportional fan-out for AQE's pre-coalesce partition count;
    * `-Dgraft.initialPartitionNum=N` overrides for experiments.
    */
  private def initialPartitions(cores: Int): Int =
    sys.props.get("graft.initialPartitionNum").map { v =>
      // fail fast with the property name: a malformed or non-positive
      // value would otherwise surface as an opaque Spark conf error
      // (or a bare NumberFormatException) several stages later
      val n = v.toIntOption.getOrElse(
        throw new IllegalArgumentException(
          s"-Dgraft.initialPartitionNum must be an integer, got '$v'"))
      require(n > 0, s"-Dgraft.initialPartitionNum must be > 0, got $n")
      n
    }.getOrElse(math.max(32 * cores, 1024))

  def cluster(totalCores: Int): SparkSession.Builder = {
    require(totalCores >= 1, s"totalCores must be >= 1, got $totalCores")
    common(SparkSession.builder())
      .config("spark.sql.shuffle.partitions", math.max(2 * totalCores, 64).toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitions(totalCores).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
  }

  /** Session builder for local runs (tests, bench, Verify): same
    * semantics knobs, partition counts sized to the machine instead of
    * a cluster.
    */
  def local(cpus: Int): SparkSession.Builder = {
    require(cpus >= 1, s"cpus must be >= 1, got $cpus")
    val b = common(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitions(cpus).toString)
      .config("spark.ui.enabled", "false")
    localScratchDir.fold(b)(d => b.config("spark.local.dir", d))
  }

  /** Chosen once per JVM and logged (an ENOSPC on a RAM-backed tmpfs
    * is only diagnosable if the log names the directory).
    */
  private lazy val localScratchDir: Option[String] = {
    val d = chooseScratchDir
    System.err.println(s"[graft] spark.local.dir = ${d.getOrElse("Spark default")}")
    d
  }

  /** Shuffle/spill scratch DECOUPLED from the table disk (r20; the
    * standing single-disk instrument band, documented since r16):
    * `spark.local.dir` defaults to /tmp, which on this class of box is
    * the SAME device the parquet tables live on, so every shuffle write
    * competes with table scans for one disk's queue — measured ±40%
    * total swings on identical code. Preference order:
    *   1. `GRAFT_LOCAL_DIR` env / `-Dgraft.localDir` — explicit scratch
    *      (set it to `default` to force Spark's own default back, e.g.
    *      for sf100 sweeps whose spill exceeds RAM-backed scratch);
    *   2. a RAM-backed tmpfs (/dev/shm) when it is writable with
    *      comfortable headroom — local-mode shuffles at the bench SFs
    *      are MBs-to-low-GBs, far under the guard. Each JVM takes its
    *      own `graft-scratch/<pid>` and first deletes the siblings of
    *      dead PIDs ([[sweepDeadScratch]]): a killed run never runs
    *      Spark's shutdown cleanup, and files stranded in tmpfs hold
    *      RAM until reboot;
    *   3. none — Spark's default.
    * Only the [[local]] profile does this: on a cluster the site's
    * spark-submit owns local-dir placement (real executors get
    * dedicated scratch disks there, which is exactly what this
    * emulates). `SPARK_LOCAL_DIRS`, when set, overrides all of it
    * (Spark's own precedence).
    */
  private def chooseScratchDir: Option[String] = {
    val explicit = sys.env.get("GRAFT_LOCAL_DIR")
      .orElse(sys.props.get("graft.localDir")).map(_.trim).filter(_.nonEmpty)
    explicit match {
      case Some("default") => None
      case Some(d) => Some(d)
      case None =>
        val shm = new java.io.File("/dev/shm")
        val minFree = 32L * 1024 * 1024 * 1024
        if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > minFree) {
          val parent = new java.io.File(shm, "graft-scratch")
          sweepDeadScratch(parent)
          val own = new java.io.File(parent, ProcessHandle.current().pid().toString)
          own.mkdirs()
          // runs after Spark's own shutdown hooks have removed their
          // subdirectories, and deletes only an empty directory
          own.deleteOnExit()
          Some(own.getAbsolutePath)
        } else None
    }
  }

  /** Deletes the `<pid>` subdirectories of `parent` whose process is
    * gone. Only numeric names are touched, and a live PID's directory
    * is kept even if the PID was reused (a leftover, never a loss).
    */
  private[graft] def sweepDeadScratch(parent: java.io.File): Unit =
    Option(parent.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.matches("\\d{1,18}"))
      .filter(d => ProcessHandle.of(d.getName.toLong).isEmpty)
      .foreach { d =>
        // walk does not follow symlinks: only the dead run's own files go
        val paths = java.nio.file.Files.walk(d.toPath)
        try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => scala.util.Try(java.nio.file.Files.deleteIfExists(p)))
        finally paths.close()
      }

  /** Like [[local]] but WITHOUT a master: for mains launched via
    * spark-submit, which owns master/deploy-mode (`--master local[*]`
    * for a single-node check, a cluster manager URL in production).
    */
  def submitted(shufflePartitions: Int): SparkSession.Builder = {
    require(shufflePartitions >= 1,
      s"shufflePartitions must be >= 1, got $shufflePartitions")
    common(SparkSession.builder())
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitions(shufflePartitions).toString)
      .config("spark.ui.enabled", "false")
  }

  /** Knobs every profile shares. AQE + skew-join live here, not just
    * in [[cluster]]: they are semantics-neutral and a Bench/main
    * submitted straight to a cluster through [[submitted]] must not
    * silently lose the adaptive posture (they are also Spark-4
    * defaults — setting them makes the posture explicit and immune to
    * site-level conf overrides).
    */
  private def common(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      // trust `sortBy` ordering when reading bucketed tables (r16):
      // Spark 3+ stopped reporting bucket sort order by default
      // because multi-file buckets are only sorted per-file — every
      // graft bucketed layout repartitions onto the bucket hash before
      // writing, so each bucket is exactly ONE file and the order is
      // real. With the conf off, every sort-merge join against a
      // bucketed fact re-sorted the pre-sorted side (at dedup scale:
      // a corpus-wide text sort per verify run). BucketedJoinSpec
      // asserts both the Sort-free plan and result equality.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // ObjectHashAggregateExec (every TypedImperativeAggregate:
      // CompactWinner, BoundedCollectSet, MinHashAgg, BucketHistogram)
      // abandons its hash map for sort-based aggregation after this many
      // in-memory keys; the 128-key default means any real grouping
      // degenerates to a SortAggregate with extra steps. 256k keys ×
      // ~0.5 KB of winner/capped-set state ≈ 128 MB per task — inside a
      // per-core share of a 4 GiB executor, and past it the fallback
      // sort is the designed spill path, not a cliff.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      // when the child already satisfies the grouping order (bucketed
      // sortBy scans: lineitem/orders by orderkey, docs_nd by doc_id),
      // a streaming SortAggregate beats building a per-task hash map
      // over millions of groups — the rule ONLY fires on satisfied
      // ordering, so unsorted inputs keep hash aggregation (r17:
      // TRIALS_r17.json measured the old q02 cascade 2.5 → 2.0s from this
      // flag alone; it is the other half of the bucketed-sort trust
      // the outputOrdering conf above establishes)
      .config("spark.sql.execution.replaceHashWithSortAgg", "true")
      .config(Tables.NanosAsLong, "true")
}
