package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of every registered query to
  * PLANS.md — the audit trail for scan pruning (`ReadSchema`,
  * `PushedFilters`), join strategies (broadcast vs shuffle), and
  * whole-stage-codegen coverage. Run after operator changes:
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.001 PLANS.md"
  *
  * Two runs of the same code write the same file, with one known
  * exception: the `Expand` that Spark's distinct-aggregate rewrite
  * adds for two distinct aggregates over different columns
  * (`q46_profile`, `q53_decontaminate`, `q59_verify`, `q59_warc_links`,
  * `s09_stream_ingest`) can list its projections in a different
  * order. The rewrite groups the distinct aggregates in a hash map
  * keyed by expressions whose hashes include their expression ids, so
  * the order follows the JVM's id counter, which [[stableIds]] cannot
  * undo. A diff confined to those blocks is not a plan change.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosAsLong, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    write(spark, sfDir, out)
    spark.stop()
  }

  /** Dump every registered query's formatted plan to `out`. Also
    * called from [[Verify]] at the end of the driver's correctness run
    * — regeneration is part of the round loop, so the audit cannot
    * silently drift from HEAD when operators land (it did in r5:
    * q57/q58/WARC were outside it).
    */
  def write(spark: SparkSession, sfDir: String, out: String): Unit = {
    val sb = new StringBuilder
    sb.append("# Physical plan audit (explain formatted)\n\n")
    sb.append(s"Generated against `$sfDir`. Things to check per plan:\n")
    sb.append("`PushedFilters` non-empty where a filter exists, `ReadSchema` pruned\n")
    sb.append("to used columns, small dims as `BroadcastHashJoin`, aggregates with\n")
    sb.append("`HashAggregate` partial/final pairs, top-k as `TakeOrderedAndProject`.\n\n")
    sb.append("Known nondeterminism: the distinct-aggregate `Expand` of `q46_profile`,\n")
    sb.append("`q53_decontaminate`, `q59_verify`, `q59_warc_links` and `s09_stream_ingest`\n")
    sb.append("can list its projections in a different order between runs (Spark groups the\n")
    sb.append("distinct aggregates by hashes that include expression ids), so a diff\n")
    sb.append("confined to those blocks is not a plan change.\n\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan =
        try stableIds(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode), sfDir)
        catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      sb.append(s"## $name\n\n```\n$plan\n```\n\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
  }

  /** `plan` without what differs between two runs of the same code:
    * - expression ids (`#N`), exchange ids (`plan_id=N`), RDD ids
    *   (`RDD[N]`) and lambda variable names (`lambda x_N`) renumbered
    *   1, 2, … in order of first appearance. The ids count per JVM, so
    *   they shift with everything run before, including whether a
    *   fixture was built or found on disk;
    * - the identity hashes of arrays and lambdas printed as arguments
    *   dropped: they are per object;
    * - the [[BucketedTables]] layout of `sfDir` named without its
    *   source-dir slug and [[SealedDir.keyOf]] key (in the table name
    *   and the layout directory): the key hashes the input files'
    *   mtimes, so a fresh copy of the same data renames every scan;
    * - the line numbers of RDD call sites (`at TextOps.scala:520`)
    *   dropped: any edit above a `localCheckpoint` moves them.
    *
    * Without this every run rewrites nearly every line of the file,
    * and a real plan change drowns.
    */
  private[graft] def stableIds(plan: String, sfDir: String): String = {
    def q(s: String) = java.util.regex.Pattern.quote(s)
    val counters = Seq("#", "plan_id=", "RDD[", "lambda x_", "lambda y_")
    val renumbered = counters.foldLeft(plan) { (text, prefix) =>
      val ids = scala.collection.mutable.HashMap.empty[String, Int]
      s"${q(prefix)}(\\d+)".r.replaceAllIn(text,
        m => prefix + ids.getOrElseUpdate(m.group(1), ids.size + 1))
    }
    val dirKey = BucketedTables.dirKey(sfDir)
    renumbered
      .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "\\$Lambda")
      .replaceAll("(\\[[A-Z]|\\[L[\\w.$]+;)@[0-9a-f]+", "$1@")
      .replaceAll(
        s"(graft_b_\\w+?)_${q(dirKey.replaceAll("[^A-Za-z0-9_]", "_"))}_[0-9a-f]{12}\\b", "$1")
      .replaceAll(
        s"(${q(s"${BucketedTables.Root}/$dirKey/")}[\\w.-]+?)-[0-9a-f]{12}\\b", "$1")
      .replaceAll("( at \\w+\\.scala):\\d+", "$1")
  }
}
