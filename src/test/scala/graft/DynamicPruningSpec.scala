package graft

import graft.sinks.LinkStore
import org.apache.spark.sql.functions._

/** Dynamic partition pruning over the domain-bucketed link store.
  *
  * The serving path prunes STATICALLY (bucketOfDomain is recomputed
  * driver-side, LinkStore.readDomain), which is strictly better when
  * the queried domains are known literals. But the pipeline also joins
  * the store against COMPUTED host sets — "links of the currently
  * top-ranked hosts", "links of the domains some other query
  * surfaced" — where no literal exists at plan time. There Spark's
  * dynamic partition pruning must kick in: the dim side's bucket
  * values run first as a subquery and the fact scan prunes its
  * `domain_bucket=` directories at runtime. This spec pins that the
  * store layout actually triggers DPP (a layout regression — e.g.
  * dropping partitionBy — would silently turn every such join into a
  * full store scan at 100 TB).
  */
class DynamicPruningSpec extends SparkSpec {

  test("a computed domain set prunes the bucketed store scan at runtime") {
    val dir = SparkSpec.tempDir("dppstore").toString
    LinkStore.write(Tables.links(spark, sfDir), s"$dir/links")

    // a COMPUTED dim (no literal domains at plan time): the two most
    // linked domains, derived from the same corpus. The count
    // threshold is the selective predicate Spark's PartitionPruning
    // rule requires on the filtering side (agg+limit alone don't
    // qualify as "likely selective")
    val hot = Tables.links(spark, sfDir)
      .groupBy(col("link_domain").as("d"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .orderBy(col("n").desc, col("d").asc)
      .limit(2)
      .select(col("d"), LinkStore.bucketOf(col("d")).as("db"))

    val fact = LinkStore.read(spark, s"$dir/links")
    val joined = fact.join(broadcast(hot),
      fact("domain_bucket") === col("db") && fact("link_domain") === col("d"))

    // the physical plan must carry a dynamicpruning expression on the
    // fact scan's partition filters
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning in plan:\n$plan")

    // and the result must equal the statically-pruned spelling
    val rows = joined.count()
    val static = hot.collect().map(_.getString(0))
    val expect = static.map(d =>
      LinkStore.readDomain(spark, s"$dir/links", d).count()).sum
    assert(rows == expect && rows > 0, s"DPP join returned $rows, static $expect")
  }
}
