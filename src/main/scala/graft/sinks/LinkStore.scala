package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned parquet store for compacted links — the Spark analogue
  * of the reference's domain-keyed linkdb (cmd/storelinks/main.go loads
  * rows into a domain-indexed collection; queries always filter by one
  * domain, controller.go:134). This is the layout of the MAIN store's
  * generations, which serving reads by domain; a manifest import's
  * per-segment stores are plain parquet (Pipeline.importManifest), like
  * the reference importer's plain per-segment files, and only the fold
  * loads them into this layout. [[read]] reads either.
  *
  * Layout: parquet partitioned by `domain_bucket` =
  * xxhash64(link_domain) mod NumBuckets. A per-domain directory would
  * create tens of millions of tiny partitions at 100 TB; hash-bucketing
  * caps the directory count while still letting every domain-filtered
  * read prune to 1/NumBuckets of the data via partition pruning (the
  * bucket predicate is computable driver-side from the queried domain).
  * Within a bucket, rows are sorted by link_domain so parquet row-group
  * min/max statistics prune the remainder of the scan.
  */
object LinkStore {

  val NumBuckets = 256

  private[graft] def bucketOf(domain: Column): Column =
    pmod(xxhash64(domain), lit(NumBuckets.toLong)).cast("int")

  /** Scala-side mirror of [[bucketOf]] for driver-side pruning: Spark's
    * `xxhash64` is XXH64 seed 42 over the UTF-8 bytes and `pmod` the
    * positive modulo — recomputed here directly, so naming a domain's
    * bucket directory costs no Spark job. The rest of a serving bind
    * is [[StoreGen.readPartitions]]: it lists only that directory and
    * reads the schema from the footer of a file in it, so no bind runs
    * a job. LinkDbSpec pins equality with the Column version.
    */
  def bucketOfDomain(domain: String): Int = {
    val b = domain.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    (((h % NumBuckets) + NumBuckets) % NumBuckets).toInt
  }

  /** Write compacted links bucketed by domain hash. `repartition` on the
    * partition column first: without it every task writes into every
    * bucket directory (tasks × buckets small files — the classic
    * partitionBy mistake); with it each bucket is written by one task.
    * `sortWithinPartitions(link_domain)` orders row groups for min/max
    * pruning on the in-bucket domain filter.
    *
    * `validate = true` re-checks every link_domain at the store
    * boundary ([[validated]]).
    */
  def write(links: DataFrame, path: String, validate: Boolean = false): Unit =
    (if (validate) validated(links) else links)
      .withColumn("domain_bucket", bucketOf(col("link_domain")))
      .repartition(col("domain_bucket"))
      .sortWithinPartitions(col("domain_bucket"), col("link_domain"))
      .write
      .partitionBy("domain_bucket")
      .mode("overwrite")
      .parquet(path)

  /** `links` with every link_domain re-checked at the store boundary:
    * the write FAILS on the first invalid one — the reference's
    * storelinks does the same while loading (`IsValidDomain`,
    * wat.go:613; cmd/storelinks/main.go:74-178), so corrupt upstream
    * data dies loudly instead of poisoning the store. Implemented as a
    * per-row `assert_true` inside a filter (assert returns null on
    * success, so the filter keeps every row and the optimizer cannot
    * prune the check away).
    */
  private[graft] def validated(links: DataFrame): DataFrame =
    links.filter(assert_true(
      graft.functions.UrlFns.isValidHost(col("link_domain")),
      concat(lit("invalid link_domain at store boundary: "),
        col("link_domain"))).isNull)

  /** Reads resolve the generation pointer first (plain dirs — segment
    * stores, pre-migration data — resolve to themselves; see StoreGen),
    * with the schema of a file's footer ([[StoreGen.loadParquet]]).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    StoreGen.loadParquet(spark, StoreGen.resolve(spark, path))

  /** Domain-filtered read: only the domain's bucket directory is listed
    * and read ([[StoreGen.readPartitions]]); the bucket predicate stays
    * a partition filter on that scan and the domain predicate prunes
    * row groups and rows.
    */
  def readDomain(spark: SparkSession, path: String, domain: String): DataFrame =
    readBucket(spark, path, bucketOfDomain(domain)).filter(ofDomain(domain))

  /** [[readDomain]] before anything is read: the listing of the
    * domain's bucket directory and the domain predicate. The serving
    * bind (Pipeline.linkDb) evaluates the predicate over the listing in
    * its own thread, with no Spark job.
    */
  private[graft] def domainBucket(spark: SparkSession, path: String,
      domain: String): (StoreGen.Partitions, Column) =
    (listBucket(spark, path, bucketOfDomain(domain)), ofDomain(domain))

  private def ofDomain(domain: String): Column = col("link_domain") === domain

  /** One `domain_bucket` directory of a link or page store, listed. */
  private[sinks] def listBucket(spark: SparkSession, path: String,
      bucket: Int): StoreGen.Partitions =
    StoreGen.listPartitions(spark, path, "", "domain_bucket", Seq(bucket))
      .get // sub = "": the data of a resolved generation is always present

  /** One `domain_bucket` of a link or page store, bucket predicate kept. */
  private[sinks] def readBucket(spark: SparkSession, path: String, bucket: Int): DataFrame =
    listBucket(spark, path, bucket).frame(spark).filter(col("domain_bucket") === bucket)
}
