package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Domain-bucketed parquet store for page records — the page-side
  * sibling of [[LinkStore]] (the reference keeps page files next to its
  * link files per segment, importer/main.go savePageFile; its page
  * records feed title/metadata lookups). Same layout contract:
  * `domain_bucket = hash(page_domain) mod NumBuckets` partitions prune
  * domain reads to 1/NumBuckets of the files, in-bucket sort by
  * (page_domain, page_host, page_path) keeps row-group min/max pruning
  * effective for host lookups. As with links, only the main store's
  * generations use this layout; a manifest import's per-segment page
  * stores are plain parquet, which [[read]] reads too.
  */
object PageStore {

  def write(pages: DataFrame, path: String): Unit =
    pages
      .withColumn("domain_bucket", LinkStore.bucketOf(col("page_domain")))
      .repartition(col("domain_bucket"))
      .sortWithinPartitions(col("domain_bucket"), col("page_domain"),
        col("page_host"), col("page_path"))
      .write
      .partitionBy("domain_bucket")
      .mode("overwrite")
      .parquet(path)

  /** Reads resolve the generation pointer first (see [[LinkStore.read]]). */
  def read(spark: SparkSession, path: String): DataFrame =
    StoreGen.loadParquet(spark, StoreGen.resolve(spark, path))

  /** eTLD+1-filtered read of the domain's bucket directory only, with
    * partition + row-group pruning (see [[LinkStore.readDomain]]).
    */
  def readDomain(spark: SparkSession, path: String, domain: String): DataFrame =
    LinkStore.readBucket(spark, path, LinkStore.bucketOfDomain(domain))
      .filter(ofDomain(domain))

  /** [[readDomain]] before anything is read, for the serving bind
    * (Pipeline.pageDb; see [[LinkStore.domainBucket]]).
    */
  private[graft] def domainBucket(spark: SparkSession, path: String,
      domain: String): (StoreGen.Partitions, Column) =
    (LinkStore.listBucket(spark, path, LinkStore.bucketOfDomain(domain)), ofDomain(domain))

  private def ofDomain(domain: String): Column = col("page_domain") === domain
}
