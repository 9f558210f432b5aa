package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Domain-bucketed parquet store for page records — the page-side
  * sibling of [[LinkStore]] (the reference keeps page files next to its
  * link files per segment, importer/main.go savePageFile; its page
  * records feed title/metadata lookups). Same layout contract:
  * `domain_bucket = hash(page_domain) mod NumBuckets` partitions prune
  * domain reads to 1/NumBuckets of the files, in-bucket sort by
  * (page_domain, page_host, page_path) keeps row-group min/max pruning
  * effective for host lookups.
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

  /** Reads resolve the generation pointer first (see StoreGen). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(StoreGen.resolve(spark, path))

  /** eTLD+1-filtered read of the domain's bucket directory only, with
    * partition + row-group pruning (see [[LinkStore.readDomain]]).
    */
  def readDomain(spark: SparkSession, path: String, domain: String): DataFrame =
    LinkStore.readBucket(spark, path, LinkStore.bucketOfDomain(domain))
      .filter(col("page_domain") === domain)
}
