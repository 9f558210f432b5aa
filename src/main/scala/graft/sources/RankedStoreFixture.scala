package graft.sources

import org.apache.spark.sql.SparkSession

/** A published ranked link store derived from one sf dir's links —
  * the on-disk input q69_host_rank_serve needs (the driver can only
  * hand queries a parquet `sfDir`, but rank SERVING reads a store
  * artifact, so the store itself must exist as a fixture).
  *
  * Built once via [[graft.Pipeline.publishRankedStore]] — the REAL
  * production path (lease, generation dir, `_RANKS` bucketed by host)
  * — into a [[graft.SealedDir]] next to the sf dir's bucketed layouts,
  * keyed by [[graft.SealedDir.keyOf]] over the `Tables.links` frame:
  * a regenerated sf dir or an edited links recipe keys a new store
  * instead of serving the old one. The store layout is relocatable
  * (the `_CURRENT` pointer stores a relative generation name), so the
  * seal's rename into place is safe.
  */
object RankedStoreFixture {

  def dir(spark: SparkSession, sfDir: String): String = {
    lazy val links = graft.Tables.links(spark, sfDir)
    val root = graft.SealedDir.getOrBuild(
        s"${graft.BucketedTables.Root}/${graft.BucketedTables.dirKey(sfDir)}", "rankstore",
        graft.SealedDir.keyOf(sfDir, "rankstore", links)) { build =>
      graft.Pipeline.publishRankedStore(spark, links, s"$build/store")
    }
    s"$root/store"
  }
}
