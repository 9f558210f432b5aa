package graft

import graft.sinks.StoreGen
import graft.testfs.CopyRenameFileSystem
import java.nio.file.Files

/** The generation-commit protocol on a RENAME-HOSTILE FileSystem —
  * every rename (Spark's job-commit renames AND StoreGen's pointer
  * swap) is copy+delete, as on an object store. The protocol's claim
  * (StoreGen.scala:9-22) is that only the one-small-file `_CURRENT`
  * swap rides on rename at all, so a non-atomic rename costs a brief
  * pointer-missing window, never a corrupt or partial store — which is
  * exactly what [[StoreGen.resolve]]'s legacy fallback + the serving
  * retry absorb.
  */
class StoreGenHostileFsSpec extends SparkSpec {

  private lazy val root: String = {
    CopyRenameFileSystem.register(spark.sparkContext.hadoopConfiguration)
    s"copydel://${Files.createTempDirectory("sg_hostile")}/store"
  }

  private def writeNums(dir: String, ns: Seq[Int]): Unit = {
    import spark.implicits._
    ns.toDF("n").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def readNums(): Seq[Int] =
    spark.read.parquet(StoreGen.resolve(spark, root))
      .collect().map(_.getInt(0)).sorted.toSeq

  test("publish chain stays readable when every rename is copy+delete") {
    val before = CopyRenameFileSystem.renames.get()
    StoreGen.publish(spark, root, tmp => writeNums(tmp, Seq(1, 2)))
    assert(readNums() == Seq(1, 2))
    // an in-flight reader binds to generation 1...
    val gen1 = StoreGen.resolve(spark, root)
    StoreGen.publish(spark, root, tmp => writeNums(tmp, Seq(3)))
    assert(readNums() == Seq(3))
    // ...and its generation is intact across the next commit's
    // copy+delete pointer swap (kept until one MORE commit)
    assert(spark.read.parquet(gen1).collect().map(_.getInt(0)).sorted.toSeq
      == Seq(1, 2))
    StoreGen.publish(spark, root, tmp => writeNums(tmp, Seq(4)))
    assert(readNums() == Seq(4))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.isInstanceOf[CopyRenameFileSystem], f.getClass.getName)
    assert(!f.exists(new org.apache.hadoop.fs.Path(gen1)),
      "gen-1 pruned after two more commits")
    // the shim actually intercepted the protocol's renames (job
    // commits + three pointer swaps), or this spec proved nothing
    assert(CopyRenameFileSystem.renames.get() > before,
      "copy+delete rename shim was never exercised")
  }

  test("a leased two-delta fold pipeline runs end-to-end on copy+delete renames") {
    // the full production write path — manifest import, lease acquire,
    // segment fold, generation publish, rank maintenance, LinkDb
    // serving — with EVERY rename (Spark job commits, StoreGen's
    // pointer swap, lease tombstones) degraded to copy+delete
    val fixture = new WatSourceSpec {}.fixturePath
    val out = s"copydel://${Files.createTempDirectory("pipe_hostile")}/store"
    val manifest = Files.createTempFile("hostile", ".paths")
    Files.writeString(manifest, fixture + "\n")
    Pipeline.importManifest(spark, manifest.toString, out)
    val f1 = Pipeline.foldSegments(spark, out, maintainRanks = true, rankTol = 1e-9)
    assert(f1.foldedLinks.nonEmpty)
    assert(Pipeline.hostRanks(spark, out).nonEmpty, "ranks artifact published")
    val links1 = Pipeline.links(spark, out).count()
    assert(links1 > 0)
    // second delta: the same segment copied under a new id, re-fold
    val seg2 = Files.createTempDirectory("hostile2").resolve("part.wat.gz")
    Files.copy(java.nio.file.Paths.get(fixture), seg2)
    Files.writeString(manifest, fixture + "\n" + seg2 + "\n")
    Pipeline.importManifest(spark, manifest.toString, out)
    val f2 = Pipeline.foldSegments(spark, out, maintainRanks = true, rankTol = 1e-9)
    assert(f2.foldedLinks.nonEmpty, "second delta folds")
    assert(Pipeline.links(spark, out).count() == links1,
      "duplicate segment compacts to the same store")
    // the folded store serves the API contract through the shim
    val db = Pipeline.linkDb(spark, out, "ext2.co.uk")
    val rows = db.query(graft.api.LinkDbRequest("ext2.co.uk"))
    assert(rows.length == 1 && rows.head.noFollow == 1)
  }

  test("a reader inside the pointer-missing swap window heals by re-resolving") {
    StoreGen.publish(spark, root, tmp => writeNums(tmp, Seq(7)))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(root, "_CURRENT")
    val gen = StoreGen.resolve(spark, root)
    // simulate the mid-swap instant an object store exposes: the old
    // pointer object is deleted, the new one not yet visible
    assert(f.delete(ptr, false))
    // resolve falls back to the root (legacy layout) instead of
    // throwing — a read at this instant sees no data files and the
    // serving layer's retry loop re-resolves; it must NOT crash
    assert(StoreGen.resolve(spark, root) == root)
    // the swap completes (as the tail of commit would) and the next
    // resolve — the serving retry's rebind after the stale read — heals
    val out = f.create(ptr, true)
    try out.write(s"${gen.split('/').last}\n".getBytes("UTF-8")) finally out.close()
    assert(StoreGen.resolve(spark, root) == gen)
    assert(readNums() == Seq(7))
  }
}
