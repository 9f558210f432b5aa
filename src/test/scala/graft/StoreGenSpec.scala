package graft

import graft.sinks.{LinkStore, PageStore, StoreGen}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}

class StoreGenSpec extends SparkSpec {

  private def writeNums(dir: String, ns: Seq[Int]): Unit = {
    import spark.implicits._
    ns.toDF("n").coalesce(1).write.mode("overwrite").parquet(dir)
  }

  private def readNums(root: String): Seq[Int] =
    spark.read.parquet(StoreGen.resolve(spark, root))
      .collect().map(_.getInt(0)).sorted.toSeq

  test("plain directories resolve to themselves") {
    val root = SparkSpec.tempDir("sg_plain").toString + "/store"
    writeNums(root, Seq(1, 2, 3))
    assert(StoreGen.resolve(spark, root) == root)
    assert(readNums(root) == Seq(1, 2, 3))
  }

  test("publish migrates a legacy plain store and prunes its old files") {
    val root = SparkSpec.tempDir("sg_mig").toString + "/store"
    writeNums(root, Seq(1, 2, 3)) // legacy layout: part files at root
    StoreGen.publish(spark, root, tmp => writeNums(tmp, Seq(4, 5)))
    assert(StoreGen.resolve(spark, root) != root, "pointer must exist now")
    assert(readNums(root) == Seq(4, 5))
    // root now holds ONLY protocol entries (legacy part files pruned;
    // dot-prefixed checksum sidecars of the local FS are exempt)
    val names = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(names.forall(n =>
      n.startsWith("_gen-") || n == "_CURRENT" || n.startsWith(".")), names.toString)
  }

  test("commit keeps the previous generation and prunes older ones") {
    val root = SparkSpec.tempDir("sg_keep").toString + "/store"
    StoreGen.publish(spark, root, tmp => writeNums(tmp, Seq(1)))
    // bind a reader to generation 1 BEFORE the next publishes
    val gen1Dir = StoreGen.resolve(spark, root)
    StoreGen.publish(spark, root, tmp => writeNums(tmp, Seq(2)))
    assert(readNums(root) == Seq(2))
    // generation 1 is still intact for its in-flight reader...
    assert(spark.read.parquet(gen1Dir).collect().map(_.getInt(0)).toSeq == Seq(1))
    // ...until one MORE commit prunes it
    StoreGen.publish(spark, root, tmp => writeNums(tmp, Seq(3)))
    assert(!Files.exists(Paths.get(gen1Dir)), "gen-1 pruned after two more commits")
    val gens = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("_gen-")).toSet
    assert(gens == Set("_gen-2", "_gen-3"), gens.toString)
  }

  test("a crashed prepare leaves the live store untouched and is swept") {
    val root = SparkSpec.tempDir("sg_crash").toString + "/store"
    StoreGen.publish(spark, root, tmp => writeNums(tmp, Seq(1)))
    // prepare writes gen-2 but "crashes" before commit
    val stray = StoreGen.prepare(spark, root, tmp => writeNums(tmp, Seq(99)))
    assert(stray == 2L)
    assert(readNums(root) == Seq(1), "live store unchanged by a prepared-only gen")
    // the next prepare sweeps the stray and reuses its slot
    val next = StoreGen.prepare(spark, root, tmp => writeNums(tmp, Seq(2)))
    assert(next == 2L, "stray generation swept, slot reused")
    StoreGen.commit(spark, root, next)
    assert(readNums(root) == Seq(2))
  }

  test("LinkStore read/readDomain resolve generations transparently") {
    val root = SparkSpec.tempDir("sg_links").toString + "/links"
    val links = operators.LinkCompaction.compact(Tables.links(spark, sfDir))
    StoreGen.publish(spark, root, tmp => LinkStore.write(links, tmp))
    assert(LinkStore.read(spark, root).count() == links.count())
    val viaDomain = LinkStore.readDomain(spark, root, "d3.com")
    assert(viaDomain.count() > 0)
    // partition pruning still reaches the parquet scan inside the gen dir
    val plan = viaDomain.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("domain_bucket"))
  }

  test("a footer schema is the schema spark.read.parquet infers, on every layout") {
    val fixture = new WatSourceSpec {}.fixturePath
    val tables = new java.io.File(Tables.VerifyDir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    assert(tables.size == 10, tables)
    val store = ServingReadSpec.store
    val links = StoreGen.resolve(spark, s"$store/links")
    val tmp = SparkSpec.tempDir("sg_footer").toString
    LinkStore.write(operators.LinkCompaction.compact(Tables.links(spark, sfDir)), s"$tmp/plain")
    Pipeline.importSegment(spark, Seq(fixture), s"$tmp/seg", Nil)
    // a segment left in the bucketed layout by an older import
    LinkStore.write(LinkStore.read(spark, s"$tmp/seg/links"), s"$tmp/old/links")
    PageStore.write(PageStore.read(spark, s"$tmp/seg/pages"), s"$tmp/old/pages")
    val hand = ServingPathSpec.handMade
    val stores = Seq(links, s"$links/_RANKS", StoreGen.resolve(spark, s"$store/pages"),
      s"$tmp/plain", s"$tmp/seg/links", s"$tmp/seg/pages", s"$tmp/old/links", s"$tmp/old/pages",
      StoreGen.resolve(spark, s"$hand/links"), StoreGen.resolve(spark, s"$hand/pages"))
    // Tables.VerifyDir's files are DuckDB-written: no Spark row metadata
    // in their footers; `events` converts under nanosAsLong, which the
    // spec session sets
    assert(spark.conf.get(Tables.NanosAsLong) == "true")
    for (path <- tables ++ stores) {
      val root = new Path(path)
      val file = StoreGen.dataFile(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration), root).get
      val inferred = spark.read.parquet(path).schema
      // the partition directories between the root and the file, which
      // Spark appends as discovered columns
      val discovered = file.getPath.toUri.getPath.stripPrefix(root.toUri.getPath)
        .split('/').filter(_.contains('=')).map(d => inferred(d.takeWhile(_ != '=')))
      assert(StructType(StoreGen.footerSchema(spark, file) ++ discovered) == inferred, path)
    }
  }
}
