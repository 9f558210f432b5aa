package graft

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.GraphOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The build-once protocol every derived artifact goes through, and
  * the plan-derived key that names it.
  */
class SealedDirSpec extends SparkSpec {

  /** Entries under `parent` other than the build lock files. */
  private def entries(parent: Path): Seq[String] =
    Option(parent.toFile.list()).getOrElse(Array.empty[String])
      .filterNot(_.endsWith(".lock")).toSeq.sorted

  private def isSealed(path: String): Boolean =
    Files.isRegularFile(Paths.get(path, SealedDir.Seal))

  test("two threads asking for the same key run the build once") {
    val parent = SparkSpec.tempDir("graft-sealed-threads")
    val key = SealedDir.digest("threads")
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val asks = (0 until 2).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          start.await()
          SealedDir.getOrBuild(parent.toString, "art", key) { tmp =>
            builds.incrementAndGet()
            Thread.sleep(300)
            Files.writeString(Paths.get(tmp, "v"), "built")
          }
        }
      }))
      start.countDown()
      val paths = asks.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1, s"build ran ${builds.get} times")
      assert(paths.distinct == Seq(SealedDir.pathOf(parent.toString, "art", key)))
      assert(isSealed(paths.head))
      assert(entries(parent) == Seq(s"art-$key"))
    } finally {
      pool.shutdownNow()
      SealedDir.deleteRecursively(parent)
    }
  }

  test("a second JVM blocks on the build lock, then attaches the sealed result without building") {
    val parent = SparkSpec.tempDir("graft-sealed-fork")
    val key = SealedDir.digest("fork")
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    var child: Process = null
    var out: BufferedReader = null
    try {
      val path = SealedDir.getOrBuild(parent.toString, "art", key) { tmp =>
        child = new ProcessBuilder(java, "-cp", sys.props("java.class.path"),
            "graft.SealedDirSpecChild", parent.toString, "art", key)
          .redirectError(ProcessBuilder.Redirect.INHERIT)
          .start()
        out = new BufferedReader(new InputStreamReader(child.getInputStream))
        assert(out.readLine() == "asking", "child did not reach getOrBuild")
        Thread.sleep(1500)
        assert(child.isAlive, "child finished while this JVM held the build lock")
        Files.writeString(Paths.get(tmp, "by"), "parent")
      }
      assert(child.waitFor(120, TimeUnit.SECONDS), "child still blocked after the lock was released")
      val lines = Iterator.continually(out.readLine()).takeWhile(_ != null).toList
      assert(child.exitValue == 0, lines)
      assert(lines == List(path), s"child output: $lines")
      assert(Files.readString(Paths.get(path, "by")) == "parent")
    } finally {
      if (child != null) child.destroyForcibly()
      SealedDir.deleteRecursively(parent)
    }
  }

  test("an unsealed leftover at the final path and stray build dirs are replaced") {
    val parent = SparkSpec.tempDir("graft-sealed-leftover")
    val key = SealedDir.digest("leftover")
    val dest = Paths.get(SealedDir.pathOf(parent.toString, "art", key))
    try {
      Files.createDirectories(dest)
      Files.writeString(dest.resolve("partial"), "half")
      Files.createDirectories(Paths.get(s"$dest.tmp-999999"))
      val path = SealedDir.getOrBuild(parent.toString, "art", key) { tmp =>
        Files.writeString(Paths.get(tmp, "v"), "whole")
      }
      assert(isSealed(path))
      assert(!Files.exists(Paths.get(path, "partial")), "the unsealed leftover survived")
      assert(Files.readString(Paths.get(path, "v")) == "whole")
      assert(entries(parent) == Seq(s"art-$key"))
    } finally SealedDir.deleteRecursively(parent)
  }

  test("a build that throws leaves neither the final directory nor a .tmp sibling") {
    val parent = SparkSpec.tempDir("graft-sealed-throw")
    val key = SealedDir.digest("throw")
    try {
      val e = intercept[IllegalStateException] {
        SealedDir.getOrBuild(parent.toString, "art", key) { tmp =>
          Files.writeString(Paths.get(tmp, "v"), "partial")
          throw new IllegalStateException("build failed")
        }
      }
      assert(e.getMessage == "build failed")
      assert(entries(parent).isEmpty, s"left behind: ${entries(parent)}")
    } finally SealedDir.deleteRecursively(parent)
  }

  test("a sealed directory is returned without calling build") {
    val parent = SparkSpec.tempDir("graft-sealed-hit")
    val key = SealedDir.digest("hit")
    val dest = Paths.get(SealedDir.pathOf(parent.toString, "art", key))
    try {
      Files.createDirectories(dest)
      Files.createFile(dest.resolve(SealedDir.Seal))
      val path = SealedDir.getOrBuild(parent.toString, "art", key) { _ =>
        fail("build ran for a sealed directory")
      }
      assert(path == dest.toString)
      assert(SealedDir.anySealed(parent.toString, "art"))
      assert(!SealedDir.anySealed(parent.toString, "other"))
    } finally SealedDir.deleteRecursively(parent)
  }

  test("deleteRecursively removes a symlink to an outside directory, not the files behind it") {
    val outside = SparkSpec.tempDir("graft-sealed-outside")
    val victim = SparkSpec.tempDir("graft-sealed-victim")
    try {
      Files.writeString(outside.resolve("keep"), "kept")
      Files.writeString(victim.resolve("own"), "gone")
      Files.createSymbolicLink(victim.resolve("link"), outside)
      SealedDir.deleteRecursively(victim)
      assert(!Files.exists(victim, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(Files.readString(outside.resolve("keep")) == "kept",
        "delete followed the symlink into the outside directory")
    } finally {
      SealedDir.deleteRecursively(victim)
      SealedDir.deleteRecursively(outside)
    }
  }

  // each call names a fresh artifact so the JVM-wide plan memo cannot
  // answer it: these tests are about what the key is computed from
  private val probes = new AtomicInteger()
  private def freshKey(df: => DataFrame, params: Any*): String =
    SealedDir.keyOf(sfDir, s"key-probe-${probes.incrementAndGet()}", df, params: _*)

  private def layoutKeys(s: SparkSession): Map[String, String] = Map(
    "lineitem" -> freshKey(BucketedTables.lineitemWithRevPart(s, sfDir),
      "l_orderkey", BucketedTables.Buckets),
    "docs_nd" -> freshKey(Tables.docsWithNearDups(s, sfDir, spread = false),
      "doc_id", BucketedTables.Buckets),
    "host_edges" -> freshKey(GraphOps.edgesOf(Tables.links(s, sfDir)),
      "src", BucketedTables.Buckets),
    "links" -> freshKey(Tables.links(s, sfDir)))

  test("keyOf is equal across sessions after 500 unrelated plans") {
    val first = layoutKeys(spark)
    (0 until 500).foreach { i =>
      spark.range(3).select((col("id") + i).as(s"c$i")).queryExecution.analyzed
    }
    val second = layoutKeys(spark.newSession())
    assert(first == second)
    assert(first.values.toSet.size == first.size, s"distinct recipes share a key: $first")
  }

  test("keyOf changes on a recipe edit, a column rename and a bucket count") {
    val links = Tables.links(spark, sfDir)
    val base = freshKey(GraphOps.edgesOf(links), "src", 32)
    val edited = freshKey(GraphOps.edgesOf(links.withColumn("link_subdomain", lit(""))), "src", 32)
    val renamed = freshKey(GraphOps.edgesOf(links).withColumnRenamed("dst", "target"), "src", 32)
    val rebucketed = freshKey(GraphOps.edgesOf(links), "src", 16)
    assert(freshKey(GraphOps.edgesOf(links), "src", 32) == base)
    assert(Set(base, edited, renamed, rebucketed).size == 4,
      s"base=$base edited=$edited renamed=$renamed rebucketed=$rebucketed")
  }

  test("the ranked store fixture is keyed by its source files, not its sf path") {
    val src = SparkSpec.tempDir("graft-rankstore-src")
    val layouts = Paths.get(BucketedTables.Root, BucketedTables.dirKey(src.toString))
    try {
      Seq("orders", "customer").foreach { t =>
        Files.copy(Paths.get(sfDir, s"$t.parquet"), src.resolve(s"$t.parquet"))
      }
      val before = sources.RankedStoreFixture.dir(spark, src.toString)
      assert(Files.isDirectory(Paths.get(before)))
      val orders = src.resolve("orders.parquet").toFile
      assert(orders.setLastModified(orders.lastModified + 60000))
      val after = sources.RankedStoreFixture.dir(spark, src.toString)
      assert(after != before, "a rewritten orders.parquet re-served the old ranked store")
      assert(Pipeline.hostRanks(spark, after).get.count() > 0)
    } finally {
      SealedDir.deleteRecursively(src)
      SealedDir.deleteRecursively(layouts)
    }
  }
}

/** Child JVM for the cross-process lock spec: announces itself, asks
  * for the artifact, and prints the path it got ("built" first if it
  * had to run the build itself).
  */
object SealedDirSpecChild {
  def main(args: Array[String]): Unit = {
    val Array(parent, name, key) = args
    System.out.println("asking"); System.out.flush()
    val path = SealedDir.getOrBuild(parent, name, key) { tmp =>
      System.out.println("built")
      Files.writeString(Paths.get(tmp, "by"), "child")
    }
    System.out.println(path); System.out.flush()
  }
}
