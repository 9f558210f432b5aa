package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.{Files, Path}

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {

  /** One root per test JVM for every spec's temp entries, deleted with
    * everything under it when the JVM exits. Build-once fixtures
    * (SealedDir) live elsewhere on purpose: they outlive a run.
    */
  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft-spec-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => SealedDir.deleteRecursively(root)))
    root
  }

  /** A fresh directory under the JVM's spec temp root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tempRoot, prefix)

  /** A fresh empty file under the JVM's spec temp root. */
  def tempFile(prefix: String, suffix: String): Path =
    Files.createTempFile(tempRoot, prefix, suffix)

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosAsLong, "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
