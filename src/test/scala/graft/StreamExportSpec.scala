package graft

import graft.sinks.JsonlSink
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** s07 — streaming JSONL delivery: batch-scoped exactly-once shards
  * whose union equals the one-shot [[JsonlSink]] export.
  */
class StreamExportSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("text", StringType)))

  test("s07 streamed shards union to the one-shot export with identical membership") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (b1, b2) = docs.partition(_._1 % 2 == 0)

    val out = SparkSpec.tempDir("sexport").toString + "/corpus"
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamOps.exportStream(
      mem.toDF().toDF("doc_id", "source", "text"), out, shards = 4)
    try {
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    // two batch-scoped dirs, each with one part file per non-empty shard
    val root = new java.io.File(out)
    val batchDirs = root.listFiles().filter(_.getName.startsWith("batch=")).sortBy(_.getName)
    assert(batchDirs.map(_.getName).toSeq == Seq("batch=0", "batch=1"))
    batchDirs.foreach { b =>
      b.listFiles().filter(_.getName.startsWith("shard=")).foreach { s =>
        val parts = s.listFiles().map(_.getName).filter(_.startsWith("part-"))
        assert(parts.length == 1 && parts.head.endsWith(".json.gz"),
          s"${b.getName}/${s.getName}: ${parts.mkString(",")}")
      }
    }

    // union across batches == the one-shot export, with per-doc shard
    // membership IDENTICAL (batch-agnostic routing). basePath makes
    // batch= and shard= partition columns of one logical table.
    def readStreamed() = spark.read.schema(schema).option("basePath", out)
      .json(s"$out/batch=*").withColumn("shard", col("shard").cast("long"))
    val streamed = readStreamed()
    val oneShotDir = SparkSpec.tempDir("oneshot").toString + "/corpus"
    JsonlSink.write(
      Tables.table(spark, sfDir, "documents").select(col("doc_id"), col("source"), col("text")),
      oneShotDir, shards = 4)
    val oneShot = spark.read.schema(schema).json(oneShotDir)
      .withColumn("shard", col("shard").cast("long"))
    def membership(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, String)] =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard"), r.getAs[String]("text"))).toMap
    val (sm, om) = (membership(streamed), membership(oneShot))
    assert(sm == om, "streamed union must equal the one-shot export, shard included")
    assert(sm.size == docs.length)

    // exactly-once on replay: re-exporting a batch overwrites its dir
    // (idempotent naming), leaving the union unchanged
    JsonlSink.write(b2.toSeq.toDF("doc_id", "source", "text"), s"$out/batch=1", shards = 4)
    assert(membership(readStreamed()) == om)
  }
}
