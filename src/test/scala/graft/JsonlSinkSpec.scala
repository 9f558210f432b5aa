package graft

import graft.sinks.JsonlSink
import org.apache.spark.sql.functions._
import java.nio.file.Files

class JsonlSinkSpec extends SparkSpec {

  test("JSONL export round-trips byte-exactly and shards deterministically") {
    val docs = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "source", "text")
    val out = SparkSpec.tempDir("jsonl").toString + "/export"
    JsonlSink.write(docs, out, shards = 4)
    // one shard dir per shard id, one gzip part file each
    val shardDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.map(_.getName).toSeq ==
      Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    shardDirs.foreach { d =>
      val parts = d.listFiles().map(_.getName).filter(_.startsWith("part-"))
      assert(parts.length == 1, s"${d.getName}: ${parts.mkString(",")}")
      assert(parts.head.endsWith(".json.gz"), "shards must be gzip")
    }
    // byte-exact round trip: every row survives with identical content
    val back = JsonlSink.read(spark, out, docs.schema)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(md5(concat_ws("\u0000", col("doc_id"), col("source"), col("text"))))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(key(back) == key(docs))
    // deterministic shard membership: a re-export lands every doc in
    // the same shard id regardless of input partitioning
    val out2 = SparkSpec.tempDir("jsonl2").toString + "/export"
    JsonlSink.write(docs.repartition(13), out2, shards = 4)
    def shardOf(dir: String): Map[Long, Long] =
      spark.read.schema(docs.schema).json(dir)
        .select(col("doc_id"), col("shard").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shardOf(out) == shardOf(out2),
      "shard membership must not depend on input partitioning")
  }
}
