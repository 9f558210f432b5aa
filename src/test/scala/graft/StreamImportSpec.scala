package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

class StreamImportSpec extends SparkSpec {

  test("streamImport ingests WAT files appearing in a watched directory") {
    val fixture = new WatSourceSpec {}.fixturePath
    val watch = SparkSpec.tempDir("watwatch")
    val out = SparkSpec.tempDir("streamstore").toString
    val ckpt = SparkSpec.tempDir("streamckpt").toString
    val q = Pipeline.streamImport(spark, watch.toString, out, ckpt)
    try {
      // drop a segment into the watched dir — note: a gz fixture works
      // because the file-stream text source decompresses by extension
      Files.copy(Paths.get(fixture), watch.resolve("seg-001.warc.wat.gz"),
        StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      assert(Pipeline.streamedLinks(spark, out).count() == 6,
        "first segment's compacted links must land")
      // second segment (same content, new name) streams in as a new batch
      Files.copy(Paths.get(fixture), watch.resolve("seg-002.warc.wat.gz"),
        StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val after = Pipeline.streamedLinks(spark, out)
      assert(after.count() == 12, "per-batch idempotent partitions, cross-batch dups kept")
      // the LinkDb read-time merge collapses the cross-batch duplicates
      val db = new api.LinkDb(after)
      val res = db.query(api.LinkDbRequest("ext2.co.uk"))
      assert(res.length == 1 && res.head.qty == 2,
        "read-time merge must sum the duplicate batches' qty")
      // periodic re-compaction folds the stream into the main store
      Pipeline.compactStream(spark, out)
      val main = Pipeline.linkDb(spark, out, "ext2.co.uk")
        .query(api.LinkDbRequest("ext2.co.uk"))
      assert(main.length == 1 && main.head.qty == 2,
        "compactStream must merge duplicate batches into the main store")
      // a second compactStream now merges the EXISTING main store with
      // the stream: qty doubles (2 stream batches + the folded store's 2)
      Pipeline.compactStream(spark, out)
      val again = Pipeline.linkDb(spark, out, "ext2.co.uk")
        .query(api.LinkDbRequest("ext2.co.uk"))
      assert(again.length == 1 && again.head.qty == 4,
        "existing-store path must read, merge, and overwrite safely")
    } finally q.stop()
  }
}
