package graft

import java.nio.file.Files

import graft.sources.{ManifestFixture, SegmentManifest}
import graft.streaming.SegmentIngest
import org.apache.spark.sql.functions._

class SegmentIngestSpec extends SparkSpec {

  private def segLinks(store: String, id: String) =
    graft.sinks.LinkStore.read(spark,
        s"${SegmentManifest.segmentDir(store, id)}/links")
      .drop("domain_bucket")

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("streamed manifest ingest produces the same stores as batch importManifest") {
    val fixture = ManifestFixture.dir()
    val manifest = s"$fixture/manifest/wat.paths"

    // batch: drain the whole manifest in one call
    val batchOut = SparkSpec.tempDir("ingest-batch").toString
    val stats = Pipeline.importManifest(spark, manifest, batchOut)
    assert(stats.imported.size == ManifestFixture.Segments && stats.remaining.isEmpty)

    // stream: watch the manifest DIRECTORY, AvailableNow drain
    val streamOut = SparkSpec.tempDir("ingest-stream").toString
    val ckpt = SparkSpec.tempDir("ingest-ckpt").toString
    SegmentIngest.start(spark, s"$fixture/manifest", streamOut, ckpt)
      .awaitTermination()

    val ids = SegmentManifest.completedSegments(spark, streamOut).sorted
    assert(ids == SegmentManifest.completedSegments(spark, batchOut).sorted)
    assert(ids.size == ManifestFixture.Segments)
    ids.foreach { id =>
      assert(sortedRows(segLinks(streamOut, id)) == sortedRows(segLinks(batchOut, id)),
        s"segment $id: streamed store diverged from batch store")
      assert(segLinks(streamOut, id).count() > 0, s"segment $id empty")
    }
  }

  test("fragments arriving later import incrementally; replay imports nothing twice") {
    val fixture = ManifestFixture.dir()
    val allLines = Files.readString(java.nio.file.Paths.get(s"$fixture/manifest/wat.paths"))
      .split("\n").filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    assert(allLines.size == ManifestFixture.Segments)

    val watched = SparkSpec.tempDir("ingest-frag").toString
    val out = SparkSpec.tempDir("ingest-incr").toString
    val ckpt = SparkSpec.tempDir("ingest-incr-ckpt").toString

    // fragment 1: first segment only
    Files.writeString(java.nio.file.Paths.get(s"$watched/frag1.paths"), allLines.head + "\n")
    SegmentIngest.start(spark, watched, out, ckpt).awaitTermination()
    val after1 = SegmentManifest.completedSegments(spark, out)
    assert(after1 == Seq(SegmentManifest.segmentId(allLines.head)),
      s"only the first fragment's segment should be imported, got $after1")
    val marker1 = new java.io.File(
      s"${SegmentManifest.segmentDir(out, after1.head)}/${SegmentManifest.Marker}")
    val stamp1 = marker1.lastModified()

    // fragment 2: the remaining segments land while "the importer runs"
    Files.writeString(java.nio.file.Paths.get(s"$watched/frag2.paths"),
      allLines.tail.mkString("", "\n", "\n"))
    SegmentIngest.start(spark, watched, out, ckpt).awaitTermination()
    val after2 = SegmentManifest.completedSegments(spark, out).sorted
    assert(after2.size == ManifestFixture.Segments, s"all segments after fragment 2: $after2")
    assert(marker1.lastModified() == stamp1,
      "segment from fragment 1 must not re-import when fragment 2 arrives")

    // replay: restart with the same checkpoint and no new fragments —
    // the file source's ledger means nothing re-imports
    val stamps = after2.map(id => new java.io.File(
      s"${SegmentManifest.segmentDir(out, id)}/${SegmentManifest.Marker}").lastModified())
    SegmentIngest.start(spark, watched, out, ckpt).awaitTermination()
    val replayStamps = after2.map(id => new java.io.File(
      s"${SegmentManifest.segmentDir(out, id)}/${SegmentManifest.Marker}").lastModified())
    assert(replayStamps == stamps, "replay with a caught-up checkpoint must be a no-op")
  }

  test("marker makes a replayed microbatch idempotent even without the checkpoint") {
    // simulate the crash-between-import-and-offset-commit window: the
    // same manifest lines delivered twice must import once
    val fixture = ManifestFixture.dir()
    val lines = Files.readString(java.nio.file.Paths.get(s"$fixture/manifest/wat.paths"))
      .split("\n").toSeq
    val out = SparkSpec.tempDir("ingest-replay").toString
    val first = SegmentIngest.importLines(spark, lines, out)
    assert(first.size == ManifestFixture.Segments)
    val second = SegmentIngest.importLines(spark, lines, out)
    assert(second.isEmpty, s"replayed lines must import nothing, got $second")
  }

  test("s09 rollup matches the fixture's deterministic shape") {
    val rows = graft.operators.StreamingBatchOps.s09_stream_ingest
      .run(spark, sfDir).collect()
    assert(rows.length == ManifestFixture.Segments)
    rows.foreach { r =>
      // per page: LinksPerPage external links kept, the self link dropped
      assert(r.getAs[Long]("total_qty") ==
        ManifestFixture.PagesPerSegment * ManifestFixture.LinksPerPage, r.toString)
      assert(r.getAs[Long]("n_page_hosts") == ManifestFixture.PagesPerSegment, r.toString)
      // exact distinct ext-domain count from the generator's formula
      val seg = r.getAs[String]("segment").split("\\.")(1).toInt
      val expectDomains = (for {
        i <- 0 until ManifestFixture.PagesPerSegment
        k <- 0 until ManifestFixture.LinksPerPage
      } yield (i * 5 + seg * 7 + k) % ManifestFixture.ExtDomains).toSet.size
      assert(r.getAs[Long]("n_link_domains") == expectDomains, r.toString)
    }
    // segment contents are deterministically DIFFERENT per segment —
    // a cross-segment mix-up would collapse these
    assert(rows.map(_.getAs[Long]("n_link_domains")).toSet.size >= 1)
    assert(rows.map(_.getAs[String]("segment")).toSet.size == ManifestFixture.Segments)
  }
}
