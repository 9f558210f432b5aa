package graft.streaming

import graft.sources.SegmentManifest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** STREAMING segment ingestion — the reference importer's standing
  * loop (cmd/importer/main.go: InitImport → SelectSegmentToImport →
  * import → `.imported` marker, repeated until the manifest is
  * drained) as a Structured Streaming job: a file source WATCHES a
  * manifest directory, every manifest fragment that lands there is
  * discovered exactly once, and each referenced segment imports
  * through the SAME per-segment store protocol as the batch
  * [[graft.Pipeline.importManifest]] (own `segments/<id>` dir,
  * `_IMPORTED` marker last). The streaming twin of the batch call:
  * batch drains a fixed manifest once; this keeps draining as new
  * fragments arrive — the shape of a crawler that publishes
  * wat.paths fragments while the importer runs.
  *
  * Exactly-once is two-layered, and both layers are load-bearing:
  *   - the FILE SOURCE's checkpoint tracks which manifest fragments
  *     have been read, so a restarted stream never re-reads a
  *     processed fragment (the streaming analogue of "the manifest
  *     was consumed");
  *   - the `_IMPORTED` marker per segment makes the import itself
  *     idempotent UNDER REPLAY: a microbatch that died between
  *     importing a segment and committing its offset re-delivers the
  *     fragment, and the marker check skips the completed segment
  *     instead of double-importing it (same contract as the batch
  *     path's restart semantics — and the same reason the marker is
  *     written LAST).
  *
  * The import work runs in `foreachBatch`: a segment import is a
  * store-write PROTOCOL (refine chain → compaction → validated
  * plain segment-store write → marker), not a row-append — so the
  * streaming layer's job is exactly-once file discovery, and the
  * per-segment protocol stays byte-identical with the batch path
  * (one implementation, no drift).
  */
object SegmentIngest {

  /** Import every not-yet-imported segment named by `manifestLines`
    * into `outDir` — the shared per-microbatch (and spec) core.
    * Returns the ids imported by THIS call, in manifest order.
    */
  private[graft] def importLines(
      spark: SparkSession,
      manifestLines: Seq[String],
      outDir: String,
      ignoreDomains: Seq[String] = Nil): Seq[String] = {
    val lines = manifestLines.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .distinct
    val byId = lines.groupBy(SegmentManifest.segmentId)
    val ordered = lines.map(SegmentManifest.segmentId).distinct
    ordered.flatMap { id =>
      if (SegmentManifest.isImported(spark, outDir, id)) None
      else {
        graft.Pipeline.importSegment(spark, byId(id),
          SegmentManifest.segmentDir(outDir, id), ignoreDomains)
        SegmentManifest.markImported(spark, outDir,
          SegmentManifest.Segment(id, byId(id)))
        Some(id)
      }
    }
  }

  /** Start the manifest-watching import stream. `manifestDir` is the
    * watched directory of manifest fragments (text files of WAT
    * paths, `#` comments and blank lines allowed, like wat.paths);
    * `availableNow = true` drains what is currently there and stops
    * (the batch-parity mode the spec and the s09 fixture use), false
    * keeps watching.
    */
  def start(
      spark: SparkSession,
      manifestDir: String,
      outDir: String,
      checkpointDir: String,
      ignoreDomains: Seq[String] = Nil,
      availableNow: Boolean = true): StreamingQuery = {
    val writer = spark.readStream
      .format("text")
      .load(manifestDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // tiny frame (manifest lines, not data): collect is the
        // protocol driver, the segment IMPORT underneath is the
        // fully distributed batch path
        val lines = batch.collect().map(_.getString(0)).toSeq
        importLines(spark, lines, outDir, ignoreDomains)
        ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}
