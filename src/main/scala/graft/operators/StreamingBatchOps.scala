package graft.operators

import graft.{GraftQuery, Tables}
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** §2D registered through the driver contract: the SAME transforms
  * StreamingSpec runs incrementally over MemoryStream are applied here
  * to the batch events table, so the DuckDB oracle certifies the
  * streaming logic's semantics.
  */
object StreamingBatchOps {

  val s01_stream_window: GraftQuery = GraftQuery(
    "s01_stream_window",
    (s, dir) => StreamOps.windowedCounts(Tables.table(s, dir, "events"), watermark = false),
    Some("""SELECT CAST(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS VARCHAR) AS window_start,
           |  event_type, COUNT(*) AS n_events,
           |  ROUND(CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DOUBLE), 6) AS sum_value
           |FROM events
           |GROUP BY 1, 2""".stripMargin)
  )

  val s02_stream_session: GraftQuery = GraftQuery(
    "s02_stream_session",
    (s, dir) => {
      import s.implicits._
      val evs = Tables.table(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
        .as[StreamOps.EvIn]
      StreamOps.sessionize(evs, emitTrailing = true).toDF()
    },
    Some("""WITH e AS (
           |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
           |m AS (
           |  SELECT user_id, us, event_id,
           |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
           |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
           |         THEN 1 ELSE 0 END AS new_s
           |  FROM e),
           |s AS (
           |  SELECT user_id, us,
           |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
           |                     ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM m)
           |SELECT user_id, MIN(us) AS session_start_us, MAX(us) AS session_end_us,
           |  COUNT(*) AS n_events
           |FROM s GROUP BY user_id, sid""".stripMargin)
  )

  /** Batch form of the streaming dedup, over a stream with injected
    * exact duplicates (events ∪ events).
    */
  val s03_stream_dedup: GraftQuery = GraftQuery(
    "s03_stream_dedup",
    (s, dir) => {
      val e = Tables.table(s, dir, "events")
      StreamOps.dedupEvents(e.unionAll(e), streaming = false)
    },
    Some("""SELECT event_type, COUNT(*) AS n_unique_events
           |FROM (
           |  SELECT DISTINCT event_id, event_type FROM (
           |    SELECT event_id, event_type FROM events
           |    UNION ALL
           |    SELECT event_id, event_type FROM events) u) d
           |GROUP BY event_type""".stripMargin)
  )

  /** Batch form of the stream-static enrichment join (s04). */
  val s04_stream_enrich: GraftQuery = GraftQuery(
    "s04_stream_enrich",
    (s, dir) => StreamOps.enrich(
      Tables.table(s, dir, "events"), Tables.table(s, dir, "customer")),
    Some("""SELECT c_nationkey, COUNT(*) AS n_events,
           |  ROUND(CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DOUBLE), 6) AS sum_value
           |FROM events JOIN customer
           |  ON (((user_id % 100) + 100) % 100) + 1 = c_custkey
           |GROUP BY c_nationkey""".stripMargin)
  )

  /** Batch form of the streaming near-dup detector (state starts
    * empty, everything is one batch) — certified by q31's brute-force
    * SimHash oracle, since over a full corpus the accumulated stream
    * output IS the batch pair set. `distinct` collapses cross-chunk
    * repeats (a pair within hamming ≤ 1 can share two buckets).
    */
  val s05_stream_neardup: GraftQuery = GraftQuery(
    "s05_stream_neardup",
    (s, dir) => {
      import s.implicits._
      val chunks = Tables.docsWithNearDups(s, dir)
        .select(col("doc_id"), graft.plans.SimHashSig.of(col("text")).as("sig"))
        .select(col("doc_id"), col("sig"),
          posexplode(graft.plans.SimHashSig.pigeonholeChunks("sig"))
            .as(Seq("chunk_id", "chunk_val")))
        .select(col("chunk_id").cast("int").as("chunk_id"), col("chunk_val"),
          col("doc_id"), col("sig"))
        .as[StreamOps.ChunkDoc]
      StreamOps.nearDupPairs(chunks).toDF().distinct()
    },
    SimilarityOps.q31_simhash.oracle
  )

  /** Batch form of the stream-stream attribution join (s06): the same
    * [[StreamOps.attributePurchases]] plan over the events table split
    * into its click and purchase streams.
    */
  val s06_stream_join: GraftQuery = GraftQuery(
    "s06_stream_join",
    (s, dir) => {
      val e = Tables.table(s, dir, "events")
      StreamOps.attributePurchases(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"),
        streaming = false)
    },
    Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           |  p.user_id AS user_id,
           |  epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) AS lag_us
           |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           |JOIN (SELECT * FROM events WHERE event_type = 'click') c
           |  ON p.user_id = c.user_id
           | AND c.ts >= p.ts - INTERVAL 2 HOURS AND c.ts <= p.ts""".stripMargin)
  )

  /** Batch form of the streaming JSONL delivery (StreamOps
    * .exportStream): the deterministic shard-membership summary —
    * shard = xxhash64(doc_id) mod [[StreamOps.ExportShards]], the
    * batch-agnostic contract a loader consumes. Rows-only (DuckDB has
    * no xxhash64); StreamExportSpec proves the streamed shards union
    * to exactly the one-shot JsonlSink export.
    */
  val s07_stream_export: GraftQuery = GraftQuery(
    "s07_stream_export",
    (s, dir) =>
      Tables.table(s, dir, "documents")
        .withColumn("shard",
          pmod(xxhash64(col("doc_id")), lit(StreamOps.ExportShards.toLong)))
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("total_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard")),
    None // xxhash64 membership has no DuckDB equivalent; StreamExportSpec
  )

  /** s07's DRIVER-GATED companion (q30_verify dump pattern): the
    * per-doc shard assignment — deterministic but xxhash64-based, so
    * DuckDB can't recompute it — dumps to a dir-keyed path as the shard
    * MANIFEST, and the per-shard rollup joins back to the documents
    * table from the dump in BOTH engines. Everything downstream of the
    * hash (membership totals, id ranges) is hash-pinned cross-engine;
    * the streamed-vs-batch shard equality stays in StreamExportSpec.
    */
  val s07_verify: GraftQuery = GraftQuery(
    "s07_verify",
    (s, dir) => {
      val dump = Tables.oracleDumpPath("s07_shards", dir)
      val shards = Tables.table(s, dir, "documents")
        .select(col("doc_id"),
          pmod(xxhash64(col("doc_id")), lit(StreamOps.ExportShards.toLong)).as("shard"))
      shards.write.mode("overwrite").parquet(dump)
      Tables.readBack(shards, dump)
        .join(Tables.table(s, dir, "documents").select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("total_chars"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    },
    Some(
      s"""WITH sh AS (
         |  SELECT doc_id, shard
         |  FROM read_parquet('${Tables.oracleDumpPath("s07_shards", Tables.VerifyDir)}/*.parquet'))
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
         |  MIN(d.doc_id) AS min_doc, MAX(d.doc_id) AS max_doc
         |FROM sh JOIN documents d USING (doc_id)
         |GROUP BY shard""".stripMargin)
  )

  /** Batch form of the trending-hosts query (s08): sliding-window
    * (10 min / 5 min) counts per event type, top-3 per window through
    * the bounded-heap TopKPerGroup. The oracle spells the slide as a
    * union of the two 5-minute bucket assignments (an event is in the
    * window starting at its own 5-min bucket and the one before) and
    * the rank as row_number — semantically identical, physically the
    * formulations the respective engines want.
    */
  val s08_stream_trending: GraftQuery = GraftQuery(
    "s08_stream_trending",
    (s, dir) => StreamOps.trendingTopK(
      StreamOps.trendingCounts(Tables.table(s, dir, "events"), watermark = false)),
    Some("""WITH b AS (
           |  SELECT CAST(ts AS TIMESTAMP) AS t, event_type FROM events
           |), w AS (
           |  SELECT time_bucket(INTERVAL '5 minutes', t) AS ws, event_type FROM b
           |  UNION ALL
           |  SELECT time_bucket(INTERVAL '5 minutes', t) - INTERVAL '5 minutes', event_type FROM b
           |), c AS (
           |  SELECT ws, event_type, COUNT(*) AS n_events FROM w GROUP BY 1, 2
           |)
           |SELECT CAST(ws AS VARCHAR) AS window_start, event_type, n_events
           |FROM (
           |  SELECT ws, event_type, n_events,
           |    row_number() OVER (PARTITION BY ws ORDER BY n_events DESC, event_type) AS rn
           |  FROM c) r
           |WHERE rn <= 3""".stripMargin)
  )

  /** s09: STREAMING SEGMENT INGESTION — the reference importer's
    * standing loop (InitImport → SelectSegmentToImport → import →
    * `.imported` marker) as a manifest-watching Structured Streaming
    * job ([[graft.streaming.SegmentIngest]]; exactly-once = file-source
    * checkpoint × `_IMPORTED` markers). The driver passes only a
    * parquet sfDir, so the watched manifest + WAT segments come from
    * the deterministic [[graft.sources.ManifestFixture]] (q59's
    * pattern), the stream drains it ONCE per JVM temp dir
    * (AvailableNow, cached as a sealed dir), and the query reads the ingested
    * per-segment stores back marker-gated. The post-ingest per-segment
    * link rows dump dir-keyed and BOTH engines roll them up (q59_verify
    * pattern) — so segment isolation (no cross-segment bleed: each
    * segment's deterministic content rolls up to distinct counts) and
    * the aggregation carry a full rows+schema+hash oracle, while
    * stream≡batch store equality and replay-idempotence are pinned in
    * SegmentIngestSpec.
    */
  val s09_stream_ingest: GraftQuery = GraftQuery(
    "s09_stream_ingest",
    (s, dir) => {
      val store = graft.sources.ManifestFixture.ingestedStore(s)
      val dump = Tables.oracleDumpPath("s09_segments", dir)
      val ids = graft.sources.SegmentManifest.completedSegments(s, store).sorted
      val segs = ids.map { id =>
          graft.sinks.LinkStore.read(s,
              s"${graft.sources.SegmentManifest.segmentDir(store, id)}/links")
            .select(lit(id).as("segment"), col("page_host"),
              col("link_domain"), col("qty"))
        }
        .reduce(_ unionByName _)
      segs.write.mode("overwrite").parquet(dump)
      Tables.readBack(segs, dump)
        .groupBy(col("segment"))
        .agg(
          count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("qty")).cast("bigint").as("total_qty"),
          countDistinct(col("link_domain")).as("n_link_domains"),
          countDistinct(col("page_host")).as("n_page_hosts"))
    },
    Some(
      s"""SELECT segment, COUNT(*) AS n_rows,
         |  CAST(SUM(qty) AS BIGINT) AS total_qty,
         |  COUNT(DISTINCT link_domain) AS n_link_domains,
         |  COUNT(DISTINCT page_host) AS n_page_hosts
         |FROM read_parquet('${Tables.oracleDumpPath("s09_segments", Tables.VerifyDir)}/*.parquet')
         |GROUP BY segment""".stripMargin)
  )

  val all: Seq[GraftQuery] =
    Seq(s01_stream_window, s02_stream_session, s03_stream_dedup, s04_stream_enrich,
      s05_stream_neardup, s06_stream_join, s07_stream_export, s07_verify,
      s08_stream_trending, s09_stream_ingest)
}
