package graft

import graft.sinks.StoreGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loaders and shared derived tables.
  *
  * `links` re-creates the reference's compacted-link schema
  * (reference: pkg/linkdb/models.go:8-24, cmd/importer/main.go:42-59)
  * deterministically from the TPC-H-ish testdata, so that every operator
  * over it has a DuckDB-reproducible oracle. At 100 TB the same operators
  * run over real extracted-link parquet with the identical schema.
  *
  * Every table read takes its schema from the footer of the file it
  * reads ([[StoreGen.footerSchema]]): no schema-inference job, and
  * no memo, so a table rewritten in place reads with its new schema.
  */
object Tables {

  /** Session conf the events table needs; our own entry points pass it
    * to the session BUILDER (`.config(Tables.NanosAsLong, "true")`) —
    * the fallback set below only fires for externally built sessions
    * that didn't.
    */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet has shipped as TIMESTAMP(NANOS) in some testdata
    // generations (which vanilla Spark 4 refuses — read nanos as long,
    // convert) and plain TIMESTAMP(MICROS) in others. Handle BOTH by
    // inspecting what the scan actually produced, so a testdata regen
    // can't silently break every events query. The conf is
    // session-global (no per-read option) and must be set before the
    // read: the footer schema converts under it.
    if (name == "events" && spark.conf.get(NanosAsLong, "false") != "true")
      spark.conf.set(NanosAsLong, "true")
    val raw = StoreGen.loadParquet(spark, s"$dir/$name.parquet")
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      // integer `div`, not `/`: epoch-nanos exceed double's exact range,
      // and `/` is double division. Floor-to-micros matches DuckDB's own
      // nanos->micros truncation when it reads the same parquet.
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // micros parquet reads as NTZ; cast to the instant type under the
      // UTC session zone — identical wall-clock values to the nanos
      // path, so every downstream plan and oracle sees one type
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Link fact table derived from orders x customer (dim join is a
    * broadcast at any scale: customer keys are recycled via modulo).
    * Columns mirror the reference's FileLinkCompacted line format.
    */
  def links(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders")
    val c = table(spark, dir, "customer")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select(
        concat(
          lit("d"), (col("c_custkey") % 11).cast("string"),
          when(col("o_orderkey") % 13 === 0, lit(".co.uk")).otherwise(lit(".com"))
        ).as("link_domain"),
        when(col("o_orderkey") % 2 === 0, lit("www")).otherwise(lit("")).as("link_subdomain"),
        concat(lit("/p/"), (col("o_orderkey") % 3).cast("string")).as("link_path"),
        when(col("o_orderkey") % 5 === 0,
          concat(lit("id="), (col("o_orderkey") % 4).cast("string"))
        ).otherwise(lit("")).as("link_rawquery"),
        when(col("o_orderkey") % 2 === 0, lit("2")).otherwise(lit("1")).as("link_scheme"),
        concat(lit("h"), (col("c_custkey") % 5).cast("string"), lit(".example.org")).as("page_host"),
        concat(lit("/a/"), (col("o_orderkey") % 7).cast("string")).as("page_path"),
        when(col("o_orderkey") % 11 === 0,
          concat(lit("x="), (col("o_orderkey") % 3).cast("string"))
        ).otherwise(lit("")).as("page_rawquery"),
        lit("2").as("page_scheme"),
        col("o_orderpriority").as("link_text"),
        when(col("o_orderkey") % 4 === 0, lit(1)).otherwise(lit(0)).as("nofollow"),
        lit(0).as("noindex"),
        col("o_orderdate").cast("date").cast("string").as("date_from"),
        col("o_orderdate").cast("date").cast("string").as("date_to"),
        concat((col("o_orderkey") % 223).cast("string"), lit("."),
          (col("c_custkey") % 251).cast("string"), lit(".0.1")).as("ip"),
        lit(1).as("qty"),
        col("o_orderkey").as("src_key")
      )
  }

  /** DuckDB CTE mirroring [[links]] exactly — prefix for oracle SQL.
    *
    * COUPLING (keep in mind when adding fixture hosts): q20's oracle
    * splits eTLD+1 with a two-suffix rule (`co.uk` else last label)
    * while the Spark side runs the full public-suffix list. They agree
    * only because every host this CTE emits ends in `.com`, `.co.uk`
    * or `.example.org`; a fixture host with any other multi-part or
    * private suffix (e.g. `.github.io`, `.com.au`) would fail the q20
    * gate confusingly. Either keep new hosts on these suffixes or move
    * q20's oracle to declared-expectation VALUES like the PSL vectors.
    */
  val linksCte: String =
    """WITH links AS (
      |  SELECT
      |    'd' || CAST(c_custkey % 11 AS VARCHAR) || (CASE WHEN o_orderkey % 13 = 0 THEN '.co.uk' ELSE '.com' END) AS link_domain,
      |    CASE WHEN o_orderkey % 2 = 0 THEN 'www' ELSE '' END AS link_subdomain,
      |    '/p/' || CAST(o_orderkey % 3 AS VARCHAR) AS link_path,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 'id=' || CAST(o_orderkey % 4 AS VARCHAR) ELSE '' END AS link_rawquery,
      |    CASE WHEN o_orderkey % 2 = 0 THEN '2' ELSE '1' END AS link_scheme,
      |    'h' || CAST(c_custkey % 5 AS VARCHAR) || '.example.org' AS page_host,
      |    '/a/' || CAST(o_orderkey % 7 AS VARCHAR) AS page_path,
      |    CASE WHEN o_orderkey % 11 = 0 THEN 'x=' || CAST(o_orderkey % 3 AS VARCHAR) ELSE '' END AS page_rawquery,
      |    '2' AS page_scheme,
      |    o_orderpriority AS link_text,
      |    CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END AS nofollow,
      |    0 AS noindex,
      |    CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_from,
      |    CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_to,
      |    CAST(o_orderkey % 223 AS VARCHAR) || '.' || CAST(c_custkey % 251 AS VARCHAR) || '.0.1' AS ip,
      |    1 AS qty,
      |    o_orderkey AS src_key
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |)
      |""".stripMargin

  /** The sfDir the driver always verifies at. Oracle-companion queries
    * that dump an intermediate frame for DuckDB to re-read hardcode
    * this dir into their SQL (the q30_verify pattern): the dump path is
    * keyed by input dir, so a Bench run at another scale can never
    * overwrite the verify-scale dump between the Verify pass and the
    * driver's DuckDB pass.
    */
  val VerifyDir = "/root/testdata/sf0.01"

  /** Dir-keyed dump location for oracle-companion intermediates. */
  def oracleDumpPath(name: String, dir: String): String = {
    val norm = dir.replaceAll("/+$", "").replaceAll("[^A-Za-z0-9._-]", "_")
    s"/tmp/graft_oracle/${name}_$norm"
  }

  /** Atomic replace of a dump directory: write to a tmp sibling, then
    * swap it into place with directory RENAMES only. A plain
    * `mode("overwrite")` deletes the target and rewrites part files in
    * place — a concurrent DuckDB reader (baseline sweep vs bench at the
    * same SF) could list a half-written directory. Renaming the live
    * target ASIDE first (rather than deleting it file-by-file in place)
    * shrinks the unsafe window to the gap between two metadata renames:
    * a concurrent glob sees the previous complete dump, the new
    * complete dump, or (worst case, for one syscall's width) a missing
    * directory — never a partially-populated one.
    */
  def atomicParquetDump(df: DataFrame, path: String): Unit = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tmp = path + ".tmp-" + token
    df.write.mode("overwrite").parquet(tmp)
    val target = java.nio.file.Paths.get(path)
    val old = java.nio.file.Paths.get(path + ".old-" + token)
    if (java.nio.file.Files.exists(target))
      java.nio.file.Files.move(target, old)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), target)
    SealedDir.deleteRecursively(old)
  }

  /** Read a just-dumped directory back with the WRITTEN frame's own
    * schema: no footer read and no inference job (a bare read paid
    * ~70 ms of inference, plans/r19/schema_inference_probe.txt).
    */
  def readBack(df: DataFrame, path: String): DataFrame =
    df.sparkSession.read.schema(df.schema).parquet(path)

  /** Planting convention shared by every injected-duplicate fixture
    * (and by the Bench recall probe, which re-derives the planted
    * pairs from these constants): every [[DupEvery]]-th id gets a
    * copy/variant at id + offset.
    */
  val DupEvery = 25
  // offsets sized for sf100 stackings: organic ids stay well under
  // 100M at every generated SF (sf100 doc_id tops out ~5M), so the
  // planted ranges never collide (MakeScale.requireFixtureHeadroom
  // enforces it at build time)
  val ExactDupOffset = 100000000L // docsWithExactDups copies
  val NearDupOffset = 200000000L  // docsWithNearDups Z-variants
  val EmbDupOffset = 100000000L   // embWithNearDups nudged vectors

  /** documents plus injected exact duplicates (doc_id + ExactDupOffset): the
    * deterministic fixture for exact-dedup operators.
    */
  def docsWithExactDups(spark: SparkSession, dir: String): DataFrame = {
    val d = table(spark, dir, "documents")
    d.select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .unionAll(
        d.filter(col("doc_id") % DupEvery === 0)
          .select((col("doc_id") + ExactDupOffset).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
  }

  val docsExactDupsCte: String =
    s"""WITH alldocs AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id + $ExactDupOffset, text, lang, source, n_chars FROM documents WHERE doc_id % $DupEvery = 0
      |)
      |""".stripMargin

  /** documents plus injected NEAR duplicates (doc_id + NearDupOffset): first
    * character replaced by 'Z', so 3-gram shingle Jaccard stays ~0.97
    * while the text hash changes. Length (and n_chars) is preserved so
    * length-blocked pairing keeps original and copy in one block.
    */
  def docsWithNearDups(spark: SparkSession, dir: String,
      spread: Boolean = true): DataFrame = {
    val d = table(spark, dir, "documents")
    val u = d.select(col("doc_id"), col("text"), col("n_chars"))
      .unionAll(
        d.filter(col("doc_id") % DupEvery === 0)
          .select((col("doc_id") + NearDupOffset).as("doc_id"),
            concat(lit("Z"), expr("substring(text, 2)")).as("text"),
            col("n_chars")))
    // the table is one small parquet file = ONE input split; the
    // consumers do heavy per-row signature work, so spread rows
    // across cores first (at crawl scale the many input files make
    // this a no-op-cost safeguard). Consumers whose first shuffle
    // immediately redistributes the derived stream anyway (q66's
    // groupBy of the window hashes dwarfs the per-row md5 work) pass
    // spread=false and keep a single exchange in the whole plan.
    if (spread) u.repartition(spark.sparkContext.defaultParallelism) else u
  }

  /** Embedding dimensionality of the testdata `embeddings` table — part
    * of the dataset contract (all SFs are generated at dim 64). Plans
    * that need the dim (e.g. hyperplane construction) take it from here
    * instead of running a `head()` job at plan-build time.
    */
  val EmbeddingDim = 64

  /** embeddings spread across cores — the single parquet file is one
    * input split, and the ANN consumers do heavy per-row vector math.
    */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)

  /** embeddings plus injected NEAR-duplicate vectors (vec_id + EmbDupOffset):
    * every 25th vector copied with its first component nudged by +0.001,
    * so cosine stays ≈ 1.0 — the deterministic fixture for ANN ops.
    */
  def embWithNearDups(spark: SparkSession, dir: String): DataFrame = {
    val e = table(spark, dir, "embeddings")
    e.select(col("vec_id"), col("embedding"), col("label"))
      .unionAll(
        e.filter(col("vec_id") % DupEvery === 0)
          .select((col("vec_id") + EmbDupOffset).as("vec_id"),
            expr("transform(embedding, (x, i) -> if(i = 0, cast(x + 0.001f as float), x))")
              .as("embedding"),
            col("label")))
      .repartition(spark.sparkContext.defaultParallelism) // one-file input split
  }

  val docsNearDupsCte: String =
    s"""WITH alldocs AS (
      |  SELECT doc_id, text, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id + $NearDupOffset, 'Z' || substr(text, 2) AS text, n_chars FROM documents WHERE doc_id % $DupEvery = 0
      |)
      |""".stripMargin

  /** The host-template line every doc of a source carries (q80's
    * boilerplate plant), parameterized by the source's letters-only
    * name: exactly [[graft.operators.CurationOps]].LineWidth tokens, so
    * it chunks into one whole pseudo-line at position 0.
    */
  val BoilerHeader = "nav home about contact footer copyright rights reserved site "

  /** The RARE planted line (~10% of each source's docs — strictly under
    * q80's majority threshold, so it must survive the strip). Also
    * exactly one pseudo-line wide.
    */
  val BoilerPromo = "subscribe weekly newsletter for updates offers and special deals now"

  /** documents with a per-source template line planted at the head of
    * EVERY doc (host chrome: 100% frequency → boilerplate) and
    * [[BoilerPromo]] after it in ~10% of each source's docs (a repeated
    * but MINORITY line → must be kept). `source = doc_id % 20` in the
    * testdata, so the 10% draw keys on `doc_id div 20` (the within-
    * source index); `doc_id % 10` would hit all-or-nothing per source.
    * Digits in the source name translate to letters because the token
    * alphabet is `[a-z]+`.
    */
  def docsWithBoilerplate(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents").select(
      col("doc_id"), col("source"),
      concat(
        lit(BoilerHeader),
        translate(col("source"), "0123456789", "abcdefghij"),
        when(expr("(doc_id div 20) % 10 = 0"), lit(" " + BoilerPromo))
          .otherwise(lit("")),
        lit(" "), col("text")).as("text"))

  val docsBoilerplateCte: String =
    s"""WITH alldocs AS (
       |  SELECT doc_id, source,
       |    '$BoilerHeader' || translate(source, '0123456789', 'abcdefghij') ||
       |    CASE WHEN (doc_id // 20) % 10 = 0 THEN ' $BoilerPromo' ELSE '' END ||
       |    ' ' || text AS text
       |  FROM documents
       |)
       |""".stripMargin
}
