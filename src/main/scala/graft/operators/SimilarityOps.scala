package graft.operators

import graft.{AnnIndexStore, GraftQuery, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** §2C (continued) — near-duplicate detection and similarity search at
  * scale: MinHash+LSH, SimHash, brute-force + LSH-bucketed cosine ANN,
  * embedding aggregates, multimodal binary-column plumbing.
  *
  * Scale design:
  *   - Candidate generation is always a `groupBy(bucket)` (one shuffle,
  *     map-side partial agg) followed by WITHIN-bucket pair expansion
  *     from a sorted id array — never an O(n²) self-join. Buckets are
  *     capped (`MaxBucket`) so a degenerate hot bucket cannot emit
  *     quadratic pairs; exact verification runs only on candidates.
  *   - Signatures (minhash/simhash) are ROW-LOCAL codegen'd
  *     expressions (`MinHashSig`/`SimHashSig`, real `doGenCode`):
  *     one pass over the string inside the scan stage — no
  *     token/shingle explode, no signature shuffle, and no
  *     higher-order-function lambdas (Spark evaluates HOF lambdas
  *     interpreted, row by row — 10-50× slower in the hot path).
  *     Each shingle is hashed once; the k hash functions are derived
  *     arithmetically (Carter-Wegman `(a*x+b) mod p` over the low 32
  *     bits, which stays overflow-free under ANSI mode).
  */
object SimilarityOps {

  /** Hot-bucket guard: a bucket with more members than this is dropped
    * from candidate generation (at 100 TB a degenerate bucket would
    * otherwise emit |bucket|² pairs). Enforced DURING aggregation by
    * [[graft.plans.BoundedCollectSet]] — per-key buffers never exceed
    * MaxBucket+1 elements, so a degenerate key cannot OOM the reducer
    * it lands on. ONE definition, shared by every bucket site
    * (q30/q31/q34/q41 here, q66 in TextOps, s05's streaming state in
    * StreamOps) so the guard cannot drift per family member.
    */
  private[graft] val MaxBucket = 64

  /** `ids` (sorted array) → all a<b pairs, as structs. */
  private val pairExpr =
    "flatten(transform(ids, (a, i) -> " +
      "transform(slice(ids, i + 2, size(ids)), b -> named_struct('a_id', a, 'b_id', b))))"

  /** Deterministic pseudo-random constants come from the shared
    * splitmix64 mixer (one definition — see graft.plans.Signatures).
    */
  private def splitmix(i: Long): Long = graft.plans.Signatures.splitmix(i)

  // b=6 bands × r=8 rows: P(candidate | jaccard j) = 1-(1-j^8)^6 —
  // ≈1.0 at j=0.97 (the injected dups), 0.52 at j=0.8, 0.10 at j=0.6.
  // The sharp knee matters: real corpora (and this synthetic one) carry
  // a deep reservoir of 0.4-0.6-similar pairs; a lazier curve (b=8,r=4)
  // admits the whole reservoir as candidates and verification goes
  // quadratic. Tuning (b,r) IS the scale lever for MinHash-LSH.
  private val MinhashHashes = 48
  private val MinhashBands = 6
  private val MinhashRows = MinhashHashes / MinhashBands

  /** Distinct 3-gram shingle hashes of `text` (codegen'd expression) —
    * used only for exact-Jaccard verification of candidate pairs.
    */
  private def shingleHashes(text: String): Column =
    graft.plans.ShingleHashes.of(col(text))

  /** MinHash + banded LSH near-dup pairs, exact-Jaccard verified.
    *
    * 48 minhashes per doc (row-local MinHashSig expression) → 6 bands
    * × 8 rows hashed via multi-arg xxhash64 → band-bucket groupBy →
    * within-bucket candidate pairs → exact Jaccard on the candidates
    * only. With b=6,r=8: P(candidate | j) = 1-(1-j⁸)⁶ ≈ 1.0 at j=0.97
    * (the injected dups), 0.52 at 0.8, 0.10 at 0.6 — see the (b,r)
    * tuning note above. Reference analogue: dedup-by-hash in importer
    * (main.go:237-247), generalized to near-dup.
    */
  /** Banded-LSH candidate pairs, pre-verification (the probabilistic
    * half of q30; fully deterministic given the corpus — splitmix
    * constants and xxhash64 are fixed).
    *
    * SIZE-RATIO PREFILTER (r15): J ≥ 0.8 forces the two shingle-SET
    * sizes within ratio 0.8 (J ≤ min/max — the intersection is at
    * most the smaller set, the union at least the larger), so pairs
    * failing the exact integer test `5·min ≥ 4·max` can NEVER survive
    * verification and are dropped at emission. The banded candidate
    * stream is dominated by low-J bucket collisions between docs of
    * unrelated lengths (sf10: 8.7M candidates for 48k verified pairs),
    * and each survivor costs a text-join row plus a shingle recompute
    * in the verify stage — the filter is output-INVARIANT while
    * cutting that bill. The set size rides the bucket rows packed into
    * the doc id's top bits (`sz << 40 | doc_id` — ids stay < 2^40 at
    * every SF, sizes clamp at 2^23 which can only ADMIT extra pairs,
    * never drop one), so BoundedCollectSet's cap/sort semantics are
    * untouched and the sorted array is size-major: `p.a_id` always
    * carries the smaller set size.
    */
  private[graft] def minhashCandidatePairs(s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame = {
    // bucketed corpus (r16): the sketch-screen joins key on doc_id, so
    // the doc_id-bucketed layout feeds them exchange-free
    val base = graft.BucketedTables.docsNearDups(s, dir)
      .select(col("doc_id"), col("text"))
    sketchScreen(base, bandedCandidatePairs(base))
  }

  /** The banding stage alone (pre-screen) — split from
    * [[minhashCandidatePairs]] so SimilaritySpec can prove the sketch
    * screen output-invariant by verifying both frames.
    */
  private[graft] def bandedCandidatePairs(base: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    // signature is ROW-LOCAL via the codegen'd MinHashSig expression:
    // no shingle explode, no signature shuffle — only (doc_id, band)
    // rows ever reach an exchange (see graft.plans.Signatures)
    val sigs = base
      // the packing below is only injective while ids stay inside
      // [0, 2^40) — enforce it AT THE SITE that depends on it (the q34
      // dim-assert pattern), not just via fixture-generation headroom:
      // a violating id would silently corrupt the size screen and
      // could DROP true pairs
      .filter(assert_true(col("doc_id") >= 0 && col("doc_id") < (1L << 40),
        concat(lit("doc_id outside [0, 2^40) breaks sz<<40 packing: "),
          col("doc_id").cast("string"))).isNull)
      .select(
        graft.plans.MinHashSig.of(col("text"), MinhashHashes).as("sig"),
        (shiftleft(least(size(shingleHashes("text")).cast("long"), lit((1L << 23) - 1)), 40)
          + col("doc_id")).as("packed"))
    val bandStructs = (0 until MinhashBands).map { b =>
      val ms = (0 until MinhashRows)
        .map(r => s"element_at(sig, ${b * MinhashRows + r + 1})").mkString(", ")
      s"named_struct('band_id', $b, 'band_hash', xxhash64($ms))"
    }.mkString(", ")
    val bands = sigs.select(col("packed"), explode(expr(s"array($bandStructs)")).as("b"))
      .select(col("packed"), col("b.band_id"), col("b.band_hash"))
    bands
      .groupBy(col("band_id"), col("band_hash"))
      // bounded-buffer collect: hot buckets flip to NULL during the
      // aggregate instead of materializing, then the filter drops them
      .agg(graft.plans.BoundedCollectSet.of(col("packed"), MaxBucket).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(explode(expr(pairExpr)).as("p"))
      // size-major sorted ids ⇒ a's set size ≤ b's; lossless J ≥ 0.8
      // screen, then unpack and re-orient on the raw doc ids
      .filter(expr("5 * shiftright(p.a_id, 40) >= 4 * shiftright(p.b_id, 40)"))
      .select(expr(s"p.a_id & ${(1L << 40) - 1}").as("ua"),
        expr(s"p.b_id & ${(1L << 40) - 1}").as("ub"))
      .select(least(col("ua"), col("ub")).as("a_id"),
        greatest(col("ua"), col("ub")).as("b_id"))
      .distinct()
  }

  /** COUNT-SKETCH SCREEN (r16): the banded candidate mass sits at
    * J 0.5-0.7 (SURVEY.md §7 R16a: 93% of sf1's 707k candidates; 142:1
    * candidate:pair at sf100) and each survivor ships text + pays a
    * per-pair shingle recompute in the verify stage. The 132-byte
    * jaccard_sketch upper-bounds |A ∩ B| per pair (per-bucket min
    * + exact saturation residuals — plans.JaccardSketchExpr), so
    * `jaccard_sketch_pass` drops ONLY pairs that exact verification
    * would provably reject: the final pair set is bit-identical and
    * the q30_verify oracle (which reads the dump this frame becomes)
    * stays intact by construction. At ~143 shingles/doc the 256
    * buckets sit at load ≪ 1 and the bound is nearly exact —
    * everything below J ≈ 0.73 screens out before any text moves.
    * SimilaritySpec proves the invariance by verifying the banded and
    * screened frames to the same pair set.
    */
  private[graft] def sketchScreen(docs: org.apache.spark.sql.DataFrame,
      cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sk = docs.select(col("doc_id"),
      graft.plans.JaccardSketchExpr.of(shingleHashes("text")).as("sk"))
    cand
      .join(sk.select(col("doc_id").as("a_id"), col("sk").as("a_sk")), "a_id")
      .join(sk.select(col("doc_id").as("b_id"), col("sk").as("b_sk")), "b_id")
      .filter(graft.plans.JaccardSketchPass.of(col("a_sk"), col("b_sk")))
      .select(col("a_id"), col("b_id"))
  }

  /** Exact-Jaccard verification over a candidate pair frame (the
    * deterministic half of q30). Delegates to the shared text-shipping
    * verifier ([[TextOps.verifyJaccardPairs]]): candidate pairs
    * checkpoint once, the text frame semi-joins down to pair
    * participants, and shingle arrays are recomputed inside the final
    * projection instead of checkpointed and joined at 8 bytes per
    * character (the shape that ENOSPC'd the sf100 spot-run).
    */
  private[graft] def verifyJaccard(
      s: org.apache.spark.sql.SparkSession, dir: String,
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    TextOps.verifyJaccardPairs(
      graft.BucketedTables.docsNearDups(s, dir)
        .select(col("doc_id"), col("text")), pairs)

  val q30_minhash_lsh: GraftQuery = GraftQuery(
    "q30_minhash_lsh",
    (s, dir) => verifyJaccard(s, dir, minhashCandidatePairs(s, dir)),
    None // LSH banding is not ANSI-SQL-expressible; exactness covered by SimilaritySpec
  )

  /** Dump location for q30_verify's candidate pairs, KEYED BY INPUT
    * DIR: the oracle SQL reads the sf0.01 dump back (the driver always
    * verifies at sf0.01), and keying by dir means a Bench run at
    * another scale can never overwrite the verify-scale candidates
    * between the Verify dump and the driver's DuckDB pass.
    */
  private[graft] def q30CandidateDump(dir: String): String =
    graft.Tables.oracleDumpPath("q30_candidates", dir) // same path as pre-r10

  /** q30's VERIFICATION stage under a full DuckDB oracle. The banding
    * stage is probabilistic-by-design (P(candidate|j=0.8) ≈ 0.52 — a
    * brute-force oracle would flake on false negatives), so it stays
    * rows-only; but the exact-Jaccard arithmetic over the banded
    * candidates is deterministic. This query dumps the candidate pairs
    * to a fixed path, verifies them, and the oracle recomputes exact
    * string-shingle Jaccard over THE SAME dumped candidates — oracling
    * everything downstream of the banding (hash-exact, like q29).
    */
  val q30_verify: GraftQuery = GraftQuery(
    "q30_verify",
    (s, dir) => {
      val dump = q30CandidateDump(dir)
      val cand = minhashCandidatePairs(s, dir)
      cand.write.mode("overwrite").parquet(dump)
      verifyJaccard(s, dir, Tables.readBack(cand, dump))
    },
    Some(Tables.docsNearDupsCte +
      s""", shingled AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
        |                  i -> substr(text, CAST(i AS INTEGER), 3))) AS shingles
        |  FROM alldocs),
        |cand AS (
        |  SELECT a_id, b_id FROM read_parquet('${q30CandidateDump(Tables.VerifyDir)}/*.parquet'))
        |SELECT c.a_id, c.b_id,
        |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |  CAST(len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS jaccard
        |FROM cand c
        |JOIN shingled a ON c.a_id = a.doc_id
        |JOIN shingled b ON c.b_id = b.doc_id
        |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |      CAST(len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) >= 0.8""".stripMargin)
  )

  /** 64-bit SimHash near-dup: per-token 64-bit hashes vote per bit
    * position; sign → signature bit. The 64 per-bit vote sums are one
    * codegen'd hash aggregate over exploded tokens (map-side combine
    * collapses each doc locally — the shuffle carries 64 ints per doc).
    * Near-dups = hamming ≤ 3, found via the two-level pigeonhole (two
    * docs within hamming 3 share at least one exact 28-bit key — see
    * SimHashSig.pigeonholeChunks for the losslessness argument and the
    * bucket-saturation rationale), so candidates come from a
    * key-bucket groupBy instead of all-pairs.
    */
  /** The q31 core over any `(doc_id, text)` frame — also the dedup
    * pass Pipeline.exportCorpus runs on the gated corpus.
    */
  private[graft] def simhashPairs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    // row-local codegen'd signature — no token explode, no vote shuffle
    val sigs = base.select(col("doc_id"),
      graft.plans.SimHashSig.of(col("text")).as("sig"))
    val chunks = sigs.select(col("doc_id"),
      posexplode(graft.plans.SimHashSig.pigeonholeChunks("sig"))
        .as(Seq("chunk_id", "chunk_val")))
    val pairs = chunks
      .groupBy(col("chunk_id"), col("chunk_val"))
      .agg(graft.plans.BoundedCollectSet.of(col("doc_id"), MaxBucket).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(explode(expr(pairExpr)).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .withColumn("hamming", expr("bit_count(a_sig ^ b_sig)"))
      .filter(col("hamming") <= 3)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  val q31_simhash: GraftQuery = GraftQuery(
    "q31_simhash",
    (s, dir) => simhashPairs(Tables.docsWithNearDups(s, dir)),
    // The signature is md5-token-hash based ON PURPOSE so DuckDB can
    // recompute it bit-exactly (two 32-bit halves keep the hex parse
    // inside signed BIGINT) and brute-force hamming ≤ 3 — the
    // pigeonhole bucketing is lossless at that radius, so the banded
    // Spark plan and the brute-force oracle agree on the full pair set.
    // Only modeled divergence: the MaxBucket hot-bucket guard (>64 docs
    // sharing one 28-bit key get dropped); the gate corpus stays far
    // below it — chance key collisions are ~n²/2²⁹ docs per bucket.
    Some(Tables.docsNearDupsCte +
      """, th AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
        |         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM alldocs) t
        |), sigbits AS (
        |  SELECT doc_id, b,
        |         CASE WHEN SUM(CASE WHEN
        |             (CASE WHEN b < 32 THEN lo >> CAST(b AS INTEGER)
        |                   ELSE hi >> CAST(b - 32 AS INTEGER) END) & 1 = 1
        |           THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS sb
        |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bits
        |  GROUP BY doc_id, b
        |), ham AS (
        |  SELECT a.doc_id AS a_id, c.doc_id AS b_id,
        |         SUM(CASE WHEN a.sb <> c.sb THEN 1 ELSE 0 END) AS hamming
        |  FROM sigbits a JOIN sigbits c ON a.b = c.b AND a.doc_id < c.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a_id, b_id, CAST(hamming AS INT) AS hamming
        |FROM ham WHERE hamming <= 3""".stripMargin)
  )

  // cosine/norm on CORPUS-sized frames use the codegen'd
  // plans.CosineSim / plans.VecNorm (bit-identical fold order — see
  // VectorOps.scala); the HOF spelling below survives only for
  // query-side work where |Q| rows make interpretation irrelevant
  private def normExpr(c: String) =
    s"sqrt(aggregate(transform($c, x -> cast(x as double) * cast(x as double)), " +
      "cast(0 as double), (acc, v) -> acc + v))"

  /** Brute-force cosine top-k ANN baseline: the exact answer the LSH
    * path (q34) approximates. Queries are broadcast, candidates stream;
    * per-query top-k through the bounded-heap TopKPerGroup operator
    * (rank emitted from the final heap drain) — the window formulation
    * would shuffle EVERY scored candidate onto |Q| reducer tasks and
    * full-sort them, a skewed-key shuffle by construction; the heap
    * plan moves ≤ k rows per query per partition. At 100 TB the
    * candidate scan is embarrassingly parallel and never shuffles.
    */
  val q32_cosine_topk: GraftQuery = GraftQuery(
    "q32_cosine_topk",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val cand = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      val scored = cand.join(broadcast(qs), col("n_id") =!= col("q_id"))
        .withColumn("cosine",
          graft.plans.CosineSim.of(col("q_emb"), col("n_emb")))
      graft.plans.TopKPerGroup(scored,
        Seq(col("q_id")), Seq(col("cosine").desc, col("n_id")), 10, rank = Some("rank"))
        .select(col("q_id"), col("n_id"), col("rank"), round(col("cosine"), 6).as("cosine"))
    },
    None // float-order across engines; exactness covered by SimilaritySpec
  )

  // ---- quantized-cosine verify companions (q32/q40/q73) -------------
  //
  // The float ANN queries stay rows-only (cross-engine float ORDERING
  // is not a contract worth pinning), but the scoring + top-k-selection
  // arithmetic is deterministic: both engines promote float→double
  // exactly and IEEE doubles make each +, sqrt, / identically rounded.
  // That Spark's `aggregate` fold and DuckDB's `list_sum` also SUM IN
  // THE SAME ORDER is an empirical observation (summation order is an
  // engine implementation detail) pinned by the hash gate itself — a
  // DuckDB version that re-associates its list_sum would surface as a
  // ±1-unit flip at an exact 1e-9 quantization boundary and turn these
  // gates red (fails closed; re-pin against the new engine if so).
  // Quantizing the score to BIGINT units of 1e-9 (truncating floor —
  // the q51_verify pattern) and ranking on the INTEGER (ties → n_id)
  // turns the whole top-k into integer arithmetic the driver can
  // hash-compare against DuckDB.

  /** `floor(cosine(q_emb, n_emb) * 1e9)` as BIGINT. */
  private def cosqCol: Column =
    floor((graft.plans.CosineSim.of(col("q_emb"), col("n_emb"))) * lit(1e9))
      .cast("bigint")

  /** The DuckDB spelling of [[cosqCol]] over two FLOAT[] columns. */
  private def cosqSql(q: String, n: String): String =
    s"""CAST(floor(
       |    list_sum(list_transform(list_zip($q, $n),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform($q, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform($n, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
       |    * 1e9) AS BIGINT)""".stripMargin

  /** Quantized exact top-10 over a (q_id, n_id) candidate frame, with
    * rank decided on the integer score — shared by all three verify
    * companions (q32 feeds it the full cross product, q40/q73 their
    * dumped candidate sets).
    */
  private def quantizedTopK(e: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val scored = pairs
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), "q_id")
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")), "n_id")
      .withColumn("cosq", cosqCol)
    graft.plans.TopKPerGroup(scored,
      Seq(col("q_id")), Seq(col("cosq").desc, col("n_id")), 10, rank = Some("rank"))
      .select(col("q_id"), col("n_id"), col("rank"), col("cosq"))
  }

  /** The shared SQL tail: quantized score + row_number top-10 over a
    * `cand(q_id, n_id)` CTE the caller prepends.
    */
  private def quantizedTopKSql: String =
    s""",
       |s AS (
       |  SELECT c.q_id, c.n_id,
       |    ${cosqSql("q.embedding", "n.embedding")} AS cosq
       |  FROM cand c
       |  JOIN embeddings q ON c.q_id = q.vec_id
       |  JOIN embeddings n ON c.n_id = n.vec_id)
       |SELECT q_id, n_id, rank, cosq FROM (
       |  SELECT q_id, n_id, cosq,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosq DESC, n_id) AS INT) AS rank
       |  FROM s) r
       |WHERE rank <= 10""".stripMargin

  /** q32's DRIVER-GATED companion: the same brute-force scoring and
    * per-query top-10, quantized — a full rows+schema+hash oracle under
    * the exact-ANN baseline (float q32 stays rows-only).
    */
  val q32_verify: GraftQuery = GraftQuery(
    "q32_verify",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val pairs = e.select(col("vec_id").as("n_id"))
        .join(broadcast(e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"))),
          col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"))
      quantizedTopK(e, pairs)
    },
    Some(
      """WITH cand AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id
        |  FROM embeddings n
        |  JOIN (SELECT vec_id FROM embeddings WHERE vec_id < 5) q
        |    ON n.vec_id <> q.vec_id)""".stripMargin + quantizedTopKSql)
  )

  /** Vector aggregates: per-label count, total dim, and an exact sum of
    * per-row rounded norms (row-local double math → round(…,4) →
    * DECIMAL sum, so the cross-row aggregation is order-independent).
    */
  val q33_embed_stats: GraftQuery = GraftQuery(
    "q33_embed_stats",
    (s, dir) =>
      Tables.table(s, dir, "embeddings")
        .select(col("label"), size(col("embedding")).as("dim"),
          round(graft.plans.VecNorm.of(col("embedding")), 4).as("norm_r"))
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_vecs"),
          sum(col("dim")).cast("bigint").as("total_dim"),
          sum(col("norm_r").cast("decimal(20,4)")).cast("double").as("sum_norm"),
          max(col("norm_r")).as("max_norm"),
          min(col("norm_r")).as("min_norm")),
    Some("""SELECT label, COUNT(*) AS n_vecs,
           |  CAST(SUM(dim) AS BIGINT) AS total_dim,
           |  CAST(SUM(CAST(norm_r AS DECIMAL(20,4))) AS DOUBLE) AS sum_norm,
           |  MAX(norm_r) AS max_norm, MIN(norm_r) AS min_norm
           |FROM (
           |  SELECT label, len(embedding) AS dim,
           |    round(sqrt(list_sum(list_transform(embedding,
           |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm_r
           |  FROM embeddings) t
           |GROUP BY label""".stripMargin)
  )

  /** 3 bands (r16, was 2): the first sf100 recall row caught the gate
    * red — 0.867 against the ≥ 0.9 bar at 20.8M vectors. The misses
    * were hot-bucket CAP drops, not plane sign-flips (at 20 planes a
    * cos ≈ 0.9999 planted pair splits a band with p ≈ 0.086, so
    * 2-band sign recall alone is 0.993): real corpora skew, so
    * occupancy-tail buckets blow past [[MaxBucket]] and tombstone
    * their pairs. The fix pairs two levers: [[lshPlanesFor]] now
    * targets ~8 expected occupancy (8× headroom to the cap under
    * skew) and the third band restores what the extra planes cost in
    * band-split recall (1 − (1−0.9)³ ≈ 0.999 at the planted cosine).
    * Measured after the change: recall 1.0 at sf10 AND sf100.
    */
  private val LshBandsCos = 3

  /** Hyperplanes PER BAND, sized to the corpus: 2^planes buckets per
    * band must keep expected occupancy (n / 2^planes) safely under the
    * [[MaxBucket]] hot-bucket cap, or the cap silently drops MOST
    * buckets and recall collapses — exactly what the first sf1 bench
    * recorded (8 fixed planes = 256 buckets; 20k vectors → ~80/bucket
    * > 64 → planted-pair recall 0.36). planes = log2(n/8) targets ~8
    * occupancy — 8× headroom to the cap, because occupancy is a TAIL
    * question, not a mean: the first sf100 row showed ~32-mean
    * occupancy still tombstones enough skewed buckets to fail the 0.9
    * recall gate (0.867 at 20.8M vectors). The floor keeps every
    * scale ≤ sf0.1 on the original 8-plane behavior. Recall for true
    * near-dups is plane-count-insensitive per band (a cos≈1 pair
    * flips a plane with probability θ/π ≈ 0) but compounds across a
    * band's planes — [[LshBandsCos]] carries the compensation — so
    * more planes only cut the false-candidate reservoir: this is THE
    * (b,r)-style scale lever for hyperplane LSH, and it must grow
    * with log(corpus).
    */
  private[graft] def lshPlanesFor(n: Long): Int =
    math.max(8, math.ceil(math.log(n / 8.0) / math.log(2)).toInt)

  /** Corpus-size memo for index sizing, keyed by dir: q34 and q73 (and
    * their verify companions, which rebuild the same frames) would
    * otherwise each re-run the count job at every plan construction.
    * Semantically transparent for a given dir — the testdata dirs are
    * immutable within a session.
    */
  private val embCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def embCount(s: org.apache.spark.sql.SparkSession, dir: String): Long =
    embCountCache.computeIfAbsent(dir, _ => Tables.table(s, dir, "embeddings").count())

  /** Dir-keyed caches for the bounded kmeans-training sample and the
    * driver-side Lloyd fits (r16, the embCountCache pattern): the IVF
    * and PQ production paths — and q83, which runs BOTH plus their
    * gates in one query — each re-ran the sample collect and the
    * O(sample × cells × iters) driver Lloyd per plan construction.
    * Pure functions of an immutable dir (sample is id-ordered, Lloyd
    * is deterministic), so caching is semantically transparent; a
    * warehouse would persist the fitted index at ingest.
    */
  private val embSampleCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private val ivfFitCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), IvfIndex]()
  private val pqFitCache =
    new java.util.concurrent.ConcurrentHashMap[String, PqCodebook]()

  private def embSampleFor(s: org.apache.spark.sql.SparkSession, dir: String): Array[Array[Double]] =
    embSampleCache.computeIfAbsent(dir, _ => embSample(Tables.embeddings(s, dir)))

  private val ivfFineCache =
    new java.util.concurrent.ConcurrentHashMap[String, IvfIndex]()

  /** Every constant that shapes the fitted artifact — part of the
    * `_ANN_INDEX` key, so ANY fit-recipe change (including a
    * sys-prop kc-cap override) keys a fresh artifact instead of
    * silently loading one fit under the old recipe.
    */
  private def annRecipe: String =
    s"annindex:v1:coarse=$IvfCells/$IvfSample/$IvfIters" +
      s":fine=$FineSampleStride/$FineOccupancy/$FineKcCap" +
      s":calib=${ProbeLadder.mkString("_")}/${CalibQueries}x2/$CalibBar" +
      s":pq=$PqSub/$PqK/$PqIters"

  private def ivfFitFor(s: org.apache.spark.sql.SparkSession, dir: String): IvfIndex = {
    val n = embCount(s, dir)
    val k = ivfCellsFor(n)
    if (!fineEngagedFor(n))
      ivfFitCache.computeIfAbsent((dir, k), _ => fitIvfK(embSampleFor(s, dir), k))
    else ivfFineCache.computeIfAbsent(dir, _ => {
      // fit ONCE per corpus, cross-session: a sealed `_ANN_INDEX`
      // artifact loads in ~a second where the fine fit + calibration
      // is an O(corpus) job (37-65 s at sf100) — the fit happens at
      // ingest (first touch), every later session reads the store
      val art = AnnIndexStore.loadOrFit(s, dir, annRecipe) {
        val coarse =
          ivfFitCache.computeIfAbsent((dir, k), _ => fitIvfK(embSampleFor(s, dir), k))
        val e = Tables.embeddings(s, dir)
        val fine0 = fitFineLevelFrame(s, e, coarse)
        val den = calibrateProbeDen(s, e, coarse.copy(fine = Some(fine0)))
        AnnIndexStore.Artifact(coarse.copy(fine = Some(fine0.copy(probeDen = den))),
          pqFitFor(s, dir))
      }
      pqFitCache.putIfAbsent(dir, art.pq): Unit
      art.idx
    })
  }

  /** Test hook: forget every dir-keyed fit memo for `dir`, simulating
    * a fresh session (the `_ANN_INDEX` load path is then the only way
    * back to a fine index without re-fitting).
    */
  private[graft] def dropFitMemosForTest(dir: String): Unit = {
    ivfFineCache.remove(dir): Unit
    pqFitCache.remove(dir): Unit
    embSampleCache.remove(dir): Unit
    embCountCache.remove(dir): Unit
    ivfFitCache.keySet.removeIf(_._1 == dir): Unit
  }

  /** The fine level engages once the corpus is 2× past the coarse
    * cap's ~512-occupancy point (n > 2 · 256 · 512 ≈ 262k): below
    * that, coarse cells are already ≤ ~1024 and the extra level buys
    * nothing — and every SF ≤ sf1 keeps the r12-tuned single-level
    * behavior bit-identical.
    */
  private[graft] def fineEngagedFor(n: Long): Boolean =
    n / 512L > 2L * (IvfSample / 8) &&
      sys.props.get("graft.ivf.fine").forall(_.toBoolean)

  /** Stride for the fine fit's corpus sample: every 8th vector gives
    * ~64 sample points per target fine cell (8× the driver-Lloyd
    * ≥8-points/centroid quality bound), while keeping the fit's
    * shuffle at n/8 rows — a bounded, deterministic training job, not
    * a second corpus pass per query (dir-memoized like the coarse
    * fit).
    */
  private val FineSampleStride = 8L
  private val FineOccupancy = 512.0

  /** Hot-cell guard budgets for the fine fit (r19 — the r18 verdict's
    * one `weak`): the per-coarse-cell Lloyd sub-fit costs
    * |trainRows| · kc · dim · iters inside ONE task, and both factors
    * grow with the cell's corpus mass share — a cell holding fraction
    * f of n pays ∝ f²·n², so a near-duplicate-heavy corpus that
    * concentrates half its embedding mass in one coarse cell would
    * wedge a single executor thread for hours while every other task
    * finishes. The guard bounds both factors: kc ≤ [[FineKcCap]]
    * (occupancy degrades gracefully — a cell only hits the cap past
    * ~[[FineKcCap]]·512 = 2M members, where its fine cells then hold
    * members/kc > 512 each) and training rows ≤ [[FineFitRowsCap]] =
    * 8·kcCap (the ≥8-points-per-centroid driver-Lloyd quality floor at
    * the cap; uncapped cells keep their full 64-points-per-centroid
    * sample). Worst per-task bill is then ≤ 32768·4096·dim·10 ≈ 8.6e10
    * flops — ~a minute, once, at fit time — independent of corpus
    * size or skew. Neither bound engages below 32768 sample rows
    * (262k members) in one cell, so every corpus whose mass spreads
    * evenly — including all test SFs and the clustered control — fits
    * bit-identically to the unguarded spelling.
    */
  private[graft] def FineKcCap: Int =
    sys.props.get("graft.ivf.fineKcCap").map(_.toInt).getOrElse(4096)
  private[graft] def FineFitRowsCap: Int = 8 * FineKcCap

  /** Fit-side pressure gauge (the cap-pressure-gauge posture applied
    * to the FIT path): how concentrated the coarse-cell masses were,
    * recorded so an over-full cell is a visible number on q83's output
    * before it is ever a wedged task. `cappedCells` counts cells whose
    * training rows were decimated; `maxCellSample` is the hottest
    * cell's stride-sample mass (share = maxCellSample/totalSample).
    */
  private[graft] final case class FitPressure(cells: Long, cappedCells: Long,
      maxCellSample: Long, totalSample: Long)
  private[graft] object FitPressure {
    val zero: FitPressure = FitPressure(0L, 0L, 0L, 0L)
  }

  /** Distributed per-coarse-cell spherical Lloyd — the k ∝ n fit the
    * driver sample can't support (256 cells × ≥8 points caps k at
    * 256; at sf100 that left 81k vectors per cell). Each coarse cell
    * fits its own sub-quantizer with k_c = ceil(occupancy/512) over
    * its members of the stride sample, independently and in parallel
    * (mapGroups: ≤ ~10k sample rows per group at sf100, and ≤
    * [[FineFitRowsCap]] ALWAYS — the hot-cell guard decimates
    * over-full cells before the group materializes, see
    * [[FineKcCap]]). Determinism:
    * the stride sample is id-keyed, groups sort by vec_id before the
    * fit, and lloydCentroids is RNG-free — same corpus, same index.
    * Coarse cells with no sample rows keep the coarse centroid as
    * their single fine child, so assignment is total.
    */
  private[graft] def fitFineLevelFrame(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame, coarse: IvfIndex): FineLevel = {
    import s.implicits._
    val dim = coarse.cents.head.length
    val sampled = e.filter(col("vec_id") % FineSampleStride === 0)
    val assigned = coarse.assignCell(sampled)
      .select(col("cell"), col("vec_id"), col("embedding"))
    // hot-cell guard, pass 1: per-cell stride-sample masses (≤ |coarse|
    // rows — a bounded collect). Decimating OVER-FULL cells BEFORE the
    // group materializes bounds both the Lloyd flops and the per-task
    // memory (`rows.toArray` of an unguarded hot cell would hold that
    // cell's whole sample in one task's heap). Thinning keeps every
    // FineFitRowsCap-th stride row by the id the stride sample is
    // keyed on — row-local, deterministic, and a no-op frame (not just
    // a no-op filter) when no cell is over budget.
    // budgets pinned driver-side once (sys-prop overrides must not be
    // re-read inside the task closure on a real cluster)
    val rowsCap = FineFitRowsCap
    val kcCap = FineKcCap
    val cellCounts: Map[Int, Long] = assigned.groupBy(col("cell")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val strides: Map[Int, Int] = cellCounts.map { case (c, cnt) =>
      c -> (1L + (cnt - 1) / rowsCap).toInt
    }
    val decimated =
      if (strides.values.forall(_ == 1)) assigned
      else assigned.filter(pmod(expr(s"vec_id div $FineSampleStride"),
        element_at(typedLit(strides), col("cell"))) === 0)
    val fits = decimated
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .mapGroups { (cell, rows) =>
        val all = rows.toArray.sortBy(_._2)
        // exact in-group backstop: the modulo thinning above is only
        // approximate when a hot cell's vec_ids are not uniform mod
        // its stride — re-stride to the cap so the flop bound is hard
        val st = 1 + (all.length - 1) / rowsCap
        val kept = if (st == 1) all
          else Array.tabulate((all.length + st - 1) / st)(i => all(i * st))
        val sample = kept.map(_._3.map(_.toDouble))
        // kc from the cell's TRUE sample mass (pre-decimation), so the
        // ~512-occupancy sizing is unaffected by the training thinning
        val kc = math.min(sample.length, math.min(kcCap,
          math.max(1, math.ceil(cellCounts(cell) * FineSampleStride /
            FineOccupancy).toInt)))
        (cell, lloydCentroids(sample, kc).flatten)
      }
      .collect()
      .map(f => f._1 -> f._2).toMap
    val cents = Array.tabulate(coarse.n)(c =>
      fits.getOrElse(c, coarse.cents(c).toArray))
    val norms = cents.map { flat =>
      val kc = flat.length / dim
      Array.tabulate(kc) { j =>
        var ss = 0.0
        var i = 0
        while (i < dim) { val v = flat(j * dim + i); ss += v * v; i += 1 }
        math.sqrt(ss)
      }
    }
    val offsets = norms.scanLeft(0)(_ + _.length).dropRight(1)
    val press =
      if (cellCounts.isEmpty) FitPressure.zero
      else FitPressure(cellCounts.size.toLong,
        cellCounts.values.count(_ > rowsCap).toLong,
        cellCounts.values.max, cellCounts.values.sum)
    FineLevel(offsets, cents, norms, fitPress = press)
  }

  /** Calibration ladder for the fine probe fraction, cheapest first
    * (denominators of the fine-cell count). The worst-case 1/2 law is
    * the implicit last rung.
    */
  private val ProbeLadder = Seq(64, 32, 16, 8, 4)
  private val CalibQueries = 16
  /** Calibration bar: ≥ 98% of the 160 calibration top-10 slots must
    * hit the exact answer before a cheaper fraction is accepted — an
    * ~8-point margin over the gate's 0.9 so a different query draw
    * cannot straddle the gate. On the isotropic testdata the curve
    * reads 0.84 at 1/4 (TRIALS_r18.json), so every rung fails and the law
    * stays 1/2; on the clustered control the first rung passes.
    */
  private val CalibBar = 0.98

  /** Fit-time probe-fraction calibration (r18): the needed fraction is
    * a property of the DATA — measured 1/2 on the isotropic testdata
    * vs 1/64 on the clustered control, a 23× spread (TRIALS_r18) — so
    * a static law either overpays on clustered corpora or risks the
    * gate on adversarial ones. This measures the actual recall curve
    * once per corpus at fit time: exact quantized top-10 for
    * [[CalibQueries]] deterministic calibration queries (disjoint
    * from the bench queries — vec_id ≥ 1000), then the probed top-10
    * up the ladder until [[CalibBar]] holds, and (r19) a DISJOINT
    * hold-out draw that must confirm the chosen rung before it is
    * trusted — a lucky 16-query draw falls back denser instead of
    * under-probing until the next fit. Cost is O(corpus) dots for the
    * exact pass (×2 only when a rung passed at all) plus
    * fraction-proportional probe passes, dir-memoized with the fit
    * itself; everything is deterministic (id-ordered draws, quantized
    * integer scoring).
    */
  /** Spec/probe handle for [[calibrateProbeDen]]. */
  private[graft] def probeCalibrate(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame, idx: IvfIndex): Int =
    calibrateProbeDen(s, e, idx)

  private def calibrateProbeDen(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame, idx: IvfIndex): Int = {
    val f = idx.fine.get
    // two DISJOINT deterministic draws (r19): the rung is chosen on
    // the primary draw exactly as in r18 (the first CalibQueries ids ≥
    // 1000 — bit-identical choice), then must ALSO clear the bar on a
    // held-out draw (the next CalibQueries ids) before it is trusted:
    // 16 queries can get lucky on a rung, and a lucky rung under-probes
    // every production query until the next fit. A rung that fails the
    // hold-out falls back one rung DENSER, repeatedly, to the
    // worst-case 1/2 law if the whole tail fails. The hold-out costs
    // one extra exact pass + a few cheap-fraction probe passes, and
    // ONLY on corpora where some rung passed at all (the isotropic
    // fallback pays nothing).
    val ids = e.filter(col("vec_id") >= 1000).orderBy(col("vec_id"))
      .limit(CalibQueries * 2)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val (primIds, holdIds) = ids.splitAt(CalibQueries)
    def draw(sel: Array[Long]) =
      e.filter(col("vec_id").isInCollection(sel))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .localCheckpoint(true)
    def idSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      quantizedTopK(e, df).select(col("q_id"), col("n_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def exactOf(qs: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      idSet(e.select(col("vec_id").as("n_id"))
        .join(broadcast(qs.select(col("q_id"))), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id")))
    val assigned = idx.assignCell(e)
      .select(col("vec_id").as("n_id"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def passes(den: Int, qs: org.apache.spark.sql.DataFrame,
        exact: Set[(Long, Long)]): Boolean = {
      val m = math.min(f.total,
        math.max(IvfProbes, math.ceil(f.total.toDouble / den).toInt))
      val probed = qs.withColumn("cell",
          explode(graft.plans.TopCells.of(col("q_emb"), f.flatCents,
            f.flatNorms, m, idx.cents.head.length)))
        .select(col("q_id"), col("cell"))
      val cand = assigned.join(broadcast(probed), "cell")
        .filter(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"))
      val hits = idSet(cand).count(exact.contains)
      hits * 100 >= exact.size * math.round(CalibBar * 100)
    }
    try {
      val qsPrim = draw(primIds)
      val exactPrim = exactOf(qsPrim)
      // recall is MONOTONE in the probed fraction (top-m probe sets
      // are nested), so binary-search the cheapest passing rung: the
      // isotropic corpus (no rung passes) decides in ONE test of the
      // densest rung; a clustered corpus bisects in ≤ 3 more, all at
      // cheap fractions
      val chosenIdx: Int =
        if (!passes(ProbeLadder.last, qsPrim, exactPrim)) -1
        else {
          var lo = 0
          var hi = ProbeLadder.length - 1 // known passing
          while (lo < hi) {
            val mid = (lo + hi) / 2
            if (passes(ProbeLadder(mid), qsPrim, exactPrim)) hi = mid
            else lo = mid + 1
          }
          hi
        }
      if (chosenIdx < 0 || holdIds.length < CalibQueries) {
        if (chosenIdx < 0) 2 else ProbeLadder(chosenIdx)
      } else {
        val qsHold = draw(holdIds)
        val exactHold = exactOf(qsHold)
        var i = chosenIdx
        var out = 2 // the whole denser tail failing ⇒ worst-case law
        var found = false
        while (i < ProbeLadder.length && !found) {
          if (passes(ProbeLadder(i), qsHold, exactHold)) {
            out = ProbeLadder(i); found = true
          } else i += 1
        }
        out
      }
    } finally { assigned.unpersist(false); () }
  }

  private def pqFitFor(s: org.apache.spark.sql.SparkSession, dir: String): PqCodebook =
    pqFitCache.computeIfAbsent(dir, _ => fitPq(embSampleFor(s, dir)))

  /** Drift verdict for DELTA ingest against a persisted index (r19 —
    * the q82 warm-start economics applied to the ANN index): a new
    * segment's vectors ASSIGN to the existing cells (row-local, no
    * fit), and this gauge decides when a refit is actually due instead
    * of refitting per corpus change. Two leading indicators, both
    * recorded as integers so they can ride a hash-gated dump:
    *
    *   - `max_cell_shift_ppm`: the largest per-cell corpus-share move
    *     between the base corpus and base+delta. A delta that SPREADS
    *     like the base barely moves any share; a delta concentrated on
    *     content the fit never saw piles into few cells — the same
    *     hot-cell shape the fit guard bounds, now visible at ingest
    *     time. Threshold: half an expected cell's share
    *     (1e6/(2·searchCells) ppm), far above uniform-delta noise.
    *   - `holdout_recall_pct`: the calibration HOLD-OUT draw re-scored
    *     over base+delta at the index's calibrated probe fraction —
    *     the production recall gate's own number, re-measured on the
    *     drifted corpus (cost: one exact pass over the union, fit-free).
    *
    * `refit_due = 1` when either trips (recall below the 90 gate, or
    * a cell absorbed over the shift cap). The recurring production job
    * at 100 TB: per segment import, assign + gauge (cheap, linear, no
    * driver state); refit only on a tripped gauge.
    */
  private[graft] def deltaDriftGauge(s: org.apache.spark.sql.SparkSession,
      idx: IvfIndex, base: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val union = base.unionAll(delta)
    def shares(df: org.apache.spark.sql.DataFrame): (Long, Map[Int, Double]) = {
      val counts = idx.assignCell(df).groupBy(col("cell")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val total = counts.values.sum
      (total, counts.map { case (c, n) => c -> n.toDouble / total })
    }
    val (nBase, sBase) = shares(base)
    val (nUnion, sUnion) = shares(union)
    val shiftPpm = (sBase.keySet ++ sUnion.keySet).iterator.map { c =>
      math.abs(sUnion.getOrElse(c, 0.0) - sBase.getOrElse(c, 0.0)) * 1e6
    }.foldLeft(0.0)(math.max).toLong
    val shiftCapPpm = math.max(1L, (1e6 / (2.0 * idx.searchCells)).toLong)
    val recallPct = idx.fine.map(f => holdoutRecallPct(s, union, idx, f)).getOrElse(100)
    val refitDue = if (recallPct < 90 || shiftPpm > shiftCapPpm) 1L else 0L
    s.createDataFrame(Seq((nBase, nUnion - nBase, shiftPpm, shiftCapPpm,
        recallPct.toLong, refitDue)))
      .toDF("base_rows", "delta_rows", "max_cell_shift_ppm",
        "shift_cap_ppm", "holdout_recall_pct", "refit_due")
  }

  /** The calibration hold-out draw's recall at the index's OWN
    * calibrated probe count, over an arbitrary corpus frame — the
    * fit-free re-check [[deltaDriftGauge]] runs per segment import.
    */
  private def holdoutRecallPct(s: org.apache.spark.sql.SparkSession,
      e: org.apache.spark.sql.DataFrame, idx: IvfIndex, f: FineLevel): Int = {
    val ids = e.filter(col("vec_id") >= 1000).orderBy(col("vec_id"))
      .limit(CalibQueries * 2)
      .select(col("vec_id")).collect().map(_.getLong(0))
      .drop(CalibQueries)
    if (ids.isEmpty) 100
    else {
      val qs = e.filter(col("vec_id").isInCollection(ids))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .localCheckpoint(true)
      def idSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        quantizedTopK(e, df).select(col("q_id"), col("n_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = idSet(e.select(col("vec_id").as("n_id"))
        .join(broadcast(qs.select(col("q_id"))), col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id")))
      val probed = qs.withColumn("cell",
          explode(graft.plans.TopCells.of(col("q_emb"), f.flatCents,
            f.flatNorms, math.min(f.probes, f.total), idx.cents.head.length)))
        .select(col("q_id"), col("cell"))
      val cand = idx.assignCell(e)
        .select(col("vec_id").as("n_id"), col("cell"))
        .join(broadcast(probed), "cell")
        .filter(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"))
      val hits = idSet(cand).count(exact.contains)
      if (exact.isEmpty) 100 else hits * 100 / exact.size
    }
  }

  /** Deterministic pseudo-random hyperplanes (unit-free; only the sign
    * of the dot product matters). Components in [-0.5, 0.5).
    */
  private def hyperplanes(dim: Int, planes: Int): Seq[Seq[Double]] =
    (0 until planes * LshBandsCos).map { p =>
      (0 until dim).map { j =>
        ((splitmix(p * 131071L + j) & Long.MaxValue) % 100000L) / 100000.0 - 0.5
      }
    }

  /** Random-hyperplane LSH cosine ANN — the scale path for q32.
    * Corpus-scaled hyperplanes per band ([[lshPlanesFor]]) → sign bits
    * → [[LshBandsCos]] band buckets → bucket groupBy → within-bucket
    * pairs → exact cosine verify ≥ 0.99. Candidate generation is one
    * shuffle on (band, bucket). The plane matrix is a plan-time
    * literal (broadcast with the plan, no join).
    */
  /** q34's banded BUCKET stage: hyperplane fold → (band, bucket) →
    * capped id-set agg, plus the raw occupancy count per bucket (the
    * cap-pressure numerator rides the same shuffle for free). Pure
    * code motion so the verify companion and the q83 gate can share
    * one frame for pairs AND pressure.
    */
  private def lshBucketAgg(s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame = {
    // dim is part of the dataset contract (TESTDATA.md) — a plan-build
    // head() here would run a tiny job per plan construction. The
    // per-row assert fails LOUDLY if data arrives at another dim
    // (zip_with against a shorter plane vector would otherwise
    // silently null out every plane bit).
    val e = Tables.embWithNearDups(s, dir)
      .filter(assert_true(size(col("embedding")) === Tables.EmbeddingDim,
        concat(lit(s"embedding dim != ${Tables.EmbeddingDim}: "),
          size(col("embedding")).cast("string"))).isNull)
    // corpus-sized bucket space (one memoized count per dir — index
    // sizing, the same class of plan-build work as q40's embSample).
    // Sized from the frame actually bucketed — embWithNearDups carries
    // n/DupEvery planted variants on top of the n organic vectors, so
    // sizing from the bare embeddings count would undershoot expected
    // occupancy by ~4% relative to the MaxBucket invariant. (The
    // planted count is derived, not re-counted: one job, no drift.)
    val nEmb = embCount(s, dir)
    val nPlanes = lshPlanesFor(nEmb + nEmb / Tables.DupEvery)
    // plane-bit folding runs per CORPUS row — the codegen'd expression
    // (plans/VectorOps.scala) replaces what was ~370M interpreted HOF
    // lambda steps at sf10 (bit-for-bit the same buckets: same fold
    // order, same MSB-first acc*2+bit packing)
    val bands = e.select(col("vec_id"),
      posexplode(graft.plans.HyperplaneBuckets.of(col("embedding"),
        hyperplanes(Tables.EmbeddingDim, nPlanes), LshBandsCos, nPlanes))
        .as(Seq("band_id", "bucket")))
    bands
      .groupBy(col("band_id"), col("bucket"))
      .agg(graft.plans.BoundedCollectSet.of(col("vec_id"), MaxBucket).as("ids"),
        count(lit(1)).as("occ"))
  }

  /** Pair expansion from the bucket-agg frame — tombstoned buckets
    * (`ids` null, occupancy blew past [[MaxBucket]]) drop out here.
    */
  private def lshPairsFromBuckets(buckets: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame =
    buckets
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(explode(expr(pairExpr)).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .distinct()

  /** The CAP-PRESSURE rollup over the same bucket-agg frame — the r16
    * recall incident (sf100 gate red at 0.867) was hot-bucket cap
    * drops, invisible in the recall number until it crossed the bar;
    * this surfaces the pressure as data BEFORE the dip: total buckets,
    * tombstoned buckets, and the pair mass those tombstones dropped
    * (occ·(occ−1)/2 per dead bucket). All integers, so the row rides
    * the existing hash oracle via the dir-keyed dump.
    */
  private def lshPressure(buckets: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame =
    buckets.groupBy().agg(
      count(lit(1)).as("press_buckets"),
      // both sums coalesce to 0L so an EMPTY bucket frame still emits a
      // uniform all-integers row (the gate's oracle dump is hash-exact
      // on integer columns; a NULL next to a 0 would be an inconsistent
      // row shape)
      coalesce(sum(col("ids").isNull.cast("bigint")), lit(0L))
        .as("press_dropped_buckets"),
      coalesce(sum(when(col("ids").isNull,
          col("occ") * (col("occ") - 1) / 2).cast("bigint")), lit(0L))
        .as("press_dropped_pairs"))

  private def lshCandidatePairs(s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame =
    lshPairsFromBuckets(lshBucketAgg(s, dir))

  // fit and candidate handles for AnnIndexStoreSpec and the
  // ClusterRehearsal ANN leg — not part of the query surface
  private[graft] def probeIvfFit(s: org.apache.spark.sql.SparkSession,
      dir: String): IvfIndex = ivfFitFor(s, dir)
  /** q40's candidate frame with an EXPLICIT probe count (recall-curve
    * sweeps); `probes <= 0` means the production law.
    */
  private[graft] def probeIvfCandidates(s: org.apache.spark.sql.SparkSession,
      dir: String, probes: Int): org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, dir)
    val idx = ivfFitFor(s, dir)
    val assigned = idx.assignCell(e)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("cell"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val probed = idx.fine match {
      case Some(f) if probes > 0 =>
        qs.withColumn("cell", explode(graft.plans.TopCells.of(col("q_emb"),
            f.flatCents, f.flatNorms, math.min(probes, f.total),
            idx.cents.head.length)))
          .select(col("q_id"), col("q_emb"), col("cell"))
      case _ => probeCells(idx, qs)
    }
    assigned.join(broadcast(probed), "cell")
      .filter(col("n_id") =!= col("q_id"))
  }

  /** Exact-cosine verification of an (a_id, b_id) candidate frame —
    * shared by q34 and the q83 gate (which feeds it pairs from a
    * persisted bucket frame instead of recomputing the fold).
    */
  private def lshVerified(s: org.apache.spark.sql.SparkSession, dir: String,
      pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val e = Tables.embWithNearDups(s, dir)
    pairs
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("q_emb")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("n_emb")), "b_id")
      .withColumn("cosine",
        graft.plans.CosineSim.of(col("q_emb"), col("n_emb")))
      .filter(col("cosine") >= 0.99)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine"))
  }

  val q34_lsh_cosine: GraftQuery = GraftQuery(
    "q34_lsh_cosine",
    (s, dir) => lshVerified(s, dir, lshCandidatePairs(s, dir)),
    None // LSH bucketing not SQL-expressible; recall vs injected dups in SimilaritySpec
  )

  /** The embWithNearDups fixture as a DuckDB CTE (mirrors q70's inline
    * spelling — float addition then FLOAT cast, IEEE-identical).
    */
  private val embNearDupsCte: String =
    s"""WITH allvecs AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + ${Tables.EmbDupOffset},
      |    list_prepend(CAST(embedding[1] + CAST(0.001 AS FLOAT) AS FLOAT),
      |                 embedding[2:])
      |  FROM embeddings WHERE vec_id % ${Tables.DupEvery} = 0
      |)""".stripMargin

  /** q34's DRIVER-GATED companion (the q30_verify split applied to
    * hyperplane LSH): the banded candidate pairs dump dir-keyed, and
    * the exact-cosine ≥ 0.99 verification runs over THE SAME pairs in
    * both engines with the score quantized to BIGINT 1e-9 units — the
    * threshold compares integers, so no float boundary can flip a row.
    */
  val q34_verify: GraftQuery = GraftQuery(
    "q34_verify",
    (s, dir) => {
      val dump = Tables.oracleDumpPath("q34_candidates", dir)
      val cand = lshCandidatePairs(s, dir)
      cand.write.mode("overwrite").parquet(dump)
      val e = Tables.embWithNearDups(s, dir)
      Tables.readBack(cand, dump)
        .join(e.select(col("vec_id").as("a_id"), col("embedding").as("q_emb")), "a_id")
        .join(e.select(col("vec_id").as("b_id"), col("embedding").as("n_emb")), "b_id")
        .withColumn("cosq", cosqCol)
        .filter(col("cosq") >= lit(990000000L))
        .select(col("a_id"), col("b_id"), col("cosq"))
    },
    Some(embNearDupsCte +
      s""", cand AS (
         |  SELECT a_id, b_id
         |  FROM read_parquet('${Tables.oracleDumpPath("q34_candidates", Tables.VerifyDir)}/*.parquet')),
         |scored AS (
         |  SELECT c.a_id, c.b_id,
         |    ${cosqSql("a.embedding", "b.embedding")} AS cosq
         |  FROM cand c
         |  JOIN allvecs a ON c.a_id = a.vec_id
         |  JOIN allvecs b ON c.b_id = b.vec_id)
         |SELECT a_id, b_id, cosq FROM scored WHERE cosq >= 990000000""".stripMargin)
  )

  /** Multimodal column plumbing: documents carry an opaque `binary`
    * payload (here: utf-8 bytes standing in for image bytes) plus typed
    * metadata. The "decode" is a DETERMINISTIC FAKE (crc32/xxhash64 of
    * the payload → width/height/features) — the real decoder is the
    * swap-in point at the marked block — but the Spark-side shape is
    * real: binary column, per-row feature vector, per-source rollup.
    * The payload is hashed ONCE; features derive arithmetically.
    */
  /** The per-row fake-decode frame (doc_id, source, n_bytes, width,
    * height, features) — deterministic integer math off one payload
    * hash. The marked block is the swap-in point for a real decoder.
    */
  private def multimodalDecoded(s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame =
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        col("text").cast("binary").as("payload"))
      // --- fake decode starts here: replace with a real image decoder ---
      .withColumn("n_bytes", expr("octet_length(payload)"))
      .withColumn("seed", expr("xxhash64(payload) & 4294967295"))
      .withColumn("width", (crc32(col("payload")) % 640 + 16).cast("int"))
      .withColumn("height", (expr("pmod(seed, 480)") + 16).cast("int"))
      .withColumn("features",
        expr("transform(sequence(0, 7), i -> pmod(seed * (2 * i + 61) + i, 1000))"))
      // --- fake decode ends ---
      .drop("payload", "seed")

  /** crc32/xxhash64 have no DuckDB equivalent, but the decode output is
    * deterministic INTEGERS — so the decoded frame dumps to a dir-keyed
    * path (q30_verify pattern) and the per-source rollup runs from the
    * dump in BOTH engines: the aggregation semantics carry a full
    * rows+schema+hash oracle; the decode arithmetic itself is pinned in
    * SimilaritySpec.
    */
  val q35_multimodal: GraftQuery = GraftQuery(
    "q35_multimodal",
    (s, dir) => {
      val dump = Tables.oracleDumpPath("q35_decoded", dir)
      val decoded = multimodalDecoded(s, dir)
      decoded.write.mode("overwrite").parquet(dump)
      Tables.readBack(decoded, dump)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_images"),
          sum(col("n_bytes")).cast("bigint").as("total_bytes"),
          sum(col("width")).cast("bigint").as("sum_width"),
          sum(col("height")).cast("bigint").as("sum_height"),
          sum(expr("aggregate(features, cast(0 as bigint), (acc, v) -> acc + v)"))
            .cast("bigint").as("sum_features"))
    },
    Some(
      s"""SELECT source, COUNT(*) AS n_images,
         |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
         |  CAST(SUM(width) AS BIGINT) AS sum_width,
         |  CAST(SUM(height) AS BIGINT) AS sum_height,
         |  CAST(SUM(list_sum(features)) AS BIGINT) AS sum_features
         |FROM read_parquet('${Tables.oracleDumpPath("q35_decoded", Tables.VerifyDir)}/*.parquet')
         |GROUP BY source""".stripMargin)
  )

  private val IvfCells = 16  // cell-count FLOOR (≤ sf0.1 bit-identical)
  private val IvfProbes = 9  // probe FLOOR at the cell floor
  private val IvfIters = 10
  private val IvfSample = 2048

  /** Search-index cell count ∝ corpus — the [[semdedupCellsFor]]
    * posture applied to the ANN index after r11 recorded recall@10
    * drifting down the scale curve on the FIXED 16-cell index (q40
    * 0.96→0.90→0.84, q73 0.90→0.88→0.82 at sf0.1/1/10 — the same
    * fixed-constant class q34 broke on at sf1). Target occupancy ~512
    * vectors/cell keeps per-cell lists flat as the corpus grows; the
    * floor keeps every scale ≤ sf0.1 bit-identical to the tuned
    * 16-cell behavior; the cap IvfSample/8 = 256 is the driver-Lloyd
    * quality bound (≥ 8 sample points per centroid) — past ~1M
    * vectors, raise IvfSample with a distributed Lloyd fit (the
    * IvfIndex literal interface is unchanged).
    */
  private[graft] def ivfCellsFor(n: Long): Int =
    math.max(IvfCells, math.min(IvfSample / 8, (n / 512L).toInt))

  /** Probe count keeps the recall-tuned 9/16 cell FRACTION as cells
    * scale (at the 16-cell floor this is exactly the original 9 —
    * bit-identical ≤ sf0.1). Scanning a constant corpus fraction over
    * finer cells adapts the probe set to the query better, which is
    * what pulls the large-SF recall back over the 0.9 target.
    */
  private[graft] def ivfProbesFor(cells: Int): Int =
    math.max(IvfProbes,
      math.ceil(cells * IvfProbes.toDouble / IvfCells).toInt)

  /** Deterministic spherical Lloyd fit over a driver-side sample: the
    * real kmeans "training" step of an IVF index, kept tiny (≤
    * [[IvfSample]] × dim doubles) and fully reproducible (spread init
    * from the id-ordered sample, first-max tie breaks — no RNG).
    * Assignment metric is dot/|centroid| = cosine up to the vector's
    * own norm, which drops out of the argmax; new centroid = plain
    * mean of the assigned sample vectors (empty cells keep their
    * previous centroid).
    */
  private def lloydCentroids(sample: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    val dim = sample.head.length
    var cents = Array.tabulate(k)(i => sample(i * sample.length / k).clone())
    for (_ <- 0 until IvfIters) {
      val norms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bs = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var dot = 0.0; var j = 0
          while (j < dim) { dot += v(j) * cents(c)(j); j += 1 }
          val s = dot / norms(c)
          if (s > bs) { bs = s; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else cents(c))
    }
    cents
  }

  /** IVF (inverted-file) cosine ANN — the centroid-bucketed alternative
    * to q34's hyperplane LSH. Centroids come from [[lloydCentroids]]
    * over a bounded driver-side sample (at 100 TB: the same fit on the
    * same-sized sample — index training cost is O(sample), not
    * O(corpus)). The centroid matrix folds into the plan as a LITERAL
    * (like q34's hyperplanes), so nearest-cell assignment is a
    * ROW-LOCAL argmax inside the scan stage — no crossJoin row
    * amplification and no groupBy shuffle of the embedding column.
    * Search probes only the top-`IvfProbes` cells per query (also
    * row-local on the query side), then ranks through the bounded-heap
    * TopKPerGroup operator: the only shuffle in the whole plan moves ≤
    * k rows per query per partition.
    *
    * Probe count is sized for a recall@10 ≥ 0.8 target against q32's
    * exact top-k (recorded ~0.9 at every test SF — RECALL.json rides
    * the bench artifact; SimilaritySpec enforces the floor). The
    * testdata embeddings are ISOTROPIC (no cluster structure — q33's
    * labels carry ~0 mean cosine), which is ANN's worst case: hitting
    * 0.9 costs probing 9/16 cells here, while clustered real-world
    * embeddings concentrate neighbors in far fewer cells and the same
    * index serves lower probe fractions. The cells/probes ratio is the
    * tunable; the plan shape is scale-ready either way.
    */
  /** The distributed FINE level of the two-level IVF quantizer (r18 —
    * the fix for the driver-Lloyd 256-cell cap): per coarse cell, a
    * spherical-Lloyd sub-quantizer fit on that cell's members of a
    * corpus-wide stride sample, sized to ~512 expected occupancy per
    * fine cell. Global fine-cell ids are `offsets(coarse) + j`, so the
    * whole fine table is addressable flat (the probe side) while
    * assignment stays hierarchical (the corpus side): coarse argmax
    * over |coarse| centroids, then fine argmax over only the assigned
    * cell's ~occupancy/512 children — O(|coarse| + occ/512) dots per
    * row instead of the O(n/512) a flat k ∝ n index would cost
    * (~2.7e13 FLOP corpus-wide at sf100).
    */
  private[graft] final case class FineLevel(offsets: Array[Int],
      cents: Array[Array[Double]], norms: Array[Array[Double]],
      probeDen: Int = 2, fitPress: FitPressure = FitPressure.zero) {
    val total: Int = offsets.last + norms.last.length
    /** Probe count = ceil(total/probeDen): probeDen is CALIBRATED per
      * corpus at fit time ([[SimilarityOps.calibrateProbeDen]]) — the
      * measured recall curve picks the cheapest ladder fraction whose
      * calibration recall clears a margin bar, falling back to the
      * worst-case 1/2 law the isotropic testdata needs.
      */
    def probes: Int = math.max(IvfProbes, math.ceil(total.toDouble / probeDen).toInt)
    /** Flat [globalFineId][dim] view for the query-side probe ranking. */
    lazy val flatCents: Array[Double] = {
      val dim = cents.head.length / norms.head.length
      val out = new Array[Double](total * dim)
      var c = 0
      var pos = 0
      while (c < cents.length) {
        System.arraycopy(cents(c), 0, out, pos, cents(c).length)
        pos += cents(c).length
        c += 1
      }
      out
    }
    lazy val flatNorms: Array[Double] = norms.flatten
  }

  /** A fitted IVF coarse quantizer: centroids + norms as plan
    * LITERALS, with the row-local cell assignment / probe expressions.
    * Shared by q40 (ANN search) and the SemDeDup centroid-cluster
    * variant (SimilaritySpec). When the corpus outgrows the
    * driver-Lloyd quality cap, `fine` carries the distributed second
    * level and `cell` becomes the GLOBAL fine-cell id — same literal
    * interface, occupancy back at ~512.
    */
  private[graft] final case class IvfIndex(cents: Seq[Seq[Double]], cnorms: Seq[Double],
      fine: Option[FineLevel] = None) {
    val n: Int = cents.length
    /** Cell count of the level queries/probes actually key on. */
    def searchCells: Int = fine.map(_.total).getOrElse(n)
    // score_i = dot(emb, c_i)/|c_i|: |emb| is a common positive factor,
    // so it drops out of both the argmax and the probe ordering
    def cellScore(emb: String): String =
      s"aggregate(zip_with($emb, element_at(cs, i + 1), " +
        "(x, y) -> cast(x as double) * cast(y as double)), " +
        "cast(0 as double), (acc, v) -> acc + v) / element_at(cns, i + 1)"
    def withCentroids(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.withColumn("cs", typedLit(cents)).withColumn("cns", typedLit(cnorms))
    /** Row-local nearest-cell argmax (ties -> lowest cell) as a new
      * `cell` column; the centroid literals do not survive the return.
      * With a fine level, `cell` is the global fine id (coarse argmax
      * then within-cell fine argmax, both codegen'd).
      */
    def assignCell(df: org.apache.spark.sql.DataFrame,
        emb: String = "embedding"): org.apache.spark.sql.DataFrame = {
      // corpus-side hot path: codegen'd argmax (plans.NearestCell),
      // same tie rule (strict > keeps the lowest cell) as the
      // array_max-over-struct HOF it replaces
      val coarse = graft.plans.NearestCell.of(col(emb), cents, cnorms)
      val cell = fine.fold(coarse)(f =>
        graft.plans.FineCell.of(col(emb), coarse, f.cents, f.norms,
          f.offsets, cents.head.length))
      df.withColumn("cell", cell).drop("cs", "cns")
    }
  }

  /** ONE bounded driver-side collect (≤ [[IvfSample]] rows) feeding
    * every index fit (IVF coarse quantizer, PQ codebooks) — the kmeans
    * training sample, not a per-row action. Id-ordered for
    * determinism; the testdata ids are generation-order, which is as
    * unbiased as a stride sample on this corpus.
    */
  private[graft] def embSample(e: org.apache.spark.sql.DataFrame): Array[Array[Double]] =
    e.orderBy(col("vec_id")).limit(IvfSample)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).iterator.map(_.toDouble).toArray)

  /** IVF fit with an explicit cell count — both the SemDeDup
    * clustering path ([[semdedupCellsFor]]) and, since r12, the ANN
    * search path ([[ivfCellsFor]]) size k ∝ corpus.
    */
  private[graft] def fitIvfK(sample: Array[Array[Double]], k: Int): IvfIndex = {
    val cents: Seq[Seq[Double]] =
      lloydCentroids(sample, math.min(k, sample.length)).map(_.toSeq).toSeq
    IvfIndex(cents, cents.map(c => math.sqrt(c.map(x => x * x).sum)))
  }

  /** SemDeDup cluster count: |cluster| ≈ 512 keeps the within-cluster
    * quadratic FLAT as the corpus grows (the Abbas et al. k ∝ n
    * posture — a fixed 16 cells would make clusters n/16 and the pair
    * stage n²/16). A cos ≥ 0.99 pair shares its argmax cell under any
    * centroid count (near-identical vectors, identical scores), so
    * verdicts for true near-dups are cell-count-invariant — scaling k
    * only removes never-matching pair work. Floor [[IvfCells]] keeps
    * every test SF ≤ sf0.1 on the search-index constants; cap 256 =
    * [[IvfSample]]/8 sample points per cell, the driver-Lloyd quality
    * bound — past ~131k vectors the cap holds clusters to n/256
    * (still 16× less pair work than fixed-16); beyond ~1M, swap the
    * driver fit for a distributed Lloyd on a sampled frame (the
    * [[IvfIndex]] literal interface is unchanged).
    */
  private[graft] def semdedupCellsFor(n: Long): Int =
    math.max(IvfCells, math.min(IvfSample / 8, (n / 512L).toInt))

  /** Production SemDeDup cluster assignment: argmax IVF cell, SUBDIVIDED
    * by row-local hyperplane sign bits once the corpus outgrows the
    * driver-Lloyd cell cap. Past [[semdedupCellsFor]]'s 256-cell cap,
    * argmax cells grow ∝ n and the within-cell pair stage turns
    * QUADRATIC — at sf100 (20.8M vectors, ~81k per cell) that is ~8e11
    * pair dots, the export rehearsal's dominant cost. Sign-bit
    * subdivision restores the k ∝ n posture without a bigger fit: p
    * planes put expected |cluster| back at ~512, the key is computed in
    * the scan stage from plan-literal planes (no fit, no shuffle, no
    * size limit), and pair work returns to ~128·n — linear.
    *
    * Semantics trade, stated honestly: a cos ≥ τ pair splits across
    * subcells with P = 1-(1-θ/π)^p — for the PLANTED near-dups (cos ≈
    * 1-1e7) that is ~0.1% at p=8, for a τ-boundary 0.99 pair ~31%; the
    * argmax-cell rule already had the same boundary character (a 0.99
    * pair need not share its nearest centroid). p = 0 — key and
    * verdicts BIT-IDENTICAL to the plain cell — whenever expected
    * |cell| < 2·512, which holds at every test SF through sf1; the
    * regime only engages past ~262k vectors. Planes are seeded apart
    * from q34's LSH family so the two indexes never correlate.
    */
  private[graft] def semdedupAssign(df: org.apache.spark.sql.DataFrame,
      n: Long, emb: String = "embedding"): org.apache.spark.sql.DataFrame = {
    val cells = semdedupCellsFor(n)
    val idx = fitIvfK(embSample(df), cells)
    withSdCluster(idx.assignCell(df, emb), cells, n, emb)
  }

  /** Multi-probe SemDeDup assignment (r18): each vector lands in its
    * TOP-2 cells (one exploded row per cell), so a near-dup pair whose
    * members straddle an argmax boundary still shares a cluster
    * whenever either's runner-up cell is the other's argmax — the
    * standard probe-style fix for the cluster rule's boundary
    * character. Verdicts stay per-vector (the pair join may see a pair
    * twice when both cells are shared; the max-sim groupBy dedups).
    *
    * The sign-bit subdivision is sized for n — the SAME plane count as
    * [[semdedupAssign]] — deliberately, not for the doubled exploded
    * row mass: with identical planes, every single-probe co-cluster
    * pair (same argmax cell, same sign bits) is still co-clustered
    * under multi-probe, so drops are a STRICT superset at every scale.
    * r18 sized for 2n, which engages exactly one extra plane whenever
    * subdivision is active (log2(2x) = 1 + log2(x)) and a cos≥τ pair
    * agreeing on the argmax cell and p planes could split on plane
    * p+1 — multi-probe could LOSE a pair single-probe caught. The
    * price of n-sizing, stated honestly: expected |cluster| on the
    * exploded frame is ~1024 instead of ~512, so pair mass ≈ 4× the
    * single-probe bill instead of ≈ 2× — still linear in n, paid only
    * past the ~262k-vector engagement threshold. Measured on the
    * planted cos≈1 pattern at sf100 (TRIALS_r18.json):
    * single-probe assignment agreement is already 99.7% — the r17
    * "43% recall" note traced to a denominator artifact, not
    * assignment loss — and multi-probe lifts shared-cluster coverage
    * to ~100% of planted pairs.
    */
  private[graft] def semdedupAssignMulti(df: org.apache.spark.sql.DataFrame,
      n: Long, emb: String = "embedding"): org.apache.spark.sql.DataFrame = {
    val cells = semdedupCellsFor(n)
    val idx = fitIvfK(embSample(df), cells)
    val flat = idx.cents.flatten.toArray
    val probed = df.withColumn("cell",
      explode(graft.plans.TopCells.of(col(emb), flat, idx.cnorms.toArray,
        2, idx.cents.head.length)))
    // n (not 2n): plane count must MATCH single-probe for the strict
    // drop-superset guarantee — see the scaladoc trade
    withSdCluster(probed, cells, n, emb)
  }

  /** Sign-bit cluster subdivision shared by the single- and multi-probe
    * assignments: past ~2·512 expected occupancy, p row-local planes
    * bring |cluster| back to ~512 (see [[semdedupAssign]]'s scaladoc
    * history); below, sd_cluster IS the cell.
    */
  private def withSdCluster(assigned: org.apache.spark.sql.DataFrame,
      cells: Int, effN: Long, emb: String): org.apache.spark.sql.DataFrame = {
    val ratio = effN.toDouble / (cells.toDouble * 512.0)
    val p = if (ratio < 2.0) 0
      else math.min(16, math.round(math.log(ratio) / math.log(2)).toInt)
    if (p == 0) assigned.withColumn("sd_cluster", col("cell").cast("long"))
    else {
      val planes = (0 until p).map { q =>
        (0 until Tables.EmbeddingDim).map { j =>
          ((splitmix((q + 0x5DD0L) * 131071L + j) & Long.MaxValue) % 100000L) /
            100000.0 - 0.5
        }
      }
      assigned.withColumn("sd_cluster",
        col("cell").cast("long") * (1L << p) +
          element_at(graft.plans.HyperplaneBuckets.of(col(emb), planes, 1, p), 1))
    }
  }

  /** Fine-regime probe count, with the probe-fraction math re-derived
    * against measurement (sf100, n=2M, 4030 fine cells —
    * TRIALS_r18.json):
    *
    *   - candidate mass is now EXACTLY proportional to probes
    *     (152k/310k/622k/1.25M/2.5M/5.0M candidates per query at
    *     1/64..1/2 of cells — flat ~512 occupancy, no skew tail),
    *     where the capped coarse index offered no mass control at all
    *     (144/256 probes = 56.1% of the corpus, occupancy 7.8k and
    *     growing ∝ n);
    *   - recall@10 vs exact on THIS testdata reads 0.42/0.56/0.74/
    *     0.80/0.84/1.00 along that sweep — the fraction for the 0.9
    *     gate stays high (~1/2) because the embeddings are isotropic
    *     in d=64, the documented ANN worst case: the nearest-centroid
    *     angle shrinks only like arcsin(k^(-1/(d-1))) (≈66° at k=256
    *     → ≈61° at k=4030), so rank-by-centroid-score gains little
    *     signal from finer cells. Clustered real-world embeddings
    *     concentrate neighbors in few cells and serve the SAME index
    *     at far lower fractions (the planted-cluster rehearsal's
    *     behavior); the law here buys the gate 1.0 recall at 0.50
    *     corpus mass vs the coarse regime's 1.0 at 0.56 — equal
    *     recall, slightly less work, and the occupancy/fit walls
    *     removed.
    */
  private[graft] def fineProbesFor(totalFine: Int): Int =
    math.max(IvfProbes, math.ceil(totalFine / 2.0).toInt)

  /** Row-local top-probe-cell explode for a `(q_id, q_emb)` query
    * frame — shared by q40, q73 and their verify companions. Probe
    * count derives from the index's own cell count, so callers cannot
    * pair a scaled index with floor probes. Single-level indexes keep
    * the r12 HOF spelling bit-identically (≤ 256 cells, ≤ sf1); fine
    * indexes rank the global fine table through the codegen'd
    * [[graft.plans.TopCells]] (same (-score, id) total order).
    */
  private def probeCells(idx: IvfIndex,
      qs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    idx.fine match {
      case None =>
        val probes = math.min(ivfProbesFor(idx.n), idx.n)
        idx.withCentroids(qs)
          .withColumn("cell", explode(expr(
            s"transform(slice(array_sort(transform(sequence(0, ${idx.n - 1}), i -> " +
              s"struct(-(${idx.cellScore("q_emb")}) as ns, i as cell))), 1, $probes), " +
              "p -> p.cell)")))
          .select(col("q_id"), col("q_emb"), col("cell"))
      case Some(f) =>
        // f.probes carries the per-corpus CALIBRATED fraction (the
        // worst-case total/2 only when no cheaper rung held the bar)
        val probes = math.min(f.probes, f.total)
        qs.withColumn("cell", explode(graft.plans.TopCells.of(col("q_emb"),
            f.flatCents, f.flatNorms, probes, idx.cents.head.length)))
          .select(col("q_id"), col("q_emb"), col("cell"))
    }

  /** The IVF candidate frame (q_id, q_emb, n_id, n_emb): probed-cell
    * join, self-pairs dropped — everything in q40 upstream of scoring.
    */
  private def ivfCandidates(s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, dir)
    // corpus-scaled cells from the dir-memoized count; sample and
    // Lloyd fit are dir-memoized too (no extra job, no repeated fit)
    val idx = ivfFitFor(s, dir)
    val assigned = idx.assignCell(e)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("cell"))
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    assigned.join(broadcast(probeCells(idx, qs)), "cell")
      .filter(col("n_id") =!= col("q_id"))
  }

  val q40_ivf_cosine: GraftQuery = GraftQuery(
    "q40_ivf_cosine",
    (s, dir) => {
      val scored = ivfCandidates(s, dir)
        .withColumn("cosine",
          graft.plans.CosineSim.of(col("q_emb"), col("n_emb")))
      graft.plans.TopKPerGroup(scored,
        Seq(col("q_id")), Seq(col("cosine").desc, col("n_id")), 10, rank = Some("rank"))
        .select(col("q_id"), col("n_id"), col("rank"), round(col("cosine"), 6).as("cosine"))
    },
    None // ANN recall measured against q32's exact top-k in SimilaritySpec
  )

  /** q40's DRIVER-GATED companion: the IVF candidate set (cell
    * assignment + probing — deterministic given the driver-fit
    * centroids, but not SQL-expressible) dumps to a dir-keyed path,
    * and the quantized exact scoring + top-10 over THE SAME candidates
    * carries a full DuckDB oracle — everything downstream of the index
    * fit is hash-pinned, the q30→q30_verify split applied to ANN.
    */
  val q40_verify: GraftQuery = GraftQuery(
    "q40_verify",
    (s, dir) => {
      val dump = Tables.oracleDumpPath("q40_candidates", dir)
      val cand = ivfCandidates(s, dir).select(col("q_id"), col("n_id"))
      cand.write.mode("overwrite").parquet(dump)
      quantizedTopK(Tables.embeddings(s, dir), Tables.readBack(cand, dump))
    },
    Some(
      s"""WITH cand AS (
         |  SELECT q_id, n_id
         |  FROM read_parquet('${Tables.oracleDumpPath("q40_candidates", Tables.VerifyDir)}/*.parquet'))""".stripMargin
        + quantizedTopKSql)
  )

  // q41 banding: 24 bands x 2 sketch positions, with a STRICT > 0.5
  // threshold (n_agree >= 25). That makes banding LOSSLESS for every
  // qualifying pair: 25 agreeing positions across 24 bands pigeonhole
  // at least two agreements into one band, and a fully-agreeing band's
  // hash matches — so the brute-force oracle and the banded plan emit
  // the identical pair set (at est = exactly 24/48 there is no such
  // guarantee, which is why the threshold is strict).
  private val SketchBands = 24
  private val SketchRows = MinhashHashes / SketchBands

  /** Per-GROUP MinHash union sketches via the custom MinHashAgg
    * aggregate: each domain's link-text profile compresses to 48 longs
    * (one map-side-combined shuffle), and domain-pair similarity is
    * estimated from sketch position agreement without ever comparing
    * texts. The pair step is LSH-banded exactly like q30 — candidates
    * come from a groupBy(band, bucket) on band hashes of the sketches,
    * never an all-pairs domain join (quadratic at crawl-scale domain
    * counts); the agreement estimate runs on candidates only.
    */
  val q41_domain_sketch: GraftQuery = GraftQuery(
    "q41_domain_sketch",
    (s, dir) => sketchPairs(Tables.links(s, dir)),
    // MinHashAgg hashes each element via md5 (see elementMinhash), so
    // the oracle recomputes every domain sketch with the SAME
    // Carter-Wegman constants (embedded as list literals) and
    // brute-forces all domain pairs. The banded Spark plan reproduces
    // the full strict-> 0.5 pair set (see the SketchBands note); the
    // only modeled divergence is the MaxBucket hot-bucket guard, which
    // the gate corpus stays far below.
    Some {
      val (as, bs) = graft.plans.MinHashSig.params(MinhashHashes)
      val aList = as.mkString("[", ", ", "]")
      val bList = bs.mkString("[", ", ", "]")
      Tables.linksCte +
        s""", el AS (
           |  SELECT DISTINCT link_domain,
           |         ('0x' || substr(md5(link_text), 1, 8))::BIGINT AS h
           |  FROM links
           |), sk AS (
           |  SELECT link_domain, j,
           |         MIN(($aList[CAST(j + 1 AS INTEGER)] * h
           |              + $bList[CAST(j + 1 AS INTEGER)]) % 4294967291) AS m
           |  FROM el CROSS JOIN (SELECT unnest(range($MinhashHashes)) AS j) perms
           |  GROUP BY 1, 2
           |), agree AS (
           |  SELECT a.link_domain AS a_domain, c.link_domain AS b_domain,
           |         SUM(CASE WHEN a.m = c.m THEN 1 ELSE 0 END) AS n_agree
           |  FROM sk a JOIN sk c ON a.j = c.j AND a.link_domain < c.link_domain
           |  GROUP BY 1, 2
           |)
           |SELECT a_domain, b_domain,
           |       CAST(n_agree AS DOUBLE) / $MinhashHashes AS est_jaccard
           |FROM agree WHERE n_agree * 2 > $MinhashHashes""".stripMargin
    }
  )

  /** The q41 core over any (link_domain, link_text) frame — also driven
    * at 10x domain count in the r7 scale rehearsal (SURVEY.md §5).
    */
  private[graft] def sketchPairs(links: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // sketches feed the band explode AND both pair sides: materialize
    // once instead of re-running the aggregate three times
    // lazy: materializes on the first ACTION and is then reused by the
    // band explode and both join sides — eager would run the aggregate
    // at plan-construction time (PlanAudit/explain would pay a full job)
    // 8-byte domain keys (r16, the q66/q77 move): the bucket collect,
    // pair expansion and both sketch joins ride xxhash64(link_domain)
    // instead of the domain string — the string surfaces only in the
    // final projection. A 64-bit key collision (~|domains|²/2⁶⁴, and
    // it would take TWO colliding domains in one band bucket to emit a
    // wrong pair) is the same modeled risk every hash-keyed family
    // member documents.
    // distinct-first (r17, TRIALS_r17.json): MinHash is SET semantics — min
    // over duplicate elements is idempotent — so the aggregate runs
    // over DISTINCT (domain, text) pairs (exactly the oracle's
    // spelling) and the per-element md5 + 48 Carter-Wegman perms run
    // once per unique pair instead of once per link row. Real anchor
    // text is heavily repeated within a domain ("home", the brand
    // name), so the map-side partial distinct collapses the stream
    // before its exchange at crawl scale too; the worst case
    // (all-unique texts) ships the same rows the aggregate's input
    // had, minus the hashing it no longer does twice.
    val sketches = links
      .select(col("link_domain"), col("link_text")).distinct()
      .groupBy(col("link_domain"))
      .agg(graft.plans.MinHashAgg.of(col("link_text"), MinhashHashes).as("sketch"))
      .withColumn("did", xxhash64(col("link_domain")))
      .localCheckpoint(false)
    val bandStructs = (0 until SketchBands).map { b =>
      val ms = (0 until SketchRows)
        .map(r => s"element_at(sketch, ${b * SketchRows + r + 1})").mkString(", ")
      s"named_struct('band_id', $b, 'band_hash', xxhash64($ms))"
    }.mkString(", ")
    val pairs = sketches
      .select(col("did").as("ids_src"), explode(expr(s"array($bandStructs)")).as("b"))
      .groupBy(col("b.band_id"), col("b.band_hash"))
      .agg(graft.plans.BoundedCollectSet.of(col("ids_src"), MaxBucket).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(explode(expr(pairExpr)).as("p"))
      .select(col("p.a_id").as("a_did"), col("p.b_id").as("b_did"))
      .distinct()
    pairs
      .join(sketches.select(col("did").as("a_did"), col("link_domain").as("a_dom"),
        col("sketch").as("a_sk")), "a_did")
      .join(sketches.select(col("did").as("b_did"), col("link_domain").as("b_dom"),
        col("sketch").as("b_sk")), "b_did")
      .withColumn("n_agree",
        expr("size(filter(zip_with(a_sk, b_sk, (x, y) -> x = y), v -> v))"))
      // exact integer-over-constant division: bit-identical across
      // engines, so the estimate stage can carry a DuckDB oracle.
      // STRICT > threshold: banding is lossless only above 24/48.
      .withColumn("est_jaccard", col("n_agree").cast("double") / lit(MinhashHashes.toDouble))
      .filter(col("n_agree") * 2 > MinhashHashes)
      // re-orient on the STRING order the oracle uses (the hash-sorted
      // expansion order is an internal detail)
      .select(least(col("a_dom"), col("b_dom")).as("a_domain"),
        greatest(col("a_dom"), col("b_dom")).as("b_domain"),
        col("est_jaccard"))
  }

  /** Incremental (delta-vs-corpus) near-dup detection — the dedup
    * shape a production pipeline actually runs at 100 TB: a new crawl
    * batch arrives and must be checked against the EXISTING corpus
    * without ever re-pairing the corpus with itself. Cost scales with
    * |delta| × bucket density, not |corpus|²:
    *
    *   - corpus side: row-local codegen'd [[graft.plans.SimHashSig]]
    *     → 16 two-level pigeonhole keys per doc (at scale this is the stored
    *     dedup INDEX, built once per fold and reused every batch);
    *     one map-side-combined count caps degenerate hot chunks
    *     (`MaxBucket`, same guard as q31);
    *   - delta side: same signature chunks, then a BROADCAST join
    *     against the corpus chunks (a daily batch is small; if a
    *     batch ever rivals the corpus, drop the broadcast hint and
    *     the same plan shuffles on (chunk_id, chunk_val));
    *   - verify: both signatures ride the candidate row, so exact
    *     hamming is a row-local `bit_count` — NO re-join with either
    *     side (q31 must re-join because its bucket collects ids only).
    *
    * The two-level pigeonhole is lossless at hamming ≤ 3, so the banded
    * plan emits exactly the brute-force delta×corpus pair set and the
    * DuckDB oracle is hash-exact (same argument as q31; the only
    * modeled divergence is the MaxBucket guard, which the fixture
    * stays far below).
    */
  /** The delta-vs-corpus candidate join, parameterized by the two
    * `(doc_id, text)` frames (ids must be disjoint across them — the
    * caller's batch-id convention guarantees it). Exposed so the
    * scale rehearsal can drive a 10× corpus against a small delta.
    */
  private[graft] def deltaDedupPairs(base: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def chunked(df: org.apache.spark.sql.DataFrame, id: String, sig: String) =
      df.select(col("doc_id").as(id),
        graft.plans.SimHashSig.of(col("text")).as(sig))
        .select(col(id), col(sig),
          posexplode(graft.plans.SimHashSig.pigeonholeChunks(sig))
            .as(Seq("chunk_id", "chunk_val")))
    // each side is referenced twice (hot-bucket count + candidate
    // join); the checkpoint pins ONE signature scan per side — the
    // chunk rows (id, sig, chunk) are far smaller than the text they
    // derive from, and at scale the base side is the stored index
    val baseCh = chunked(base, "base_id", "base_sig").localCheckpoint(false)
    val deltaCh = chunked(delta, "delta_id", "delta_sig").localCheckpoint(false)
    // hot-bucket guard over COMBINED membership (q31's semantics —
    // its between(2, MaxBucket) counts every doc in the bucket), so
    // a hot DELTA chunk is bounded too and the q60 ≡ q31-restricted
    // spec invariant holds even when a bucket runs hot
    val hot = baseCh.select(col("chunk_id"), col("chunk_val"))
      .unionAll(deltaCh.select(col("chunk_id"), col("chunk_val")))
      .groupBy(col("chunk_id"), col("chunk_val")).count()
      .filter(col("count") > MaxBucket).drop("count")
    baseCh
      .join(broadcast(hot), Seq("chunk_id", "chunk_val"), "left_anti")
      .join(broadcast(deltaCh), Seq("chunk_id", "chunk_val"))
      .select(col("delta_id"), col("base_id"), col("delta_sig"), col("base_sig"))
      .distinct() // sig is a function of id — distinct collapses to id pairs
      .withColumn("hamming", expr("cast(bit_count(delta_sig ^ base_sig) as int)"))
      .filter(col("hamming") <= 3)
      .select(col("delta_id"), col("base_id"), col("hamming"))
  }

  val q60_delta_dedup: GraftQuery = GraftQuery(
    "q60_delta_dedup",
    (s, dir) => {
      val all = Tables.docsWithNearDups(s, dir)
      // the planted +NearDupOffset variants play the incoming batch
      deltaDedupPairs(
        all.filter(col("doc_id") < Tables.NearDupOffset),
        all.filter(col("doc_id") >= Tables.NearDupOffset))
    },
    Some(Tables.docsNearDupsCte +
      """, th AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
        |         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM alldocs) t
        |), sigbits AS (
        |  SELECT doc_id, b,
        |         CASE WHEN SUM(CASE WHEN
        |             (CASE WHEN b < 32 THEN lo >> CAST(b AS INTEGER)
        |                   ELSE hi >> CAST(b - 32 AS INTEGER) END) & 1 = 1
        |           THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS sb
        |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bits
        |  GROUP BY doc_id, b
        |), ham AS (
        |  SELECT c.doc_id AS delta_id, a.doc_id AS base_id,
        |         SUM(CASE WHEN a.sb <> c.sb THEN 1 ELSE 0 END) AS hamming
        |  FROM sigbits a JOIN sigbits c ON a.b = c.b
        |  WHERE a.doc_id < 200000000 AND c.doc_id >= 200000000
        |  GROUP BY 1, 2
        |)
        |SELECT delta_id, base_id, CAST(hamming AS INT) AS hamming
        |FROM ham WHERE hamming <= 3""".stripMargin)
  )

  /** Symmetric int8 quantization of the embedding column — the 4×
    * memory/IO compression an ANN index runs at 100 TB (the float32
    * corpus stays in cold storage; search scans int8 codes). Per
    * vector: scale = max|x| / 127, codes = round(x / scale) — all
    * ROW-LOCAL arithmetic inside the scan stage, no shuffle, no UDF.
    *
    * Every step is deterministic double math from exact float inputs
    * (float→double promotion is exact; both engines round ties away
    * from zero), so integer summaries of the codes carry a hash-exact
    * DuckDB oracle — the cross-engine pin that the two quantizers
    * would build byte-identical int8 indexes.
    */
  val q63_quantize_int8: GraftQuery = GraftQuery(
    "q63_quantize_int8",
    (s, dir) => {
      val e = Tables.table(s, dir, "embeddings")
        .withColumn("mx", expr("array_max(transform(embedding, x -> abs(x)))"))
        // all-zero vector → scale 1.0 (codes all zero), not a 0-division
        .withColumn("sc", when(col("mx") === 0.0f, lit(1.0))
          .otherwise(col("mx").cast("double") / lit(127.0)))
        .withColumn("codes", expr(
          "transform(embedding, x -> cast(round(cast(x as double) / sc) as int))"))
      e.select(
        col("vec_id"),
        expr("cast(aggregate(codes, 0L, (a, c) -> a + c) as bigint)").as("sum_codes"),
        expr("cast(aggregate(codes, 0L, (a, c) -> a + abs(c)) as bigint)").as("sum_abs"),
        expr("cast(size(filter(codes, c -> abs(c) = 127)) as int)").as("n_sat"),
        expr("cast(size(filter(codes, c -> c = 0)) as int)").as("n_zero"))
    },
    Some("""SELECT vec_id,
           |  CAST(list_sum(codes) AS BIGINT) AS sum_codes,
           |  CAST(list_sum(list_transform(codes, c -> abs(c))) AS BIGINT) AS sum_abs,
           |  CAST(len(list_filter(codes, c -> abs(c) = 127)) AS INT) AS n_sat,
           |  CAST(len(list_filter(codes, c -> c = 0)) AS INT) AS n_zero
           |FROM (
           |  SELECT vec_id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) / sc) AS INTEGER)) AS codes
           |  FROM (
           |    SELECT vec_id, embedding,
           |      CASE WHEN mx = 0 THEN 1.0 ELSE CAST(mx AS DOUBLE) / 127.0 END AS sc
           |    FROM (
           |      SELECT vec_id, embedding,
           |        list_max(list_transform(embedding, x -> abs(x))) AS mx
           |      FROM embeddings) a
           |  ) b
           |) c""".stripMargin)
  )

  /** SemDeDup similarity floor: a vector with a smaller-id cluster-mate
    * at cosine ≥ this is dropped. Far above any random 64-dim pair
    * (|cos| ~ N(0, 1/8)) and far below the planted near-dups (≈ 1.0),
    * so the verdict never rides a float boundary.
    */
  private[graft] val SemDedupTau = 0.99

  /** SemDeDup (Abbas et al. 2023) — embedding-space near-dedup, the
    * cluster-bounded quadratic: pairwise exact cosine ONLY within a
    * cluster, drop every vector that has a more-canonical (smaller id)
    * cluster-mate above [[SemDedupTau]]. `cluster` is the pluggable
    * assignment: the registered query uses the table's label column
    * (SQL-expressible, so the keep/drop semantics sit under the full
    * DuckDB oracle); production assigns via q40's trained-centroid
    * row-local argmax — SimilaritySpec runs that variant and proves
    * every planted near-dup still drops.
    *
    * Scale shape: norms are computed ONCE per row before the join (the
    * pair stage pays only the dot product); the self-join keys on the
    * cluster id, so the shuffle is one exchange of (id, norm,
    * embedding) per side and each cluster's pair expansion is bounded
    * by its own size — at 100 TB the cluster count scales with the
    * corpus (k ∝ n keeps |cluster| flat) and a skewed cluster is
    * AQE-splittable because the join is a plain shuffle join, not a
    * collect. The a<b predicate halves the pair space; verdicts
    * aggregate per larger-id row (map-side combinable max).
    */
  private[graft] def semdedupVerdicts(e: org.apache.spark.sql.DataFrame,
      cluster: Column): org.apache.spark.sql.DataFrame = {
    val base = e.select(col("vec_id"), col("embedding"), cluster.as("cluster"))
      .withColumn("nrm", graft.plans.VecNorm.of(col("embedding")))
    val a = base.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      col("cluster"), col("nrm").as("a_nrm"))
    val b = base.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("cluster").as("b_cluster"), col("nrm").as("b_nrm"))
    val dominated = a
      .join(b, col("cluster") === col("b_cluster") && col("b_id") < col("a_id"))
      // codegen'd dot (plans.VecDot, same left-to-right fold as the HOF
      // spelling it replaced) over the corpus-quadratic pair frame —
      // the sf100 export rehearsal spent its post-write hour in
      // interpreted ZipWith/ArrayAggregate eval right here
      .withColumn("cosine",
        graft.plans.VecDot.of(col("a_emb"), col("b_emb"))
          / (col("a_nrm") * col("b_nrm")))
      .filter(col("cosine") >= SemDedupTau)
      .groupBy(col("a_id"))
      .agg(round(max(col("cosine")), 6).as("max_sim"))
    base.join(dominated, col("vec_id") === col("a_id"), "left")
      .select(col("vec_id"), col("cluster"), col("a_id").isNull.as("kept"),
        col("max_sim"))
  }

  val q70_semdedup: GraftQuery = GraftQuery(
    "q70_semdedup",
    (s, dir) => semdedupVerdicts(Tables.embWithNearDups(s, dir), col("label")),
    Some(s"""WITH allvecs AS (
           |  SELECT vec_id, embedding, label FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + ${Tables.EmbDupOffset},
           |    list_prepend(CAST(embedding[1] + CAST(0.001 AS FLOAT) AS FLOAT),
           |                 embedding[2:]),
           |    label
           |  FROM embeddings WHERE vec_id % ${Tables.DupEvery} = 0
           |), v AS (
           |  SELECT vec_id, label AS cluster, embedding,
           |    sqrt(list_sum(list_transform(embedding,
           |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
           |  FROM allvecs
           |), pc AS (
           |  SELECT a.vec_id AS a_id,
           |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
           |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           |      / (a.nrm * b.nrm) AS cosine
           |  FROM v a JOIN v b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
           |), dom AS (
           |  SELECT a_id, ROUND(MAX(cosine), 6) AS max_sim
           |  FROM pc WHERE cosine >= 0.99 GROUP BY a_id
           |)
           |SELECT v.vec_id, v.cluster, dom.a_id IS NULL AS kept, dom.max_sim
           |FROM v LEFT JOIN dom ON v.vec_id = dom.a_id""".stripMargin)
  )

  // ------------------------------------------------------------- q73
  private val PqSub = 16       // subspaces: 64-dim → 4 dims each
  private val PqK = 16         // centroids per subspace → 4-bit codes
  private val PqShortlistFloor = 128 // ADC survivors re-ranked exactly
  // sized so the 4-bit-code ADC ordering keeps the true top-10 inside
  // the shortlist at every test SF (recorded 0.92/0.90/0.90 at
  // sf0.001/0.01/0.1 — RECALL.json tracks it per round); re-rank cost
  // is |Q| × shortlist rows, noise at any scale

  /** Shortlist size must scale WITH the per-query candidate count
    * (n × probes/cells): 4-bit ADC ordering is noisy, so a fixed 128
    * over 10× more candidates lets the true top-10 slip out — the
    * first sf1 bench recorded recall@10 falling 0.90 → 0.66 on the
    * fixed constant. ~5% of the candidate stream (floor 128 keeps
    * every scale ≤ sf0.1 unchanged) restores headroom; re-rank cost
    * stays |Q| × shortlist — noise at any corpus size.
    */
  private[graft] def pqShortlistFor(n: Long): Int = {
    // candidate stream size rides the SCALED probes/cells ratio (at
    // the 16-cell floor this is exactly the original 9/16)
    val cells = ivfCellsFor(n)
    math.max(PqShortlistFloor,
      (n * ivfProbesFor(cells) / cells / 20).toInt)
  }

  /** Index-aware shortlist: in the fine regime the candidate stream is
    * n · probes/totalFine (~n/8), so the ~5%-of-candidates rule reads
    * off the index the query actually probes instead of the coarse
    * law.
    */
  private[graft] def pqShortlistForIdx(n: Long, idx: IvfIndex): Int =
    idx.fine match {
      case None => pqShortlistFor(n)
      case Some(f) =>
        val probes = math.min(f.probes, f.total)
        math.max(PqShortlistFloor, (n * probes / f.total / 20).toInt)
    }
  private val PqIters = 10

  /** Plain L2 Lloyd over a driver-side sample — the per-subspace PQ
    * codebook fit. Same determinism rules as [[lloydCentroids]]
    * (spread init from the id-ordered sample, first-min tie breaks,
    * empty cells keep their previous centroid), but the assignment
    * metric is squared euclidean: PQ quantizes residual geometry, not
    * direction, so cosine's norm-cancellation trick doesn't apply.
    */
  private def lloydL2(sample: Array[Array[Double]], k: Int): Array[Array[Double]] = {
    val dim = sample.head.length
    var cents = Array.tabulate(k)(i => sample(i * sample.length / k).clone())
    for (_ <- 0 until PqIters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bd = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = v(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else cents(c))
    }
    cents
  }

  /** A fitted product-quantization codebook: [[PqSub]] per-subspace
    * centroid tables, carried into the plan as reference objects by
    * the codegen'd [[graft.plans.PqEncode]]/[[graft.plans.PqAdc]]
    * expressions (hot paths) and as a literal column for the
    * query-side LUT. Codebooks are trained on L2-NORMALIZED vectors,
    * so inner product against reconstructed codes approximates cosine
    * directly.
    */
  private[graft] final case class PqCodebook(books: Seq[Seq[Seq[Double]]]) {
    val m: Int = books.length
    val k: Int = books.head.length
    val sub: Int = books.head.head.length

    def withBooks(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.withColumn("pqb", typedLit(books))

    /** `x / max(|x|, eps)` as an array<double> column — the normalize
      * step both encode and LUT share (eps guards the all-zero row).
      */
    def normalized(emb: String): String =
      s"transform($emb, x -> cast(x as double) / " +
        s"greatest(${normExpr(emb)}, cast(1e-30 as double)))"

    /** Query-side lookup table: dot(query-subvector, sub-centroid) for
      * every (subspace, code) — a flat `m*k` double array computed once
      * per (query, probe) row. PRODUCTION uses the codegen'd
      * [[graft.plans.PqLut]] (since r12 — this HOF spelling cost ~15 s
      * of interpreted lambda steps per broadcast build at the scaled
      * probe fan-out, because CollapseProject inlined the
      * normalization into all m×k inner aggregates); this spelling
      * remains as the independently-readable REFERENCE the
      * PqLut-vs-HOF bit-identity spec pins against.
      */
    def lutExpr(qnemb: String): String =
      s"flatten(transform(sequence(0, ${m - 1}), mi -> " +
        s"transform(sequence(0, ${k - 1}), c -> " +
        s"aggregate(zip_with(slice($qnemb, mi * $sub + 1, $sub), " +
        "element_at(element_at(pqb, mi + 1), c + 1), " +
        "(x, y) -> x * y), cast(0 as double), (a, v) -> a + v))))"
  }

  private[graft] def fitPq(sample: Array[Array[Double]]): PqCodebook = {
    val normed = sample.map { v =>
      val n = math.max(math.sqrt(v.map(x => x * x).sum), 1e-30)
      v.map(_ / n)
    }
    val sub = normed.head.length / PqSub
    PqCodebook((0 until PqSub).map { mi =>
      val subSample = normed.map(v => v.slice(mi * sub, (mi + 1) * sub))
      lloydL2(subSample, math.min(PqK, subSample.length))
        .map(_.toSeq).toSeq
    })
  }

  /** IVF-PQ ANN with exact re-rank (the FAISS `IVFPQR` shape) — the
    * index a 100 TB corpus actually serves from:
    *
    *   1. TRAIN on one bounded driver-side sample: q40's coarse
    *      quantizer (cells) + per-subspace PQ codebooks, both plan
    *      LITERALS — index fit is O(sample), independent of corpus.
    *   2. ENCODE row-locally in the scan stage: each vector becomes
    *      (cell, [[PqSub]] 4-bit codes). The ANN scan state is ~16
    *      bytes/vector instead of 256 bytes of floats — the 16×
    *      compression is what lets a 1000-executor cluster hold the
    *      whole index in memory.
    *   3. SEARCH: queries probe their top-[[IvfProbes]] cells
    *      (row-local, then broadcast); candidates in probed cells are
    *      scored by ADC — [[PqSub]] lookup-adds per candidate, never
    *      touching the embedding column — and the bounded-heap
    *      TopKPerGroup keeps [[pqShortlistFor]] (≥ 128, ~5% of the
    *      candidate stream) per query.
    *   4. RE-RANK the shortlist exactly: join the ≤ shortlist×|Q| id
    *      set back to the embedding table (broadcast — the only point
    *      where full vectors are read for scoring) and emit true-cosine
    *      top-10. Approximation error then affects only WHICH ≤64
    *      candidates are re-ranked, not the reported ranks/scores.
    *
    * Recall@10 vs q32's exact top-k is recorded per-round in
    * RECALL.json next to q40/q34; SimilaritySpec enforces ≥ 0.8.
    */
  /** Stages 1-3 of q73 — train, encode, probe, ADC, bounded-heap
    * shortlist — as a (q_id, q_emb, n_id) frame (pure code motion out
    * of q73; the plan is unchanged). The verify companion dumps this
    * frame's id pairs for its oracle.
    */
  private def pqShortlist(s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, dir)
    // dir-memoized fits: q73/q83 share the sample, IVF and PQ fits
    // with q40's path instead of re-running them per plan construction
    val ivf = ivfFitFor(s, dir)
    val pq = pqFitFor(s, dir)
    // corpus side: (n_id, cell, codes) — the compact index frame.
    // Encode is the corpus-wide hot path: one codegen'd expression
    // (normalize + argmin per subspace in a single call), not HOF
    // lambdas — same rationale as MinHashSig (see plans/PqCodes)
    val enc = ivf.assignCell(e)
      .withColumn("codes", graft.plans.PqEncode.of(col("embedding"), pq.books))
      .select(col("vec_id").as("n_id"), col("cell"), col("codes"))
    // query side: probe cells + LUT, both row-local before broadcast
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // LUT via the codegen'd PqLut expression (plans/PqCodes) — the
    // HOF spelling recomputed the normalization inside every one of
    // the m×k inner aggregates once CollapseProject inlined q_nemb,
    // and the corpus-scaled probe fan-out (144 cells) turned that
    // into ~15 s of interpreted lambda steps per BROADCAST build.
    // PqCodes.lut clones the HOF double-arithmetic order exactly, so
    // the shortlist (and every green oracle reading its dump) is
    // bit-identical.
    val probes = probeCells(ivf, qs)
      .withColumn("lut", graft.plans.PqLut.of(col("q_emb"), pq.books))
      .select(col("q_id"), col("q_emb"), col("cell"), col("lut"))
    val adc = enc.join(broadcast(probes), "cell")
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("adc", graft.plans.PqAdc.of(col("lut"), col("codes"), pq.k))
    graft.plans.TopKPerGroup(adc,
      Seq(col("q_id")), Seq(col("adc").desc, col("n_id")),
      pqShortlistForIdx(embCount(s, dir), ivf))
      .select(col("q_id"), col("q_emb"), col("n_id"))
  }

  val q73_pq_ann: GraftQuery = GraftQuery(
    "q73_pq_ann",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val shortlist = pqShortlist(s, dir)
      // exact re-rank: full vectors fetched for the shortlist ONLY
      val rer = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
        .join(broadcast(shortlist), "n_id")
        .withColumn("cosine",
          graft.plans.CosineSim.of(col("q_emb"), col("n_emb")))
      graft.plans.TopKPerGroup(rer,
        Seq(col("q_id")), Seq(col("cosine").desc, col("n_id")), 10, rank = Some("rank"))
        .select(col("q_id"), col("n_id"), col("rank"), round(col("cosine"), 6).as("cosine"))
    },
    None // ANN recall measured against q32's exact top-k in SimilaritySpec
  )

  /** q73's DRIVER-GATED companion (same split as q40_verify): the
    * IVF-PQ shortlist — the product of codebook training, encode and
    * ADC, deterministic but not SQL-expressible — dumps to a dir-keyed
    * path; the quantized exact re-rank + top-10 over THE SAME shortlist
    * carries a full DuckDB oracle, hash-pinning the re-rank semantics.
    */
  val q73_verify: GraftQuery = GraftQuery(
    "q73_verify",
    (s, dir) => {
      val dump = Tables.oracleDumpPath("q73_shortlist", dir)
      val cand = pqShortlist(s, dir).select(col("q_id"), col("n_id"))
      cand.write.mode("overwrite").parquet(dump)
      quantizedTopK(Tables.embeddings(s, dir), Tables.readBack(cand, dump))
    },
    Some(
      s"""WITH cand AS (
         |  SELECT q_id, n_id
         |  FROM read_parquet('${Tables.oracleDumpPath("q73_shortlist", Tables.VerifyDir)}/*.parquet'))""".stripMargin
        + quantizedTopKSql)
  )

  /** The ANN RECALL GATE (driver-graded): recall@10 of both index
    * paths (q40 IVF, q73 IVF-PQ) against the exact top-10, PLUS q34's
    * hyperplane-LSH planted-pair recall — computed IN-QUERY as integer
    * columns — the q38 pattern applied to ANN quality, so recall rides
    * CORRECTNESS instead of only the bench artifact (r11's watch item:
    * recall converging on the 0.8 floor from above with nothing
    * driver-gated asserting it).
    *
    * The top-10 sets use the QUANTIZED integer scoring + n_id
    * tie-break (the verify-companion contract), so overlap counts are
    * deterministic cross-engine. The ANN candidate sets (index fit +
    * probing — not SQL-expressible) dump dir-keyed; DuckDB recomputes
    * the exact top-10 from the raw parquet, the ANN top-10 from THE
    * SAME dumped candidates, and the identical integer flags. The LSH
    * row measures a different recall — q34 is a near-PAIR detector,
    * not a query-topk index — so its denominator is the fixture's
    * planted near-dup pairs ((v, v + EmbDupOffset) for every
    * DupEvery-th id, the same derivation the Bench probe uses) and its
    * numerator is q34's dumped output pairs. The gate asserts recall
    * ≥ 0.9 per method (`recall_ok`), the target the corpus-scaled
    * [[ivfCellsFor]]/[[ivfProbesFor]]/[[lshPlanesFor]] constants are
    * sized for at every SF.
    */
  val q83_ann_recall: GraftQuery = GraftQuery(
    "q83_ann_recall",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val ivfDump = Tables.oracleDumpPath("q83_ivf_cand", dir)
      val pqDump = Tables.oracleDumpPath("q83_pq_cand", dir)
      val lshDump = Tables.oracleDumpPath("q83_lsh_pairs", dir)
      val pressDump = Tables.oracleDumpPath("q83_lsh_pressure", dir)
      val fitDump = Tables.oracleDumpPath("q83_fit_press", dir)
      // the three candidate dumps are INDEPENDENT jobs (IVF probe,
      // PQ ADC, hyperplane-LSH pairs) that together dominate the gate;
      // submit them concurrently — Spark schedules concurrent actions
      // from one session fine, the writes go to three distinct paths,
      // and each plan's fit constants come from the dir-memoized
      // caches, so the outputs are byte-identical to the sequential
      // spelling (r16: gate wall ~11s → ~8s at sf10)
      // the dumped frames escape the block so the gate's read-backs can
      // reuse their schemas (Tables.readBack — skips footer inference)
      val (ivfCandF, pqCandF, lshPairsF, pressF, fitF) = locally {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        // materialize the fits once on THIS thread before forking:
        // the three jobs share them via the dir-keyed caches instead
        // of racing to compute them
        ivfFitFor(s, dir); pqFitFor(s, dir)
        // fit-side pressure gauge (r19): the fine fit's coarse-cell
        // mass concentration as recorded numbers — the leading
        // indicator for the hot-cell guard, riding the gate the way
        // the LSH cap-pressure columns do. Zeros whenever the fine
        // level is not engaged (every SF ≤ sf10).
        val fp = ivfFitFor(s, dir).fine.map(_.fitPress).getOrElse(FitPressure.zero)
        val fitFrame =
          s.createDataFrame(Seq((fp.cells, fp.cappedCells, fp.maxCellSample)))
            .toDF("fit_cells", "fit_capped_cells", "fit_max_cell_sample")
        // a dedicated 4-thread pool, not the global ForkJoinPool: the
        // active session is set EXPLICITLY per task (global-pool
        // workers only inherit the thread-local by accident of thread
        // creation order), a shared job group lets the first failure
        // CANCEL the sibling jobs instead of letting them run under a
        // throwing gate, and the pool dies with the block
        val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        val group = s"q83-gate-$dir"
        // the LSH bucket frame is shared by the pairs dump AND the
        // cap-pressure dump. r17 PERSISTED it and materialized the
        // cache via the pressure rollup BEFORE forking, claiming "wall
        // unchanged vs r16" — TRIALS_r18.json measured that
        // claim false and attributed the r17 verdict's +1.9-2.9s
        // every-SF regression: at sf0.1 the persist-materialize costs
        // ~1.2s where the plain fold costs ~0.3s (cache serialization
        // of the ids arrays), reading pairs back from the cache is
        // SLOWER than re-running the codegen'd fold (~0.75s vs
        // ~0.45s), and the whole prefix sat sequentially ahead of the
        // concurrent region. Measured end-to-end (TRIALS_r18.json, warm): the
        // no-persist respelling reads 2.5-3.4s vs 4.4s at sf0.1 and
        // 9.6-10s vs 13-14s at sf10 — so the DEFAULT is now to fold
        // twice (pressure job + pairs job, chained in one future that
        // overlaps the IVF/PQ dumps); the residual ~0.6-1s over r16 is
        // the gauge's own rollup job, the price of the leading
        // indicator. The sys-prop escape hatch keeps the persist
        // spelling testable at sf100 where the fold is a bigger share.
        val persistBuckets =
          sys.props.get("graft.q83.persist").exists(_.toBoolean)
        val buckets =
          if (persistBuckets)
            lshBucketAgg(s, dir)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else lshBucketAgg(s, dir)
        // frame CONSTRUCTION stays inside the futures (r19: hoisting it
        // to this thread serialized the IVF probe-calibration jobs that
        // ivfCandidates' first build runs ahead of the whole concurrent
        // region — a sf10 solo control read ~+1.5s for it,
        // OPTIMIZATION_r19.md); the typed futures
        // hand the dumped frames back out so the gate's read-backs can
        // reuse their schemas (Tables.readBack)
        def dumped(mk: => org.apache.spark.sql.DataFrame, path: String)
            : Future[org.apache.spark.sql.DataFrame] =
          Future {
            org.apache.spark.sql.SparkSession.setActiveSession(s)
            s.sparkContext.setJobGroup(group, "q83 candidate dump",
              interruptOnCancel = true)
            try { val df = mk; Tables.atomicParquetDump(df, path); df }
            finally s.sparkContext.clearJobGroup()
          }
        // the 3-row fit-pressure gauge write is a full parquet-commit
        // round-trip; it rides the pool (r19) instead of running
        // sequentially ahead of the region
        val fitDumpF = dumped(fitFrame, fitDump)
        val ivfF = dumped(
          ivfCandidates(s, dir).select(col("q_id"), col("n_id")), ivfDump)
        val pqF = dumped(
          pqShortlist(s, dir).select(col("q_id"), col("n_id")), pqDump)
        val lshF = Future {
          org.apache.spark.sql.SparkSession.setActiveSession(s)
          s.sparkContext.setJobGroup(group, "q83 candidate dump",
            interruptOnCancel = true)
          try {
            val press = lshPressure(buckets)
            Tables.atomicParquetDump(press, pressDump)
            val pairs = lshVerified(s, dir, lshPairsFromBuckets(buckets))
              .select(col("a_id"), col("b_id"))
            Tables.atomicParquetDump(pairs, lshDump)
            (press, pairs)
          } finally s.sparkContext.clearJobGroup()
        }
        try {
          try Await.result(
            Future.sequence(Seq[Future[Any]](fitDumpF, ivfF, pqF, lshF)), Duration.Inf)
          catch {
            case e: Throwable =>
              s.sparkContext.cancelJobGroup(group)
              throw e
          }
        } finally {
          if (persistBuckets) buckets.unpersist(false)
          pool.shutdown()
        }
        // all four futures completed above; zero-wait reads of the typed results
        val (press, lshPairs) = Await.result(lshF, Duration.Zero)
        (Await.result(ivfF, Duration.Zero), Await.result(pqF, Duration.Zero),
          lshPairs, press, fitFrame)
      }
      val exactPairs = e.select(col("vec_id").as("n_id"))
        .join(broadcast(e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"))),
          col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"))
      // reused by both top-k gate rows — materialize once
      val exact = quantizedTopK(e, exactPairs).select(col("q_id"), col("n_id"))
        .localCheckpoint(false)
      def recallRow(method: String, denom: org.apache.spark.sql.DataFrame,
          found: org.apache.spark.sql.DataFrame,
          joinCols: Seq[String]): org.apache.spark.sql.DataFrame = {
        val nEx = denom.groupBy().agg(count(lit(1)).as("n_exact"))
        val nHit = denom.join(found, joinCols, "left_semi")
          .groupBy().agg(count(lit(1)).as("hits"))
        nEx.crossJoin(nHit).select(
          lit(method).as("method"), col("n_exact"), col("hits"),
          (col("hits") * 10 >= col("n_exact") * 9).cast("int").as("recall_ok"))
      }
      def gateRow(dumpPath: String, written: org.apache.spark.sql.DataFrame,
          method: String): org.apache.spark.sql.DataFrame =
        recallRow(method, exact,
          quantizedTopK(e, Tables.readBack(written, dumpPath))
            .select(col("q_id"), col("n_id")),
          Seq("q_id", "n_id"))
      // q34's pair-detector recall: the planted (v, v + EmbDupOffset)
      // near-dups are the ground truth the fixture guarantees; the
      // orientation matches q34's sorted a < b expansion because every
      // organic vec_id is below the offset
      val planted = e.filter(col("vec_id") % Tables.DupEvery === 0)
        .select(col("vec_id").as("a_id"),
          (col("vec_id") + Tables.EmbDupOffset).as("b_id"))
      val lshRow = recallRow("lsh", planted,
        Tables.readBack(lshPairsF, lshDump), Seq("a_id", "b_id"))
      // cap-pressure columns (r17): zero for the cap-less methods, the
      // dumped tombstone rollup on the LSH row — the leading indicator
      // that fires BEFORE recall dips under the gate (the r16 incident
      // went 0.993-predicted → 0.867-measured with no warning column)
      val noPress = Seq("press_buckets", "press_dropped_buckets",
        "press_dropped_pairs")
      val fitCols = Seq("fit_cells", "fit_capped_cells", "fit_max_cell_sample")
      def zeroPress(df: org.apache.spark.sql.DataFrame) =
        noPress.foldLeft(df)((d, c) => d.withColumn(c, lit(0L)))
      def zeroFit(df: org.apache.spark.sql.DataFrame) =
        fitCols.foldLeft(df)((d, c) => d.withColumn(c, lit(0L)))
      val lshWithPress = lshRow.crossJoin(broadcast(Tables.readBack(pressF, pressDump)))
      // the fit gauge rides the IVF row (it is the IVF index's fit)
      val ivfWithFit = zeroPress(gateRow(ivfDump, ivfCandF, "ivf"))
        .crossJoin(broadcast(Tables.readBack(fitF, fitDump)))
      val outCols = Seq("method", "n_exact", "hits", "recall_ok") ++
        noPress ++ fitCols
      ivfWithFit.select(outCols.map(col): _*)
        .unionAll(zeroFit(zeroPress(gateRow(pqDump, pqCandF, "pq"))).select(outCols.map(col): _*))
        .unionAll(zeroFit(lshWithPress).select(outCols.map(col): _*))
    },
    Some {
      def topSql(candSrc: String): String =
        s"""SELECT q_id, n_id FROM (
           |  SELECT s.q_id, s.n_id,
           |    row_number() OVER (PARTITION BY s.q_id ORDER BY s.cosq DESC, s.n_id) AS rank
           |  FROM (
           |    SELECT c.q_id, c.n_id, ${cosqSql("q.embedding", "n.embedding")} AS cosq
           |    FROM $candSrc c
           |    JOIN embeddings q ON c.q_id = q.vec_id
           |    JOIN embeddings n ON c.n_id = n.vec_id) s) r
           |WHERE rank <= 10""".stripMargin
      val exactCand =
        """(SELECT qq.vec_id AS q_id, n.vec_id AS n_id
          |   FROM embeddings n
          |   JOIN (SELECT vec_id FROM embeddings WHERE vec_id < 5) qq
          |     ON n.vec_id <> qq.vec_id)""".stripMargin
      def dumpCand(name: String): String =
        s"(SELECT q_id, n_id FROM read_parquet('${Tables.oracleDumpPath(name, Tables.VerifyDir)}/*.parquet'))"
      val lshDumpSql =
        s"read_parquet('${Tables.oracleDumpPath("q83_lsh_pairs", Tables.VerifyDir)}/*.parquet')"
      val pressSql =
        s"read_parquet('${Tables.oracleDumpPath("q83_lsh_pressure", Tables.VerifyDir)}/*.parquet')"
      val fitSql =
        s"read_parquet('${Tables.oracleDumpPath("q83_fit_press", Tables.VerifyDir)}/*.parquet')"
      s"""WITH exact AS (${topSql(exactCand)}),
         |ivf AS (${topSql(dumpCand("q83_ivf_cand"))}),
         |pq AS (${topSql(dumpCand("q83_pq_cand"))}),
         |lshp AS (SELECT a_id, b_id FROM $lshDumpSql),
         |press AS (SELECT press_buckets, press_dropped_buckets, press_dropped_pairs
         |  FROM $pressSql),
         |fitp AS (SELECT fit_cells, fit_capped_cells, fit_max_cell_sample
         |  FROM $fitSql),
         |planted AS (
         |  SELECT vec_id AS a_id, vec_id + ${Tables.EmbDupOffset} AS b_id
         |  FROM embeddings WHERE vec_id % ${Tables.DupEvery} = 0),
         |rows_ AS (
         |  SELECT 'ivf' AS method, (SELECT COUNT(*) FROM exact) AS n_exact,
         |    (SELECT COUNT(*) FROM ivf t JOIN exact e
         |       ON t.q_id = e.q_id AND t.n_id = e.n_id) AS hits,
         |    CAST(0 AS BIGINT) AS press_buckets, CAST(0 AS BIGINT) AS press_dropped_buckets,
         |    CAST(0 AS BIGINT) AS press_dropped_pairs,
         |    f.fit_cells, f.fit_capped_cells, f.fit_max_cell_sample
         |  FROM fitp f
         |  UNION ALL
         |  SELECT 'pq' AS method, (SELECT COUNT(*) FROM exact) AS n_exact, COUNT(*) AS hits,
         |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |  FROM pq t JOIN exact e ON t.q_id = e.q_id AND t.n_id = e.n_id
         |  UNION ALL
         |  SELECT 'lsh' AS method, (SELECT COUNT(*) FROM planted) AS n_exact,
         |    (SELECT COUNT(*) FROM lshp t JOIN planted e
         |       ON t.a_id = e.a_id AND t.b_id = e.b_id) AS hits,
         |    p.press_buckets, p.press_dropped_buckets, p.press_dropped_pairs,
         |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |  FROM press p
         |)
         |SELECT method, n_exact, hits,
         |  CAST(CASE WHEN hits * 10 >= n_exact * 9 THEN 1 ELSE 0 END AS INTEGER) AS recall_ok,
         |  press_buckets, press_dropped_buckets, press_dropped_pairs,
         |  fit_cells, fit_capped_cells, fit_max_cell_sample
         |FROM rows_""".stripMargin
    }
  )

  val all: Seq[GraftQuery] = Seq(
    q30_minhash_lsh, q30_verify, q31_simhash, q32_cosine_topk, q32_verify,
    q33_embed_stats, q34_lsh_cosine, q34_verify, q35_multimodal,
    q40_ivf_cosine, q40_verify, q41_domain_sketch, q60_delta_dedup,
    q63_quantize_int8, q70_semdedup, q73_pq_ann, q73_verify,
    q83_ann_recall)
}
