package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._

/** §2C — text analysis + deduplication for training-data pipelines.
  * Everything stays in built-in codegen'd expressions (md5, regexp,
  * higher-order array functions); no UDFs.
  */
object TextOps {

  /** Exact dedup: content-hash group, keep lowest doc_id as canonical.
    * At scale this is one hash aggregate on md5(text) — the standard
    * exact-dedup shuffle. Duplicate groups are non-empty by construction
    * (Tables.docsWithExactDups injects copies).
    */
  val q24_dedup_exact: GraftQuery = GraftQuery(
    "q24_dedup_exact",
    (s, dir) =>
      Tables.docsWithExactDups(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
        .filter(col("copies") > 1),
    Some(Tables.docsExactDupsCte +
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS copies
        |FROM alldocs GROUP BY md5(text) HAVING COUNT(*) > 1""".stripMargin)
  )

  /** Normalized document fingerprint: lowercase, strip non-alnum,
    * collapse whitespace, hash. Row-local and fully codegen'd.
    */
  val q25_fingerprint: GraftQuery = GraftQuery(
    "q25_fingerprint",
    (s, dir) =>
      Tables.table(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          md5(trim(regexp_replace(
            regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
            " +", " "))).as("fingerprint")),
    Some("""SELECT doc_id,
           |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
           |FROM documents WHERE doc_id < 200""".stripMargin)
  )

  /** Token counting: whitespace tokens via length arithmetic (identical
    * on both engines), aggregated per language.
    */
  /** Two tokenizations per doc: whitespace tokens and a BPE-ish
    * word/number/punct-run regex (the usual pre-tokenizer shape),
    * aggregated per language.
    */
  val q26_token_count: GraftQuery = GraftQuery(
    "q26_token_count",
    (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("lang"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
            .as("n_tokens"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
            .as("n_bpe_tokens"),
          length(col("text")).as("n_chars"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("bigint").as("total_tokens"),
          sum(col("n_bpe_tokens")).cast("bigint").as("total_bpe_tokens"),
          sum(col("n_chars")).cast("bigint").as("total_chars"),
          (sum(col("n_chars")).cast("double") / sum(col("n_tokens")).cast("double"))
            .as("chars_per_token")),
    Some("""SELECT lang, COUNT(*) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           |  CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           |  CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE) AS chars_per_token
           |FROM (SELECT lang,
           |        length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
           |        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_bpe_tokens,
           |        length(text) AS n_chars
           |      FROM documents) t
           |GROUP BY lang""".stripMargin)
  )

  /** Quality scoring: stopword ratio + length bucket per document.
    * Integer counts divided as doubles (IEEE-identical across engines).
    */
  val q27_quality_score: GraftQuery = GraftQuery(
    "q27_quality_score",
    (s, dir) =>
      Tables.table(s, dir, "documents")
        .filter(col("doc_id") < 300)
        .select(col("doc_id"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
            .as("n_tokens"),
          expr("size(filter(split(text, ' '), w -> w = 'the' OR w = 'a'))").as("stop_hits"))
        .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tokens").cast("double"))
        .withColumn("quality",
          when(col("stop_ratio") > 0.12, lit("boilerplate"))
            .when(col("n_tokens") < 30, lit("too_short"))
            .otherwise(lit("ok"))),
    Some("""SELECT doc_id, n_tokens, stop_hits,
           |  CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
           |  CASE WHEN CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.12 THEN 'boilerplate'
           |       WHEN n_tokens < 30 THEN 'too_short' ELSE 'ok' END AS quality
           |FROM (SELECT doc_id,
           |        length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
           |        CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS INTEGER) AS stop_hits
           |      FROM documents WHERE doc_id < 300) t""".stripMargin)
  )

  /** Language-ID heuristic: argmax of marker-token hit counts. The
    * deterministic stand-in for an n-gram language model: same shape
    * (per-doc classify, then distribution), oracle-checkable.
    */
  val q28_langid: GraftQuery = GraftQuery(
    "q28_langid",
    (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("lang"),
          expr("size(filter(split(text, ' '), w -> w = 'the' OR w = 'a'))").as("s_en"),
          expr("size(filter(split(text, ' '), w -> w = 'data' OR w = 'query' OR w = 'table'))").as("s_tech"),
          expr("size(filter(split(text, ' '), w -> w = 'join' OR w = 'merge' OR w = 'sort'))").as("s_op"))
        .withColumn("predicted",
          when(col("s_en") >= col("s_tech") && col("s_en") >= col("s_op"), lit("en"))
            .when(col("s_tech") >= col("s_op"), lit("tech"))
            .otherwise(lit("op")))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n")),
    Some("""SELECT lang, predicted, COUNT(*) AS n FROM (
           |  SELECT lang,
           |    CASE WHEN s_en >= s_tech AND s_en >= s_op THEN 'en'
           |         WHEN s_tech >= s_op THEN 'tech' ELSE 'op' END AS predicted
           |  FROM (SELECT lang,
           |          len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS s_en,
           |          len(list_filter(string_split(text, ' '), w -> w = 'data' OR w = 'query' OR w = 'table')) AS s_tech,
           |          len(list_filter(string_split(text, ' '), w -> w = 'join' OR w = 'merge' OR w = 'sort')) AS s_op
           |        FROM documents) a) b
           |GROUP BY lang, predicted""".stripMargin)
  )

  /** All `a_id < b_id` pairs from a sorted `ids` array (the shared
    * within-group expansion; same shape as SimilarityOps' pairExpr).
    */
  private val idPairExpr =
    "flatten(transform(ids, (a, i) -> " +
      "transform(slice(ids, i + 2, size(ids)), b -> named_struct('a_id', a, 'b_id', b))))"

  /** The exact-Jaccard verify stage shared by the blocked q29 plan and
    * its brute-force differential reference: score `(a_id, b_id)`
    * candidates against the per-doc shingle frame, keep ≥ 0.8.
    */
  /** Exact-Jaccard verification of a candidate pair frame against a
    * `(doc_id, …, text)` frame — the stage every fuzzy-dedup spelling
    * (q29's prefix block, q30's LSH, the q36/q74 cluster sources)
    * funnels through.
    *
    * SHUFFLES TEXT, RECOMPUTES SHINGLES (r14): a doc's shingle-hash
    * array is ~8 bytes per character — 8× the text it came from — so
    * materializing the array frame and sort-merge-joining it twice is
    * what actually breaks at scale (the second sf100 spot-run ENOSPC'd
    * in exactly this stage: ~10 GB of text became >60 GB of checkpoint
    * + two-sided shuffle spill). Instead: (1) the candidate pairs —
    * two longs each — checkpoint once (they're consumed three times);
    * (2) the text frame semi-joins down to docs that appear in some
    * pair (AQE broadcasts the id set); (3) the two pair joins ship
    * compact text; (4) ONE projection recomputes both shingle arrays
    * (codegen'd ShingleHashes, whole-stage subexpression elimination
    * dedups the repeated calls) and intersects them two-pointer. The
    * arrays live only inside that projection — nothing 8×-wide ever
    * crosses an exchange. Values are bit-identical to the materialized
    * spelling: ShingleHashes is a pure function of text.
    */
  private[graft] def verifyJaccardPairs(
      docs: org.apache.spark.sql.DataFrame,
      cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sh = (c: org.apache.spark.sql.Column) => graft.plans.ShingleHashes.of(c)
    val pairs = cand.select(col("a_id"), col("b_id")).localCheckpoint(false)
    val ids = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id")))
      .distinct()
    val txt = docs.select(col("doc_id"), col("text"))
      .join(ids, Seq("doc_id"), "left_semi")
    pairs
      .join(txt.select(col("doc_id").as("a_id"), col("text").as("a_text")), "a_id")
      .join(txt.select(col("doc_id").as("b_id"), col("text").as("b_text")), "b_id")
      .select(col("a_id"), col("b_id"),
        graft.plans.SortedIntersectCount.of(sh(col("a_text")), sh(col("b_text")))
          .as("inter"),
        (size(sh(col("a_text"))) + size(sh(col("b_text")))).as("sz_sum"))
      .withColumn("uni", col("sz_sum") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= 0.8)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** The per-doc `(doc_id, n_chars, text)` frame q29's two spellings
    * share. Narrow ON PURPOSE — shingle arrays are recomputed from
    * text inside each stage's projection (see [[verifyJaccardPairs]]),
    * never carried between stages. Reads the doc_id-bucketed layout
    * (r16, [[graft.BucketedTables.docsNearDups]]): the verify stage's
    * text joins key on doc_id, so the bucketed corpus arrives
    * pre-partitioned and pre-sorted — no corpus-wide text exchange per
    * run, and the 32 single-file buckets replace the round-robin
    * spread.
    */
  private def nearDupDocs(s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame =
    graft.BucketedTables.docsNearDups(s, dir)
      .select(col("doc_id"), col("n_chars"), col("text"))

  /** The pre-r12 |block|² spelling (length-blocked all-pairs self-join)
    * — kept ONLY as the differential reference for Q29BlockingSpec,
    * which proves the blocked plan emits the identical pair set.
    */
  private[graft] def bruteForceJaccardPairs(docs: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val sh = (c: org.apache.spark.sql.Column) => graft.plans.ShingleHashes.of(c)
    val a = docs.select(col("doc_id").as("a_id"), col("n_chars"), col("text").as("a_text"))
    val b = docs.select(col("doc_id").as("b_id"), col("n_chars").as("b_chars"), col("text").as("b_text"))
    a.join(b, a("n_chars") === b("b_chars") && col("a_id") < col("b_id"))
      .withColumn("inter",
        graft.plans.SortedIntersectCount.of(sh(col("a_text")), sh(col("b_text"))))
      .withColumn("uni",
        size(sh(col("a_text"))) + size(sh(col("b_text"))) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= 0.8)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** The length × prefix-token blocked plan over a
    * `(doc_id, n_chars, text)` frame — see q29's doc comment.
    */
  private[graft] def blockedJaccardPairs(docs: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame =
    verifyJaccardPairs(docs, blockedCandidatePairs(docs))

  /** How many corpus-frequent tokens the prefix order demotes. Fixed
    * per layout (the fit is deterministic: count desc, token asc);
    * 4096 × 8 B ships as a 32 KB plan literal.
    */
  private val PrefixCommonF = 4096

  /** Driver-side fit of the prefix order's common-token set: the
    * corpus's top-F most frequent shingles. ONE bounded collect (≤ F
    * longs — the embSample/centroid precedent); the explode feeding it
    * aggregates map-side onto the gram DOMAIN (tens of thousands of
    * distinct trigrams), not the corpus, so the shuffle is tiny at any
    * scale. Correctness does not depend on this set — ANY fixed token
    * order keeps prefix filtering lossless (see
    * [[graft.plans.PrefixShingles]]); frequency-demotion only shrinks
    * candidate groups.
    */
  private def fitCommonTokens(docs: org.apache.spark.sql.DataFrame): Array[Long] = {
    // memoized per (session, canonicalized-plan semantic hash): the
    // fit is a pure function of the corpus, and q29/q36/q74 all derive
    // it from the same frame within a session — a warehouse would
    // persist it at ingest (the BucketedTables posture); here the
    // second caller just reuses the first fit. The key is a STRING so
    // the cache never retains a session-tied plan tree past the
    // session's life; an Int-hash collision (or a rewrite of the data
    // under the same plan) can only yield a suboptimal token ORDER,
    // never a wrong answer — any fixed order keeps prefix filtering
    // lossless. Bounded: cleared past 8 corpora.
    val key = System.identityHashCode(docs.sparkSession).toString + ":" +
      docs.queryExecution.logical.canonicalized.semanticHash().toString
    val cached = commonTokenCache.get(key)
    if (cached != null) return cached
    // SAMPLED fit (r16): the fit only picks a demotion ORDER, and any
    // fixed order is lossless — so a 5% seeded sample's top-F (94%
    // overlap with the full fit at sf100, boundary churn only) buys
    // the same candidate-group shrinkage for 1/50th of the shingle
    // pass (11s → 1.3s at sf100). Tiny corpora sample down to a few
    // docs, where the demotion order is irrelevant anyway (classes
    // are too small for hot prefix groups).
    val fit = docs.sample(0.05, 42)
      .select(explode(graft.plans.ShingleHashes.of(col("text"))).as("t"))
      .groupBy(col("t")).count()
      .orderBy(col("count").desc, col("t"))
      .limit(PrefixCommonF)
      .collect().map(_.getLong(0))
    if (commonTokenCache.size > 8) commonTokenCache.clear()
    commonTokenCache.put(key, fit)
    fit
  }

  private val commonTokenCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  /** The PPJoin/AllPairs PREFIX key stream `(bk, doc_id, pos, sz)` —
    * q29's blocking layer: every J ≥ 0.8 pair shares its minimum
    * common token within both docs' (1−t)·|set|+1 rare-first prefixes,
    * so emitting each doc under its prefix tokens is a lossless block
    * ON ITS OWN. Each key carries the doc's shingle-set size (as LONG
    * — the positional screen multiplies it by 9, and a ~2²⁸-shingle
    * doc must widen, not wrap) and the token's position in the doc's
    * GLOBAL prefix order: the transform index IS that position,
    * because PrefixShingles emits every rare token before any common
    * one.
    */
  /** Bucket count of the mini-sketch riding each prefix-key row: 36
    * bytes per key row (vs 132 for q30's join-shipped k=256) — sized
    * so the keyed exchange stays light while the bound still kills
    * the J ≲ 0.65 mass at this corpus's ~143-shingle docs.
    */
  private val KeySketchK = 64

  private[graft] def prefixKeys(docs: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val common = fitCommonTokens(docs)
    val sh = graft.plans.ShingleHashes.of(col("text"))
    val keyArr = transform(graft.plans.PrefixShingles.of(sh, common),
      (t, i) => struct(xxhash64(col("n_chars"), t).as("bk"), i.as("pos")))
    docs
      .select(col("doc_id"), size(sh).cast("long").as("sz"),
        graft.plans.JaccardSketchExpr.of(sh, KeySketchK).as("sk"),
        explode(keyArr).as("kv"))
      .select(col("kv.bk").as("bk"), col("doc_id"), col("kv.pos").as("pos"),
        col("sz"), col("sk"))
  }

  /** Candidate pair generation: ONE prefix-key self-join, positionally
    * screened — the r16 respelling of the r15 dual-layer intersection.
    *
    * Candidate gen is a SELF-JOIN on the prefix key, not a
    * groupBy(collect_set) (r13): the keyed stream is ~0.2 rows per
    * character of input, and feeding it into an object aggregate
    * melts down at scale — collect_set passes the object-hash
    * fallback threshold on every task (~20M groups/task, nearly all
    * singletons) and sort-spills the whole stream on BOTH sides of
    * the exchange (~60 GB of transient disk at sf100 for 16 GB of
    * input; the first sf100 spot-run died on ENOSPC exactly there).
    * The equi-self-join spelling shuffles the three-column rows,
    * radix-sorts them, and emits within-run pairs straight out of
    * codegen'd SortMergeJoin; no aggregate ever sees the fat stream.
    *
    * WHY THE PIGEONHOLE LAYER IS GONE (r16): r15 emitted a SECOND
    * lossless layer's keys (pigeonhole bucket-content hashes) into the
    * self-join and intersected the two layers' pair sets afterwards
    * (min=0 ∧ max=1 over matched layer tags). The sf100 probe showed
    * the surviving superlinear term was that layer's OWN pair emission
    * — co-empty and isolated-shared-token buckets pair ~3% of every
    * length class quadratically, and those rows existed only to be
    * dropped by the intersection AFTER riding the pair exchange (the
    * e^{-2·load} bucket-coincidence rate is inherent to a minimal-k
    * pigeonhole, not tunable). The r16 A/B (sf10, SURVEY.md §7 R16a) showed
    * the intersection buys only ~23% fewer verified candidates once
    * the positional screen is in place (2.59M screened prefix pairs →
    * 2.01M intersected, 20.9k true) — while paying for a second keyed
    * stream as large as the first plus the layer's own coincidence
    * pairs. Prefix-only is LOSSLESS BY ITSELF (the PPJoin witness —
    * Q29BlockingSpec's property + differential suites pin it), emits
    * pairs from exactly one screened key stream, and measured 1.5×
    * faster at sf10 (9.4s vs 14.5s steady-state) with the identical
    * output; at sf100 it deletes the probe-named superlinear term
    * outright. Exact verification absorbs the ~23% extra candidates.
    *
    * No hot-key cap ON PURPOSE: dropping a hot group would break the
    * lossless contract (output = the full ≥ 0.8 pair set, which is
    * itself quadratic in a degenerate all-identical corpus — a cap
    * would hide that instead of surfacing it).
    * merge-join hint ON PURPOSE: Catalyst's size estimate for the
    * keyed stream survives the explode (a Generate keeps its child's
    * stats), so the optimizer BROADCASTS a 33M-row build side at sf10
    * and executes the whole keying subtree twice — the q43 r11 bug
    * class. As a sort-merge join both sides shuffle on the same key
    * and canonicalize to ONE exchange (ReusedExchange): the keying
    * computes once and the radix sort feeds pair emission directly.
    * shuffle_hash was MEASURED and rejected (r15): it cuts the join
    * stage's CPU ~30% at sf10 (no sorts) but a shuffled hash join
    * cannot spill its build side, and at crawl scale a partition of
    * this self-joined key stream is hundreds of MB hashed — the r11
    * q43 OOM class. SMJ spills through the same case gracefully.
    * PPJoin POSITIONAL screen on the emissions (r15): a shared
    * prefix token at global-order positions (i, j) bounds the overlap
    * — every common token sorts at-or-after the pair's MINIMUM common
    * token, so at that witness I ≤ 1 + min(|A|−i−1, |B|−j−1); J ≥ 0.8
    * forces 9·I ≥ 4·(|A|+|B|). The min-common-token emission of every
    * qualifying pair passes the screen BY THAT BOUND, so blocking
    * stays lossless; what it drops is false pairs whose only shared
    * rare tokens sit deep in both prefixes (~⅔ of emissions at sf10)
    * — BEFORE they reach the pair exchange. Arithmetic is LONG (sz
    * rides as long): 9·(|A|+|B|) on a ~2²⁸-shingle doc must widen,
    * not wrap Int and wrongly drop a qualifying pair.
    */
  private def blockedCandidatePairs(docs: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val k1 = prefixKeys(docs)
    val emitOk =
      lit(9L) * (lit(1L) + least(col("a_sz") - col("a_pos") - 1,
        col("b_sz") - col("b_pos") - 1)) >= lit(4L) * (col("a_sz") + col("b_sz"))
    // MINI-SKETCH SCREEN inside the self-join (r16): the positional
    // bound alone stops being selective once the 3-gram token space
    // saturates — at the 1000× point every length class holds ~10⁴
    // docs and two RANDOM same-length docs share a "rare" prefix token
    // with probability ~(|prefix|²/|tokens|) ≈ 4%, so screened-but-
    // false emissions went quadratic: SURVEY.md §7 R16a records 2.6M distinct
    // candidates at sf10 but 1.09 BILLION at sf100 (×419 for ×10 data
    // — the regime change sf10 benchmarking cannot see). The 36-byte
    // k=64 jaccard mini-sketch rides each key row and the join filter
    // drops a match the moment the two sketches prove J < 0.8
    // (plans.JaccardSketchPass — conservative by construction, so the
    // blocking stays lossless). Evaluation order matters: the cheap
    // positional bound runs first, the sketch loop only on its
    // survivors, and nothing materializes until both pass — the
    // verdict-r15 goal (intersect BEFORE the pair rows exist) without
    // a second key stream or a per-pair witness join.
    val sketchOk = graft.plans.JaccardSketchPass.of(col("a_sk"), col("b_sk"))
    // distinct (one exchange over two-long rows): a pair sharing
    // several screened prefix tokens must be verified once, not once
    // per shared token (verifyJaccardPairs checkpoints the result)
    k1.select(col("bk"), col("doc_id").as("a_id"),
        col("pos").as("a_pos"), col("sz").as("a_sz"), col("sk").as("a_sk"))
      .hint("merge")
      .join(k1.select(col("bk"), col("doc_id").as("b_id"),
        col("pos").as("b_pos"), col("sz").as("b_sz"), col("sk").as("b_sk"))
        .hint("merge"),
        Seq("bk"))
      .filter(col("a_id") < col("b_id") && emitOk && sketchOk)
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /** Character 3-gram Jaccard near-dup detection at the EXACT ≥ 0.8
    * threshold, with a deterministic two-level block: exact text length
    * (the original key — output pairs are same-length by definition)
    * × PPJoin/AllPairs prefix tokens (plans.PrefixShingles — any
    * J ≥ 0.8 pair must share its minimum common token within both
    * docs' (1−t)·|set|+1 rare-first prefixes, so the blocking is
    * LOSSLESS and the brute-force oracle hash is preserved). Candidate
    * groups are "docs of one length whose prefixes contain rare token
    * s" — they grow with true textual overlap, not with class size
    * (the r12-r13 pigeonhole bucketing this replaces leaked
    * candidates quadratically through shared-EMPTY-bucket keys: 61%
    * of sf10's 5.4M candidates for 20.9k true pairs, and its minimal
    * k admits no count-based screen). Exact Jaccard verification runs
    * on candidates only; spurious candidates (fused-key collisions,
    * shared rare tokens below the threshold) cost a verification
    * each, never a wrong row.
    *
    * NOTE: building this plan runs ONE bounded Spark job eagerly —
    * the prefix order's top-F common-token fit ([[fitCommonTokens]])
    * collects ≤ 4096 longs at plan-construction time (memoized per
    * session+corpus; a warehouse would persist it at ingest).
    */
  val q29_ngram_jaccard: GraftQuery = GraftQuery(
    "q29_ngram_jaccard",
    (s, dir) =>
      // shingles kept as 64-bit hashes (codegen'd ShingleHashes
      // expression): a hash collision perturbing a Jaccard count has
      // probability ~1e-15 per pair (the DuckDB oracle stays on
      // strings). Key gen and verification RECOMPUTE the arrays from
      // text inside their own projections — cheaper at every scale
      // than shipping 8-bytes-per-character arrays between stages
      blockedJaccardPairs(nearDupDocs(s, dir)),
    Some(Tables.docsNearDupsCte +
      """, shingled AS (
        |  SELECT doc_id, n_chars,
        |    list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
        |                  i -> substr(text, CAST(i AS INTEGER), 3))) AS shingles
        |  FROM alldocs)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |  CAST(len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS jaccard
        |FROM shingled a JOIN shingled b
        |  ON a.n_chars = b.n_chars AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |      CAST(len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) >= 0.8""".stripMargin)
  )

  /** Connected components over an arbitrary (a_id, b_id) pair graph via
    * iterative min-label propagation — each iteration is one
    * join + aggregate, with `localCheckpoint` truncating lineage so the
    * plan doesn't grow with iterations (the standard DataFrame-native
    * iterative-graph pattern; the loop exits on a fixpoint count).
    *
    * The PAIR SOURCE is a parameter: q36 feeds it q29's length-blocked
    * pairs (oracle-matchable in SQL), while the scale path feeds it
    * q30's LSH pairs — bucketed candidate generation with no quadratic
    * length-block, rehearsed at 10× (SURVEY.md §5). The propagation
    * loop itself is pair-source-agnostic.
    */
  private[graft] def clusterPairs(pairs: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val p = pairs.select(col("a_id"), col("b_id"))
    val edges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(p.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    val maxIters = 64 // diameter bound; near-dup components are shallow
    while (changed > 0 && iter < maxIters) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nbr_label"))
      // r19 carried the previous label through the checkpoint so the
      // changed-count was a scan of the materialized frame; r20 removes
      // even that scan — the count RIDES the checkpoint materialization
      // itself as an observe() metric (the bpeFit pattern), so each
      // iteration is exactly ONE action with no follow-up job
      val obs = org.apache.spark.sql.Observation()
      val next = labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id"),
          least(labels("label"), coalesce(col("nbr_label"), labels("label"))).as("label"),
          labels("label").as("old"))
        .observe(obs, count(when(col("label") =!= col("old"), lit(1))).as("changed"))
        .localCheckpoint()
      changed = obs.get("changed").asInstanceOf[Long]
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    // fail LOUDLY on non-convergence — a silent partial result would
    // emit multiple cluster ids for one component
    require(changed == 0,
      s"label propagation did not converge within $maxIters iterations")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** The q36/q74 shared oracle prefix: near-dup pairs over the planted
    * corpus, symmetric edges, and the recursive min-reachable-id
    * closure — DuckDB's independent formulation of the component
    * labels the Spark side derives by label propagation.
    */
  private val clusterOracleCte: String =
    "WITH RECURSIVE " + Tables.docsNearDupsCte.stripPrefix("WITH ") +
      """, shingled AS (
        |  SELECT doc_id, n_chars,
        |    list_distinct(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
        |                  i -> substr(text, CAST(i AS INTEGER), 3))) AS shingles
        |  FROM alldocs),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM shingled a JOIN shingled b
        |    ON a.n_chars = b.n_chars AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
        |        CAST(len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) >= 0.8),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL
        |  SELECT b_id AS src, a_id AS dst FROM pairs),
        |reach(src, lbl) AS (
        |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) n
        |  UNION
        |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src)
        |""".stripMargin

  /** Near-dup clustering over the q29 pair graph (see [[clusterPairs]]
    * for the propagation loop and the parameterized scale path). The
    * oracle is a DuckDB recursive CTE computing min-reachable-id per
    * node — an independent formulation of the same components.
    */
  val q36_dup_clusters: GraftQuery = GraftQuery(
    "q36_dup_clusters",
    (s, dir) =>
      clusterPairs(q29_ngram_jaccard.run(s, dir)),
    Some(clusterOracleCte +
      "SELECT src AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY src")
  )

  /** q74: the END of the fuzzy-dedup story — the per-document KEEP
    * DECISION a curation pipeline actually consumes. q29/q36 stop at
    * pairs/cluster labels; this resolves them into
    * (doc_id, canonical_id, kept): every near-dup component keeps its
    * minimum doc id (the deterministic canonical pick — at crawl scale
    * "smallest id" is "first crawled"), every unpaired document keeps
    * itself. `kept` rides as int so the oracle compare is
    * representation-stable.
    *
    * Scale shape: the component labels come from the bucketed pair
    * source + label propagation ([[clusterPairs]] — at 100 TB the pair
    * source is q30's LSH, not the length-blocked q29), and the final
    * resolution is ONE broadcast-size left join: clustered docs are a
    * tiny fraction of the corpus (dup rate × corpus), so the label
    * frame broadcasts and the corpus-wide pass stays shuffle-free.
    */
  val q74_dedup_keep: GraftQuery = GraftQuery(
    "q74_dedup_keep",
    (s, dir) => {
      val labels = clusterPairs(q29_ngram_jaccard.run(s, dir))
        .select(col("doc_id"), col("cluster_id"))
      // universe frame: ids only, no per-row signature work → spread=false
      Tables.docsWithNearDups(s, dir, spread = false)
        .select(col("doc_id"))
        .join(broadcast(labels), Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"),
          (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
            .cast("int").as("kept"))
    },
    Some(clusterOracleCte +
      """, comp AS (
        |  SELECT src AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY src)
        |SELECT d.doc_id,
        |  COALESCE(c.cluster_id, d.doc_id) AS canonical_id,
        |  CAST(CASE WHEN COALESCE(c.cluster_id, d.doc_id) = d.doc_id
        |       THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM alldocs d LEFT JOIN comp c ON d.doc_id = c.doc_id""".stripMargin)
  )

  // ---- the dedup-clustering SCALE path, driver-gated ----------------
  //
  // q36/q74 above register the oracle-matchable mirror (q29's blocked
  // pairwise source — DuckDB can recompute that pair set from raw
  // text). The production 100-TB spelling feeds the SAME clusterPairs
  // propagation loop from q30's banded MinHash-LSH candidates: bucketed
  // candidate generation, no length-block quadratic. The banding step
  // is not SQL-expressible, so these entries use the q30_verify dump
  // protocol — the exact-Jaccard-verified LSH pair set dumps dir-keyed,
  // and DuckDB independently recomputes components / keep decisions
  // FROM THE SAME PAIRS via its recursive CTE. Everything downstream of
  // the banding (the part that was previously rehearsal-only) is
  // hash-gated.

  /** The verified LSH pair frame both scale entries consume (q30's
    * candidate generation + exact-Jaccard verification, pairs only).
    */
  private def lshVerifiedPairs(s: org.apache.spark.sql.SparkSession, dir: String)
  : org.apache.spark.sql.DataFrame =
    SimilarityOps.verifyJaccard(s, dir, SimilarityOps.minhashCandidatePairs(s, dir))
      .select(col("a_id"), col("b_id"))

  /** The shared recursive-CTE oracle tail over a dumped pair set. */
  private def pairComponentsSql(dumpName: String): String =
    s"""pairs AS (
       |  SELECT a_id, b_id
       |  FROM read_parquet('${Tables.oracleDumpPath(dumpName, Tables.VerifyDir)}/*.parquet')),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM pairs
       |  UNION ALL
       |  SELECT b_id AS src, a_id AS dst FROM pairs),
       |reach(src, lbl) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) n
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src)""".stripMargin

  /** Near-dup clustering over the LSH pair graph — the registered
    * scale path (see the block comment above).
    */
  val q36_scale: GraftQuery = GraftQuery(
    "q36_scale",
    (s, dir) => {
      val dump = Tables.oracleDumpPath("q36_scale_pairs", dir)
      val pairs = lshVerifiedPairs(s, dir)
      Tables.atomicParquetDump(pairs, dump)
      clusterPairs(Tables.readBack(pairs, dump))
    },
    Some("WITH RECURSIVE " + pairComponentsSql("q36_scale_pairs") + "\n" +
      "SELECT src AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY src")
  )

  /** Per-document keep decision over the LSH pair graph — the
    * registered scale path of q74 (see the block comment above).
    */
  val q74_scale: GraftQuery = GraftQuery(
    "q74_scale",
    (s, dir) => {
      val dump = Tables.oracleDumpPath("q74_scale_pairs", dir)
      val pairs = lshVerifiedPairs(s, dir)
      Tables.atomicParquetDump(pairs, dump)
      val labels = clusterPairs(Tables.readBack(pairs, dump))
        .select(col("doc_id"), col("cluster_id"))
      Tables.docsWithNearDups(s, dir, spread = false)
        .select(col("doc_id"))
        .join(broadcast(labels), Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"),
          (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
            .cast("int").as("kept"))
    },
    Some("WITH RECURSIVE " + Tables.docsNearDupsCte.stripPrefix("WITH ").stripSuffix("\n") + ",\n" +
      pairComponentsSql("q74_scale_pairs") +
      """,
        |comp AS (
        |  SELECT src AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY src)
        |SELECT d.doc_id,
        |  COALESCE(c.cluster_id, d.doc_id) AS canonical_id,
        |  CAST(CASE WHEN COALESCE(c.cluster_id, d.doc_id) = d.doc_id
        |       THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM alldocs d LEFT JOIN comp c ON d.doc_id = c.doc_id""".stripMargin)
  )

  /** Winnowing document fingerprints (the MOSS scheme): 4-gram hashes →
    * sliding windows of 5 → per-window minimum → distinct selected
    * hashes are the doc's fingerprints. Guarantees any match of length
    * ≥ w+k-1 shares a fingerprint, with ~2/(w+1) selection density —
    * the local-minima variant of q25's whole-doc hash. Hashes derive
    * from md5 hex (conv(…,16,10) here, '0x…'::BIGINT in DuckDB) so the
    * oracle reproduces them bit-for-bit; all row-local, codegen'd
    * except the small per-doc window transform.
    */
  /** 4-gram md5-derived hash array of `text` (shared with the
    * winnowing-property spec so the tested expression IS the shipped
    * one).
    */
  private[graft] val winnowHashExpr =
    "transform(sequence(1, greatest(length(text) - 3, 1)), " +
      "i -> cast(conv(substring(md5(substring(text, i, 4)), 1, 8), 16, 10) as bigint))"

  /** Window-of-5 minima over `hs` → the selected fingerprints. */
  private[graft] val winnowFpExpr =
    "transform(sequence(1, greatest(size(hs) - 4, 1)), j -> array_min(slice(hs, j, 5)))"

  val q44_winnow_fingerprint: GraftQuery = GraftQuery(
    "q44_winnow_fingerprint",
    (s, dir) =>
      Tables.table(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .withColumn("hs", expr(winnowHashExpr))
        .withColumn("fps", array_distinct(expr(winnowFpExpr)))
        .select(col("doc_id"),
          size(col("fps")).as("n_fingerprints"),
          array_min(col("fps")).as("min_fp"),
          array_max(col("fps")).as("max_fp"),
          expr("aggregate(fps, cast(0 as bigint), (acc, x) -> acc + x)").as("sum_fp")),
    Some("""SELECT doc_id, len(fps) AS n_fingerprints,
           |  list_min(fps) AS min_fp, list_max(fps) AS max_fp,
           |  CAST(list_sum(fps) AS BIGINT) AS sum_fp
           |FROM (
           |  SELECT doc_id, list_distinct(list_transform(
           |    range(1, greatest(len(hs) - 4, 1) + 1),
           |    j -> list_min(hs[CAST(j AS INTEGER):CAST(j + 4 AS INTEGER)]))) AS fps
           |  FROM (
           |    SELECT doc_id, list_transform(
           |      range(1, greatest(length(text) - 3, 1) + 1),
           |      i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 4)), 1, 8)) AS BIGINT)) AS hs
           |    FROM documents WHERE doc_id < 200) h) f""".stripMargin)
  )

  /** Stratified sampling: exactly k docs per language, selected by a
    * deterministic pseudo-random order (md5 of the id — reproducible
    * across engines and runs, unlike rand()). Runs through the custom
    * TopKPerGroup operator, so sampling a 100 TB corpus shuffles at
    * most k rows per stratum per partition; the oracle is the
    * row_number formulation.
    */
  val q45_stratified_sample: GraftQuery = GraftQuery(
    "q45_stratified_sample",
    (s, dir) => {
      val d = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("doc_id").cast("string")).as("rnd"))
      graft.plans.TopKPerGroup(d, Seq(col("lang")), Seq(col("rnd").asc), 20)
        .select(col("lang"), col("doc_id"), col("n_chars"))
    },
    Some("""SELECT lang, doc_id, n_chars FROM (
           |  SELECT lang, doc_id, n_chars,
           |    ROW_NUMBER() OVER (PARTITION BY lang
           |                       ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
           |  FROM documents) t WHERE rk <= 20""".stripMargin)
  )

  /** Dataset profiling — the "analyze" pass every training-data
    * pipeline runs before ingestion: per-column null rates, distinct
    * counts, and value ranges in ONE scan (all profile cells are
    * aggregates of the same pass; no per-column jobs).
    */
  val q46_profile: GraftQuery = GraftQuery(
    "q46_profile",
    (s, dir) =>
      Tables.table(s, dir, "documents")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_text"),
          countDistinct(col("lang")).as("distinct_lang"),
          countDistinct(col("source")).as("distinct_source"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          expr("ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*), 6)")
            .as("avg_chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id")),
    Some("""SELECT COUNT(*) AS n_rows,
           |  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
           |  COUNT(DISTINCT lang) AS distinct_lang,
           |  COUNT(DISTINCT source) AS distinct_source,
           |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
           |  ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
           |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
           |FROM documents""".stripMargin)
  )

  /** Gopher-style quality rules (Rae et al. 2021 §A1.1, the public
    * heuristics every web-corpus pipeline reimplements): word count
    * bounds, mean word length range, ellipsis-line limits, alphabetic-
    * word fraction, minimum stop-word hits. Each rule is a plain SQL
    * predicate over the tokenized doc; the verdict names the FIRST
    * failed rule so downstream stats explain drops.
    */
  /** Row-level Gopher verdicts over any documents frame (all map
    * work, no shuffle) — q47 reports their distribution;
    * Pipeline.exportCorpus keeps `verdict = 'keep'`.
    */
  private[graft] def gopherVerdicts(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        expr("filter(split(text, ' '), w -> w != '')").as("words"),
        col("text"))
      .select(col("doc_id"), col("lang"),
        size(col("words")).as("n_words"),
        expr("ROUND(CAST(aggregate(words, 0, (a, w) -> a + length(w)) AS DOUBLE) " +
          "/ greatest(size(words), 1), 6)").as("mean_word_len"),
        expr("size(filter(words, w -> w rlike '[A-Za-z]'))").as("n_alpha_words"),
        expr("size(filter(words, w -> w IN ('the','be','to','of','and','that','have','with')))")
          .as("stop_hits"),
        (length(col("text")) - length(regexp_replace(col("text"), "\\.\\.\\.", "")))
          .as("ellipsis_chars"))
      .withColumn("verdict",
        when(col("n_words") < 50, "too_few_words")
          .when(col("n_words") > 100000, "too_many_words")
          .when(col("mean_word_len") < 3 || col("mean_word_len") > 10, "word_len_out_of_range")
          .when(col("n_alpha_words").cast("double") / col("n_words") < 0.8, "low_alpha_fraction")
          .when(col("stop_hits") < 2, "too_few_stop_words")
          .when(col("ellipsis_chars") > 30, "too_many_ellipses")
          .otherwise("keep"))

  val q47_gopher_quality: GraftQuery = GraftQuery(
    "q47_gopher_quality",
    (s, dir) =>
      gopherVerdicts(Tables.table(s, dir, "documents"))
        .groupBy(col("lang"), col("verdict"))
        .agg(count(lit(1)).as("n_docs")),
    Some("""SELECT lang, verdict, COUNT(*) AS n_docs FROM (
           |  SELECT lang,
           |    CASE WHEN n_words < 50 THEN 'too_few_words'
           |         WHEN n_words > 100000 THEN 'too_many_words'
           |         WHEN mean_word_len < 3 OR mean_word_len > 10 THEN 'word_len_out_of_range'
           |         WHEN CAST(n_alpha_words AS DOUBLE) / n_words < 0.8 THEN 'low_alpha_fraction'
           |         WHEN stop_hits < 2 THEN 'too_few_stop_words'
           |         WHEN ellipsis_chars > 30 THEN 'too_many_ellipses'
           |         ELSE 'keep' END AS verdict
           |  FROM (
           |    SELECT lang,
           |      len(words) AS n_words,
           |      ROUND(CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
           |            / greatest(len(words), 1), 6) AS mean_word_len,
           |      len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_words,
           |      len(list_filter(words, w -> w IN ('the','be','to','of','and','that','have','with'))) AS stop_hits,
           |      length(text) - length(replace(text, '...', '')) AS ellipsis_chars
           |    FROM (
           |      SELECT lang, text,
           |        list_filter(string_split(text, ' '), w -> w != '') AS words
           |      FROM documents) w0) m) v
           |GROUP BY lang, verdict""".stripMargin)
  )

  /** Repetition signal via the custom CompressionRatio expression:
    * highly repetitive text deflates far below natural prose. Bucketed
    * distribution per source (rows-only: java.util.zip has no DuckDB
    * twin; monotonicity is property-tested in SignaturesSpec).
    */
  val q48_repetition: GraftQuery = GraftQuery(
    "q48_repetition",
    (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(col("source"),
          graft.plans.CompressionRatio.of(col("text")).as("ratio"))
        .groupBy(col("source"),
          floor(col("ratio") * 10).cast("int").as("ratio_decile"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("ratio")), 4).as("min_ratio"),
          round(max(col("ratio")), 4).as("max_ratio")),
    None // deflate has no DuckDB equivalent; property-tested in SignaturesSpec
  )

  /** q48's DRIVER-GATED companion (q30_verify dump pattern): DuckDB has
    * no deflate, but the per-doc ratio is one deterministic double —
    * dump (doc_id, source, ratio) dir-keyed and run the decile
    * bucketing + rollup FROM THE DUMP in both engines (parquet doubles
    * round-trip exactly), so everything downstream of the compressor
    * is hash-pinned; the compressor itself stays in SignaturesSpec.
    */
  val q48_verify: GraftQuery = GraftQuery(
    "q48_verify",
    (s, dir) => {
      val dump = Tables.oracleDumpPath("q48_ratios", dir)
      val ratios = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.plans.CompressionRatio.of(col("text")).as("ratio"))
      ratios.write.mode("overwrite").parquet(dump)
      Tables.readBack(ratios, dump)
        .groupBy(col("source"),
          floor(col("ratio") * 10).cast("int").as("ratio_decile"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("ratio")), 4).as("min_ratio"),
          round(max(col("ratio")), 4).as("max_ratio"))
    },
    Some(
      s"""SELECT source, CAST(floor(ratio * 10) AS INT) AS ratio_decile,
         |  COUNT(*) AS n_docs,
         |  round(MIN(ratio), 4) AS min_ratio,
         |  round(MAX(ratio), 4) AS max_ratio
         |FROM read_parquet('${Tables.oracleDumpPath("q48_ratios", Tables.VerifyDir)}/*.parquet')
         |GROUP BY source, CAST(floor(ratio * 10) AS INT)""".stripMargin)
  )

  private val WordTokens = "regexp_extract_all(lower(text), '[a-z]+', 0)"

  /** Corpus vocabulary histogram: global top-50 word tokens by
    * frequency — the "what is this corpus made of" pass every
    * training-data pipeline runs. One map-side-combined groupBy on the
    * token (the only shuffle), then `orderBy().limit()` lowers to
    * TakeOrderedAndProject: ≤ 50 rows per partition move to the driver,
    * never a global sort. (token, freq) is a total order, so the cut at
    * 50 is deterministic on both engines.
    */
  val q49_token_histogram: GraftQuery = GraftQuery(
    "q49_token_histogram",
    (s, dir) =>
      Tables.table(s, dir, "documents")
        .select(explode(expr(WordTokens)).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).cast("bigint").as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
        .limit(50),
    Some("""SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
           |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
           |      FROM documents) t
           |GROUP BY token ORDER BY freq DESC, token ASC LIMIT 50""".stripMargin)
  )

  /** Posting-list segment width: each output row carries the postings
    * of one doc-id range of this width, so no aggregation buffer (and
    * no output row) ever holds more than this many ids — the sharded
    * layout real index builders write. Segments concatenate in seg
    * order to reconstruct the full sorted posting list.
    */
  val PostingSegWidth = 256

  /** Inverted index over the RARE vocabulary (document frequency ≤ 5%
    * of the corpus): term → df + SEGMENTED sorted posting lists
    * (joined to strings so the oracle compare is
    * array-representation-proof).
    *
    * Scale shape — document frequencies come FIRST (a cheap count
    * aggregate), the rare band joins back on the token (a plain
    * shuffle join — under a Zipfian vocabulary the rare band is MOST
    * of the distinct terms, far too large to broadcast; AQE still
    * picks a broadcast when the band happens to be small), and only
    * rare terms ever build posting lists. Even a rare term's postings
    * are huge in absolute terms at crawl scale (5% of 100 B docs), so
    * lists build PER DOC-ID SEGMENT (`doc_id div PostingSegWidth`):
    * every aggregation buffer is structurally ≤ [[PostingSegWidth]]
    * ids regardless of df, and a term's index rows scale out across
    * reducers instead of funneling into one.
    */
  val q50_inverted_index: GraftQuery = GraftQuery(
    "q50_inverted_index",
    (s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val pairs = docs
        .select(col("doc_id"), explode(expr(WordTokens)).as("token"))
        .distinct()
      val rare = pairs.groupBy(col("token"))
        .agg(count(lit(1)).cast("bigint").as("df"))
        .join(broadcast(n))
        .filter(col("df") * 20 <= col("n_docs"))
        .select(col("token"), col("df"))
      pairs.join(rare, "token")
        .withColumn("seg", expr(s"doc_id div $PostingSegWidth"))
        .groupBy(col("token"), col("df"), col("seg"))
        .agg(expr(
          "concat_ws(',', transform(sort_array(collect_list(doc_id)), x -> cast(x as string)))")
          .as("postings"))
        .select(col("token"), col("df"), col("seg"), col("postings"))
    },
    Some(s"""WITH pairs AS (
           |  SELECT DISTINCT doc_id, token FROM (
           |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
           |    FROM documents) u
           |), df AS (
           |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df
           |  FROM pairs GROUP BY token
           |  HAVING COUNT(*) * 20 <= (SELECT COUNT(*) FROM documents)
           |)
           |SELECT p.token, d.df, CAST(p.doc_id // $PostingSegWidth AS BIGINT) AS seg,
           |       string_agg(p.doc_id::VARCHAR, ',' ORDER BY p.doc_id) AS postings
           |FROM pairs p JOIN df d USING (token)
           |GROUP BY p.token, d.df, seg""".stripMargin)
  )

  /** Benchmark decontamination — the pass every LLM training pipeline
    * runs before training: flag train documents sharing any 8-character
    * gram with the held-out eval set (here: `doc_id % 50 = 7` stands in
    * for the benchmark corpus). Per contaminated doc: how many eval
    * docs it overlaps and how many distinct grams are shared.
    *
    * Scale shape: the EVAL side is small by construction (benchmark
    * suites are thousands of docs, not billions), so its grams
    * broadcast; the train side explodes gram HASHES and joins the
    * broadcast IMMEDIATELY — no distinct, no exchange below the join —
    * because the final countDistinct aggregate dedups repeats anyway.
    * The only shuffle is the per-doc aggregate over eval-MATCHING
    * grams, a benchmark-sized trickle regardless of corpus size.
    *
    * Grams travel as 64-bit XXH64 hashes via the codegen'd
    * `GramHashes` expression (per-doc distinct, sorted): no per-gram
    * string allocation, no interpreted HOF lambda, an 8-byte join key —
    * and per-doc dedup happens inside the scan stage for free. The
    * DuckDB oracle keeps substring grams; a hash collision perturbing
    * a countDistinct has probability ~1e-15 per pair (the q29
    * precedent). Exact integer outputs either way.
    */
  /** The q53 core over arbitrary train/eval frames: flagged train
    * docs sharing ≥ 1 `gram`-char span with the eval set, with overlap
    * counts. q53 reports at gram = 8 (fine-grained diagnostic);
    * Pipeline.exportCorpus DROPS at gram = 32 — a verbatim ~13-token
    * span, the GPT-3/PaLM-style decontamination unit — because on a
    * shared vocabulary every doc collides with something at 8 chars
    * (the fixture: 490/490 train docs overlap the eval set at 8, one
    * at 32).
    */
  private[graft] def contamination(train: org.apache.spark.sql.DataFrame,
      evalDocs: org.apache.spark.sql.DataFrame, gram: Int = 8): org.apache.spark.sql.DataFrame = {
    def grams(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        explode(graft.plans.GramHashes.of(col("text"), gram)).as("g"))
    // eval side: GramHashes already dedups within each doc and
    // eval_id stays in the row, so there is NOTHING left to
    // distinct — the broadcast input needs no shuffle at all
    val evalGrams = grams(evalDocs)
      .select(col("doc_id").as("eval_id"), col("g"))
    // train side: NO distinct — a pre-join .distinct() would shuffle
    // every distinct 8-gram of the whole train corpus (the largest
    // shuffle anywhere at 100 TB) only to dedup rows countDistinct
    // dedups below. Broadcast-join first so non-matching grams die
    // in the map task that produced them.
    grams(train)
      .join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("eval_id")).cast("bigint").as("n_eval_docs"),
        countDistinct(col("g")).cast("bigint").as("n_shared_grams"))
  }

  val q53_decontaminate: GraftQuery = GraftQuery(
    "q53_decontaminate",
    (s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      contamination(docs.filter(col("doc_id") % 50 =!= 7),
        docs.filter(col("doc_id") % 50 === 7))
    },
    Some("""WITH grams AS (
           |  SELECT doc_id, unnest(list_transform(
           |    range(1, greatest(length(text) - 7, 1) + 1),
           |    i -> substr(text, CAST(i AS INTEGER), 8))) AS g
           |  FROM documents
           |), tg AS (
           |  SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 50 <> 7
           |), eg AS (
           |  SELECT DISTINCT doc_id AS eval_id, g FROM grams WHERE doc_id % 50 = 7
           |)
           |SELECT tg.doc_id,
           |       CAST(COUNT(DISTINCT eg.eval_id) AS BIGINT) AS n_eval_docs,
           |       CAST(COUNT(DISTINCT tg.g) AS BIGINT) AS n_shared_grams
           |FROM tg JOIN eg ON tg.g = eg.g
           |GROUP BY tg.doc_id""".stripMargin)
  )

  /** q81 threshold: a doc drops when MORE than this percentage of its
    * distinct 13-grams appear in the eval set — the GPT-3-appendix /
    * PaLM overlap-fraction rule, integer-compared (`100·shared >
    * pct·total`) so no float boundary can round apart cross-engine.
    */
  private val ContamRatePct = 20
  private val ContamGramTokens = 13

  /** The fraction-threshold contamination rule — the published
    * complement to q53's any-overlap drop: q53 kills a doc for ONE
    * shared verbatim span (high precision against exact leakage);
    * this scores each doc by what FRACTION of its distinct 13-token
    * grams appear anywhere in the eval set, and flags past a
    * percentage threshold — the GPT-3/PaLM rule that tolerates
    * incidental phrase reuse but catches paraphrased/partial leaks a
    * single-span rule underweights.
    *
    * Scale shape: the per-doc TOTAL distinct-gram count is computed
    * ROW-LOCALLY in the scan stage (`array_distinct` + `size` over
    * the doc's own gram array — a per-doc corpus-wide countDistinct
    * would be the largest shuffle in the pipeline at 100 TB); only
    * grams that MATCH the broadcast eval set survive to the one
    * aggregate, so the exchange carries near-dup density, not corpus
    * size. Grams travel as md5 of the normalized token window —
    * DuckDB recomputes the identical strings, and every output column
    * is an integer → full hash-exact oracle.
    */
  private[graft] def contaminationRate(train: org.apache.spark.sql.DataFrame,
      evalDocs: org.apache.spark.sql.DataFrame,
      gramTokens: Int = ContamGramTokens,
      pctThreshold: Int = ContamRatePct): org.apache.spark.sql.DataFrame = {
    val gramsExpr =
      s"""if(size(toks) >= $gramTokens,
         |  transform(sequence(0, size(toks) - $gramTokens),
         |    i -> md5(concat_ws(' ', slice(toks, i + 1, $gramTokens)))),
         |  cast(array() as array<string>))""".stripMargin
    def grams(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("toks"))
      .select(col("doc_id"), array_distinct(expr(gramsExpr)).as("grams"))
    val evalGrams = grams(evalDocs)
      .select(explode(col("grams")).as("g")).distinct()
    val trainGrams = grams(train)
    val shared = trainGrams
      .select(col("doc_id"), explode(col("grams")).as("g"))
      .join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_shared"))
    trainGrams
      .select(col("doc_id"), size(col("grams")).cast("bigint").as("n_grams"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated",
        (lit(100) * col("n_shared") > lit(pctThreshold) * col("n_grams"))
          .cast("int"))
  }

  val q81_contamination_rate: GraftQuery = GraftQuery(
    "q81_contamination_rate",
    (s, dir) => {
      val docs = Tables.table(s, dir, "documents")
      contaminationRate(docs.filter(col("doc_id") % 50 =!= 7),
        docs.filter(col("doc_id") % 50 === 7))
    },
    Some(s"""WITH toks AS (
            |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts
            |  FROM documents
            |), g AS (
            |  SELECT DISTINCT doc_id,
            |    md5(array_to_string(ts[(i+1):(i+$ContamGramTokens)], ' ')) AS g
            |  FROM (
            |    SELECT doc_id, ts,
            |      unnest(range(0, greatest(len(ts) - ${ContamGramTokens - 1}, 0))) AS i
            |    FROM toks) x
            |), tot AS (
            |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY doc_id
            |), eg AS (
            |  SELECT DISTINCT g FROM g WHERE doc_id % 50 = 7
            |), sh AS (
            |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
            |  FROM g JOIN eg USING (g) WHERE doc_id % 50 <> 7 GROUP BY doc_id
            |)
            |SELECT d.doc_id,
            |  COALESCE(t.n_grams, 0) AS n_grams,
            |  COALESCE(s.n_shared, 0) AS n_shared,
            |  CAST(CASE WHEN 100 * COALESCE(s.n_shared, 0) >
            |    $ContamRatePct * COALESCE(t.n_grams, 0) THEN 1 ELSE 0 END AS INT)
            |    AS contaminated
            |FROM documents d
            |LEFT JOIN tot t ON d.doc_id = t.doc_id
            |LEFT JOIN sh s ON d.doc_id = s.doc_id
            |WHERE d.doc_id % 50 <> 7""".stripMargin)
  )

  /** Sequence packing (concat-and-chunk): the batch-prep step between
    * a filtered corpus and a trainer — concatenate each source shard's
    * documents in doc_id order and cut the token stream every C=2048
    * tokens; a document belongs to the chunk where it STARTS. Output:
    * per (source, chunk) the packed doc count, token sum, and first
    * doc — the packing manifest a loader would consume.
    *
    * Scale shape: ONE hash partition by source + an in-partition sort
    * (the window never crosses sources, so no global ordering is
    * materialized — at 100 TB each source shard packs independently,
    * exactly how a sharded loader wants it). Token counts reuse q26's
    * whitespace convention; all-integer outputs → exact oracle.
    */
  val q55_pack_sequences: GraftQuery = GraftQuery(
    "q55_pack_sequences",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      Tables.table(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
            .as("n_tokens"))
        .withColumn("cum_before",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("chunk", expr("CAST(cum_before DIV 2048 AS BIGINT)"))
        .groupBy(col("source"), col("chunk"))
        .agg(
          count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("n_tokens")).cast("bigint").as("chunk_tokens"),
          min(col("doc_id")).as("first_doc"))
    },
    Some("""WITH toks AS (
           |  SELECT source, doc_id,
           |    length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
           |  FROM documents
           |), packed AS (
           |  SELECT source, doc_id, n_tokens,
           |    COALESCE(SUM(n_tokens) OVER (
           |      PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           |  FROM toks
           |)
           |SELECT source, CAST(cum_before // 2048 AS BIGINT) AS chunk,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens,
           |  MIN(doc_id) AS first_doc
           |FROM packed GROUP BY source, CAST(cum_before // 2048 AS BIGINT)""".stripMargin)
  )

  /** BM25 query terms — fixed here (a search API would bind them per
    * request; the PLAN is term-count-independent).
    */
  val Bm25Terms: Seq[String] = Seq("vector", "stream", "merge")

  /** BM25 relevance scoring (Robertson/Sparck Jones; k1=1.2, b=0.75) —
    * keyword retrieval over the corpus, the classic lexical
    * counterpart to the ANN ops (q32/q34/q40). Scale shape:
    *
    *   - term filter BEFORE any shuffle: tokens explode inside the
    *     scan stage and non-query terms die immediately, so the tf
    *     aggregate's exchange carries ≤ |terms| rows per doc — at
    *     100 TB the full token stream never shuffles;
    *   - df and the (N, Σdl) corpus stats are tiny aggregates joined
    *     back by BROADCAST (df has ≤ |terms| rows, stats exactly 1);
    *   - doc length rides the tf row (`first(dl)` — constant per doc),
    *     so scoring is row-local arithmetic, no join back to docs.
    *
    * Every input to the score is exact-integer-derived (tf, df, N,
    * Σdl, dl), constants are written as identical double literals on
    * both sides, and per-term contributions round to 6 decimals into
    * a DECIMAL sum (order-independent, q33's trick) — so the oracle
    * is hash-exact despite floating-point `ln`.
    */
  val q61_bm25: GraftQuery = GraftQuery(
    "q61_bm25",
    (s, dir) => {
      // ONE corpus scan: per-doc length + the (≤ |terms|-element)
      // query-term hits land in a lazily-checkpointed frame that
      // stats, df and scoring all branch from — without it Catalyst
      // plans three independent full scans of the corpus (AQE does
      // not reuse them), which at 100 TB is the whole query cost
      val keep = Bm25Terms.map(t => s"t = '$t'").mkString(" OR ")
      val perDoc = Tables.table(s, dir, "documents")
        .select(col("doc_id"), expr(WordTokens).as("toks"))
        .select(col("doc_id"), size(col("toks")).as("dl"),
          expr(s"filter(toks, t -> $keep)").as("hits"))
        .localCheckpoint(false)
      val stats = perDoc.agg(
        count(lit(1)).cast("double").as("n_docs"),
        sum(col("dl")).cast("double").as("sum_dl"))
      val tf = perDoc
        .select(col("doc_id"), col("dl"), explode(col("hits")).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
      tf.join(broadcast(df), "tok")
        .crossJoin(broadcast(stats)) // 1 row — a broadcast scalar, not a shuffle
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
        .withColumn("tfw",
          col("tf") * lit(2.2) / (col("tf") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / (col("sum_dl") / col("n_docs")))))
        .withColumn("contrib", round(col("idf") * col("tfw"), 6))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("contrib").cast("decimal(20,6)")).cast("double").as("bm25"),
          count(lit(1)).cast("int").as("n_terms"))
    },
    Some("""WITH docs AS (
           |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
           |  FROM documents
           |), lens AS (
           |  SELECT doc_id, len(toks) AS dl FROM docs
           |), stats AS (
           |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
           |         CAST(SUM(dl) AS DOUBLE) AS sum_dl FROM lens
           |), tf AS (
           |  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
           |  FROM (SELECT doc_id, unnest(toks) AS tok FROM docs) u
           |  WHERE tok IN ('vector', 'stream', 'merge')
           |  GROUP BY 1, 2
           |), df AS (
           |  SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1
           |)
           |SELECT t.doc_id,
           |  CAST(SUM(CAST(ROUND(
           |    ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
           |    (t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / (s.sum_dl / s.n_docs))))
           |  , 6) AS DECIMAL(20,6))) AS DOUBLE) AS bm25,
           |  CAST(COUNT(*) AS INT) AS n_terms
           |FROM tf t JOIN df d USING (tok) JOIN lens l USING (doc_id) CROSS JOIN stats s
           |GROUP BY 1""".stripMargin)
  )

  // PII patterns — conservative constructs (\b, \d, char classes)
  // whose semantics agree between Java regex and DuckDB's RE2, so the
  // scrub carries a hash-exact oracle. Applied email → ip → phone on
  // both sides (order matters once text is being rewritten).
  private val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII scrub — the redaction pass a training pipeline runs before
    * any text leaves the curation boundary: emails, IPv4s and phone
    * numbers replaced with typed placeholder tokens, with per-doc
    * match counts and an md5 of the redacted text (the value
    * downstream exact-dedup keys on). Entirely ROW-LOCAL codegen'd
    * regexp work inside the scan stage — no shuffle anywhere, which
    * is the property that matters when the pass fronts 100 TB.
    *
    * The corpus fixture has no organic PII, so every 10th doc gets a
    * deterministic planted line (same CASE on both sides) — the
    * oracle then pins both the hit counts AND the rewritten bytes.
    */
  val q62_pii_scrub: GraftQuery = GraftQuery(
    "q62_pii_scrub",
    (s, dir) => {
      val planted = when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(" mail u"), col("doc_id").cast("string"),
          lit("@ex.org ip 10.0.0."), (col("doc_id") % 250).cast("string"),
          lit(" call 555-123-4567"))).otherwise(col("text"))
      // counts are taken on the stage each pattern actually scans
      // (email on raw, ip after email-redaction, phone after both),
      // mirroring the rewrite order exactly
      val t2 = regexp_replace(planted, EmailRe, "<EMAIL>")
      val t3 = regexp_replace(t2, Ipv4Re, "<IP>")
      Tables.table(s, dir, "documents")
        .select(
          col("doc_id"),
          size(regexp_extract_all(planted, lit(EmailRe), lit(0)))
            .cast("int").as("n_emails"),
          size(regexp_extract_all(t2, lit(Ipv4Re), lit(0)))
            .cast("int").as("n_ips"),
          size(regexp_extract_all(t3, lit(PhoneRe), lit(0)))
            .cast("int").as("n_phones"),
          md5(regexp_replace(t3, PhoneRe, "<PHONE>")).as("redacted_md5"))
    },
    Some(s"""SELECT doc_id,
            |  CAST(len(regexp_extract_all(t1, '$EmailRe')) AS INT) AS n_emails,
            |  CAST(len(regexp_extract_all(t2, '$Ipv4Re')) AS INT) AS n_ips,
            |  CAST(len(regexp_extract_all(t3, '$PhoneRe')) AS INT) AS n_phones,
            |  md5(regexp_replace(t3, '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
            |FROM (
            |  SELECT doc_id, t1,
            |    regexp_replace(t1, '$EmailRe', '<EMAIL>', 'g') AS t2,
            |    regexp_replace(regexp_replace(t1, '$EmailRe', '<EMAIL>', 'g'),
            |                   '$Ipv4Re', '<IP>', 'g') AS t3
            |  FROM (SELECT doc_id, ${plantedSqlDuck} AS t1 FROM documents) p
            |) q""".stripMargin)
  )

  // the planted-PII expression for the DuckDB side of the oracle
  private def plantedSqlDuck: String =
    "CASE WHEN doc_id % 10 = 0 THEN text || ' mail u' || doc_id || " +
      "'@ex.org ip 10.0.0.' || (doc_id % 250) || ' call 555-123-4567' ELSE text END"

  /** CCNet-style (Wenzek et al. 2020) perplexity bucketing — the
    * language-model quality pass that splits a crawl into head /
    * middle / tail before training. The LM here is an add-one-smoothed
    * unigram model FIT ON THE CORPUS ITSELF (CCNet ships a fixed
    * KenLM artifact; at 100 TB ours would too — either way the model
    * reaches the executors as a BROADCAST side, never a shuffle).
    * Scale shape: one token explode feeding two map-side-combined
    * aggregates (LM counts, then per-doc score), the LM joined back by
    * broadcast, bucketing row-local.
    *
    * Determinism: ln() inputs are exact integer ratios, per-token
    * log-probs round to 6 decimals into a DECIMAL sum (the q33/q61
    * trick), and the bucket thresholds compare the ROUNDED average —
    * hash-exact oracle.
    *
    * The LM and scoring branches each scan the corpus (vs q61's
    * checkpoint): DELIBERATE — the shared frame here is the full
    * token explode, larger than the compressed text it derives from,
    * so materializing it would cost more than the second pruned
    * columnar scan it saves (q61's shared frame is ≤3 hits/doc, the
    * opposite trade).
    */
  val q64_perplexity_bucket: GraftQuery = GraftQuery(
    "q64_perplexity_bucket",
    (s, dir) => {
      val toks = Tables.table(s, dir, "documents")
        .select(col("doc_id"), explode(expr(WordTokens)).as("tok"))
      val totals = toks.agg(
        count(lit(1)).cast("double").as("n_tok"),
        countDistinct(col("tok")).cast("double").as("vocab"))
      val lm = toks.groupBy(col("tok"))
        .agg(count(lit(1)).cast("double").as("cnt"))
        .crossJoin(broadcast(totals))
        // add-one smoothing; negative log-prob, rounded while per-token
        .select(col("tok"),
          round(-log((col("cnt") + lit(1.0)) / (col("n_tok") + col("vocab"))), 6)
            .as("nlp"))
      toks.join(broadcast(lm), "tok")
        .groupBy(col("doc_id"))
        .agg(
          (sum(col("nlp").cast("decimal(20,6)")).cast("double") /
            count(lit(1)).cast("double")).as("avg_nlp"),
          count(lit(1)).cast("int").as("n_tok"))
        // thresholds sit in the fixture's tercile region (CCNet cuts
        // at corpus quantiles; fixed constants keep the oracle exact —
        // nearest doc score is ≥1e-5 from a cut, far beyond ulp noise)
        .withColumn("bucket",
          when(col("avg_nlp") < 3.40, "head")
            .when(col("avg_nlp") < 3.41, "middle")
            .otherwise("tail"))
        .select(col("doc_id"), round(col("avg_nlp"), 6).as("avg_nlp"),
          col("n_tok"), col("bucket"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
           |  FROM documents
           |), totals AS (
           |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_tok,
           |         CAST(COUNT(DISTINCT tok) AS DOUBLE) AS vocab FROM toks
           |), lm AS (
           |  SELECT tok,
           |    ROUND(-ln((CAST(COUNT(*) AS DOUBLE) + 1.0) / (s.n_tok + s.vocab)), 6) AS nlp
           |  FROM toks CROSS JOIN totals s
           |  GROUP BY tok, s.n_tok, s.vocab
           |), scored AS (
           |  SELECT t.doc_id,
           |    CAST(SUM(CAST(l.nlp AS DECIMAL(20,6))) AS DOUBLE) /
           |      CAST(COUNT(*) AS DOUBLE) AS avg_nlp,
           |    CAST(COUNT(*) AS INT) AS n_tok
           |  FROM toks t JOIN lm l USING (tok)
           |  GROUP BY t.doc_id
           |)
           |SELECT doc_id, ROUND(avg_nlp, 6) AS avg_nlp, n_tok,
           |  CASE WHEN avg_nlp < 3.40 THEN 'head'
           |       WHEN avg_nlp < 3.41 THEN 'middle' ELSE 'tail' END AS bucket
           |FROM scored""".stripMargin)
  )

  /** Source-mixing draw — the data-mixing step after curation: sample
    * `MixTarget` docs across sources with temperature-smoothed weights
    * w_s ∝ n_s^0.5 (α = 0.5 upweights rare sources, the standard
    * mixture move), integerized by largest-remainder allocation so the
    * quotas sum EXACTLY to the target while every source has at least
    * its quota of docs; a source upweighted past its own size draws
    * fully and the sample comes up short (no redistribution — that
    * would oversample other sources beyond their declared weights). Scale shape: the whole weight /
    * quota computation runs on the tiny per-source count frame (its
    * window sorts |sources| rows, not the corpus); the corpus is
    * touched by ONE scan feeding the bounded-heap TopKPerGroup (≤
    * target rows per source per partition), quotas joined by
    * broadcast.
    *
    * Determinism: sqrt is IEEE-correctly-rounded in both engines (the
    * one float function that is), weights round to 6 decimals into a
    * DECIMAL total, and remainder ties break on the source name — so
    * the allocation, and therefore the sample, is hash-exact.
    */
  val MixTarget = 100

  /** The q65 draw over any documents frame — q65 runs it at
    * [[MixTarget]] on the raw table; Pipeline.exportCorpus runs it on
    * the curated corpus as the delivery mix.
    */
  private[graft] def sourceMixDraw(docs: org.apache.spark.sql.DataFrame,
      target: Int): org.apache.spark.sql.DataFrame = {
    // |sources| rows — checkpoint so the tot/short/alloc branches
    // reuse one corpus scan instead of re-counting it three times
    val w = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("sw", round(sqrt(col("n_docs").cast("double")), 6))
      .localCheckpoint(false)
    val tot = w.agg(
      sum(col("sw").cast("decimal(20,6)")).cast("double").as("tsw"))
    val q = w.crossJoin(broadcast(tot))
      .withColumn("ideal", lit(target).cast("double") * col("sw") / col("tsw"))
      .withColumn("base", floor(col("ideal")).cast("int"))
      .withColumn("frac", col("ideal") - floor(col("ideal")))
    val short = q.agg((lit(target) - sum(col("base"))).cast("int").as("k"))
    // |sources|-row frame: this window sorts sources, never the corpus
    val remainderOrder = org.apache.spark.sql.expressions.Window
      .orderBy(col("frac").desc, col("source").asc)
    val alloc = q.crossJoin(broadcast(short))
      .withColumn("rr", row_number().over(remainderOrder))
      // cap at the source's size: a rare source upweighted past its
      // own doc count draws FULLY and the sample comes up short of
      // the target — no redistribution, which would oversample other
      // sources beyond their declared weights
      .withColumn("quota",
        least(col("n_docs"),
          col("base") + when(col("rr") <= col("k"), 1).otherwise(0)).cast("int"))
      .select(col("source"), col("quota"))
    val ranked = graft.plans.TopKPerGroup(
      docs.withColumn("rnd", md5(col("doc_id").cast("string"))),
      Seq(col("source")), Seq(col("rnd").asc, col("doc_id").asc), target,
      rank = Some("rk"))
    ranked.join(broadcast(alloc), "source")
      .filter(col("rk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rk"), col("quota"))
  }

  val q65_source_mix: GraftQuery = GraftQuery(
    "q65_source_mix",
    (s, dir) => sourceMixDraw(Tables.table(s, dir, "documents"), MixTarget),
    Some(s"""WITH n AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
            |w AS (SELECT source, n_docs,
            |        ROUND(sqrt(CAST(n_docs AS DOUBLE)), 6) AS sw FROM n),
            |tot AS (SELECT CAST(SUM(CAST(sw AS DECIMAL(20,6))) AS DOUBLE) AS tsw FROM w),
            |q AS (SELECT source, n_docs, CAST($MixTarget AS DOUBLE) * sw / t.tsw AS ideal
            |      FROM w CROSS JOIN tot t),
            |q2 AS (SELECT *, CAST(FLOOR(ideal) AS INT) AS base,
            |         ideal - FLOOR(ideal) AS frac FROM q),
            |short AS (SELECT CAST($MixTarget - SUM(base) AS INT) AS k FROM q2),
            |alloc AS (SELECT source,
            |    CAST(LEAST(n_docs,
            |      base + CASE WHEN ROW_NUMBER() OVER (ORDER BY frac DESC, source)
            |                    <= (SELECT k FROM short) THEN 1 ELSE 0 END) AS INT) AS quota
            |  FROM q2),
            |ranked AS (SELECT source, doc_id,
            |    CAST(ROW_NUMBER() OVER (PARTITION BY source
            |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
            |  FROM documents)
            |SELECT r.source, r.doc_id, r.rk, a.quota
            |FROM ranked r JOIN alloc a USING (source) WHERE r.rk <= a.quota""".stripMargin)
  )

  /** Cross-document EXACT duplicate substrings (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * boilerplate and templated spans repeat VERBATIM across documents
    * that are nowhere near global near-dups, and training on them
    * measurably hurts — the dedup unit is the SPAN, not the doc.
    * Their single-node suffix array becomes, distributed: every
    * W-token rolling window hashes ROW-LOCALLY inside the scan stage
    * (one md5 per window — no suffix structure to build or ship),
    * duplicated hashes surface from ONE groupBy(hash) shuffle, and
    * doc pairs aggregate shared-window counts. Reported pairs share ≥
    * [[SubstringMinWindows]] windows (singleton hash collisions are
    * noise). The oracle brute-forces the same windows with a self-join
    * — lossless correspondence, since the hash IS the dedup key on
    * both sides (only modeled divergence: the hot-bucket cap, far
    * above the fixture).
    *
    * The window-hash stream is the widest dataflow in the repo
    * (~|tokens| rows per doc), so it crosses EXACTLY ONE exchange:
    * within-doc repeated windows dedup INSIDE the bounded aggregate
    * (map-side, no separate `.distinct()` exchange), the hot-window
    * cap is enforced during aggregation by
    * [[graft.plans.BoundedCollectSet]] (a boilerplate window shared by
    * millions of pages flips to NULL instead of materializing in one
    * reducer buffer), and the input skips the fixture round-robin
    * spread (`spread = false`) since the per-row md5 work is dwarfed
    * by the shuffle it feeds.
    */
  val SubstringW = 8
  val SubstringMinWindows = 5

  val q66_substring_dup: GraftQuery = GraftQuery(
    "q66_substring_dup",
    (s, dir) => {
      // window hashes via the codegen'd WordWindowHashes expression
      // (r12): the interpreted per-window md5(concat_ws(slice)) HOF
      // was ~100 md5+string builds per doc, and the hex-string keys
      // made the groupBy shuffle 4× wider than the 8-byte longs. The
      // oracle groups on its OWN md5 windows and compares only the
      // final pair counts, so the hash swap is output-invariant (the
      // q29 collision-odds precedent, documented on the expression).
      val wh = Tables.docsWithNearDups(s, dir, spread = false)
        .select(col("doc_id"),
          explode(graft.plans.WordWindowHashes.of(col("text"), SubstringW)).as("h"))
      wh.groupBy(col("h"))
        .agg(graft.plans.BoundedCollectSet.of(col("doc_id"), SimilarityOps.MaxBucket).as("ids"))
        .filter(col("ids").isNotNull && size(col("ids")) >= 2)
        .select(explode(expr(
          "flatten(transform(ids, (a, i) -> " +
            "transform(slice(ids, i + 2, size(ids)), " +
            "b -> named_struct('a_id', a, 'b_id', b))))")).as("p"))
        .select(col("p.a_id"), col("p.b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).cast("bigint").as("n_windows"))
        .filter(col("n_windows") >= SubstringMinWindows)
    },
    Some(Tables.docsNearDupsCte +
      s""", toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM alldocs
         |), wh AS (
         |  SELECT DISTINCT doc_id,
         |    md5(array_to_string(t[CAST(i AS INTEGER):CAST(i + ${SubstringW - 1} AS INTEGER)], ' ')) AS h
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - ${SubstringW - 2})) AS i
         |        FROM toks WHERE len(t) >= $SubstringW) u
         |)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_windows
         |FROM wh a JOIN wh b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= $SubstringMinWindows""".stripMargin)
  )

  /** Substring-dedup REMOVAL — the second half of Lee et al. 2022:
    * q66 finds cross-document duplicate spans; this op actually CUTS
    * them, keeping exactly the globally-first occurrence (min
    * (doc_id, pos) per window hash) and removing every token covered
    * by a non-first duplicated window. Output per doc: token count,
    * removed-position count, and the scrubbed token stream — the
    * corpus a trainer would actually consume.
    *
    * Scale shape, in exchanges of the window stream:
    *   1. `groupBy(h)` → global first occurrence (a `min(struct)` —
    *      plain map-side-combinable aggregate, NO collect, so a
    *      boilerplate hash shared by millions of docs costs one
    *      16-byte buffer, not an array) + occurrence count;
    *   2. join back on `h` (the duplicated-hash side has already
    *      shrunk to cnt > 1; AQE reuses/splits as needed);
    *   3. the surviving non-first windows — duplication density, not
    *      corpus size — explode to covered positions and group per
    *      doc (buffer ≤ the doc's own token count, the same bound as
    *      the doc row itself).
    * The rebuild is ROW-LOCAL and linear: `array_except` of the
    * position range minus the removed set (hash-based, order-
    * preserving), then `element_at` per kept position — no per-token
    * membership scan.
    */
  /** The q67 core over any `(doc_id, text)` frame. */
  private[graft] def substringScrub(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val toks = docs
        .select(col("doc_id"), expr(WordTokens).as("t"))
      // wins feeds BOTH the stats aggregate and the join back — pin one
      // window-hash pass instead of re-scanning + re-hashing the corpus
      // per consumer (lazy: materializes on the first action; the q60
      // chunk-row precedent). TRADE: the pinned stream is corpus-sized
      // (~40 B/token to executor-local disk); a storage-constrained
      // 100 TB run drops this checkpoint and pays the second scan+hash
      // instead — the plan is correct either way
      val wins = toks
        .filter(size(col("t")) >= SubstringW)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(t) - ${SubstringW - 1}), " +
            s"i -> struct(i as pos, md5(concat_ws(' ', slice(t, i, $SubstringW))) as h))")).as("w"))
        .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))
        .localCheckpoint(false)
      val stats = wins.groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
          count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
        .select(col("h"), col("first"))
      val removed = wins.join(stats, "h")
        .filter(!(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos")))
        .select(col("doc_id"),
          explode(expr(s"sequence(pos, pos + ${SubstringW - 1})")).as("p"))
        .groupBy(col("doc_id"))
        .agg(collect_set(col("p")).as("rp"))
      toks.join(removed, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("t")).cast("int").as("n_tokens"),
          coalesce(size(col("rp")), lit(0)).cast("int").as("n_removed"),
          // sequence(1, 0) counts DOWN — guard the token-less doc
          expr(s"""concat_ws(' ', transform(
            array_except(if(size(t) = 0, cast(array() as array<int>), sequence(1, size(t))),
                         coalesce(rp, cast(array() as array<int>))),
            p -> element_at(t, p)))""").as("clean_text"))
  }

  val q67_substring_scrub: GraftQuery = GraftQuery(
    "q67_substring_scrub",
    (s, dir) => substringScrub(Tables.docsWithNearDups(s, dir, spread = false)),
    Some(Tables.docsNearDupsCte +
      s""", toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM alldocs
         |), wins AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         |    md5(array_to_string(t[CAST(i AS INTEGER):CAST(i + ${SubstringW - 1} AS INTEGER)], ' ')) AS h
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - ${SubstringW - 2})) AS i
         |        FROM toks WHERE len(t) >= $SubstringW) u
         |), marked AS (
         |  SELECT doc_id, pos,
         |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
         |  FROM wins
         |), rem AS (
         |  SELECT DISTINCT doc_id, pos + CAST(o AS INTEGER) AS p
         |  FROM marked CROSS JOIN (SELECT unnest(range(0, $SubstringW)) AS o) os
         |  WHERE rn > 1
         |), agg AS (
         |  SELECT doc_id, COUNT(*) AS n_removed, list(p) AS rp FROM rem GROUP BY 1
         |)
         |SELECT k.doc_id, CAST(len(k.t) AS INT) AS n_tokens,
         |  CAST(COALESCE(a.n_removed, 0) AS INT) AS n_removed,
         |  -- COALESCE: a fully-scrubbed doc is '' on the Spark side
         |  -- (concat_ws over an empty array), NULL here without it
         |  COALESCE(array_to_string(list_transform(
         |    list_filter(range(1, len(k.t) + 1),
         |                p -> a.rp IS NULL OR NOT list_contains(a.rp, p)),
         |    p -> k.t[CAST(p AS INTEGER)]), ' '), '') AS clean_text
         |FROM toks k LEFT JOIN agg a ON k.doc_id = a.doc_id""".stripMargin)
  )

  /** The n-gram repetition rules from Gopher (Rae et al. 2021,
    * Table A1) that q47 leaves out: top-n-gram character fraction
    * (n = 2, 3) and duplicate-5-gram character fraction — the signals
    * that catch boilerplate/listicle pages q47's word-shape rules
    * pass. Everything is ROW-LOCAL: grams build with higher-order
    * array functions, then ONE `array_sort` groups equal grams
    * adjacently so a single O(n) `aggregate` fold finds the longest
    * run (= the most frequent gram) — no per-doc explode, no shuffle
    * of the gram stream, and no O(n²) `filter`-count per distinct
    * gram (which would melt on a 10k-word doc). Ties break to the
    * lexicographically smallest gram on BOTH engines (the fold's
    * strict `>` keeps the first max in sorted order; the oracle picks
    * `MIN(g)` at the max count). Fractions are exact-integer ratios
    * divided once at the end (IEEE-identical cross-engine), and the
    * per-source means ride the q61/q64 round→DECIMAL-sum trick, so
    * the whole operator is hash-exact. Divergence from the paper
    * (documented): "characters in duplicate 5-grams" counts each
    * occurrence's chars (count × len, capped at 1.0) instead of the
    * positional union — the union needs per-position bookkeeping the
    * fraction doesn't repay.
    */
  private val TopNgramThresholds = Seq(2 -> 0.20, 3 -> 0.18)
  private val Dup5Threshold = 0.15
  private val Dup5N = 5

  private def gramsExpr(n: Int): String =
    s"IF(size(words) >= $n, array_sort(transform(sequence(0, size(words) - $n), " +
      s"i -> concat_ws(' ', slice(words, i + 1, $n)))), array())"

  /** (count, gram) of the most frequent element of a SORTED array —
    * one linear fold tracking the current and best run.
    */
  private def topRunExpr(sorted: String): String =
    s"""aggregate($sorted,
       |  named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'bestn', 0, 'bestg', ''),
       |  (a, g) -> named_struct(
       |    'prev', g,
       |    'run', IF(a.prev <=> g, a.run + 1, 1),
       |    'bestn', IF(IF(a.prev <=> g, a.run + 1, 1) > a.bestn,
       |                IF(a.prev <=> g, a.run + 1, 1), a.bestn),
       |    'bestg', IF(IF(a.prev <=> g, a.run + 1, 1) > a.bestn, g, a.bestg)),
       |  a -> named_struct('n', a.bestn, 'g', a.bestg))""".stripMargin

  /** Total chars over all occurrences of duplicated elements of a
    * SORTED array: the run's 2nd element pays 2×len (first + second
    * occurrence), later repeats pay len — i.e. Σ count×len over grams
    * with count ≥ 2.
    */
  private def dupCharsExpr(sorted: String): String =
    s"""aggregate($sorted,
       |  named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'chars', 0),
       |  (a, g) -> named_struct(
       |    'prev', g,
       |    'run', IF(a.prev <=> g, a.run + 1, 1),
       |    'chars', a.chars + IF(a.prev <=> g,
       |                          IF(a.run = 1, 2 * length(g), length(g)), 0)),
       |  a -> a.chars)""".stripMargin

  val q72_ngram_repetition: GraftQuery = GraftQuery(
    "q72_ngram_repetition",
    (s, dir) => {
      val perDoc = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          expr("filter(split(text, ' '), w -> w != '')").as("words"),
          greatest(length(col("text")), lit(1)).as("n_chars"))
        // one projection per fold result, so each gram array builds once
        .select(col("doc_id"), col("source"), col("n_chars"),
          expr(topRunExpr(gramsExpr(2))).as("top2"),
          expr(topRunExpr(gramsExpr(3))).as("top3"),
          expr(dupCharsExpr(gramsExpr(Dup5N))).as("dup5_chars"))
        .select(
          col("doc_id"), col("source"),
          expr("ROUND(CAST(top2.n * length(top2.g) AS DOUBLE) / n_chars, 6)")
            .as("top2_frac"),
          expr("ROUND(CAST(top3.n * length(top3.g) AS DOUBLE) / n_chars, 6)")
            .as("top3_frac"),
          expr("LEAST(CAST(1.0 AS DOUBLE), ROUND(CAST(dup5_chars AS DOUBLE) / n_chars, 6))")
            .as("dup5_frac"))
      val Seq((_, t2), (_, t3)) = TopNgramThresholds
      perDoc
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("top2_frac") > t2, 1).otherwise(0)).cast("bigint").as("n_fail_top2"),
          sum(when(col("top3_frac") > t3, 1).otherwise(0)).cast("bigint").as("n_fail_top3"),
          sum(when(col("dup5_frac") > Dup5Threshold, 1).otherwise(0)).cast("bigint")
            .as("n_fail_dup5"),
          sum(when(col("top2_frac") <= t2 && col("top3_frac") <= t3 &&
            col("dup5_frac") <= Dup5Threshold, 1).otherwise(0)).cast("bigint").as("n_keep"),
          expr("ROUND(CAST(SUM(CAST(top2_frac AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 6)")
            .as("avg_top2"),
          expr("ROUND(CAST(SUM(CAST(dup5_frac AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 6)")
            .as("avg_dup5"))
    },
    Some(s"""WITH w0 AS (
            |  SELECT doc_id, source,
            |    list_filter(string_split(text, ' '), w -> w != '') AS words,
            |    GREATEST(length(text), 1) AS n_chars
            |  FROM documents
            |), g AS (
            |  SELECT doc_id, n, unnest(grams) AS gram FROM (
            |    SELECT doc_id, n.n,
            |      CASE WHEN len(words) >= n.n THEN list_transform(
            |        range(0, len(words) - n.n + 1),
            |        i -> array_to_string(words[i + 1 : i + n.n], ' '))
            |      ELSE [] END AS grams
            |    FROM w0 CROSS JOIN (SELECT unnest([2, 3, $Dup5N]) AS n) n)
            |), gc AS (
            |  SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3
            |), top AS ( -- most frequent gram; ties -> smallest gram
            |  SELECT doc_id, n, c AS topn, gram AS topg FROM (
            |    SELECT doc_id, n, gram, c,
            |      ROW_NUMBER() OVER (PARTITION BY doc_id, n
            |                         ORDER BY c DESC, gram ASC) AS rn
            |    FROM gc) r WHERE rn = 1
            |), dup AS (
            |  SELECT doc_id, COALESCE(SUM(c * length(gram)) FILTER (c >= 2), 0) AS dchars
            |  FROM gc WHERE n = $Dup5N GROUP BY 1
            |), per_doc AS (
            |  SELECT w0.doc_id, w0.source,
            |    ROUND(CAST(COALESCE(t2.topn * length(t2.topg), 0) AS DOUBLE) / w0.n_chars, 6) AS top2_frac,
            |    ROUND(CAST(COALESCE(t3.topn * length(t3.topg), 0) AS DOUBLE) / w0.n_chars, 6) AS top3_frac,
            |    LEAST(CAST(1.0 AS DOUBLE),
            |          ROUND(CAST(COALESCE(d.dchars, 0) AS DOUBLE) / w0.n_chars, 6)) AS dup5_frac
            |  FROM w0
            |  LEFT JOIN top t2 ON t2.doc_id = w0.doc_id AND t2.n = 2
            |  LEFT JOIN top t3 ON t3.doc_id = w0.doc_id AND t3.n = 3
            |  LEFT JOIN dup d ON d.doc_id = w0.doc_id
            |)
            |SELECT source, COUNT(*) AS n_docs,
            |  CAST(SUM(CASE WHEN top2_frac > 0.20 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_top2,
            |  CAST(SUM(CASE WHEN top3_frac > 0.18 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_top3,
            |  CAST(SUM(CASE WHEN dup5_frac > 0.15 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_dup5,
            |  CAST(SUM(CASE WHEN top2_frac <= 0.20 AND top3_frac <= 0.18
            |                 AND dup5_frac <= 0.15 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
            |  ROUND(CAST(SUM(CAST(top2_frac AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 6) AS avg_top2,
            |  ROUND(CAST(SUM(CAST(dup5_frac AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 6) AS avg_dup5
            |FROM per_doc GROUP BY source""".stripMargin)
  )

  val all: Seq[GraftQuery] = Seq(
    q24_dedup_exact, q25_fingerprint, q26_token_count, q27_quality_score,
    q28_langid, q29_ngram_jaccard, q36_dup_clusters, q44_winnow_fingerprint,
    q45_stratified_sample, q46_profile, q47_gopher_quality, q48_repetition,
    q48_verify,
    q49_token_histogram, q50_inverted_index, q53_decontaminate,
    q81_contamination_rate,
    q55_pack_sequences, q61_bm25, q62_pii_scrub, q64_perplexity_bucket,
    q65_source_mix, q66_substring_dup, q67_substring_scrub,
    q72_ngram_repetition, q74_dedup_keep, q36_scale, q74_scale)
}
