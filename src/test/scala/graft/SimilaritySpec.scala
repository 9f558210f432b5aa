package graft

import graft.operators.{SimilarityOps, TextOps}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private def injectedDocPairs: Set[(Long, Long)] =
    Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 25 === 0).select("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + Tables.NearDupOffset)).toSet

  test("q24 exact dedup finds exactly the injected duplicate groups") {
    val dups = TextOps.q24_dedup_exact.run(spark, sfDir).collect()
    val injected = Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id") % 25 === 0).count()
    assert(dups.length == injected)
    assert(dups.forall(_.getAs[Long]("copies") == 2L))
  }

  test("q30 MinHash-LSH recovers every injected near-dup pair") {
    val found = SimilarityOps.q30_minhash_lsh.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val want = injectedDocPairs
    assert(want.nonEmpty)
    assert(want.subsetOf(found),
      s"missing ${want -- found} of ${want.size} injected pairs")
  }

  test("q30 agrees with q29 blocked exact Jaccard at the same threshold") {
    val lsh = SimilarityOps.q30_minhash_lsh.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val exact = TextOps.q29_ngram_jaccard.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    // q29 blocks on equal n_chars (injected dups preserve length), so its
    // pairs are a subset of the unblocked LSH candidates
    assert(exact.subsetOf(lsh), s"q29 pairs missing from LSH: ${exact -- lsh}")
  }

  test("q30 sketch screen is output-invariant (verified banded == verified screened)") {
    // the r16 count-sketch screen may drop banded candidates ONLY when
    // the sketches prove J < 0.8 — so exact verification over the raw
    // banded pairs and over the screened pairs must emit the same set
    val base = Tables.docsWithNearDups(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val banded = SimilarityOps.bandedCandidatePairs(base).localCheckpoint()
    val screened = SimilarityOps.sketchScreen(base, banded).localCheckpoint()
    val nBanded = banded.count()
    val nScreened = screened.count()
    assert(nScreened < nBanded,
      s"screen never fires at $sfDir: $nScreened of $nBanded")
    def verified(c: org.apache.spark.sql.DataFrame) =
      TextOps.verifyJaccardPairs(base, c).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
          r.getAs[Double]("jaccard"))).toSet
    val a = verified(banded)
    val b = verified(screened)
    assert(a == b, s"sym-diff: ${(a diff b) ++ (b diff a)}")
    assert(a.nonEmpty)
  }

  test("q31 SimHash finds exactly the pairs within hamming 3 (pigeonhole)") {
    val out = SimilarityOps.q31_simhash.run(spark, sfDir).collect()
    assert(out.forall(_.getAs[Int]("hamming") <= 3))
    assert(out.nonEmpty, "injected near-dups should yield at least one pair")
  }

  test("q32 brute-force cosine top-1 matches a driver-side recompute") {
    val e = Tables.table(spark, sfDir, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val top1 = SimilarityOps.q32_cosine_topk.run(spark, sfDir)
      .filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id")).toMap
    for ((q, got) <- top1) {
      val expect = e.filter(_._1 != q)
        .map { case (id, v) => (id, cos(e(q), v)) }
        .maxBy { case (id, c) => (c, -id) }._1
      assert(got == expect, s"query $q: top1 $got != recomputed $expect")
    }
  }

  test("q33 embed stats reconcile with a driver-side recompute") {
    val stats = SimilarityOps.q33_embed_stats.run(spark, sfDir).collect()
    val total = stats.map(_.getAs[Long]("n_vecs")).sum
    assert(total == Tables.table(spark, sfDir, "embeddings").count())
    stats.foreach { r =>
      assert(r.getAs[Double]("max_norm") >= r.getAs[Double]("min_norm"))
      assert(r.getAs[Double]("sum_norm") > 0)
    }
  }

  test("q34 LSH cosine recovers the injected near-identical vectors") {
    val found = SimilarityOps.q34_lsh_cosine.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val want = Tables.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 25 === 0).select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + Tables.EmbDupOffset)).toSet
    assert(want.nonEmpty)
    assert(want.subsetOf(found), s"missing ${want -- found}")
  }

  test("q40 IVF ANN reaches usable recall vs exact brute force") {
    val exact = SimilarityOps.q32_cosine_topk.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val ivf = SimilarityOps.q40_ivf_cosine.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    assert(ivf.nonEmpty)
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    // the floor a user could rely on; the Lloyd-fit index records
    // ~0.9 at every SF (RECALL.json) — a drop below 0.8 is a real
    // index regression, not tolerance slack
    assert(recall >= 0.8, f"IVF recall@10 too low: $recall%.2f")
    // every IVF hit must carry the true cosine (verified by construction
    // in q32's driver-side check; here: ranks within a query are unique)
    val ranks = SimilarityOps.q40_ivf_cosine.run(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("q_id"))
    ranks.values.foreach { rs =>
      val rk = rs.map(_.getAs[Int]("rank")).sorted
      assert(rk.toSeq == (1 to rk.length))
    }
  }

  test("q73 IVF-PQ ANN reaches usable recall vs exact brute force") {
    val exact = SimilarityOps.q32_cosine_topk.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val pq = SimilarityOps.q73_pq_ann.run(spark, sfDir).collect()
    assert(pq.nonEmpty)
    val hits = pq.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = exact.intersect(hits).size.toDouble / exact.size
    assert(recall >= 0.8, f"IVF-PQ recall@10 too low: $recall%.2f")
    // re-rank contract: reported cosines are the TRUE cosines — every
    // (q, n) hit shared with exact carries the identical rounded score
    val exactScore = SimilarityOps.q32_cosine_topk.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) -> r.getAs[Double]("cosine"))
      .toMap
    pq.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))
      exactScore.get(key).foreach { c =>
        assert(math.abs(c - r.getAs[Double]("cosine")) < 1e-9,
          s"ADC approximation leaked into the reported score at $key")
      }
    }
    // ranks within a query are a contiguous 1..k
    pq.groupBy(_.getAs[Long]("q_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length))
    }
  }

  test("q60 delta dedup equals q31's pair set restricted to delta x corpus") {
    // q31 brute-pairs the combined corpus; q60's incremental plan must
    // reproduce exactly its cross-partition (base, planted-delta)
    // subset — same pigeonhole, different (delta-scaled) join shape
    val q31pairs = SimilarityOps.q31_simhash.run(spark, sfDir).collect()
      .filter(r => r.getAs[Long]("a_id") < Tables.NearDupOffset && r.getAs[Long]("b_id") >= Tables.NearDupOffset)
      .map(r => (r.getAs[Long]("b_id"), r.getAs[Long]("a_id"), r.getAs[Int]("hamming")))
      .toSet
    val q60pairs = SimilarityOps.q60_delta_dedup.run(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("delta_id"), r.getAs[Long]("base_id"),
        r.getAs[Int]("hamming"))).toSet
    assert(q60pairs.nonEmpty, "fixture must plant detectable delta dups")
    assert(q60pairs == q31pairs)
    // every pair really is delta-vs-corpus, never corpus-vs-corpus
    q60pairs.foreach { case (d, b, h) =>
      assert(d >= Tables.NearDupOffset && b < Tables.NearDupOffset && h <= 3)
    }
  }

  test("q63 int8 quantization matches a driver-side recompute exactly") {
    val vecs = Tables.table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1)).toMap
    val got = SimilarityOps.q63_quantize_int8.run(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("sum_codes"), r.getAs[Long]("sum_abs"),
          r.getAs[Int]("n_sat"), r.getAs[Int]("n_zero"))).toMap
    assert(got.nonEmpty && got.keySet == vecs.keySet)
    vecs.foreach { case (id, emb) =>
      val mx = emb.map(x => math.abs(x)).max
      val sc = if (mx == 0f) 1.0 else mx.toDouble / 127.0
      val codes = emb.map(x =>
        BigDecimal(x.toDouble / sc).setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt)
      // every code in int8 range; the max component saturates exactly
      assert(codes.forall(c => c >= -127 && c <= 127))
      if (mx > 0f) assert(codes.exists(c => math.abs(c) == 127))
      assert(got(id) == ((codes.map(_.toLong).sum, codes.map(c => math.abs(c).toLong).sum,
        codes.count(c => math.abs(c) == 127), codes.count(_ == 0))), s"vec $id")
    }
  }

  test("q41 banded sketch join finds planted near-dup domains only") {
    import spark.implicits._
    // 40 domains x 20 texts: dom{d} and dom{d+20} (d < 2) share 18 of 20
    // texts (set Jaccard 18/22 ~ 0.82 >= 0.5 threshold); all other
    // domain pairs are fully disjoint (est_jaccard ~ 0)
    val links = (0 until 40).flatMap { d =>
      (0 until 20).map { j =>
        val shared = d >= 20 && d < 22 && j < 18
        (s"dom$d", if (shared) s"w${(d - 20) * 31 + j}" else s"w${d * 31 + j}")
      }
    }.toDF("link_domain", "link_text")
    val pairs = graft.operators.SimilarityOps.sketchPairs(links).collect()
      .map(r => (r.getAs[String]("a_domain"), r.getAs[String]("b_domain"))).toSet
    assert(pairs == Set(("dom0", "dom20"), ("dom1", "dom21")),
      s"banded sketch join produced $pairs")
  }

  test("q70 semdedup drops exactly the planted near-dups under the label clustering") {
    import org.apache.spark.sql.functions.col
    val rows = SimilarityOps.q70_semdedup.run(spark, sfDir).collect()
    val base = Tables.table(spark, sfDir, "embeddings").count()
    assert(rows.length == base + base / Tables.DupEvery + (if (base % Tables.DupEvery == 0) 0 else 1))
    val dropped = rows.filterNot(_.getAs[Boolean]("kept")).map(_.getAs[Long]("vec_id")).toSet
    val planted = rows.map(_.getAs[Long]("vec_id"))
      .filter(_ >= Tables.EmbDupOffset).toSet
    assert(dropped == planted,
      s"drop exactly the planted copies: extra=${dropped -- planted} missed=${planted -- dropped}")
    // every dropped row records the dominating similarity
    rows.filterNot(_.getAs[Boolean]("kept")).foreach(r =>
      assert(r.getAs[Double]("max_sim") >= SimilarityOps.SemDedupTau))
    rows.filter(_.getAs[Boolean]("kept")).foreach(r => assert(r.isNullAt(r.fieldIndex("max_sim"))))
  }

  test("q70 semdedup under the PRODUCTION centroid-cell clustering still kills near-dups") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embWithNearDups(spark, sfDir)
    val verdicts = SimilarityOps.semdedupVerdicts(
      SimilarityOps.semdedupAssign(e, e.count()), col("sd_cluster")).collect()
    val dropped = verdicts.filterNot(_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("vec_id")).toSet
    val planted = verdicts.map(_.getAs[Long]("vec_id"))
      .filter(_ >= Tables.EmbDupOffset).toSet
    // a 0.001 single-component nudge can only flip the cell argmax for a
    // vector sitting ON a cell boundary — require near-total recall, and
    // zero false drops (nothing un-planted reaches tau)
    assert((dropped -- planted).isEmpty, s"false drops: ${dropped -- planted}")
    val recall = dropped.size.toDouble / planted.size
    assert(recall >= 0.9, s"centroid-cell semdedup recall $recall")
  }

  test("semdedup sign-bit subdivision: clusters shrink, near-dup recall holds") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embWithNearDups(spark, sfDir)
    // claim a 2M-vector corpus so the subdivision regime engages on the
    // small frame (p > 0), then re-check both the kill-set and the key
    // arithmetic: every sd_cluster must reduce to its parent cell
    val bigN = 2L * 1000 * 1000
    val assigned = SimilarityOps.semdedupAssign(e, bigN)
    val cells = SimilarityOps.semdedupCellsFor(bigN)
    val p = math.round(math.log(bigN.toDouble / (cells * 512.0)) / math.log(2)).toInt
    assert(p > 0, s"test premise broken: expected subdivision at n=$bigN")
    val badParent = assigned.filter(
      org.apache.spark.sql.functions.shiftright(col("sd_cluster"), p)
        =!= col("cell").cast("long"))
    assert(badParent.count() == 0, "sd_cluster does not decompose to (cell, bits)")
    // isolate the sign-bit cost: verdicts over the SAME cell assignment
    // with and without the subdivision bits. (Forcing bigN on a tiny
    // frame makes the CELLS themselves unrealistically fine — ~8
    // vectors each — so absolute recall here reflects cell-boundary
    // flips, not the subdivision; the production test above covers the
    // honest-n cell recall.) Planted pairs sit at cos ~ 1-1e-7, so a
    // sign split needs |plane·v| < ~5e-4 — at most a whisker of loss.
    val droppedOf = (cluster: org.apache.spark.sql.Column) =>
      SimilarityOps.semdedupVerdicts(assigned, cluster).collect()
        .filterNot(_.getAs[Boolean]("kept")).map(_.getAs[Long]("vec_id")).toSet
    val dropCell = droppedOf(col("cell"))
    val dropSub = droppedOf(col("sd_cluster"))
    assert(dropSub.subsetOf(dropCell), "subdivision can only lose pairs, never add")
    val lost = dropCell -- dropSub
    assert(lost.size <= math.max(1, dropCell.size / 20),
      s"sign-bit subdivision lost ${lost.size} of ${dropCell.size} drops")
    val planted = assigned.filter(col("vec_id") >= Tables.EmbDupOffset).count()
    assert(dropCell.forall(_ >= Tables.EmbDupOffset), "false drops under cell key")
    assert(planted > 0)
  }

  test("q35 multimodal rollup covers every source with sane metadata") {
    val rows = SimilarityOps.q35_multimodal.run(spark, sfDir).collect()
    val nDocs = rows.map(_.getAs[Long]("n_images")).sum
    assert(nDocs == Tables.table(spark, sfDir, "documents").count())
    rows.foreach { r =>
      assert(r.getAs[Long]("total_bytes") > 0)
      assert(r.getAs[Long]("sum_width") >= 16 * r.getAs[Long]("n_images"))
    }
  }

  test("semdedup multi-probe (top-2 cells) covers every single-probe drop and closes boundary misses") {
    import org.apache.spark.sql.functions.col
    val e = Tables.embWithNearDups(spark, sfDir)
    val n = e.count()
    val droppedOf = (assigned: org.apache.spark.sql.DataFrame) =>
      SimilarityOps.semdedupVerdicts(assigned, col("sd_cluster")).collect()
        .filterNot(_.getAs[Boolean]("kept")).map(_.getAs[Long]("vec_id")).toSet
    val single = droppedOf(SimilarityOps.semdedupAssign(e, n))
    val multi = droppedOf(SimilarityOps.semdedupAssignMulti(e, n))
    // top-2 strictly widens the cluster overlap: every pair the argmax
    // rule caught is still co-clustered (the argmax cell is probe #1
    // for both members), and since r19 the sign-bit plane count is
    // derived from n on BOTH paths, so the guarantee holds at every
    // scale — the engaged-p case is proven separately below
    assert(single.subsetOf(multi),
      s"multi-probe lost single-probe drops: ${single -- multi}")
    // and the production bar: near-total recall of the planted pattern
    val planted = e.filter(col("vec_id") >= Tables.EmbDupOffset)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((multi -- planted).isEmpty, s"false drops: ${multi -- planted}")
    assert(multi.size.toDouble / planted.size >= 0.9,
      s"multi-probe recall ${multi.size.toDouble / planted.size}")
    // verdicts are per-vector even on the exploded frame: no vec_id may
    // carry two different keep verdicts
    val verdicts = SimilarityOps.semdedupVerdicts(
      SimilarityOps.semdedupAssignMulti(e, n), col("sd_cluster"))
      .select(col("vec_id"), col("kept")).distinct()
    val conflicting = verdicts.groupBy(col("vec_id")).count()
      .filter(col("count") > 1).count()
    assert(conflicting == 0, "a vec_id carries conflicting verdicts")
  }

  test("semdedup multi-probe keeps the drop-superset guarantee with sign-bit subdivision ENGAGED (p > 0)") {
    import org.apache.spark.sql.functions.col
    // 300k hash-noise vectors put the corpus past the subdivision
    // threshold (ratio = n/(256·512) ≈ 2.3 → p = 1) — the regime the
    // r18 2n-sizing broke: one extra plane on the multi path meant its
    // cluster KEYS lived in a different space than single-probe's, so
    // a pair agreeing on cell + p planes could split on plane p+1.
    // hash-noise (not sin(id·a + j·b)) so the fixture spans the full
    // d-dim space rather than a 2-D subspace
    val n = 300000L
    val dim = Tables.EmbeddingDim
    def noise(idExpr: String) =
      s"transform(sequence(0, ${dim - 1}), j -> cast(" +
        s"sin($idExpr * 12.9898d + j * 78.233d) * 43758.5453d - " +
        s"floor(sin($idExpr * 12.9898d + j * 78.233d) * 43758.5453d) - 0.5d as float))"
    val base = spark.range(n).select(col("id").as("vec_id"),
      expr(noise("id")).as("embedding"))
    val planted = spark.range(n).filter(col("id") % 100 === 0)
      .select((col("id") + Tables.EmbDupOffset).as("vec_id"),
        expr("transform(" + noise("id") +
          ", (x, i) -> if(i = 0, cast(x + 0.001f as float), x))").as("embedding"))
    val e = base.unionAll(planted)
      .repartition(spark.sparkContext.defaultParallelism)
    val total = n + n / 100
    val single = SimilarityOps.semdedupAssign(e, total)
    val multi = SimilarityOps.semdedupAssignMulti(e, total)
    // premise: subdivision actually engaged — more clusters than cells
    val nClusters = single.select("sd_cluster").distinct().count()
    assert(nClusters > 256, s"test premise: p > 0 (got $nClusters clusters)")
    // the mechanism: every (vec_id, sd_cluster) key single-probe
    // assigns also exists under multi-probe (same planes ⇒ same bits ⇒
    // probe #1 reproduces the single key exactly)
    val lostKeys = single.select(col("vec_id"), col("sd_cluster"))
      .join(multi.select(col("vec_id"), col("sd_cluster")),
        Seq("vec_id", "sd_cluster"), "left_anti").count()
    assert(lostKeys == 0, s"$lostKeys single-probe keys missing under multi-probe")
    // the semantics: drops are a strict superset at engaged p
    val droppedOf = (assigned: org.apache.spark.sql.DataFrame) =>
      SimilarityOps.semdedupVerdicts(assigned, col("sd_cluster")).collect()
        .filterNot(_.getAs[Boolean]("kept")).map(_.getAs[Long]("vec_id")).toSet
    val dropS = droppedOf(single)
    val dropM = droppedOf(multi)
    assert(dropS.subsetOf(dropM),
      s"engaged-p multi-probe lost drops: ${dropS -- dropM}")
    assert(dropM.nonEmpty, "test premise: some planted pair drops")
  }

  test("two-level IVF: fine fit restores ~512 occupancy and ids decompose to their coarse parent") {
    // 300k synthetic vectors put the corpus past the fine-engagement
    // threshold (2 · 256 · 512) without touching the testdata dirs —
    // the production path only engages at sf100 where no spec runs
    val n = 300000L
    val dim = Tables.EmbeddingDim
    val e = spark.range(n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), " +
        "j -> cast(sin(id * 31.7d + j * 7.3d) as float))").as("embedding"))
    assert(SimilarityOps.fineEngagedFor(n), "test premise: fine regime engages")
    val coarse = SimilarityOps.fitIvfK(
      SimilarityOps.embSample(e), SimilarityOps.ivfCellsFor(n))
    val fine = SimilarityOps.fitFineLevelFrame(spark, e, coarse)
    // the whole point of the level: cell count ∝ n again (the coarse
    // cap froze it at 256), sized for ~512 expected occupancy
    assert(fine.total > coarse.n, s"fine total ${fine.total} must exceed the cap ${coarse.n}")
    val expect = n / 512.0
    assert(math.abs(fine.total - expect) / expect < 0.35,
      s"fine total ${fine.total}, expected ≈ $expect")
    assert(fine.offsets.head == 0)
    fine.offsets.indices.drop(1).foreach(c =>
      assert(fine.offsets(c) == fine.offsets(c - 1) + fine.norms(c - 1).length,
        s"offsets not a prefix sum at $c"))
    // hierarchical assignment: every global fine id must fall in its
    // coarse parent's id range (FineCell is keyed off NearestCell)
    val idx = coarse.copy(fine = Some(fine))
    val rows = idx.assignCell(e)
      .select(col("cell"),
        graft.plans.NearestCell.of(col("embedding"), coarse.cents, coarse.cnorms)
          .as("parent"))
      .groupBy(col("cell"), col("parent")).count().collect()
    rows.foreach { r =>
      val cell = r.getInt(0); val parent = r.getInt(1)
      val lo = fine.offsets(parent)
      assert(cell >= lo && cell < lo + fine.norms(parent).length,
        s"fine id $cell outside parent $parent range")
    }
    // occupancy flat-ish: mean pinned by construction; the tail must
    // not recreate the capped regime's unbounded cells
    val occ = rows.groupBy(_.getInt(0)).map(_._2.map(_.getLong(2)).sum)
    assert(occ.sum == n)
    assert(occ.max < 20 * 512, s"hot fine cell at ${occ.max}")
  }

  test("fine fit hot-cell guard: bounded per-cell work + pressure recorded on a mass-concentrated corpus") {
    // The r18 verdict's one weak row: the per-coarse-cell Lloyd
    // sub-fit cost grows with the SQUARE of a cell's mass share
    // inside one task, and neither test corpus could trigger it. This
    // fixture can: half the vectors sit in one tight cluster (the
    // near-duplicate-heavy-crawl shape), so one coarse cell holds
    // ~50% of the stride sample. The budgets are shrunk via the
    // sys-prop override so the guard ENGAGES at spec scale — the
    // assertions then pin both bounds (kc ≤ cap, training rows
    // decimated) and the recorded pressure gauge.
    val prop = "graft.ivf.fineKcCap"
    val saved = sys.props.get(prop)
    sys.props(prop) = "16" // rowsCap = 128
    try {
      val n = 40000L
      val dim = Tables.EmbeddingDim
      // The tight cluster lives ONLY in ids ≥ 4096 — PAST the
      // id-ordered kmeans sample. A concentration the fit sample can
      // see attracts many centroids and dilutes itself (kmeans adapts);
      // the hazard case is mass the fit never saw (near-dups arriving
      // late in a crawl), which argmaxes wholesale into one cell.
      val e = spark.range(n).select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), j -> cast(" +
          "CASE WHEN id >= 4096 AND id % 2 = 0" +
          " THEN sin(j * 12.9898d) + 0.001d * (sin((id * 7919 + j) * 78.233d) * 12543.21d % 1.0d)" +
          " ELSE sin((id * 131 + j * 17) * 12.9898d) * 43758.5453d % 1.0d" +
          " END as float))").as("embedding"))
      val coarse = SimilarityOps.fitIvfK(
        SimilarityOps.embSample(e), SimilarityOps.ivfCellsFor(n))
      val fine = SimilarityOps.fitFineLevelFrame(spark, e, coarse)
      val press = fine.fitPress
      // premise: the hot cell is really hot — one cell holds over a
      // third of the stride sample, far past the (shrunk) row budget
      assert(press.maxCellSample > n / 8 / 3,
        s"fixture not concentrated: max cell ${press.maxCellSample} of ~${n / 8}")
      assert(press.maxCellSample > SimilarityOps.FineFitRowsCap)
      // the gauge records the event
      assert(press.cappedCells >= 1, s"no capped cells recorded: $press")
      assert(press.cells > 0 && press.totalSample > 0)
      // bound 1: no cell fits more centroids than the kc cap
      val kcMax = fine.norms.map(_.length).max
      assert(kcMax <= SimilarityOps.FineKcCap,
        s"kc cap violated: $kcMax > ${SimilarityOps.FineKcCap}")
      // bound 2 engaged indirectly: the hot cell's kc hit the cap even
      // though its uncapped sizing (mass·8/512) wanted more
      assert(math.ceil(press.maxCellSample * 8 / 512.0).toInt >
        SimilarityOps.FineKcCap, "fixture premise: uncapped kc would exceed cap")
      // assignment stays total and hierarchical under the guard
      assert(fine.offsets.head == 0)
      fine.offsets.indices.drop(1).foreach(c =>
        assert(fine.offsets(c) == fine.offsets(c - 1) + fine.norms(c - 1).length))
      val assignedTotal = coarse.copy(fine = Some(fine)).assignCell(e).count()
      assert(assignedTotal == n)
    } finally {
      saved match {
        case Some(v) => sys.props(prop) = v
        case None => sys.props.remove(prop): Unit
      }
    }
  }

  test("cap-pressure gauge fires BEFORE recall dips (the r16 incident replayed)") {
    // constructed corpus: a 150-vector hot DIRECTION (near-identical,
    // so every band funnels them into one bucket, blowing the
    // MaxBucket=64 cap and tombstoning the bucket) that deliberately
    // avoids the planted-pair ids — so the recall gate stays green
    // while press_dropped_pairs records the dropped mass. This is the
    // r16 sf100 incident (recall 0.867 with no warning column)
    // replayed as a test: the leading indicator must LEAD.
    val dim = Tables.EmbeddingDim
    val dir = SparkSpec.tempDir("graft-press").toFile.getAbsolutePath
    try {
      val hot = (col("vec_id") % 25 =!= 0) && col("vec_id").between(1000, 1187)
      spark.range(4000).select(col("id").as("vec_id"), lit("L0").as("label"))
        .withColumn("embedding",
          when(hot, expr(s"transform(sequence(0, ${dim - 1}), " +
            "j -> cast(sin(j * 2.3d) + vec_id * 1e-6d as float))"))
          // fract(sin(k)·43758.5453)-style hash noise — NOT a phase-
          // shifted waveform (sin(id·a + j·b) spans only a 2-D
          // subspace, which degenerates every LSH bucket)
          .otherwise(expr(s"transform(sequence(0, ${dim - 1}), " +
            "j -> cast(sin((vec_id * 1009 + j * 31) * 12.9898d) * 43758.5453d % 1.0d as float))")))
        .select(col("vec_id"), col("embedding"), col("label"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val rows = SimilarityOps.q83_ann_recall.run(spark, dir).collect()
      val lsh = rows.find(_.getAs[String]("method") == "lsh").get
      assert(lsh.getAs[Int]("recall_ok") == 1,
        s"premise broken: recall dipped (${lsh.getAs[Long]("hits")}/${lsh.getAs[Long]("n_exact")})")
      assert(lsh.getAs[Long]("press_dropped_buckets") > 0,
        "hot direction failed to tombstone any bucket")
      // the 150-wide hot set alone carries >= 150·149/2 dropped pairs
      // per tombstoned band bucket
      assert(lsh.getAs[Long]("press_dropped_pairs") >= 150L * 149 / 2,
        s"dropped pair mass ${lsh.getAs[Long]("press_dropped_pairs")}")
    } finally {
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
        f.delete(): Unit
      }
      rmrf(new java.io.File(dir))
    }
  }

  test("probe calibration picks a cheap fraction on clustered data and keeps it exact") {
    // 300k vectors in 3000 hash-noise clusters of 100 — the clustered
    // control shape at fixture scale. Calibration must find a rung far
    // below the worst-case 1/2 law, and the calibrated index must
    // still return the EXACT top-10 (clustered neighbors sit in-cell)
    val n = 300000L
    val dim = Tables.EmbeddingDim
    val e = spark.range(n).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), j -> cast(" +
        "sin((id % 3000 * 131 + j * 17) * 12.9898d) * 43758.5453d % 1.0d" +
        " + 0.05d * (sin((id * 7919 + j) * 78.233d) * 12543.21d % 1.0d)" +
        " as float))").as("embedding"))
    val coarse = SimilarityOps.fitIvfK(
      SimilarityOps.embSample(e), SimilarityOps.ivfCellsFor(n))
    val fine = SimilarityOps.fitFineLevelFrame(spark, e, coarse)
    val den = SimilarityOps.probeCalibrate(spark, e, coarse.copy(fine = Some(fine)))
    // since r19 a den this cheap means the DISJOINT hold-out draw also
    // cleared the bar at the chosen rung — one lucky 16-query draw can
    // no longer pin the production probe fraction
    assert(den >= 8, s"clustered corpus should calibrate cheap, got 1/$den")
    val idx = coarse.copy(fine = Some(fine.copy(probeDen = den)))
    assert(idx.fine.get.probes < SimilarityOps.fineProbesFor(fine.total),
      "calibrated probes must undercut the worst-case law")
    // and the whole calibration is deterministic: a second run over the
    // same corpus lands on the same rung
    assert(SimilarityOps.probeCalibrate(spark, e, coarse.copy(fine = Some(fine))) == den,
      "calibration must be deterministic across runs")
  }

  test("TopCells probe ranking matches the (-score, id) driver-side order") {
    val dim = Tables.EmbeddingDim
    val cents = Array.tabulate(40)(c =>
      Array.tabulate(dim)(j => math.sin(c * 13.3 + j * 2.7)))
    val flat = cents.flatten
    val norms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    val q = Array.tabulate(dim)(j => math.cos(j * 0.9).toFloat)
    val df = spark.range(1).select(
      typedLit(q.toSeq).cast("array<float>").as("q_emb"))
    val got = df.select(graft.plans.TopCells.of(col("q_emb"), flat, norms, 7, dim))
      .collect().head.getSeq[Int](0)
    val scores = cents.indices.map { c =>
      var dot = 0.0
      (0 until dim).foreach(j => dot += q(j).toDouble * cents(c)(j))
      (c, dot / norms(c))
    }
    val want = scores.sortBy { case (c, s) => (-s, c) }.take(7).map(_._1)
    assert(got == want, s"got $got want $want")
  }
}
