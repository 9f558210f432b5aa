package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.{GraftColumnBridge => CB}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for near-dup signatures.
  *
  * Why expressions and not the explode+groupBy formulation: computing a
  * MinHash/SimHash signature is a ROW-LOCAL reduction over a document's
  * shingles/tokens. Expressing it relationally (explode shingles →
  * shuffle → 48 min() aggregates) works, but ships one row per shingle
  * into an exchange — at 100 TB that shuffle dwarfs everything else in
  * the dedup pipeline. These expressions compute the whole signature
  * inside the scan stage (single pass over the string bytes, no
  * intermediate rows, no shuffle), so the only data that ever moves is
  * (doc_id, band_hash).
  *
  * Both implement `doGenCode` by delegating to a static `compute`
  * method — the generated code stays a single call, lives inside
  * WholeStageCodegen, and avoids the interpreted-eval fallback that
  * makes higher-order-function lambdas slow.
  *
  * Reference analogue: the per-file link hash dedup
  * (kris-dev-hub/globallinks cmd/importer/main.go:237-247) generalized
  * to near-duplicate signatures.
  */
object Signatures {

  private[graft] def splitmix(i: Long): Long = {
    var z = i + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Carter-Wegman parameters; same family as the SQL formulation. */
  private val P32 = 4294967291L
  private[plans] def hashParams(k: Int): (Array[Long], Array[Long]) = {
    val a = Array.tabulate(k)(i => ((splitmix(2 * i) & Long.MaxValue) % (Int.MaxValue - 1L)) + 1L)
    val b = Array.tabulate(k)(i => (splitmix(2 * i + 1) & Long.MaxValue) % P32)
    (a, b)
  }

  /** One XXH64 per 3-byte shingle position, then k running minima of
    * (a_i*h32+b_i) mod p — computed once per DISTINCT shingle hash:
    * duplicates produce identical permuted values, so min-ing them
    * again is pure waste, and the r17 sf100 decomposition (SURVEY.md
    * §7, R18 roadmap item 2) pinned the signature stage as
    * q30's entire sf100 bill on corpora whose template text repeats
    * trigrams heavily (r16: ~19.7k distinct in the whole token space).
    * Collect-sort-unique over the position hashes costs O(len·log len)
    * against the O(distinct·k) inner loop it saves; signatures are
    * bit-identical to the per-position spelling by the idempotence of
    * min.
    */
  def minhash(s: UTF8String, k: Int): ArrayData =
    new GenericArrayData(minhashArray(s, k))

  // per-thread growable scratch for the position-hash collect-sort pass:
  // the buffer is O(doc length) and this is a codegen hot path run once
  // per corpus row, so a fresh 8·len-byte allocation per row would churn
  // large short-lived arrays (and promote to the old gen under the
  // sorted-unique pass) on multi-MB documents. Only [0, m) is ever read
  // after the fill, so reuse across rows is safe; growth is amortized
  // (next power of two, never shrinks within a task thread).
  private val mhScratch = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](4096))

  private def mhBuffer(atLeast: Int): Array[Long] = {
    val cur = mhScratch.get()
    if (cur.length >= atLeast) cur
    else {
      // next power of two, clamped: highestOneBit(x)*2 overflows to a
      // negative int once atLeast exceeds 2^30 (a ~1 GiB document) —
      // fall back to the exact size against the JVM array ceiling
      val doubled = java.lang.Integer.highestOneBit(atLeast - 1) * 2L
      val grown = new Array[Long](
        math.max(atLeast, math.min(doubled, Int.MaxValue - 8L).toInt))
      mhScratch.set(grown)
      grown
    }
  }

  def minhashArray(s: UTF8String, k: Int): Array[Long] = {
    val (as, bs) = MinHashSig.params(k)
    val sig = Array.fill(k)(Long.MaxValue)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    val last = math.max(n - 3, 0)
    val hashes = mhBuffer(last + 1)
    var m = 0
    var i = 0
    while (i <= last) {
      val len = math.min(3, n - i)
      if (len > 0) {
        hashes(m) = XXH64.hashUnsafeBytes(base, off + i, len, 42L) & 4294967295L
        m += 1
      }
      i += 1
    }
    java.util.Arrays.sort(hashes, 0, m)
    var p = 0
    while (p < m) {
      if (p == 0 || hashes(p) != hashes(p - 1)) {
        val h = hashes(p)
        var j = 0
        while (j < k) {
          val v = (h * as(j) + bs(j)) % P32
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      p += 1
    }
    sig
  }

  // per-thread digest: MessageDigest is stateful and not thread-safe
  private val md5s =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** First 8 md5 digest bytes as a big-endian signed long — equals
    * DuckDB's `('0x' || substr(md5(x), 1, 16))` bit pattern (parsed as
    * two 32-bit halves there to stay inside signed BIGINT).
    */
  private def md5Long(bytes: Array[Byte], start: Int, len: Int): Long = {
    val md = md5s.get()
    md.reset()
    md.update(bytes, start, len)
    val d = md.digest()
    var h = 0L
    var k = 0
    while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    h
  }

  /** 64-bit SimHash over space-split tokens: per-token md5-derived
    * 64-bit hash, per-bit vote counters, sign → bit.
    *
    * md5 (not xxhash) ON PURPOSE: the signature is then bit-exactly
    * reproducible in any engine with md5 — the DuckDB oracle recomputes
    * it from `string_split(text, ' ')` (which matches this loop's
    * boundary semantics: empty tokens, including trailing, vote too)
    * and brute-forces hamming ≤ 3 over the recomputed signatures.
    */
  def simhash(s: UTF8String): Long = {
    val votes = new Array[Int](64)
    val bytes = s.getBytes
    val n = bytes.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' '.toByte) {
        val h = md5Long(bytes, start, i - start)
        var b = 0
        while (b < 64) {
          votes(b) += (((h >>> b) & 1L) * 2 - 1).toInt
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Carter-Wegman permutations of the md5-derived 32-bit hash of ONE
    * element: position j = (a_j * h32 + b_j) mod P32. The element-set
    * counterpart of [[minhashArray]]'s shingle-set signature — used by
    * MinHashAgg so a group's union sketch is reproducible in the DuckDB
    * oracle (`('0x' || substr(md5(x), 1, 8))::BIGINT` is the same h32).
    */
  def elementMinhash(s: UTF8String, k: Int): Array[Long] = {
    val (as, bs) = MinHashSig.params(k)
    val bytes = s.getBytes
    val md = md5s.get()
    md.reset()
    md.update(bytes, 0, bytes.length)
    val d = md.digest()
    var h = 0L
    var i = 0
    while (i < 4) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    val sig = new Array[Long](k)
    var j = 0
    while (j < k) { sig(j) = (h * as(j) + bs(j)) % P32; j += 1 }
    sig
  }

  // per-thread native zlib stream + scratch buffer: constructing a
  // Deflater per ROW would pay JNI stream init/teardown on the scan
  // path; reset() reuses the native state
  private val deflaters =
    ThreadLocal.withInitial[java.util.zip.Deflater](() =>
      new java.util.zip.Deflater(6, true))
  private val deflateBuf =
    ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](8192))

  /** Per-thread memo of recent shingle-set computations. The verify
    * stage evaluates `shingle_hashes` once per PAIR SIDE and a doc can
    * appear in many candidate pairs (the SMJ that feeds it clusters
    * one side contiguously), so an 8-entry ring keyed by the text
    * bytes turns most evaluations into a ~150-byte memory compare
    * (~100 ns) instead of a hash+sort pass (~25 µs). Keys are
    * DEFENSIVE COPIES — the incoming UTF8String may wrap a reused
    * unsafe-row buffer. The cached ArrayData is returned to multiple
    * consumers; expression results are read-only by contract.
    */
  private final class ShingleMemo {
    val keys = new Array[UTF8String](8)
    val vals = new Array[ArrayData](8)
    var next = 0
  }
  private val shingleMemo =
    ThreadLocal.withInitial[ShingleMemo](() => new ShingleMemo)

  /** Distinct 3-CHARACTER-shingle hashes of a string, SORTED (sort+
    * dedupe beats a hash set at these sizes; callers only use set
    * semantics). Shingles span code points, not bytes, so Jaccard
    * values agree with the oracle's `substring(text, i, 3)` formulation
    * on non-ASCII text too; each shingle is hashed over its UTF-8 byte
    * slice (one XXH64 per gram, no substring allocation). Strings
    * shorter than 3 code points hash as one whole-string gram.
    * Memoized per thread (see [[ShingleMemo]]).
    */
  def shingleHashes(s: UTF8String): ArrayData = {
    val m = shingleMemo.get()
    var i = 0
    while (i < 8) {
      val k = m.keys(i)
      if (k != null && k.equals(s)) return m.vals(i)
      i += 1
    }
    val r = gramHashes(s, 3)
    // getBytes returns the BACKING array uncopied when the string
    // exactly spans it, so wrap an explicit copyOf: the memo key must
    // never alias a reused input buffer (a content-equal lookup after
    // the buffer is rewritten would return the stale shingle array).
    val kb = s.getBytes
    m.keys(m.next) = UTF8String.fromBytes(java.util.Arrays.copyOf(kb, kb.length))
    m.vals(m.next) = r
    m.next = (m.next + 1) & 7
    r
  }

  /** The PPJoin/AllPairs PREFIX of a sorted-distinct shingle set at
    * Jaccard threshold 0.8 — see [[PrefixShingles]] for the lossless
    * blocking argument. Global token order is (isCommon, token):
    * tokens OUTSIDE the corpus's top-F most frequent set sort first,
    * so prefixes are built from rare tokens and candidate groups stay
    * small. `common` must be sorted ascending (binary search).
    */
  def prefixShingles(sh: ArrayData, common: Array[Long]): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    // p = n - ceil(0.8 n) + 1; any J >= 0.8 partner shares a token
    // within both docs' first p tokens under the global order
    val p = n - (4 * n + 4) / 5 + 1
    val out = new Array[Long](math.min(p, n))
    var w = 0
    var i = 0
    while (i < n && w < p) { // rare tokens first, ascending
      val t = sh.getLong(i)
      if (java.util.Arrays.binarySearch(common, t) < 0) { out(w) = t; w += 1 }
      i += 1
    }
    i = 0
    while (i < n && w < p) { // then common tokens, ascending
      val t = sh.getLong(i)
      if (java.util.Arrays.binarySearch(common, t) >= 0) { out(w) = t; w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  /** Distinct k-CHARACTER-gram hashes of a string, SORTED (sort+dedupe
    * beats a hash set at these sizes; callers only use set semantics).
    * Grams span code points, not bytes, so counts agree with a
    * `substring(text, i, k)` oracle formulation on non-ASCII text too;
    * each gram is hashed over its UTF-8 byte slice (one XXH64 per
    * gram, no substring allocation). Strings shorter than k code
    * points hash as one whole-string gram.
    */
  def gramHashes(s: UTF8String, k: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    // code-point start offsets; starts(cnt) = n sentinel. For pure
    // ASCII this is the identity and costs one pass.
    val starts = new Array[Int](n + 1)
    var cnt = 0
    var i = 0
    while (i < n) {
      starts(cnt) = i
      cnt += 1
      i += UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + i))
    }
    starts(cnt) = n
    val count = math.max(cnt - (k - 1), if (cnt > 0) 1 else 0)
    if (count == 0) return new GenericArrayData(Array.emptyLongArray)
    val hs = new Array[Long](count)
    var g = 0
    while (g < count) {
      val end = if (g + k <= cnt) starts(g + k) else n
      hs(g) = XXH64.hashUnsafeBytes(base, off + starts(g), end - starts(g), 42L)
      g += 1
    }
    java.util.Arrays.sort(hs)
    var w = 1
    var r = 1
    while (r < count) {
      if (hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }

  /** Sorted distinct 64-bit hashes of the w-token word windows of
    * `text` — the q66 window stream as ONE row-local pass (see
    * [[WordWindowHashes]]). Tokenization is byte-exact with
    * `regexp_extract_all(lower(text), '[a-z]+')`: lowercase via
    * UTF8String (the same call Spark's `lower` makes), then runs of
    * the single-byte a-z range — multi-byte UTF-8 sequences are all
    * ≥ 0x80, so they delimit runs exactly like the regex does. Each
    * token is hashed once (XXH64 over its bytes); a window hash chains
    * its w token hashes through an odd-multiplier accumulator.
    */
  def wordWindowHashes(s: UTF8String, w: Int): ArrayData = {
    val bytes = s.toLowerCase.getBytes
    val n = bytes.length
    // token hashes, one pass
    var tokenCount = 0
    val th = new Array[Long](n / 2 + 1)
    var i = 0
    while (i < n) {
      if (bytes(i) >= 'a' && bytes(i) <= 'z') {
        val start = i
        while (i < n && bytes(i) >= 'a' && bytes(i) <= 'z') i += 1
        th(tokenCount) = XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start, i - start, 42L)
        tokenCount += 1
      } else i += 1
    }
    if (tokenCount < w) return new GenericArrayData(Array.emptyLongArray)
    val count = tokenCount - w + 1
    val hs = new Array[Long](count)
    var g = 0
    while (g < count) {
      var c = 1L
      var j = 0
      while (j < w) { c = c * 0x9E3779B97F4A7C15L + th(g + j); j += 1 }
      hs(g) = c
      g += 1
    }
    java.util.Arrays.sort(hs)
    var wr = 1
    var r = 1
    while (r < count) {
      if (hs(r) != hs(wr - 1)) { hs(wr) = hs(r); wr += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, wr))
  }

  /** Bucket count of [[jaccardSketch]]: 256 four-bit saturating
    * counters = 128 B per doc. Sized for this corpus class (~50-600
    * distinct shingles per doc → bucket load ≪ 1, so the min-sum
    * bound is nearly exact); the bound stays PROVABLY conservative at
    * any load — a bigger corpus only loses screen selectivity, never
    * a pair.
    */
  val JaccardSketchK = 256

  /** `jaccard_sketch(shingles, k)` → k/2 nibble-packed 4-bit
    * saturating bucket counts (bucket = splitmix(x) mod k) followed by
    * the exact element count as a little-endian int — the compact
    * per-doc summary [[jaccardSketchPass]] screens candidate pairs
    * with (k is recovered from the sketch length). See
    * [[JaccardSketchExpr]] for the bound's proof and the k trade-off.
    */
  def jaccardSketch(sh: ArrayData, k: Int): Array[Byte] = {
    val out = new Array[Byte](k / 2 + 4)
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      val x = sh.getLong(i)
      // remix before mod (the ShingleHashes low bits fed chains upstream)
      val b = ((splitmix(x) % k).toInt + k) % k
      val byteIdx = b >> 1
      val cur = out(byteIdx) & 0xFF
      if ((b & 1) == 0) {
        if ((cur & 0x0F) < 15) out(byteIdx) = (cur + 1).toByte
      } else {
        if ((cur >>> 4) < 15) out(byteIdx) = (cur + 0x10).toByte
      }
      i += 1
    }
    out(k / 2) = (n & 0xFF).toByte
    out(k / 2 + 1) = ((n >> 8) & 0xFF).toByte
    out(k / 2 + 2) = ((n >> 16) & 0xFF).toByte
    out(k / 2 + 3) = ((n >> 24) & 0xFF).toByte
    out
  }

  /** `jaccard_sketch_pass(a, b)` → false ONLY IF J(A,B) < 0.8 is
    * certain from the sketches alone. Bound: I = Σ_buckets I_i with
    * I_i ≤ min(a_i, b_i); where either counter saturated (15) the true
    * counts are unknown, so those buckets contribute
    * min(Σ_sat a_i, Σ_sat b_i) computed EXACTLY from the stored totals
    * minus the unsaturated sums. J ≥ 0.8 ⟺ 9·I ≥ 4·(|A|+|B|), so
    * pass ⟺ 9·bound ≥ 4·(ta+tb) — every qualifying pair passes
    * because bound ≥ I.
    */
  def jaccardSketchPass(a: Array[Byte], b: Array[Byte]): Boolean = {
    // the widths in play differ by call site (k=64 key sketches vs
    // k=256 join sketches) — a mixed-width compare would read b's
    // totals from the wrong offset and silently DROP qualifying pairs,
    // so fail loudly instead
    require(a.length == b.length,
      s"jaccardSketchPass: mismatched sketch widths ${a.length} vs ${b.length}")
    val k = (a.length - 4) * 2
    var minSum = 0L
    var aUnsat = 0L
    var bUnsat = 0L
    var i = 0
    while (i < k / 2) {
      val ab = a(i) & 0xFF
      val bb = b(i) & 0xFF
      val a0 = ab & 0x0F; val a1 = ab >>> 4
      val b0 = bb & 0x0F; val b1 = bb >>> 4
      if (a0 < 15 && b0 < 15) {
        minSum += math.min(a0, b0); aUnsat += a0; bUnsat += b0
      }
      if (a1 < 15 && b1 < 15) {
        minSum += math.min(a1, b1); aUnsat += a1; bUnsat += b1
      }
      i += 1
    }
    def total(s: Array[Byte]): Long =
      (s(k / 2) & 0xFFL) | ((s(k / 2 + 1) & 0xFFL) << 8) |
        ((s(k / 2 + 2) & 0xFFL) << 16) | ((s(k / 2 + 3) & 0xFFL) << 24)
    val ta = total(a)
    val tb = total(b)
    val bound = minSum + math.min(ta - aUnsat, tb - bUnsat)
    9L * bound >= 4L * (ta + tb)
  }

  /** Two-pointer |a ∩ b| over sorted distinct long arrays — see
    * [[SortedIntersectCount]].
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Deflate-compressed size / raw size (level 6, raw deflate — no
    * gzip header noise on short inputs). Empty input → 1.0.
    */
  def compressionRatio(s: UTF8String): Double = {
    val bytes = s.getBytes
    if (bytes.isEmpty) return 1.0
    val d = deflaters.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = deflateBuf.get()
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total.toDouble / bytes.length
  }
}

/** `minhash_sig(text)` → array<bigint> of k minhashes. */
case class MinHashSig(child: Expression, numHashes: Int = 48)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    Signatures.minhash(input.asInstanceOf[UTF8String], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.Signatures.minhash($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  // cache per-k parameters; k is a plan-time constant
  private val cache = new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  def params(k: Int): (Array[Long], Array[Long]) =
    cache.computeIfAbsent(k, Signatures.hashParams)

  def of(c: Column, k: Int = 48): Column =
    CB.column(MinHashSig(CB.expression(c), k))
}

/** `shingle_hashes(text)` → sorted distinct array<bigint> of 3-gram
  * hashes (set semantics for Jaccard work).
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    Signatures.shingleHashes(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Signatures.shingleHashes($c)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  def of(c: Column): Column = CB.column(ShingleHashes(CB.expression(c)))
}

/** `gram_hashes(text, k)` → sorted distinct array<bigint> of k-gram
  * hashes — the length-parameterized sibling of [[ShingleHashes]]
  * (q53 joins 8-gram hashes instead of 8-char strings: same set
  * semantics, no per-gram string allocation, cheaper join hashing;
  * collision odds ~1e-15 per pair are the q29 precedent).
  */
case class GramHashes(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    Signatures.gramHashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Signatures.gramHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

object GramHashes {
  def of(c: Column, k: Int): Column = CB.column(GramHashes(CB.expression(c), k))
}

/** `sorted_intersect_count(a, b)` → int: |a ∩ b| for two SORTED
  * distinct long arrays (the ShingleHashes/GramHashes contract) via a
  * two-pointer merge. Spark's generic `array_intersect` builds a hash
  * set PER ROW — on the exact-Jaccard verify path (q29/q30/q36, run
  * once per candidate pair) that allocation dominates; the merge walk
  * allocates nothing and inlines into WholeStageCodegen.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Signatures.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.Signatures.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  def of(a: Column, b: Column): Column =
    CB.column(SortedIntersectCount(CB.expression(a), CB.expression(b)))
}

/** `jaccard_sketch(shingles)` → binary(132): 256 nibble-packed 4-bit
  * saturating bucket counts + the exact element count (LE int) — the
  * compact per-doc summary for the conservative candidate screen.
  *
  * The screen (see [[JaccardSketchPass]]) upper-bounds |A ∩ B| from
  * the two sketches: per-bucket intersection can't exceed the smaller
  * count, and saturated buckets fall back to exact residual mass from
  * the stored totals — so a pair is dropped ONLY when J < 0.8 is
  * certain. 128 B ships where an 8 B/char shingle array (or the text
  * itself) would otherwise ride the pair exchange, and a candidate
  * culled here skips the verify stage's per-pair shingle recompute
  * entirely (q30's sf100 bill: ~320 s verifying 67.8 M banded
  * candidates of which ~99% sit at J 0.5-0.7 — SURVEY.md §7, R16a).
  */
case class JaccardSketchExpr(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "jaccard_sketch"

  override protected def nullSafeEval(input: Any): Any =
    Signatures.jaccardSketch(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Signatures.jaccardSketch($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): JaccardSketchExpr =
    copy(child = newChild)
}

object JaccardSketchExpr {
  /** k trade-off: selectivity needs bucket load ≲ 1 (k ≈ typical
    * shingle count). k=256 (132 B) bounds nearly exactly at this
    * corpus's ~143-shingle docs — the join-shipped screen (q30).
    * k=64 (36 B) still kills the J ≲ 0.65 mass and is cheap enough to
    * RIDE THE KEY ROWS of a self-join (q29), where a 132 B payload
    * per exploded key would dominate the exchange.
    */
  def of(sh: Column, k: Int = Signatures.JaccardSketchK): Column = {
    require(k > 0 && k % 2 == 0, s"sketch bucket count must be even, got $k")
    CB.column(JaccardSketchExpr(CB.expression(sh), k))
  }
}

/** `jaccard_sketch_pass(a, b)` → boolean: false only if the sketches
  * PROVE J(A,B) < 0.8 — see [[JaccardSketchExpr]]. Every J ≥ 0.8 pair
  * passes (the bound dominates the true intersection), so screening
  * with this predicate is output-invariant for an exact-verified
  * pipeline.
  */
case class JaccardSketchPass(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "jaccard_sketch_pass"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Signatures.jaccardSketchPass(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.Signatures.jaccardSketchPass($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSketchPass =
    copy(left = newLeft, right = newRight)
}

object JaccardSketchPass {
  def of(a: Column, b: Column): Column =
    CB.column(JaccardSketchPass(CB.expression(a), CB.expression(b)))
}

/** `word_window_hashes(text, w)` → sorted distinct array<bigint> of
  * w-token word-window hashes — q66's window stream as one codegen'd
  * pass. Replaces the interpreted per-window `md5(concat_ws(slice))`
  * HOF (one md5 + string build per window, ~100 per doc) AND shrinks
  * the groupBy key from a 32-char hex string to 8 bytes. The q66
  * oracle is unaffected: both engines group on their OWN hashes and
  * compare only the final (a_id, b_id, n_windows) rows — a 64-bit
  * window collision perturbing a count has the q29 hash-collision
  * odds (~1e-15 per pair).
  */
case class WordWindowHashes(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_window_hashes"

  override protected def nullSafeEval(input: Any): Any =
    Signatures.wordWindowHashes(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Signatures.wordWindowHashes($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WordWindowHashes =
    copy(child = newChild)
}

object WordWindowHashes {
  def of(c: Column, w: Int): Column =
    CB.column(WordWindowHashes(CB.expression(c), w))
}

/** `prefix_shingles(shingles)` → the PPJoin/AllPairs prefix (Chaudhuri
  * et al. 2006, Xiao et al. 2008 — public literature) of a
  * sorted-distinct shingle set at the ≥ 0.8 Jaccard threshold.
  *
  * THE deterministic blocking key for exact-threshold Jaccard (q29,
  * r14 — replaces the pigeonhole bucketing whose shared-empty-bucket
  * keys generated candidates quadratically in length-class size: 61%
  * of sf10's 5.4M candidates for 20.9k true pairs). Losslessness: fix
  * any total order over tokens and let s be the MINIMUM token shared
  * by docs x and y with J(x,y) ≥ t. Every x-token ordered before s is
  * outside x∩y, and J ≥ t ⇒ |x∩y| ≥ t·|x∪y| ≥ t·|x| — so s sits
  * within x's first |x| − ⌈t·|x|⌉ + 1 tokens, and symmetrically for
  * y: BOTH prefixes contain s, and the (n_chars, token) equi-join
  * surfaces the pair. No bucket artifact exists — a candidate group
  * is exactly "docs of one length whose prefixes contain token s".
  * The global order is (token ∉ top-F corpus-frequent set, token):
  * prefixes prefer RARE tokens, so groups stay O(token frequency
  * in prefixes), not O(class size). The order choice affects only
  * candidate COUNT, never losslessness — any fixed total order
  * satisfies the argument above, and the top-F fit is deterministic
  * for a given corpus (count desc, token asc, fixed F).
  */
case class PrefixShingles(child: Expression, common: Array[Long])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "prefix_shingles"

  override protected def nullSafeEval(input: Any): Any =
    Signatures.prefixShingles(input.asInstanceOf[ArrayData], common)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val commonRef = ctx.addReferenceObj("prefixCommon", common, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.Signatures.prefixShingles($c, $commonRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): PrefixShingles =
    copy(child = newChild)
}

object PrefixShingles {
  /** `common` = the corpus's top-F frequent tokens, any order (sorted
    * here for the expression's binary search).
    */
  def of(sh: Column, common: Array[Long]): Column =
    CB.column(PrefixShingles(CB.expression(sh), common.sorted))
}

/** `compression_ratio(text)` → double in (0, ~1.1]: deflated size over
  * raw size. The classic repetition/boilerplate signal (highly
  * repetitive machine-generated text compresses far below natural
  * prose). Row-local single pass; doGenCode emits one static call so
  * the expression stays inside WholeStageCodegen.
  */
case class CompressionRatio(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "compression_ratio"

  override protected def nullSafeEval(input: Any): Any =
    Signatures.compressionRatio(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Signatures.compressionRatio($c)")

  override protected def withNewChildInternal(newChild: Expression): CompressionRatio =
    copy(child = newChild)
}

object CompressionRatio {
  def of(c: Column): Column = CB.column(CompressionRatio(CB.expression(c)))
}

/** `simhash_sig(text)` → bigint 64-bit SimHash (md5-token-hash based —
  * bit-exactly reproducible in the DuckDB oracle).
  */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    Signatures.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.Signatures.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {
  def of(c: Column): Column =
    CB.column(SimHashSig(CB.expression(c)))

  /** The TWO-LEVEL pigeonhole key array of a signature column — THE
    * shared banding for every SimHash consumer (q31, q60, s05).
    *
    * Key k ∈ 0..15 encodes (chunk c = k div 4, sub s = k mod 4):
    * value = chunk c's 16 bits ‖ sub-chunk s of the OTHER 48 bits
    * (4 × 12-bit subs) — 28 signature bits per key. LOSSLESS at
    * hamming ≤ 3: some 16-bit chunk c is untouched (4 chunks, ≤ 3
    * flips), and GIVEN c the remaining 48 bits carry those ≤ 3 flips,
    * so some 12-bit sub s is untouched too — the pair agrees on key
    * (c, s) exactly.
    *
    * Why two levels instead of the classic 4×16-bit chunks: a 16-bit
    * bucket space saturates the MaxBucket=64 hot-bucket guard once
    * random chunk collisions reach ~64 docs per value — n ≈ 4M docs —
    * and the guard then silently drops ORGANIC buckets (the q34
    * sf1 failure mode, one level down). 28-bit keys push that
    * saturation past 10¹⁰ docs and cut false-candidate density by
    * ~2¹² per key; the cost is a 16-row explode per doc instead of 4
    * (same single-shuffle plan shape). Degenerate corpora (identical
    * docs) are hot at BOTH levels and still bounded by the guard.
    * The losslessness argument and the cross-operator equivalence
    * specs (q60 ≡ q31 restricted, s05 ≡ q31) all assume this exact
    * keying — change it HERE only.
    */
  def pigeonholeChunks(sigCol: String): Column = {
    // rem = the three non-c chunks concatenated (48 bits, c+1 high)
    val rem =
      s"(shiftleft(shiftright($sigCol, (((k div 4) + 1) % 4) * 16) & 65535, 32) | " +
        s"shiftleft(shiftright($sigCol, (((k div 4) + 2) % 4) * 16) & 65535, 16) | " +
        s"(shiftright($sigCol, (((k div 4) + 3) % 4) * 16) & 65535))"
    org.apache.spark.sql.functions.expr(
      s"transform(sequence(0, 15), k -> " +
        s"shiftleft(shiftright($sigCol, (k div 4) * 16) & 65535, 12) | " +
        s"(shiftright($rem, (k % 4) * 12) & 4095))")
  }

  /** Driver-side reference of [[pigeonholeChunks]] for differential
    * specs. */
  def pigeonholeChunksRef(sig: Long): Seq[Long] =
    (0 until 16).map { k =>
      val c = k / 4
      val chunk = (sig >>> (c * 16)) & 0xFFFFL
      val rem = (((sig >>> (((c + 1) % 4) * 16)) & 0xFFFFL) << 32) |
        (((sig >>> (((c + 2) % 4) * 16)) & 0xFFFFL) << 16) |
        ((sig >>> (((c + 3) % 4) * 16)) & 0xFFFFL)
      (chunk << 12) | ((rem >>> ((k % 4) * 12)) & 0xFFFL)
    }
}
