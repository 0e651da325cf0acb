package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Row-level kernels behind the graft expressions. A top-level object gets
  * Java static forwarders, so generated whole-stage code calls these
  * directly (`graft.functions.VectorKernels.simhash64(arr)`) — the
  * expressions participate in codegen instead of forcing a
  * CodegenFallback interpretation break.
  */
object VectorKernels {

  def fnv1a64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private val md5TL: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Little-endian uint64 of the LAST 8 MD5 digest bytes — the exact value
    * DuckDB's `md5_number_lower(s)` returns (byte order verified against
    * v1.0.0). Using a hash both engines can compute makes every
    * fingerprint built on it reproducible in plain SQL, which is what
    * turns simhash from rows-only into a hash-checked oracle query.
    */
  def md5Lower64(s: UTF8String): Long = {
    val md = md5TL.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h
  }

  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = md5Lower64(arr.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Universal-hashing minhash: each element is string-hashed ONCE
    * (XXH64), then the k-th permutation value derives from one integer
    * avalanche round seeded per k (splitmix64-style finalizer over
    * h + k·φ64). Hashing the string bytes k times — the naive family —
    * costs numHashes× the string traffic for the same collision
    * guarantees; with 64 perms over ~600 shingles/doc that was the
    * dominant cost of LSH candidate generation. */
  def minhashSignature(arr: ArrayData, numHashes: Int): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val base = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var k = 0
        while (k < numHashes) {
          // splitmix64 finalizer on (base + k * golden-gamma)
          var z = base + k * 0x9E3779B97F4A7C15L
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z = z ^ (z >>> 31)
          if (z < sig(k)) sig(k) = z
          k += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  private val space = UTF8String.fromString(" ")

  def shingleSet(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + n <= len) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    ArrayData.toArrayData(out)
  }

  def rollingHash64(arr: ArrayData): Long = {
    var h = 0L
    var i = 0
    while (i < arr.numElements()) {
      val t = if (arr.isNullAt(i)) 0L else fnv1a64(arr.getUTF8String(i))
      h = h * 1000003L + t
      i += 1
    }
    h
  }

  /** Ordered pairs (a, b) with a < b from a SORTED distinct string array —
    * per-row bounded pair expansion for co-occurrence counting (replaces a
    * doc-keyed self-join; at 100 TB the expansion stays O(vocab²) per doc
    * while the join shape shuffles the exploded relation twice). */
  def tokenPairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[AnyRef](n * (n - 1) / 2)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](arr.getUTF8String(i), arr.getUTF8String(j))))
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(out.toArray)
  }

  // ------------------------------------------------------------------
  // md-seeded sign-random-projection kernels (the cross-engine ±1 plane
  // family behind every LSH banding, Similarity.mdPlaneBanded): sign(p, i) = ±1
  // from md5Lower64("hp-<p>-<i>") & 1, cached per (planes, dims); vectors
  // quantize to ⌊1000·x + 0.5⌋ (exact long math, reproduced verbatim by
  // the DuckDB oracles). One tight loop per row replaces the
  // planes×dims interpreted HOF chain (aggregate ∘ zip_with over literal
  // sign arrays — Spark higher-order functions never enter codegen, so
  // the r9 spelling paid ~6M lambda dispatches per sf0.1 banding query).
  // ------------------------------------------------------------------
  private val mdSignCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Long]]()
  private def mdSigns(planes: Int, dims: Int): Array[Long] =
    mdSignCache.computeIfAbsent(planes.toLong << 32 | dims,
      new java.util.function.Function[Long, Array[Long]] {
        override def apply(key: Long): Array[Long] =
          Array.tabulate(planes * dims) { idx =>
            val p = idx / dims; val i = idx % dims
            if ((md5Lower64(UTF8String.fromString(s"hp-$p-$i")) & 1L) == 1L) 1L
            else -1L
          }
      })

  /** All `planes` projections of the ⌊1000·x+0.5⌋-quantized vector in one
    * pass: dp[p] = Σ_i vq[i] · sign(p, i), index order, long math (exact).
    * Input is the raw float/double embedding array. */
  def mdPlaneDots(arr: ArrayData, planes: Int, isFloat: Boolean): ArrayData = {
    val n = arr.numElements()
    val signs = mdSigns(planes, n)
    val vq = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      vq(i) = math.floor(x * 1000.0 + 0.5).toLong
      i += 1
    }
    val out = new Array[Long](planes)
    var p = 0
    while (p < planes) {
      var dp = 0L
      val base = p * n
      var j = 0
      while (j < n) { dp += vq(j) * signs(base + j); j += 1 }
      out(p) = dp
      p += 1
    }
    ArrayData.toArrayData(out)
  }

  /** ⌊1000·x+0.5⌋ int16 quantization of a float/double embedding (the
    * exchange-narrow re-rank payload of q_knn_graph_ann). */
  def quantize16(arr: ArrayData, isFloat: Boolean): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      out(i) = math.floor(x * 1000.0 + 0.5).toShort
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Cosine over two int16-quantized vectors: dot and norms accumulate as
    * longs (exact — ≤ dims·maxq² ≪ 2^53), then ONE double division of
    * identical operands on both engines (the oracle spells it
    * CAST(Σ AS DOUBLE) / (sqrt(CAST(Σ AS DOUBLE)) · sqrt(...))). Zero
    * vector → 0.0 via the same CASE on both engines. */
  def cosineSimInt16(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L; var na = 0L; var nb = 0L; var i = 0
    while (i < n) {
      val x = a.getShort(i).toLong; val y = b.getShort(i).toLong
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Squared L2 over two int16-quantized vectors, exact long math. */
  def l2sqInt16(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L; var i = 0
    while (i < n) {
      val d = a.getShort(i).toLong - b.getShort(i).toLong
      s += d * d; i += 1
    }
    s
  }

  // ------------------------------------------------------------------
  // Product quantization kernels. Geometry fixed at 64-dim vectors,
  // M=4 subspaces x D=16 dims, K=16 centroids: the codebook derives from
  // md5Lower64("pq-m-k-j") (uniform [-1,1) dyadic — bit-identical to the
  // DuckDB oracle's md5_number_lower arithmetic) and is memoized once per
  // JVM. A tight loop kernel instead of unrolled column expressions: the
  // 4x16x16-term projection exceeds janino's 64KB method cap and fell
  // back to interpreted eval with an ERROR per compile attempt.
  // ------------------------------------------------------------------
  private val PqM = 4; private val PqK = 16; private val PqD = 16

  private lazy val pqCodebook: Array[Array[Array[Double]]] =
    Array.tabulate(PqM, PqK, PqD) { (m, k, j) =>
      (md5Lower64(UTF8String.fromString(s"pq-$m-$k-$j")) >>> 11) /
        4503599627370496.0 - 1.0
    }

  /** d2(m, k) = Σ_j (v[m*16+j] - c[m][k][j])², summed in index order
    * (left-assoc from 0.0 — bit-identical to DuckDB's list_reduce chain,
    * since 0.0 + x == x exactly for the non-negative first term). */
  private def pqD2(v: ArrayData, m: Int, k: Int): Double = {
    val c = pqCodebook(m)(k)
    var d2 = 0.0
    var j = 0
    while (j < PqD) {
      val diff = v.getDouble(m * PqD + j) - c(j)
      d2 += diff * diff
      j += 1
    }
    d2
  }

  /** PQ codes: per subspace, the argmin-of-d2 centroid id (ties keep the
    * smaller id — the (d2, k) lexicographic minimum). Returns 4 longs. */
  def pqEncode(v: ArrayData): ArrayData = {
    val out = new Array[Long](PqM)
    var m = 0
    while (m < PqM) {
      var bestK = 0
      var bestD = pqD2(v, m, 0)
      var k = 1
      while (k < PqK) {
        val d2 = pqD2(v, m, k)
        if (d2 < bestD) { bestD = d2; bestK = k }
        k += 1
      }
      out(m) = bestK.toLong
      m += 1
    }
    ArrayData.toArrayData(out)
  }

  /** ADC distance table for a QUERY vector: flat [m*16 + k] -> d2(m, k),
    * 64 doubles — computed once per query row, then corpus vectors are
    * scored by 4 lookups on their codes. */
  def pqDtable(v: ArrayData): ArrayData = {
    val out = new Array[Double](PqM * PqK)
    var m = 0
    while (m < PqM) {
      var k = 0
      while (k < PqK) { out(m * PqK + k) = pqD2(v, m, k); k += 1 }
      m += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Per-thread one-entry deserialization cache for count-min-sketch
    * probes: the sketch arrives as ONE scalar-subquery binary reused by
    * every probe row in the task, so keying on the byte-array reference
    * makes re-deserialization per row free. */
  private val cmsTL: ThreadLocal[(AnyRef, org.apache.spark.util.sketch.CountMinSketch)] =
    new ThreadLocal[(AnyRef, org.apache.spark.util.sketch.CountMinSketch)] {
      override def initialValue() = (null, null)
    }

  /** Per-thread one-entry cache for bloom-filter probes — same contract as
    * the CMS cache below: one scalar-subquery binary per task, keyed by
    * reference. */
  private val bloomTL: ThreadLocal[(AnyRef, org.apache.spark.util.sketch.BloomFilter)] =
    new ThreadLocal[(AnyRef, org.apache.spark.util.sketch.BloomFilter)] {
      override def initialValue() = (null, null)
    }

  /** Membership probe of a serialized Spark BloomFilter for a long key.
    * A graft-owned kernel (rather than Spark's internal
    * BloomFilterMightContain) because that expression's codegen emits
    * `(Long)<literal>` for a constant-folded probe value; janino parses a
    * negative literal there as `java.lang.Long - x` and fails the whole
    * projection into interpreted mode. A plain method argument has no such
    * parse ambiguity. */
  def bloomMightContainLong(sketch: Array[Byte], v: Long): Boolean = {
    val cached = bloomTL.get()
    val bf =
      if (cached._1 eq sketch) cached._2
      else {
        val fresh = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(sketch))
        bloomTL.set((sketch, fresh))
        fresh
      }
    bf.mightContainLong(v)
  }

  /** Point estimate from a serialized Spark CountMinSketch for a long key. */
  def cmsEstimateLong(sketch: Array[Byte], v: Long): Long = {
    val cached = cmsTL.get()
    val cms =
      if (cached._1 eq sketch) cached._2
      else {
        val fresh = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(sketch))
        cmsTL.set((sketch, fresh))
        fresh
      }
    cms.estimateCount(java.lang.Long.valueOf(v))
  }

  /** Unicode NFC (canonical composition). Canonical (de)composition is
    * frozen by the Unicode stability policy, so JDK Normalizer output
    * matches utf8proc-based engines (DuckDB `nfc_normalize`) byte for byte.
    */
  def nfcNormalize(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))

  /** Diacritic strip: NFD-decompose, drop non-spacing marks, re-compose.
    * Matches DuckDB `strip_accents` on Latin text with combining marks
    * (both reduce to the base letter).
    */
  def stripAccents(s: UTF8String): UTF8String = {
    val d = java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    var i = 0
    while (i < d.length) {
      val c = d.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    UTF8String.fromString(java.text.Normalizer.normalize(
      sb.toString, java.text.Normalizer.Form.NFC))
  }
}

/** Aho–Corasick multi-pattern matcher over UTF-8 BYTES (Aho & Corasick
  * 1975) — one pass over the text counts every pattern simultaneously,
  * where the regex-alternation equivalent compiles to a backtracking
  * scan per alternative. Byte-level matching of valid UTF-8 patterns in
  * valid UTF-8 text cannot false-positive: UTF-8 is self-synchronizing
  * (a continuation byte never equals a lead byte), so a byte-aligned
  * match is always a character-aligned match.
  *
  * Semantics: ALL occurrences are counted, including overlapping ones
  * ("aa" occurs 3× in "aaaa") — each pattern independently, exactly what
  * the automaton's output links produce. For border-free patterns (no
  * proper prefix that is also a suffix) this equals the non-overlapping
  * count a replace()-based oracle computes.
  *
  * The goto function is precomputed DENSE (states × 256 ints; states are
  * bounded by total pattern bytes, so a production blocklist of 10k terms
  * × 20 bytes is ~200 MB per executor — broadcast once, shared by every
  * task via the codegen reference object). The scan is then two array
  * reads per input byte with no branching on fail links.
  */
final class AhoAutomaton(patterns: Seq[String]) extends Serializable {
  val numPatterns: Int = patterns.length

  // --- build: trie → BFS fail links → dense goto + merged output lists ---
  private val (goto, out) = {
    val pb = patterns.map(_.getBytes("UTF-8")).toArray
    val maxStates = pb.map(_.length).sum + 1
    val trie = Array.fill(maxStates, 256)(-1)
    val ends = Array.fill(maxStates)(List.empty[Int])
    var nStates = 1
    var p = 0
    while (p < pb.length) {
      var st = 0
      var i = 0
      while (i < pb(p).length) {
        val b = pb(p)(i) & 0xff
        if (trie(st)(b) == -1) { trie(st)(b) = nStates; nStates += 1 }
        st = trie(st)(b)
        i += 1
      }
      ends(st) ::= p
      p += 1
    }
    val fail = new Array[Int](nStates)
    val g = Array.ofDim[Int](nStates, 256)
    val queue = scala.collection.mutable.Queue.empty[Int]
    var b = 0
    while (b < 256) {
      val t = trie(0)(b)
      g(0)(b) = if (t == -1) 0 else { queue.enqueue(t); t }
      b += 1
    }
    while (queue.nonEmpty) {
      val st = queue.dequeue()
      // merged output: a state reports its own endings plus everything its
      // fail state reports (suffix matches surface without link-chasing)
      ends(st) = ends(st) ::: ends(fail(st))
      var b = 0
      while (b < 256) {
        val t = trie(st)(b)
        if (t == -1) g(st)(b) = g(fail(st))(b)
        else {
          fail(t) = g(fail(st))(b)
          g(st)(b) = t
          queue.enqueue(t)
        }
        b += 1
      }
    }
    (g, ends.map(e => if (e.isEmpty) null else e.toArray))
  }

  /** Counts of every pattern in `s` (ALL occurrences, overlapping
    * included), aligned with the constructor's pattern order. */
  def countAll(s: UTF8String): ArrayData = {
    val counts = new Array[Long](numPatterns)
    val bytes = s.getBytes
    var st = 0
    var i = 0
    while (i < bytes.length) {
      st = goto(st)(bytes(i) & 0xff)
      val o = out(st)
      if (o != null) {
        var j = 0
        while (j < o.length) { counts(o(j)) += 1L; j += 1 }
      }
      i += 1
    }
    ArrayData.toArrayData(counts)
  }
}
