package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (with codegen) for the signature
  * computations that dominate the near-dup pipelines.
  *
  * Why not SQL higher-order functions: `aggregate`/`transform` lambdas
  * are interpreted per element — a 64-bit SimHash via HOFs costs ~64
  * expression-tree evaluations (or a 64-wide array allocation) per
  * TOKEN. These expressions do the same math as a tight JVM loop per
  * ROW, participate in whole-stage codegen, and hash each input string
  * exactly once. This is the (b) tier of the operator preference order:
  * a scalar computation Spark's builtins can't express efficiently.
  *
  * Exposed to SQL as the graft_* functions of [[HashExprs.functions]]
  * (registered by GraftSession and by graft.GraftExtensions).
  */
object HashImpls {
  private val seed = 42L // Spark SQL's xxhash64 default seed

  /** 64-bit SimHash over non-null array elements: bit i set iff more
    * than half the element hashes have bit i set (±1 vote sum > 0).
    */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var nonNull = 0
    var k = 0
    while (k < n) {
      if (!arr.isNullAt(k)) {
        nonNull += 1
        val h = XXH64.hashUTF8String(arr.getUTF8String(k), seed)
        var i = 0
        while (i < 64) {
          counts(i) += ((h >>> i) & 1L).toInt
          i += 1
        }
      }
      k += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (2 * counts(i) > nonNull) out |= (1L << i)
      i += 1
    }
    out
  }

  /** 64-bit perceptual hash of a byte payload: SimHash over the
    * payload's DISTINCT byte-4-gram windows at stride 2, in ONE tight
    * loop over the raw bytes — no hex string, no per-shingle string
    * allocation, no array materialization (the hex+HOF formulation of
    * the same signature measured ~4× slower at sf0.1). Window value
    * packs into an int; dedupe is a per-row HashSet (≤ payload/2
    * entries); vote majority matches [[simhash64]]'s convention.
    */
  def phash64(bytes: Array[Byte]): Long = {
    val n = bytes.length
    val counts = new Array[Int](64)
    val seen = new java.util.HashSet[Integer]()
    var total = 0
    var p = 0
    while (p <= n - 4) {
      val w = ((bytes(p) & 0xff) << 24) | ((bytes(p + 1) & 0xff) << 16) |
        ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
      if (seen.add(w)) {
        total += 1
        val h = XXH64.hashInt(w, seed)
        var i = 0
        while (i < 64) {
          counts(i) += ((h >>> i) & 1L).toInt
          i += 1
        }
      }
      p += 2
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (2 * counts(i) > total) out |= (1L << i)
      i += 1
    }
    out
  }

  /** MinHash signature: sig[s] = min over elements of
    * xxhash64(seed=s+1, xxhash64(element)). Each string is hashed once;
    * the k rows remix the 8-byte hash (hashLong), not the string.
    *
    * Returns NULL for empty (or all-null-element) input: an
    * all-Long.MaxValue "signature of nothing" would make every pair of
    * empty docs estimated-Jaccard 1.0 and flood near-dup candidates.
    * Null signatures never pair downstream (null band hashes fail the
    * agreement prefilter).
    */
  def minhashSig(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var hashed = 0
    var k = 0
    while (k < n) {
      if (!arr.isNullAt(k)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(k), seed)
        hashed += 1
        var s = 0
        while (s < numHashes) {
          val hs = XXH64.hashLong(h, s + 1)
          if (hs < mins(s)) mins(s) = hs
          s += 1
        }
      }
      k += 1
    }
    if (hashed == 0) null else new GenericArrayData(mins)
  }

  /** Single-pass text normalization — byte-identical output to the
    * two-regex formulation
    * `trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))`
    * that every DuckDB oracle mirrors: Unicode lowering first (same
    * [[UTF8String.toLowerCase]] Spark's `lower` uses), then one sweep
    * keeping [a-z0-9] runs joined by single spaces. The regex pair
    * walks the NFA twice and allocates two intermediate strings per
    * row; this does one bounded append loop. (A supplementary code
    * point is two chars here vs one regex code-point match — both
    * yield separator(s) that the run-collapse reduces identically.)
    */
  def normalizeText(s: UTF8String): UTF8String = {
    val lowered = s.toLowerCase.toString
    val n = lowered.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSep = false
    var i = 0
    while (i < n) {
      val c = lowered.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSep && sb.length > 0) sb.append(' ')
        sb.append(c)
        pendingSep = false
      } else pendingSep = true
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** [[minhashSig]] over already-hashed elements (array<bigint>). */
  def minhashSigLong(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var hashed = 0
    var k = 0
    while (k < n) {
      if (!arr.isNullAt(k)) {
        val h = arr.getLong(k)
        hashed += 1
        var s = 0
        while (s < numHashes) {
          val hs = XXH64.hashLong(h, s + 1)
          if (hs < mins(s)) mins(s) = hs
          s += 1
        }
      }
      k += 1
    }
    if (hashed == 0) null else new GenericArrayData(mins)
  }

  /** Cosine similarity of two numeric arrays (float or double elements),
    * strict left-to-right accumulation (deterministic, matches the SQL
    * `aggregate` fold and DuckDB's `list_sum` order). Null elements
    * count as 0; the dot product runs over the common prefix.
    */
  def cosine(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.min(na, nb)
    var dot = 0.0
    var i = 0
    while (i < n) {
      val av = if (a.isNullAt(i)) 0.0 else if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val bv = if (b.isNullAt(i)) 0.0 else if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += av * bv
      i += 1
    }
    var na2 = 0.0
    i = 0
    while (i < na) {
      val v = if (a.isNullAt(i)) 0.0 else if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      na2 += v * v
      i += 1
    }
    var nb2 = 0.0
    i = 0
    while (i < nb) {
      val v = if (b.isNullAt(i)) 0.0 else if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      nb2 += v * v
      i += 1
    }
    dot / (math.sqrt(na2) * math.sqrt(nb2))
  }

  /** Exact Jaccard |A∩B| / |A∪B| of two long arrays under SET
    * semantics, value-identical to the builtin composition
    * `size(array_intersect(a,b)) / size(array_union(a,b))` cast to
    * double with ANSI off: elements deduped, a null element counts as
    * one distinct value, and empty∪empty → NULL (Spark's Divide yields
    * NULL on a zero divisor with ANSI off — NOT NaN). One hash-set
    * pass — no intermediate intersect/union arrays are ever
    * materialized, which is what makes the near-dup verify join cheap.
    */
  def jaccardLong(a: ArrayData, b: ArrayData): java.lang.Double = {
    val sa = new java.util.HashSet[java.lang.Long]()
    var aNull = false
    var i = 0
    val na = a.numElements()
    while (i < na) {
      if (a.isNullAt(i)) aNull = true else sa.add(a.getLong(i))
      i += 1
    }
    var bNull = false
    val sb = new java.util.HashSet[java.lang.Long]()
    i = 0
    val nb = b.numElements()
    while (i < nb) {
      if (b.isNullAt(i)) bNull = true else sb.add(b.getLong(i))
      i += 1
    }
    var inter = 0
    val it = sb.iterator()
    while (it.hasNext) if (sa.contains(it.next())) inter += 1
    jaccardFinish(sa.size, sb.size, inter, aNull, bNull)
  }

  /** Shared null-member/0-union arithmetic of the two jaccard
    * overloads — the subtlest part of the builtin-parity contract,
    * kept in ONE place: a null element counts as one distinct set
    * member on each side, and an empty union yields NULL (the ANSI-off
    * Divide-by-zero result).
    */
  private def jaccardFinish(saSize: Int, sbSize: Int, interRaw: Int,
      aNull: Boolean, bNull: Boolean): java.lang.Double = {
    var inter = interRaw
    var union = saSize + sbSize - interRaw
    if (aNull || bNull) union += 1
    if (aNull && bNull) inter += 1
    if (union == 0) null else java.lang.Double.valueOf(inter.toDouble / union)
  }

  /** [[jaccardLong]] over string arrays. */
  def jaccardString(a: ArrayData, b: ArrayData): java.lang.Double = {
    val sa = new java.util.HashSet[UTF8String]()
    var aNull = false
    var i = 0
    val na = a.numElements()
    while (i < na) {
      if (a.isNullAt(i)) aNull = true else sa.add(a.getUTF8String(i))
      i += 1
    }
    var bNull = false
    val sb = new java.util.HashSet[UTF8String]()
    i = 0
    val nb = b.numElements()
    while (i < nb) {
      if (b.isNullAt(i)) bNull = true else sb.add(b.getUTF8String(i))
      i += 1
    }
    var inter = 0
    val it = sb.iterator()
    while (it.hasNext) if (sa.contains(it.next())) inter += 1
    jaccardFinish(sa.size, sb.size, inter, aNull, bNull)
  }

  /** SRP bucket id: bit p of the result = sign of dot(vec, planes[p]).
    * `planes` is an array<array<double>> plan literal.
    */
  def srpBucket(vec: ArrayData, vFloat: Boolean, planes: ArrayData): Int = {
    val p = planes.numElements()
    var bucket = 0
    var pi = 0
    while (pi < p) {
      val plane = planes.getArray(pi)
      val n = math.min(vec.numElements(), plane.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) {
        val v = if (vec.isNullAt(i)) 0.0 else if (vFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        dot += v * plane.getDouble(i)
        i += 1
      }
      if (dot > 0) bucket |= (1 << pi)
      pi += 1
    }
    bucket
  }

  /** Product-quantization encode: the m per-subspace nearest-centroid
    * indices (squared L2, strict <, FIRST index wins ties — the PQ
    * assignment rule shared with codebook training) packed into one
    * BIGINT, subspace j's code in byte j. `cb` is [m][kSub][subDim];
    * subvector j reads vector positions [j·subDim, (j+1)·subDim).
    * Requires m ≤ 8 and kSub ≤ 256 (enforced by the expression).
    */
  def pqEncode(v: ArrayData, vFloat: Boolean,
      cb: Array[Array[Array[Double]]]): Long = {
    val m = cb.length
    var code = 0L
    var j = 0
    while (j < m) {
      val cbj = cb(j)
      val subDim = if (cbj.isEmpty) 0 else cbj(0).length
      val off = j * subDim
      var best = 0
      var bestD2 = Double.PositiveInfinity
      var c = 0
      while (c < cbj.length) {
        val cent = cbj(c)
        var d2 = 0.0
        var t = 0
        while (t < subDim) {
          val x =
            if (v.isNullAt(off + t)) 0.0
            else if (vFloat) v.getFloat(off + t).toDouble
            else v.getDouble(off + t)
          val d = x - cent(t)
          d2 += d * d
          t += 1
        }
        if (d2 < bestD2) { bestD2 = d2; best = c }
        c += 1
      }
      code |= best.toLong << (8 * j)
      j += 1
    }
    code
  }

  /** Deterministic payload downsample: every k-th byte of the input —
    * the batch shape of a media resize (a real resizer replaces the
    * sampling kernel; the binary-in/binary-out plumbing is identical).
    */
  def downsample(bytes: Array[Byte], k: Int): Array[Byte] = {
    if (bytes.length == 0) return bytes
    val out = new Array[Byte]((bytes.length + k - 1) / k)
    var i = 0
    var j = 0
    while (i < bytes.length) {
      out(j) = bytes(i)
      j += 1
      i += k
    }
    out
  }

  /** DISTINCT rolling-hash values of the word-level n-gram shingles of a
    * token array. Equivalent information to building the shingle STRINGS
    * and hashing them (what dedup actually consumes downstream), minus
    * the string materialization: each token is hashed once, then each
    * window folds the n token hashes with hashLong.
    */
  def shingleHashes(arr: ArrayData, n: Int): ArrayData =
    shingleHashesImpl(arr, n, dedupe = true)

  /** Positional variant: one hash per window, duplicates kept in order —
    * the input sequence for winnowing (which selects per-window minima
    * by POSITION, so dedup would corrupt it).
    */
  def shingleHashesAll(arr: ArrayData, n: Int): ArrayData =
    shingleHashesImpl(arr, n, dedupe = false)

  private def shingleHashesImpl(arr: ArrayData, n: Int, dedupe: Boolean): ArrayData = {
    val total = arr.numElements()
    if (total < n) return new GenericArrayData(Array.emptyLongArray)
    val tokHash = new Array[Long](total)
    var i = 0
    while (i < total) {
      tokHash(i) = if (arr.isNullAt(i)) 0L
        else XXH64.hashUTF8String(arr.getUTF8String(i), seed)
      i += 1
    }
    val seen = if (dedupe) new java.util.HashSet[java.lang.Long]() else null
    val out = new Array[Long](total - n + 1)
    var m = 0
    i = 0
    while (i <= total - n) {
      var h = tokHash(i)
      var j = i + 1
      while (j < i + n) {
        h = XXH64.hashLong(tokHash(j), h)
        j += 1
      }
      if (seen == null || seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** Winnowing (MOSS-style) fingerprint selection: the minimum hash of
    * each sliding window of `w` consecutive k-gram hashes, rightmost
    * minimum on ties, each selected position emitted once. Guarantees at
    * least one shared fingerprint for any match of length >= w + k - 1.
    */
  def winnow(kgramHashes: ArrayData, w: Int): ArrayData = {
    val n = kgramHashes.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    if (n <= w) {
      var min = Long.MaxValue
      var i = 0
      while (i < n) { val v = kgramHashes.getLong(i); if (v <= min) min = v; i += 1 }
      return new GenericArrayData(Array(min))
    }
    val out = new Array[Long](n - w + 1)
    var m = 0
    var lastPos = -1
    var i = 0
    while (i <= n - w) {
      var minPos = i
      var min = kgramHashes.getLong(i)
      var j = i + 1
      while (j < i + w) {
        val v = kgramHashes.getLong(j)
        if (v <= min) { min = v; minPos = j } // rightmost minimum
        j += 1
      }
      if (minPos != lastPos) { out(m) = min; m += 1; lastPos = minPos }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** Luhn checksum over a candidate card number: separators (space,
    * dash) are ignored; any other non-digit, or a digit count outside
    * [13, 19], fails. From the rightmost digit, every second digit
    * doubles (minus 9 past 9); valid iff the sum is divisible by 10.
    */
  def luhnValid(s: UTF8String): Boolean = {
    // byte-level iteration, zero allocation: the accepted alphabet is
    // pure ASCII (digits/space/dash), and any multi-byte UTF-8 byte is
    // >= 0x80 (negative as a JVM byte) so it correctly fails the gate
    var sum = 0
    var pos = 0 // position from the RIGHT among digits seen so far
    var i = s.numBytes() - 1
    while (i >= 0) {
      val c = s.getByte(i)
      if (c >= '0' && c <= '9') {
        val v = c - '0'
        val add = if (pos % 2 == 1) { val d = 2 * v; if (d > 9) d - 9 else d } else v
        sum += add
        pos += 1
      } else if (c != ' ' && c != '-') {
        return false
      }
      i -= 1
    }
    pos >= 13 && pos <= 19 && sum % 10 == 0
  }

  /** Jaro-Winkler similarity, value-identical to DuckDB's
    * `jaro_winkler_similarity` (pinned empirically: bit-exact on 50k
    * random pairs incl. forced common prefixes — see
    * q_fuzzy_best_match's oracle). Semantics: standard Jaro with match
    * window `max(l1,l2)/2 - 1` (floor, clamped to 0), greedy
    * left-to-right matching, transpositions = floor(half the
    * out-of-order matches); Winkler boost `p * 0.1 * (1 - jaro)` for
    * shared prefix p ≤ 4 applied ONLY when jaro > 0.7; EITHER input
    * empty → 0.0 (DuckDB returns 0.0 even for two empties, not the
    * textbook 1.0). Operates on UTF-16 code units — identical to any
    * byte/codepoint treatment on the ASCII entity names this engine
    * scores; non-BMP inputs may diverge from byte-based engines.
    *
    * The double arithmetic replays the exact literal operation order
    * `(m/l1 + m/l2 + (m-t)/m) / 3` then `j + p*0.1*(1-j)` so IEEE-754
    * results match the oracle engine bitwise — no rounding shim needed
    * downstream.
    */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString
    val s2 = b.toString
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    var win = (if (l1 > l2) l1 else l2) / 2 - 1
    if (win < 0) win = 0
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = if (i - win > 0) i - win else 0
      val hi = if (i + win < l2 - 1) i + win else l2 - 1
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      var p = 0
      val pMax = { val c = if (l1 < l2) l1 else l2; if (c < 4) c else 4 }
      while (p < pMax && s1.charAt(p) == s2.charAt(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    } else jaro
  }

  /** Spread the low 31 bits of `v` onto the even bit positions of a
    * long (classic Morton magic-mask ladder). Input is masked to 31
    * bits so the interleaved result never reaches the sign bit.
    */
  def spread31(v: Long): Long = {
    var x = v & 0x7FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** 2-D Morton (Z-order) code: x on even bits, y on odd bits. */
  def zorder(x: Long, y: Long): Long = spread31(x) | (spread31(y) << 1)

  /** 2-D Hilbert index at order 10 (1024x1024 grid): the standard
    * xy2d quadrant-rotation walk (Hilbert 1891; loop form per
    * Warren's Hacker's Delight / the public d2xy reference). Unlike
    * Morton codes, CONSECUTIVE Hilbert indexes are always
    * Manhattan-adjacent cells, so a Hilbert-sorted file layout has no
    * long diagonal jumps and per-file min/max stats stay even
    * narrower on both dimensions. Inputs mask to the low 10 bits.
    */
  def hilbert(xIn: Long, yIn: Long): Long = {
    var x = xIn & 1023L
    var y = yIn & 1023L
    var d = 0L
    var s = 512L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Edit-distance-EXACTLY-1 test, specialized: equal lengths → one
    * mismatched position (substitution); lengths differing by 1 → the
    * shorter matches the longer with one gap. One O(n) pass, no DP
    * matrix — measured ~30× cheaper than the general levenshtein on
    * the typo-pair verify path, where every candidate is within ±1
    * length by construction. Unicode-correct: Spark's levenshtein
    * counts CODE POINTS, not UTF-16 chars, so any input containing a
    * surrogate pair routes through a code-point-array variant of the
    * same two-pointer walk (r8 ADVICE: the char-level fast path alone
    * disagrees with levenshtein on supplementary-plane strings —
    * e.g. "𝕏" vs "Y" is distance 1 by code points but 2 by chars).
    * The surrogate scan is a branch-predictable pass over chars the
    * loops read anyway; ASCII hot-path cost is unchanged.
    */
  def edit1(sa: String, sb: String): Boolean = {
    var i = 0
    while (i < sa.length) {
      if (Character.isHighSurrogate(sa.charAt(i))) return edit1Cp(sa, sb)
      i += 1
    }
    i = 0
    while (i < sb.length) {
      if (Character.isHighSurrogate(sb.charAt(i))) return edit1Cp(sa, sb)
      i += 1
    }
    val la = sa.length
    val lb = sb.length
    if (la == lb) {
      var i = 0
      var diff = 0
      while (i < la && diff <= 1) {
        if (sa.charAt(i) != sb.charAt(i)) diff += 1
        i += 1
      }
      diff == 1
    } else if (math.abs(la - lb) != 1) false
    else {
      val (s, l) = if (la < lb) (sa, sb) else (sb, sa)
      var i = 0
      while (i < s.length && s.charAt(i) == l.charAt(i)) i += 1
      var j = i
      while (j < s.length && s.charAt(j) == l.charAt(j + 1)) j += 1
      j == s.length
    }
  }

  /** Code-point-array slow path of [[edit1]] — identical two-pointer
    * algorithm over `codePoints()`, taken only when a surrogate pair
    * is present, so levenshtein's code-point metric is matched on
    * supplementary-plane input too.
    */
  private def edit1Cp(sa: String, sb: String): Boolean = {
    val a = sa.codePoints().toArray
    val b = sb.codePoints().toArray
    val la = a.length
    val lb = b.length
    if (la == lb) {
      var i = 0
      var diff = 0
      while (i < la && diff <= 1) {
        if (a(i) != b(i)) diff += 1
        i += 1
      }
      diff == 1
    } else if (math.abs(la - lb) != 1) false
    else {
      val (s, l) = if (la < lb) (a, b) else (b, a)
      var i = 0
      while (i < s.length && s(i) == l(i)) i += 1
      var j = i
      while (j < s.length && s(j) == l(j + 1)) j += 1
      j == s.length
    }
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HEX_UPPER = "0123456789ABCDEF".getBytes("US-ASCII")

  /** Content-defined chunk boundary positions — the single-pass JVM
    * replica of the SQL window-hash recipe in `Multimodal.cdcChunks`
    * (boundary at 1-based position i, 2 ≤ i ≤ n−3, when
    * `md5(substring(hex(payload), (i−1)*2+1, 8))`'s last four digest
    * bytes, read as a uint32, land on 0 mod `maskMod`). Semantics are
    * BIT-IDENTICAL to the HOF-array formulation (the DuckDB oracle
    * still runs the SQL recipe and the gate hash-compares), but the
    * hot loop builds each 8-char uppercase-hex window in a reused
    * buffer and digests it with a thread-local MD5 — no per-position
    * substring/conv string churn, no O(n) array-of-arrays. This is the
    * per-byte cost that dominated the CDC keys at sf5.
    */
  def cdcBoundaries(bytes: Array[Byte], maskMod: Int): ArrayData = {
    val n = bytes.length
    if (n < 5) return new GenericArrayData(Array.empty[Int])
    val md = md5Local.get()
    val hexW = new Array[Byte](8)
    val out = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = 2
    while (i <= n - 3) {
      var k = 0
      while (k < 4) {
        val v = bytes(i - 1 + k) & 0xff // window = 1-based bytes i..i+3
        hexW(2 * k) = HEX_UPPER(v >>> 4)
        hexW(2 * k + 1) = HEX_UPPER(v & 15)
        k += 1
      }
      md.reset()
      val d = md.digest(hexW)
      val tail = ((d(12) & 0xffL) << 24) | ((d(13) & 0xffL) << 16) |
        ((d(14) & 0xffL) << 8) | (d(15) & 0xffL)
      if (tail % maskMod == 0L) out += i
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Image header dimension parse — REAL format structure, not magic
    * sniffing: a JPEG marker-segment WALK to the first SOF frame
    * header (any SOF0–SOF15 except DHT/JPG/DAC per ITU-T T.81 §B.1.4;
    * height then width, big-endian 16-bit at offsets 3/5 of the frame
    * segment) and the PNG 8-byte signature + IHDR chunk (width then
    * height, big-endian 32-bit at offsets 16/20 per RFC 2083 §4.1.1).
    * Returns (width << 32) | height, or −1 when the payload is not a
    * parseable JPEG/PNG — truncated headers, bad segment lengths and
    * marker desync all land on −1 rather than garbage dims. One tight
    * loop over raw bytes, no hex string.
    */
  def imageDims(b: Array[Byte]): Long = {
    def u8(i: Int): Int = b(i) & 0xff
    val n = b.length
    if (n >= 24 &&
        u8(0) == 0x89 && u8(1) == 0x50 && u8(2) == 0x4e && u8(3) == 0x47 &&
        u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a &&
        u8(12) == 'I' && u8(13) == 'H' && u8(14) == 'D' && u8(15) == 'R') {
      val w = (u8(16).toLong << 24) | (u8(17) << 16) | (u8(18) << 8) | u8(19)
      val h = (u8(20).toLong << 24) | (u8(21) << 16) | (u8(22) << 8) | u8(23)
      if (w <= 0 || h <= 0) -1L else (w << 32) | h
    } else if (n >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var off = 2
      var guard = 0
      while (off + 4 <= n && guard < 1024) {
        guard += 1
        if (u8(off) != 0xff) return -1L
        val marker = u8(off + 1)
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          // SOF segment: len(2) precision(1) height(2) width(2) ...
          if (off + 9 > n) return -1L
          val h = (u8(off + 5) << 8) | u8(off + 6)
          val w = (u8(off + 7) << 8) | u8(off + 8)
          return if (w <= 0 || h <= 0) -1L else (w.toLong << 32) | h
        }
        if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) off += 2
        else {
          val len = (u8(off + 2) << 8) | u8(off + 3)
          if (len < 2) return -1L
          off += 2 + len
        }
      }
      -1L
    } else -1L
  }
}

private object ArrayOfString {
  def check(e: Expression, name: String): TypeCheckResult = e.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name expects array<string>, got ${other.catalogString}")
  }
}

/** `graft_simhash64(array<string>) -> bigint` */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    ArrayOfString.check(child, prettyName)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  protected override def nullSafeEval(input: Any): Any =
    HashImpls.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** `graft_edit1(string, string) -> boolean` — true iff levenshtein
  * distance is EXACTLY 1; see [[HashImpls.edit1]].
  */
case class Edit1Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two string args, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_edit1"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    HashImpls.edit1(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashImpls.edit1($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Edit1Expr =
    copy(left = newLeft, right = newRight)
}

/** `graft_image_dims(binary) -> bigint` — (width << 32) | height from
  * a JPEG SOF or PNG IHDR header, −1 if unparseable; see
  * [[HashImpls.imageDims]].
  */
case class ImageDimsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_image_dims"

  protected override def nullSafeEval(input: Any): Any =
    HashImpls.imageDims(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.imageDims($c)")

  override protected def withNewChildInternal(newChild: Expression): ImageDimsExpr =
    copy(child = newChild)
}

/** `graft_cdc_boundaries(binary, maskMod) -> array<int>` — see
  * [[HashImpls.cdcBoundaries]].
  */
case class CdcBoundariesExpr(child: Expression, maskMod: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_cdc_boundaries"

  protected override def nullSafeEval(input: Any): Any =
    HashImpls.cdcBoundaries(input.asInstanceOf[Array[Byte]], maskMod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashImpls.cdcBoundaries($c, $maskMod)")

  override protected def withNewChildInternal(newChild: Expression): CdcBoundariesExpr =
    copy(child = newChild)
}

/** `graft_phash64(binary) -> bigint` — see [[HashImpls.phash64]]. */
case class Phash64Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_phash64"

  protected override def nullSafeEval(input: Any): Any =
    HashImpls.phash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.phash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Phash64Expr =
    copy(child = newChild)
}

/** `graft_norm_text(string) -> string`: single-pass lower + strip +
  * space-collapse + trim (see [[HashImpls.normalizeText]]) — the
  * canonical normalization every text pipeline runs first, as one
  * codegen'd JVM loop instead of two chained regexes.
  */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_norm_text"

  protected override def nullSafeEval(input: Any): Any =
    HashImpls.normalizeText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.normalizeText($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeTextExpr =
    copy(child = newChild)
}

/** `graft_minhash_sig(array<string|bigint>, k) -> array<bigint>` (k a
  * literal). Over array<bigint> the elements are assumed pre-hashed
  * (e.g. [[ShingleHashExpr]] output) and only remixed.
  */
case class MinHashSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {
  private lazy val overLongs = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> or array<bigint>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // NULL for empty/all-null input (no elements = no signature), even when
  // the child itself is non-nullable — see HashImpls.minhashSig.
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  protected override def nullSafeEval(input: Any): Any =
    if (overLongs) HashImpls.minhashSigLong(input.asInstanceOf[ArrayData], numHashes)
    else HashImpls.minhashSig(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (overLongs) "minhashSigLong" else "minhashSig"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HashImpls.$fn($c, $numHashes);
      ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** `graft_shingle_hashes(array<string>, n) -> array<bigint>` (n a
  * literal): rolling hashes of word-level n-gram shingles; `dedupe`
  * controls distinct-set (dedup pipelines) vs positional (winnowing).
  */
case class ShingleHashExpr(child: Expression, n: Int, dedupe: Boolean = true)
    extends UnaryExpression {
  require(n >= 1, "shingle width must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult =
    ArrayOfString.check(child, prettyName)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String =
    if (dedupe) "graft_shingle_hashes" else "graft_shingle_hashes_all"

  protected override def nullSafeEval(input: Any): Any =
    if (dedupe) HashImpls.shingleHashes(input.asInstanceOf[ArrayData], n)
    else HashImpls.shingleHashesAll(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (dedupe) "shingleHashes" else "shingleHashesAll"
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.$fn($c, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashExpr =
    copy(child = newChild)
}

/** `graft_winnow(array<bigint>, w) -> array<bigint>` (w a literal):
  * MOSS winnowing fingerprint selection over positional k-gram hashes.
  */
case class WinnowExpr(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, "winnow window must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  protected override def nullSafeEval(input: Any): Any =
    HashImpls.winnow(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.winnow($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)
}

/** `graft_cosine(array<float|double>, array<float|double>) -> double` */
case class CosineExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<float|double> args")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    HashImpls.cosine(a.asInstanceOf[ArrayData], isFloat(left),
      b.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashImpls.cosine($a, ${isFloat(left)}, $b, ${isFloat(right)})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_jaccard(array<bigint|string>, array<same>) -> double`: exact
  * set-Jaccard in one hash-set pass, value-identical to
  * `CAST(size(array_intersect(a,b)) AS DOUBLE) /
  *  CAST(size(array_union(a,b)) AS DOUBLE)` (ANSI off) but without
  * materializing the intersect/union arrays per pair — the hot path of
  * every near-dup verify join. [[graft.plans.JaccardRewrite]] rewrites
  * the builtin composition into this expression automatically.
  */
case class JaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  private def overLongs: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) |
           (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two array<bigint> or two array<string> args, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = DoubleType
  // NULL when the union is empty (two empty sets) — exactly the builtin
  // Divide-by-zero NULL this expression must be value-identical to
  override def nullable: Boolean = true
  override def prettyName: String = "graft_jaccard"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    if (overLongs)
      HashImpls.jaccardLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      HashImpls.jaccardString(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (overLongs) "jaccardLong" else "jaccardString"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("jaccard")
      s"""
        java.lang.Double $boxed = graft.functions.HashImpls.$fn($a, $b);
        ${ev.isNull} = $boxed == null;
        ${ev.value} = ${ev.isNull} ? -1.0 : $boxed.doubleValue();"""
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardExpr =
    copy(left = newLeft, right = newRight)
}

object JaccardExpr {
  /** Element-type gate used by the rewrite rule. */
  def supports(l: DataType, r: DataType): Boolean = (l, r) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => true
    case (ArrayType(StringType, _), ArrayType(StringType, _)) => true
    case _ => false
  }
}

/** `graft_srp_bucket(array<float|double>, array<array<double>>) -> int` */
case class SrpBucketExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  private def vFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float|double>, array<array<double>>)")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_srp_bucket"

  protected override def nullSafeEval(v: Any, planes: Any): Any =
    HashImpls.srpBucket(v.asInstanceOf[ArrayData], vFloat, planes.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, p) =>
      s"graft.functions.HashImpls.srpBucket($v, $vFloat, $p)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SrpBucketExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_pq_encode(array<float|double>, array<array<array<double>>>
  * literal) -> bigint`: the m per-subspace PQ centroid assignments of
  * the vector, packed byte-per-subspace into one BIGINT. The codebook
  * argument must be FOLDABLE (a literal): it deserializes ONCE into a
  * primitive double[][][] held by the expression/codegen reference, so
  * the per-row cost is the pure m·kSub·subDim flop loop — the
  * whole-stage-codegen replacement for the interpreted HOF argmin the
  * encode stage originally evaluated per row per subspace.
  */
case class PqEncodeExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  private def vFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(ArrayType(ArrayType(DoubleType, _), _), _))
          if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float|double>, literal array<array<array<double>>>)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_pq_encode"

  @transient private lazy val table: Array[Array[Array[Double]]] = {
    val cb = right.eval().asInstanceOf[ArrayData]
    val out = Array.ofDim[Array[Array[Double]]](cb.numElements())
    var j = 0
    while (j < out.length) {
      val sub = cb.getArray(j)
      val cents = Array.ofDim[Array[Double]](sub.numElements())
      var c = 0
      while (c < cents.length) {
        cents(c) = sub.getArray(c).toDoubleArray()
        c += 1
      }
      out(j) = cents
      j += 1
    }
    require(out.length <= 8 && out.forall(_.length <= 256),
      s"$prettyName: m <= 8 subspaces, kSub <= 256 centroids")
    out
  }

  protected override def nullSafeEval(v: Any, cbIgnored: Any): Any =
    HashImpls.pqEncode(v.asInstanceOf[ArrayData], vFloat, table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqTable", table, "double[][][]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.functions.HashImpls.pqEncode($v, $vFloat, $ref);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_downsample(binary, k) -> binary` (k a literal): every k-th
  * byte — the deterministic stand-in for a media resize kernel.
  */
case class DownsampleExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, "downsample factor must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects binary, got ${other.catalogString}")
  }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_downsample"

  protected override def nullSafeEval(input: Any): Any =
    HashImpls.downsample(input.asInstanceOf[Array[Byte]], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.downsample($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): DownsampleExpr =
    copy(child = newChild)
}

/** `graft_zorder(x, y) -> bigint`: 2-D Morton (Z-order) code — x's low
  * 31 bits on even output bits, y's on odd. Sorting by the code gives a
  * space-filling-curve layout where per-file parquet min/max stats are
  * narrow on BOTH dimensions (single-column sort leaves the second
  * column full-span in every file) — the multi-column data-skipping
  * recipe behind [[graft.operators.ScaleOps.writeZOrdered]]. Inputs are
  * expected non-negative (bucket ids / day numbers); higher bits are
  * masked off.
  */
case class ZOrderExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  private def ok(e: Expression): Boolean = e.dataType match {
    case IntegerType | LongType => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two int|bigint args")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    HashImpls.zorder(a.asInstanceOf[Number].longValue(),
      b.asInstanceOf[Number].longValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashImpls.zorder((long)$a, (long)$b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrderExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_hilbert(x, y) -> bigint`: order-10 2-D Hilbert index — the
  * space-filling-curve layout with strictly unit-step locality
  * (consecutive codes are always Manhattan-adjacent cells, where
  * Morton codes jump diagonally at quadrant seams). The data-skipping
  * upgrade over [[ZOrderExpr]] for range-heavy predicates; inputs are
  * bucket ids in [0, 1024) (higher bits masked).
  */
case class HilbertExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  private def ok(e: Expression): Boolean = e.dataType match {
    case IntegerType | LongType => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two int|bigint args")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hilbert"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    HashImpls.hilbert(a.asInstanceOf[Number].longValue(),
      b.asInstanceOf[Number].longValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashImpls.hilbert((long)$a, (long)$b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertExpr =
    copy(left = newLeft, right = newRight)
}

/** `graft_luhn(string) -> boolean`: Luhn checksum validation of a
  * candidate card number (space/dash separators tolerated, 13–19
  * digits) — the verification step that separates real card numbers
  * from arbitrary digit runs in PII detection, as one codegen'd pass
  * per row.
  */
case class LuhnExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_luhn"

  protected override def nullSafeEval(input: Any): Any =
    HashImpls.luhnValid(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.luhnValid($c)")

  override protected def withNewChildInternal(newChild: Expression): LuhnExpr =
    copy(child = newChild)
}

/** `graft_jaro_winkler(string, string) -> double`: codegen'd
  * Jaro-Winkler similarity (see [[HashImpls.jaroWinkler]] for the
  * pinned cross-engine semantics). The (b)-tier answer to fuzzy entity
  * scoring — one tight JVM loop per pair inside whole-stage codegen,
  * where a HOF/UDF formulation would interpret per character.
  */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects two string args, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    HashImpls.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashImpls.jaroWinkler($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerExpr =
    copy(left = newLeft, right = newRight)
}

object HashExprs {
  /** The cross-engine-exact md5→uint32 recipe — Spark
    * `conv(substring(md5(x), 25, 8), 16, 10)` == DuckDB
    * `('0x' || substring(md5(x), 25, 8))::BIGINT`. THE single
    * Spark-side definition (TrainingPrep's split/mix predicates, the
    * Bloom filter, and the count-min sketch all route through here) so
    * the substring window and base can never drift between consumers —
    * every one is paired with a hash-exact DuckDB oracle mirroring the
    * same window.
    */
  def md5Uint32(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    conv(substring(md5(c.cast("string")), 25, 8), 16, 10).cast("long")
  }

  /** 60-bit md5 fingerprint — the wide variant of [[md5Uint32]] for
    * keys whose population makes 32 bits collide by birthday bound
    * (e.g. corpus-scale L-gram tables). 15 hex chars keep the value
    * positive in a signed BIGINT on both engines: Spark
    * `conv(substring(md5(x), 1, 15), 16, 10)` == DuckDB
    * `('0x' || substring(md5(x), 1, 15))::BIGINT`.
    */
  def md5Uint60(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{conv, md5, substring}
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")
  }

  /** Matches an INT literal argument (the window/size parameters the
    * expressions take as constructor fields, not as child columns).
    */
  private object IntLit {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(k: Int, IntegerType) => Some(k)
      case _ => None
    }
  }

  /** The shape `SparkSessionExtensions.injectFunction` takes. */
  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** One graft_* function: its usage reads `name(args) - what`, and a
    * call whose arguments `build` does not match fails with that usage.
    */
  private def fn(name: String, args: String, what: String)(
      build: PartialFunction[Seq[Expression], Expression]): FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName.stripSuffix("$"), null, name, s"$name($args) - $what",
        "", "", "", "", "", "", "built-in"),
      (exprs: Seq[Expression]) => build.applyOrElse(exprs, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name: wrong arguments (${exprs.size} given); usage: $name($args)")))

  /** The graft_* function surface, defined once. [[register]] adds it to
    * one session; [[graft.GraftExtensions]] injects it into every session
    * built with `spark.sql.extensions=graft.GraftExtensions`.
    */
  val functions: Seq[FunctionDescription] = Seq(
    fn("graft_simhash64", "array<string>", "64-bit SimHash") {
      case Seq(a) => SimHash64Expr(a) },
    fn("graft_norm_text", "string", "single-pass lower/strip/collapse/trim normalization") {
      case Seq(c) => NormalizeTextExpr(c) },
    fn("graft_minhash_sig", "array<string|bigint>[, k int literal]", "MinHash signature (k defaults to 16)") {
      case Seq(arr) => MinHashSigExpr(arr, 16)
      case Seq(arr, IntLit(k)) => MinHashSigExpr(arr, k) },
    fn("graft_shingle_hashes", "array<string>, n int literal", "distinct n-gram shingle hashes") {
      case Seq(a, IntLit(n)) => ShingleHashExpr(a, n) },
    fn("graft_shingle_hashes_all", "array<string>, n int literal", "positional n-gram shingle hashes") {
      case Seq(a, IntLit(n)) => ShingleHashExpr(a, n, dedupe = false) },
    fn("graft_cdc_boundaries", "binary, maskMod int literal", "content-defined chunk boundary positions") {
      case Seq(b, IntLit(m)) => CdcBoundariesExpr(b, m) },
    fn("graft_winnow", "array<bigint>, w int literal", "winnowing fingerprint selection") {
      case Seq(a, IntLit(w)) => WinnowExpr(a, w) },
    fn("graft_cosine", "a, b", "cosine similarity of numeric arrays") {
      case Seq(a, b) => CosineExpr(a, b) },
    fn("graft_jaccard", "a, b", "exact set-Jaccard of two arrays") {
      case Seq(a, b) => JaccardExpr(a, b) },
    fn("graft_srp_bucket", "vec, planes", "sign-random-projection bucket id") {
      case Seq(v, p) => SrpBucketExpr(v, p) },
    fn("graft_luhn", "string", "Luhn checksum validation (13-19 digits, space/dash tolerated)") {
      case Seq(c) => LuhnExpr(c) },
    fn("graft_zorder", "x, y", "2-D Morton (Z-order) code") {
      case Seq(x, y) => ZOrderExpr(x, y) },
    fn("graft_downsample", "binary, k int literal", "every k-th byte (resize-kernel slot)") {
      case Seq(b, IntLit(k)) => DownsampleExpr(b, k) },
    fn("graft_jaro_winkler", "s1, s2", "Jaro-Winkler similarity in [0,1]") {
      case Seq(a, b) => JaroWinklerExpr(a, b) },
    fn("graft_phash64", "binary", "64-bit perceptual hash over byte 4-gram shingles") {
      case Seq(b) => Phash64Expr(b) },
    fn("graft_pq_encode", "vec, codebooks", "packed product-quantization codes") {
      case Seq(v, cb) => PqEncodeExpr(v, cb) },
    fn("graft_hilbert", "x, y", "order-10 2-D Hilbert curve index") {
      case Seq(x, y) => HilbertExpr(x, y) },
    fn("graft_image_dims", "binary", "(width<<32)|height from a JPEG SOF / PNG IHDR header, -1 if unparseable") {
      case Seq(b) => ImageDimsExpr(b) },
    fn("graft_edit1", "s1, s2", "true iff levenshtein distance is exactly 1") {
      case Seq(a, b) => Edit1Expr(a, b) })

  /** Idempotent session registration of [[functions]]. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) => reg.registerFunction(id, info, build) }
  }
}
