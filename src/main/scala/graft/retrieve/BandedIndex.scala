package graft.retrieve

import graft.functions.VectorExprs

/** Banded RHP-LSH seed-retrieval index — the at-scale twin of the exact
  * [[VectorIndex]] for the pipeline's link stage (SURVEY.md §7.1 step 3).
  *
  * The reference always searches exhaustively (vector_index.py, used from
  * icon.py:420,528 with exhaustive=True), which is also what we do below
  * `PipelineConfig.annNodeThreshold` — but a 10⁶-node snapshot times 10⁶
  * candidates per round is 10¹² dot products, so beyond the threshold the
  * decide stage retrieves its traversal seeds from this index instead:
  * 128 random-hyperplane sign bits per vector (the SimOps/VectorExprs.rhpSign
  * plane family — plane identity is the absolute bit index), 8 bands of 16
  * rows, per-band counting-sort buckets (2¹⁶ buckets/band, O(n) build),
  * exact-cosine rerank of the ~sum-of-bucket candidates. Random-pair band
  * collision is 2⁻¹⁶ ≈ 1.5e-5, so expected probe cost is n·bands/65536
  * dot products per query (~120 at n = 10⁶); near-identical vectors (the
  * seeds that matter for traversal) collide in ≥1 of 8 bands with
  * probability ≥ 0.999.
  *
  * Ordering matches VectorIndex exactly: score descending, id ascending.
  * Queries landing in empty buckets return fewer than k seeds (possibly
  * none) — the traversal handles any base set; this is the documented
  * approximation at scale, not an error path.
  *
  * Signatures may be passed in precomputed (`sig0`/`sig1`) — the pipeline's
  * per-round incremental index path (graft.retrieve.SnapshotEmbeddings)
  * caches them across rounds so a round's index build costs O(n) counting
  * sort plus O(delta·bits·dim) signature work for the round's minted
  * concepts, not O(n·bits·dim) for the whole snapshot.
  */
class BandedIndex(val ids: Array[Long], val vectors: Array[Array[Float]],
                  center: Array[Double],
                  sig0In: Array[Long] = null, sig1In: Array[Long] = null)
    extends SeedSearch with Serializable {
  require(ids.length == vectors.length)
  val dim: Int = if (vectors.isEmpty) 0 else vectors(0).length
  private val n = ids.length

  import BandedIndex.{Bands, Buckets, bandBucket}

  // per-band counting-sort layout: starts(band)(bucket) .. starts(band)(bucket+1)
  // index into members(band) — built once, O(n) per band
  private val starts: Array[Array[Int]] = Array.ofDim[Int](Bands, Buckets + 1)
  private val members: Array[Array[Int]] = Array.ofDim[Int](Bands, n)
  locally {
    val sig0 = if (sig0In != null) sig0In else new Array[Long](n)
    val sig1 = if (sig1In != null) sig1In else new Array[Long](n)
    if (sig0In == null) {
      // signature build is the O(n·bits·dim) cost of the index — parallel
      // over the common pool (driver-side, once per round)
      java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
        val (a, b) = BandedIndex.signature(vectors(i), center, dim)
        sig0(i) = a; sig1(i) = b
      }
    }
    var band = 0
    while (band < Bands) {
      val st = starts(band)
      var i = 0
      while (i < n) { st(bandBucket(sig0(i), sig1(i), band) + 1) += 1; i += 1 }
      var b = 0
      while (b < Buckets) { st(b + 1) += st(b); b += 1 }
      val cursor = java.util.Arrays.copyOf(st, st.length)
      val mem = members(band)
      i = 0
      while (i < n) {
        val bk = bandBucket(sig0(i), sig1(i), band)
        mem(cursor(bk)) = i; cursor(bk) += 1
        i += 1
      }
      band += 1
    }
  }

  // query-side signature needs the center after broadcast deserialization
  private val centerKept: Array[Double] = center

  /** Banded probe + exact inner-product rerank; (score desc, id asc), at
    * most k results, possibly fewer (empty buckets). */
  def search(query: Array[Float], k: Int): (Array[Double], Array[Long]) = {
    val (w0, w1) = BandedIndex.signature(query, centerKept, dim)
    val cand = new java.util.HashSet[Integer]()
    var band = 0
    while (band < Bands) {
      val bk = bandBucket(w0, w1, band)
      val st = starts(band)
      var p = st(bk)
      val end = st(bk + 1)
      while (p < end) { cand.add(members(band)(p)); p += 1 }
      band += 1
    }
    val it = cand.iterator()
    val top = new TopK(k)
    while (it.hasNext) {
      val i = it.next().intValue()
      top.offer(BandedIndex.dot(query, vectors(i)), ids(i))
    }
    top.result()
  }
}

object BandedIndex {
  val Bits = 128
  val Bands = 8
  val Rows = 16 // 2^16 buckets per band; counting sort in the constructor
  val Buckets: Int = 1 << Rows

  /** 16-bit bucket of `band` from the packed signature words — the ONE
    * banding-geometry decoder, shared by the driver index and the
    * distributed cogroup twin so the two regimes provably probe identical
    * buckets. */
  def bandBucket(w0: Long, w1: Long, band: Int): Int = {
    val bit = band * Rows
    val w = if (bit < 64) w0 else w1
    ((w >>> (bit & 63)) & 0xFFFFL).toInt
  }

  /** Min-length float64-accumulated inner product — the rerank kernel
    * shared by both regimes (identical score, identical ordering). */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val m = math.min(a.length, b.length)
    while (i < m) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Widest signature any driver caller asks for: 4 words = 256 planes
    * (the canonicalize near-dup banding, SimOps.cosineNearDupPairs at
    * bits = 256). */
  val MaxWords = 4

  // ±1 planes, deterministic from the shared rhpSign family, memoized per
  // dim (the plane table is ~128 KB at dim 64; instances and the
  // incremental cache share one copy per JVM)
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()
  private def planes(dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent(dim,
      d => Array.tabulate(64 * MaxWords, d)((b, i) => VectorExprs.rhpSign(b, i)))

  /** Two packed sign words (bits 0-63, 64-127) for one centered vector —
    * the signature function shared by index build, query probe, and the
    * cross-round signature cache. */
  def signature(v: Array[Float], center: Array[Double], dim: Int): (Long, Long) = {
    val w = signature(v, center, dim, 2)
    (w(0), w(1))
  }

  /** `words` packed sign words for one centered vector: bit b of word w is
    * the sign of plane 64·w + b, the absolute plane index RhpSigExpr keys
    * by (`bitOffset = 64·w`), so word w equals the column kernel's
    * signature at that offset. */
  def signature(v: Array[Float], center: Array[Double], dim: Int,
                words: Int): Array[Long] = {
    require(words >= 1 && words <= MaxWords, s"words must be in [1,$MaxWords], got $words")
    // same width fail-fast as the column kernel (RhpSigExpr): a vector
    // wider than the plane table would silently lose all mass above `dim`
    // from its signature — the twins must surface mixed-width inputs
    // identically, not diverge (ADVICE r5)
    require(v.length <= dim,
      s"vector is ${v.length}-dim but the plane table is $dim-dim — " +
        "signatures would silently ignore every dimension above the table width")
    val pl = planes(dim)
    val x = new Array[Double](dim)
    var i = 0
    val m = math.min(v.length, dim)
    while (i < m) { x(i) = v(i).toDouble - center(i); i += 1 }
    val out = new Array[Long](words)
    var b = 0
    while (b < 64 * words) {
      val p = pl(b)
      var s = 0.0
      var j = 0
      while (j < dim) { s += x(j) * p(j); j += 1 }
      if (s >= 0) out(b >> 6) |= (1L << (b & 63))
      b += 1
    }
    out
  }
}

/** Common seed-retrieval surface for the decide stage. */
trait SeedSearch {
  def search(query: Array[Float], k: Int): (Array[Double], Array[Long])
}

/** Bounded top-k selection by (score desc, id asc) — replaces sorting all
  * n scored entries per query (the allocation that dominated exact search
  * on big snapshots). Insertion into a small sorted array: O(n·k) worst
  * case with k ≤ ~100, branch-predictable, zero per-entry allocation. */
final class TopK(k: Int) {
  private val sc = new Array[Double](k)
  private val id = new Array[Long](k)
  private var size = 0

  /** true if (s,i) orders before slot j (score desc, id asc). */
  @inline private def before(s: Double, i: Long, j: Int): Boolean =
    s > sc(j) || (s == sc(j) && i < id(j))

  def offer(s: Double, i: Long): Unit = {
    if (k <= 0) return // k = 0 is a legal reference config (retrieveSize 0 ⇒ empty base)
    if (size == k && !before(s, i, size - 1)) return
    var j = if (size < k) { size += 1; size - 1 } else k - 1
    while (j > 0 && before(s, i, j - 1)) {
      sc(j) = sc(j - 1); id(j) = id(j - 1); j -= 1
    }
    sc(j) = s; id(j) = i
  }

  def result(): (Array[Double], Array[Long]) =
    (java.util.Arrays.copyOf(sc, size), java.util.Arrays.copyOf(id, size))
}
