package graft

import graft.ops.{SimOps, TextOps}
import graft.spark.GraphOps
import org.apache.spark.sql.functions._

/** Dedup / similarity / graph operators on tiny controlled inputs. */
class OpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("exact dedup groups identical normalized text") {
    val docs = Seq(
      (1L, "Hello   World"), (2L, "hello world"), (3L, "different"),
      (4L, "HELLO WORLD \n")).toDF("doc_id", "text")
    val dups = TextOps.exactDuplicates(docs).as[(Long, Long, Long)].collect().toSet
    assert(dups == Set((1L, 1L, 3L), (2L, 1L, 3L), (4L, 1L, 3L)))
  }

  test("posting-list banded candidates equal the self-join plan (rows >= 4)") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = ((0L until 40L).map(i => (i, s"$base doc$i unique tail $i")) ++
      Seq((100L, base + " shared tail xyz"), (101L, base + " shared tail xyz"),
        (102L, base + " shared tail xyz"), (200L, "totally different text here now")))
      .toDF("doc_id", "text")
    def pairs(pl: Boolean) = graft.ops.TextOps
      .minhashCandidates(docs, "text", 3, 128, 16, postingListPlan = Some(pl))
      .as[(Long, Long)].collect().toSet
    val a = pairs(true)
    val b = pairs(false)
    assert(a == b, s"posting=$a selfjoin=$b")
    assert(a.contains((100L, 101L)) && a.contains((100L, 102L)))
  }

  test("posting-list skew guard: every member of an oversized dup cluster still surfaces") {
    import spark.implicits._
    // 1200 identical docs (> the 1024-per-bucket cap) + noise docs: full
    // pairs within the cap, star edges (min-id, y) beyond it — no doc is
    // silently dropped from candidacy, and no self-pairs leak
    val n = 1200
    val docs = ((0L until n).map(i => (i, "the same exact boilerplate page content here")) ++
      (10000L until 10020L).map(i => (i, s"noise doc $i with its own words ${i * 7}")))
      .toDF("doc_id", "text")
    val cand = graft.ops.TextOps
      .minhashCandidates(docs, "text", 3, 128, 16, postingListPlan = Some(true))
      .as[(Long, Long)].collect()
    assert(cand.forall { case (a, b) => a != b }, "self-pair leaked")
    val covered = cand.iterator.flatMap { case (a, b) => Iterator(a, b) }
      .filter(_ < n).toSet
    assert(covered.size == n, s"only ${covered.size} of $n cluster members surfaced")
    // the star edges attach to the cluster representative (min id)
    assert((1025L until n).forall(y => cand.contains((0L, y))))
  }

  test("posting-list verification equals the array plan (rows < 4 geometry)") {
    import spark.implicits._
    // rows = 1 (numHashes == bands) routes minhashPairs through the round-6
    // posting-list exact verify; rows = 8 keeps the array plan. Both must
    // emit identical FULL rows (inter, uni, jaccard — not just the ids).
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"),
      (3L, "completely unrelated text about spark engines and planners"),
      (4L, "the quick brown fox jumps over the lazy dog today indeed"),
      (5L, "the quick brown fox jumps over the lazy dog today")).toDF("doc_id", "text")
    def full(verify: Boolean) = TextOps
      .minhashPairs(docs, k = 2, numHashes = 64, bands = 64, threshold = 0.3,
        postingListVerify = Some(verify))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val posting = full(true)  // the round-6 posting-list exact verify
    val arrays = full(false)  // the array_intersect/array_union plan
    // SAME candidate geometry, so this isolates the verification rewrite:
    // identical full rows or the plans have diverged
    assert(posting == arrays, s"posting=$posting arrays=$arrays")
    assert(posting.exists { case (a, b, _, _, j) => a == 1L && b == 5L && j == 1.0 })
    assert(posting.exists { case (a, b, _, _, _) => a == 1L && b == 2L }) // sub-1.0 pair verified too
  }

  test("jaccard pairs find near-duplicates and minhash agrees") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely unrelated text about spark engines"),
      (4L, "the quick brown fox jumps over the lazy dog indeed")).toDF("doc_id", "text")
    val exact = TextOps.jaccardPairs(docs, k = 2, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.contains((1L, 2L)) && exact.contains((1L, 4L)))
    assert(!exact.exists(p => p._1 == 3L || p._2 == 3L))
    val mh = TextOps.minhashPairs(docs, k = 2, numHashes = 64, bands = 64, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(mh == exact, s"minhash=$mh exact=$exact")
  }

  test("simhash near-identical docs within hamming 3") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val pairs = TextOps.simhashPairs(docs, maxDist = 10)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhashPairs pigeonhole blocking is recall-1 at every radius") {
    // brute-force oracle over the collected signatures: at radius d the
    // d+1-slice blocking must surface EXACTLY the pairs within hamming d
    // (the old fixed 4-block layout lost pairs beyond distance 3 — one
    // differing bit per quarter shares no block key)
    val docs = (1L to 30L).map(i =>
      (i, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} alpha beta gamma")).toDF("doc_id", "text")
    val sigs = TextOps.simhashSigs(docs).as[(Long, Long)].collect().toMap
    for (d <- Seq(0, 3, 4, 7, 12)) {
      val expect = (for {
        a <- 1L to 30L; b <- (a + 1) to 30L
        if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= d
      } yield (a, b)).toSet
      val got = TextOps.simhashPairs(docs, maxDist = d)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(got == expect, s"radius $d: got ${got.size}, expect ${expect.size}")
    }
  }

  test("cosine top-k ranks an identical vector first") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(1f, 0.01f, 0f)),
      (3L, Array(0f, 1f, 0f)), (4L, Array(1f, 0f, 0.0001f))).toDF("vec_id", "embedding")
    val knn = SimOps.cosineTopK(vecs, vecs.filter($"vec_id" === 1), k = 2)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toMap
    assert(knn(4L) == 1L) // nearly identical direction ranks first
    assert(knn(2L) == 2L)
  }

  test("lsh top-k: verified cosines are exact and recall vs brute force is high") {
    val vecs = (0L until 50L).map { i =>
      (i, Array.tabulate(8)(j => ((graft.lexical.Tokenset.fnv1a64(s"$i:$j") % 1000L) / 1000.0f)))
    }.toDF("vec_id", "embedding")
    val bf = SimOps.cosineTopK(vecs, vecs.filter($"vec_id" < 3), 5)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    val lsh = SimOps.lshCosineTopK(vecs, vecs.filter($"vec_id" < 3), 5, bits = 8, bands = 8)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    // the verification cosine is exact: any pair retrieved by both paths
    // carries the identical score
    val bfCos = bf.map { case (q, n, c) => (q, n) -> c }.toMap
    for ((q, n, c) <- lsh; exact <- bfCos.get((q, n))) assert(c == exact)
    // 1-bit rows give high (not guaranteed-total) recall on 50 vectors
    val shared = lsh.map(r => (r._1, r._2)).toSet.intersect(bf.map(r => (r._1, r._2)).toSet)
    assert(shared.size >= (bf.length * 7) / 10, s"recall ${shared.size}/${bf.length}")
  }

  test("wide embeddings sign over their full width, not the first 64 dims") {
    // Sparse 768-dim one-hot vectors whose support lies entirely ABOVE
    // dim 64 (the shape a char-ngram embedder at sentence-encoder width
    // produces: ~12 nonzeros spread over 768 buckets). A signature that
    // truncates to the plane table's first 64 dims sees every one of
    // these as the zero vector — identical buckets in every band, a
    // quadratic candidate self-join (the 768-dim pipeline drive hit this
    // as a 30+ GB spill storm in canonicalize). With the width threaded,
    // one-hot sigs are bit b = sign(plane(b, hot)) — pairwise distinct.
    val dim = 768
    val wide = (0L until 64L).map { i =>
      (i, Array.tabulate(dim)(j => if (j == 100 + i.toInt) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val sigs = wide.select(SimOps.rhpSignature($"embedding", 64, dim).as("s"))
      .as[Long].collect()
    assert(sigs.distinct.length == sigs.length,
      s"expected 64 distinct signatures, got ${sigs.distinct.length}")
    // end-to-end at the pipeline's geometry: a planted exact duplicate is
    // the ONLY pair that survives banding + verification
    val planted = wide.union(Seq(
      (1000L, Array.tabulate(dim)(j => if (j == 100) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding"))
    val pairs = SimOps.cosineNearDupPairs(planted, 0.98, bits = 256, bands = 8,
        dim = dim)
      .select("a", "b").as[(Long, Long)].collect()
    assert(pairs.toSet == Set((0L, 1000L)))
    // the guard: forgetting dim on wide vectors must fail fast, not
    // silently truncate signatures to the default 64-dim plane table
    val e = intercept[IllegalArgumentException] {
      SimOps.cosineNearDupPairs(planted, 0.98, bits = 256, bands = 8)
    }
    assert(e.getMessage.contains("768-dim"))
    intercept[IllegalArgumentException] {
      SimOps.lshCosineTopK(planted, planted.limit(2), 3)
    }
    // mixed-width frame: the driver probe samples one row, so a frame
    // whose sampled row is narrow slips past it — the per-row guard in
    // RhpSigExpr must still fail the job instead of silently signing the
    // wide rows over the table's first dims
    val mixed = Seq((0L, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding").coalesce(1)
      .union(Seq((1L, Array.tabulate(dim)(j => if (j == 100) 1.0f else 0.0f)))
        .toDF("vec_id", "embedding"))
    val je = intercept[Exception] {
      mixed.select(SimOps.rhpSignature($"embedding", 64, 8)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(je).exists(_.contains("plane table")), messages(je).mkString(" | "))
  }

  test("driver signature words equal the column kernel at each word's plane offset") {
    // BandedIndex.signature(…, words) is the driver twin of the multi-word
    // banding in SimOps.banded: word w must be rhpSig at bitOffset 64·w
    // for the same center, full-width and narrow vectors alike
    val dim = 16
    val center = Array.tabulate(dim)(i => math.round(math.cos(i) * 1e5) / 1e6)
    val vs = (0L until 40L).map { i =>
      val w = if (i % 5 == 0) dim / 2 else dim
      (i, Array.tabulate(w)(j => ((graft.lexical.Tokenset.fnv1a64(s"$i:$j") % 1000L) / 1000.0f)))
    }
    val cols = (0 until 4).map(w =>
      SimOps.rhpSignature($"embedding", 64, dim, center.toSeq, bitOffset = 64 * w))
    val viaSpark = vs.toDF("vec_id", "embedding")
      .select($"vec_id" +: cols: _*).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    for ((id, v) <- vs)
      assert(graft.retrieve.BandedIndex.signature(v, center, dim, 4).toSeq == viaSpark(id),
        s"vec $id")
  }

  test("ivf top-k: verified cosines exact, recall high, subset semantics") {
    val vecs = (0L until 200L).map { i =>
      (i, Array.tabulate(8)(j => ((graft.lexical.Tokenset.fnv1a64(s"$i:$j") % 1000L) / 1000.0f)))
    }.toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" < 5)
    val bf = SimOps.cosineTopK(vecs, q, 5)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    val ivf = SimOps.ivfTopK(vecs, q, 5, nlist = 8, nProbe = 3)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)].collect()
    val bfCos = bf.map(r => (r._1, r._2) -> r._3).toMap
    for ((qq, n, c) <- ivf; exact <- bfCos.get((qq, n))) assert(c == exact)
    val shared = ivf.map(r => (r._1, r._2)).toSet.intersect(bf.map(r => (r._1, r._2)).toSet)
    assert(shared.size >= (bf.length * 6) / 10, s"recall ${shared.size}/${bf.length}")
    assert(ivf.groupBy(_._1).values.forall(_.length <= 5))
  }

  test("connected components: chains, stars, isolated nodes") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (12L, 10L)).toDF("a", "b")
    val nodes = (1L to 4L).union(Seq(10L, 11L, 12L, 99L)).toDF("id")
    val cc = GraphOps.componentsWithIsolated(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L && cc(4L) == 1L)
    assert(cc(10L) == 10L && cc(11L) == 10L && cc(12L) == 10L)
    assert(cc(99L) == 99L)
  }

  test("ancestor closure and transitive reduction on a diamond") {
    val edges = Seq((4L, 2L), (4L, 3L), (2L, 1L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    val closure = GraphOps.ancestorClosure(edges).as[(Long, Long)].collect().toSet
    assert(closure == Set((4L, 2L), (4L, 3L), (4L, 1L), (2L, 1L), (3L, 1L)))
    val tr = GraphOps.transitiveReduction(edges).as[(Long, Long)].collect().toSet
    assert(tr == Set((4L, 2L), (4L, 3L), (2L, 1L), (3L, 1L))) // 4->1 removed
  }

  test("graph depths on a chain") {
    val edges = Seq((3L, 2L), (2L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val depths = GraphOps.depths(nodes, edges).as[(Long, Int)].collect().toMap
    assert(depths == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }
}
