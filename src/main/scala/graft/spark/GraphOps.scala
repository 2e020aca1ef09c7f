package graft.spark

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** Distributed DataFrame graph algorithms over an edge table
  * `edges(src LONG, dst LONG)` where src = child and dst = parent
  * (subClassOf orientation, matching the reference Taxonomy.
  * /root/reference/src/icon/core/taxonomy.py:26).
  *
  * These are the at-scale twins of the broadcast-snapshot operators in
  * [[graft.taxo.MutableTaxo]]: same semantics, expressed as iterative
  * join/union/distinct fixpoints so they work when the graph itself is the
  * distributed axis (SURVEY.md §2.2). Iteration counts are bounded by graph
  * depth; every loop persists + localCheckpoints its frontier to cut lineage.
  *
  * Regime switch: closure, leaves, edge-node depths, transitive reduction
  * and connected components each probe their edge table ONCE through
  * [[driverEdges]]. A table of at most `driverEdgeLimit` raw rows (default
  * [[DriverEdgeLimit]]; 0 forces the distributed path) comes back as two
  * primitive `Array[Long]` columns and is solved by a local worklist twin —
  * identical output rows, equivalence-tested — whose result becomes a
  * DataFrame through the one builder [[localDF]]. Larger tables run the
  * distributed fixpoint, and a twin that falls back hands that decision on
  * instead of probing again.
  *
  * Join strategy inside the fixpoints is SIZE-ADAPTIVE (optimization guide
  * §3.1): a localCheckpointed frontier/closure is RDD-backed, so Spark's
  * size estimate is `defaultSizeInBytes` (huge) and the planner would pick
  * a full shuffle join for a 50-row frontier. Every loop already knows the
  * EXACT row count of its materialized tables (the convergence probe), so
  * tables under [[BroadcastRowLimit]] get an explicit broadcast hint and
  * larger ones keep the shuffle plan — the hint is a plan choice only,
  * results are identical, and at 100 TB scale the counts exceed the limit
  * and the shuffle path is what runs.
  *
  * Session note: when these fixpoints are driven from DRIVER-BUILT
  * DataFrames (`Seq.toDF`, as in tests or the pipeline's distributed
  * canonicalize path), Spark's constraint propagation can fail inside
  * `Union.rewriteConstraints` with `NoSuchElementException: key not found:
  * <attr>` — localCheckpointed plans carry origin constraints whose
  * attribute ids no longer resolve. Set
  * `spark.sql.constraintPropagation.enabled=false` in such sessions
  * (SparkSpecBase does); parquet-backed inputs are unaffected.
  */
object GraphOps {

  /** Max row count for an adaptive broadcast hint inside the fixpoints.
    * 1M (long, long) rows is ~30 MB as a built hash relation — safely under
    * executor memory on any sane deployment. The decision input is the
    * exact measured row count of the loop's own checkpointed table, so
    * production-size graphs exceed the limit and keep the shuffle join. */
  private val BroadcastRowLimit = 1000000L

  /** Default driver-regime edge bound: at most this many raw edge rows are
    * collected (16 MB as two `Array[Long]`) and solved locally. */
  private val DriverEdgeLimit = 1000000L

  /** The closure's ROW count is not bounded by the edge count (a 1M-edge
    * deep DAG can close to billions of pairs), so the local closure aborts
    * past this many pairs and the distributed fixpoint runs instead — the
    * wasted local work is bounded by the cap. At the cap the closure is
    * two 8M-entry `Array[Long]` (128 MB): closing a 4000-node chain
    * (7,998,000 pairs, JDK 17, G1, 3 GB heap) leaves 122 MiB of driver heap
    * in use after a full GC while its DataFrame is held. */
  private val DriverClosureLimit = 8000000L

  /** [[localDF]] outputs up to this many rows are a LocalRelation; larger
    * ones an RDD of ~[[LocalSliceRows]]-row partitions (a multi-million-row
    * LocalRelation would serialize whole into every plan using it), built
    * from [[LocalChunkRows]]-row array chunks: 256 KB per column stays
    * below G1's humongous-object threshold, where a 4 MB slice would
    * occupy whole regions and inflate the driver heap by up to 40%. */
  private val LocalRelationRows = 100000
  private val LocalSliceRows = 500000
  private val LocalChunkRows = 32768

  /** Broadcast-hint `df` when its known exact row count is within
    * [[BroadcastRowLimit]]; otherwise return it unchanged (shuffle join).
    * private[graft]: callers that already hold an exact count (e.g.
    * TrainDataOps over a counted closure) reuse the same adaptive rule. */
  private[graft] def hinted(df: DataFrame, exactRows: Long): DataFrame =
    if (exactRows <= BroadcastRowLimit) broadcast(df) else df

  /** The regime probe. `df` is a two-column edge table; when both columns
    * are long and it has at most `cap` rows, returns its raw rows as paired
    * primitive arrays — one `limit(cap + 1)` collect detects overflow in
    * one pass, with no distributed distinct or count first. None means
    * over the cap (or `cap` = 0, or not long-typed): run distributed. Every
    * local twin is duplicate-edge-insensitive, so the raw rows suffice; the
    * boundary is the RAW row count (a table over the cap only in duplicates
    * runs distributed, which distincts it). */
  private def driverEdges(df: DataFrame, cap: Long): Option[(Array[Long], Array[Long])] = {
    val spark = df.sparkSession
    import spark.implicits._
    if (cap <= 0 || df.schema.fields.exists(_.dataType != LongType)) None
    else {
      val n = math.min(cap, Int.MaxValue - 2L).toInt
      val rows = df.limit(n + 1).as[(Long, Long)].collect()
      if (rows.length > n) None else Some(rows.unzip)
    }
  }

  /** The one builder for driver-computed tables: equal-length long columns
    * become a LocalRelation up to [[LocalRelationRows]] rows, and beyond
    * that an RDD of `n / LocalSliceRows` partitions (at least one) over
    * chunks sliced from the arrays. */
  private def localDF(spark: SparkSession, cols: (String, Array[Long])*): DataFrame = {
    val schema = StructType(cols.map { case (c, _) => StructField(c, LongType, nullable = false) })
    val arrs = cols.map(_._2).toArray
    val n = arrs(0).length
    def rows(a: Array[Array[Long]]): Iterator[Row] =
      Iterator.range(0, a(0).length).map(i => Row.fromSeq(a.map(_(i)).toSeq))
    if (n <= LocalRelationRows) spark.createDataFrame(rows(arrs).toSeq.asJava, schema)
    else {
      val chunks = (0 until n by LocalChunkRows).map(s => arrs.map(_.slice(s, s + LocalChunkRows)))
      spark.createDataFrame(spark.sparkContext
        .parallelize(chunks, math.max(1, n / LocalSliceRows)).flatMap(rows), schema)
    }
  }

  /** Sorted distinct values of the arrays: the dense node index of the
    * local twins (a node's slot is its binary-search position). */
  private def sortedIds(arrs: Array[Long]*): Array[Long] = {
    val all = Array.concat(arrs: _*)
    java.util.Arrays.sort(all)
    var k = 0
    var i = 0
    while (i < all.length) {
      if (k == 0 || all(k - 1) != all(i)) { all(k) = all(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(all, k)
  }

  private def slot(ids: Array[Long], x: Long): Int = java.util.Arrays.binarySearch(ids, x)

  /** Edges `from(i) → to(i)` over the slots of `ids`, in compressed-row
    * form: the targets of slot v are `tgt(off(v) until off(v + 1))`, in
    * edge order. */
  private final class Adjacency(ids: Array[Long], from: Array[Long], to: Array[Long]) {
    val off = new Array[Int](ids.length + 1)
    val tgt = new Array[Int](from.length)
    locally {
      val f = from.map(slot(ids, _))
      f.foreach(v => off(v + 1) += 1)
      for (v <- ids.indices) off(v + 1) += off(v)
      val fill = off.clone()
      for (i <- f.indices) { tgt(fill(f(i))) = slot(ids, to(i)); fill(f(i)) += 1 }
    }
  }

  /** Local upward-reachability closure: for each node, DFS over the parent
    * adjacency `up` — EXACTLY the distributed fixpoint's semantics,
    * including self-pairs reachable through cycles (seed (a,b),(b,a)
    * closes to (a,a)). Node slot v's ancestors are `anc(start(v) until
    * start(v + 1))`. None past `cap` pairs. */
  private def localClosure(ids: Array[Long], up: Adjacency,
                           cap: Long): Option[(Array[Long], Array[Int])] = {
    val anc = new scala.collection.mutable.ArrayBuilder.ofLong
    val start = new Array[Int](ids.length + 1)
    val mark = Array.fill(ids.length)(-1) // slot → last source that reached it
    val stack = new Array[Int](ids.length + 1)
    var n = 0
    var v = 0
    while (v < ids.length) {
      start(v) = n
      stack(0) = v
      var top = 1
      while (top > 0) {
        top -= 1
        val cur = stack(top)
        var j = up.off(cur)
        while (j < up.off(cur + 1)) {
          val p = up.tgt(j)
          if (mark(p) != v) {
            mark(p) = v
            anc += ids(p)
            n += 1
            if (n > cap) return None
            stack(top) = p
            top += 1
          }
          j += 1
        }
      }
      v += 1
    }
    start(ids.length) = n
    Some((anc.result(), start))
  }

  /** Transitive closure pairs (node, ancestor), excluding self-pairs —
    * distributed `get_ancestors` (G5, taxonomy.py:167-189). Iterative
    * frontier expansion: O(depth) shuffles, each a join on the frontier
    * (small) against the edge table — not closure×closure squaring, so the
    * shuffle volume stays proportional to the closure size. Edge tables
    * within `driverEdgeLimit` run the local worklist twin instead.
    */
  def ancestorClosure(edges: DataFrame, maxIter: Int = 64,
                      driverEdgeLimit: Long = DriverEdgeLimit): DataFrame =
    ancestorClosureCounted(edges, maxIter, driverEdgeLimit)._1

  /** [[ancestorClosure]] plus the closure's exact row count — callers that
    * immediately join against the closure (transitiveReduction) use the
    * count for the adaptive broadcast decision without a second job. */
  private[graft] def ancestorClosureCounted(
      edges: DataFrame, maxIter: Int = 64,
      driverEdgeLimit: Long = DriverEdgeLimit): (DataFrame, Long) = {
    val projected = edges.select(col("src").as("node"), col("dst").as("anc"))
    val local = driverEdges(projected, driverEdgeLimit).flatMap { case (src, dst) =>
      val ids = sortedIds(src, dst)
      localClosure(ids, new Adjacency(ids, src, dst), DriverClosureLimit).map {
        case (anc, start) =>
          val node = new Array[Long](anc.length)
          for (v <- ids.indices) java.util.Arrays.fill(node, start(v), start(v + 1), ids(v))
          (localDF(edges.sparkSession, "node" -> node, "anc" -> anc), anc.length.toLong)
      }
    }
    local.getOrElse(distributedClosure(projected, maxIter))
  }

  private def distributedClosure(projected: DataFrame, maxIter: Int): (DataFrame, Long) = {
    // localCheckpoint (not just persist): the frontier unions below mix this
    // seed with checkpointed RDD-backed plans; leaving a LocalRelation-
    // shaped child under the Union trips constraint rewriting
    // (AttributeMap key-not-found) when the input is a driver-built table
    val e = projected.distinct().localCheckpoint(true)
    val eCount = e.count()
    var closure = e
    var closureCount = eCount
    var frontier = e
    var frontierCount = eCount
    var i = 0
    var done = false
    // one full expansion of `frontier` against `e`, minus what `closure`
    // already holds — the loop step AND the post-maxIter emptiness probe
    def step(): DataFrame = frontier.as("f")
      .join(hinted(e, eCount).as("e2"), col("f.anc") === col("e2.node"))
      .select(col("f.node").as("node"), col("e2.anc").as("anc"))
      .distinct()
      // distinct hash-partitions by (node, anc); the anti-join below needs
      // the same keys, so when the closure side is hinted the step is ONE
      // exchange, and un-hinted the left side's exchange is still reused
      .join(hinted(closure, closureCount), Seq("node", "anc"), "left_anti")
      .localCheckpoint(true)
    while (i < maxIter && !done) {
      val next = step()
      frontierCount = next.count()
      if (frontierCount == 0) done = true
      else {
        closure = closure.union(next).localCheckpoint(true)
        closureCount += frontierCount
        frontier = next
      }
      i += 1
    }
    // a fixpoint that completes EXACTLY at maxIter leaves done=false (the
    // emptiness of the next frontier is only learned one iteration later),
    // so probe once more before declaring divergence
    if (!done) done = step().isEmpty
    // no-silent-caps: a >maxIter-deep graph would otherwise return a
    // truncated closure and every downstream op (TR, LCA, reduceSubset,
    // search spaces) would be silently wrong on the deep tail
    require(done, s"ancestorClosure did not converge in $maxIter iterations " +
      "(graph deeper than maxIter) — raise maxIter")
    (closure, closureCount)
  }

  /** Leaves = nodes never appearing as a parent (empty-input LCA,
    * taxonomy.py:353): anti-join of nodes vs edges.dst. Renamed join keys —
    * `nodes` is often derived from `edges`, so raw column references would
    * resolve ambiguously against the shared lineage. */
  def leaves(nodes: DataFrame, edges: DataFrame): DataFrame =
    nodes.join(edges.select(col("dst").as("__p")), col("id") === col("__p"), "left_anti")

  /** Roots / top nodes = nodes never appearing as a child (taxonomy.py:389). */
  def roots(nodes: DataFrame, edges: DataFrame): DataFrame =
    nodes.join(edges.select(col("src").as("__c")), col("id") === col("__c"), "left_anti")

  /** The node table `distinct(src ∪ dst)` of an edge table. */
  private def edgeNodes(e: DataFrame): DataFrame =
    e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()

  /** [[leaves]] specialized to the common `nodes ≡ distinct(src ∪ dst)`
    * derivation: under the driver cap the leaf set — distinct srcs that
    * never appear as a dst (a dst row is its own parent's child, never a
    * leaf) — is computed from the probed arrays; output rows are identical
    * to `leaves(distinct(src ∪ dst), edges)` (one row per leaf id, order
    * irrelevant to every caller, which sorts). Over-cap tables run exactly
    * that distributed anti-join, with the edge table materialized once. */
  def leavesOfEdgeNodes(edges: DataFrame,
                        driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
    driverEdges(e0, driverEdgeLimit) match {
      case Some((src, dst)) =>
        val parents = sortedIds(dst)
        localDF(edges.sparkSession,
          "id" -> sortedIds(src).filter(s => slot(parents, s) < 0))
      case None =>
        val e = e0.localCheckpoint(true)
        leaves(edgeNodes(e), e)
    }
  }

  /** [[depths]] specialized to `nodes ≡ distinct(src ∪ dst)`: under the
    * driver cap a multi-source BFS from the root set over the probed arrays
    * — duplicate edges are no-ops (the depth guard) — with output rows
    * identical to `depths(distinct(src ∪ dst), edges)`: one row per id the
    * BFS reaches, as the distinct'd frontier emits them. */
  def depthsOfEdgeNodes(edges: DataFrame, maxIter: Int = 64,
                        driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
    driverEdges(e0, driverEdgeLimit) match {
      case Some((src, dst)) =>
        val ids = sortedIds(src, dst)
        val down = new Adjacency(ids, dst, src)
        // roots (never a child) start at depth 0; unreached ids stay at MaxValue
        val depth = Array.fill(ids.length)(0L)
        src.foreach(s => depth(slot(ids, s)) = Long.MaxValue)
        var frontier = ids.indices.toArray.filter(depth(_) == 0L)
        var d = 0L
        while (frontier.nonEmpty) {
          d += 1
          val next = Array.newBuilder[Int]
          for (p <- frontier; j <- down.off(p) until down.off(p + 1)) {
            val c = down.tgt(j)
            if (depth(c) == Long.MaxValue) { depth(c) = d; next += c }
          }
          frontier = next.result()
        }
        val reached = ids.indices.toArray.filter(depth(_) < Long.MaxValue)
        localDF(edges.sparkSession, "id" -> reached.map(ids), "depth" -> reached.map(depth))
          .withColumn("depth", col("depth").cast("int"))
      case None =>
        val e = e0.localCheckpoint(true)
        depths(edgeNodes(e), e, maxIter)
    }
  }

  /** Per-node min distance from any root — distributed `annotate_levels`
    * (G13/G15, taxonomy.py:460-517). Level-synchronous BFS: the frontier at
    * iteration k holds EXACTLY the nodes whose min depth is k (a node is
    * discovered the first time any parent enters the frontier, and every
    * frontier node's depth is the iteration index), so "keep only
    * improvements" reduces to an anti-join against the visited set — no
    * per-iteration min-aggregation or depth comparison join (each iteration
    * is one distinct + one anti-join, both on the frontier, not the level
    * table). */
  def depths(nodes: DataFrame, edges: DataFrame, maxIter: Int = 64): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(true)
    val eCount = e.count()
    var level = roots(nodes, edges).select(col("id"), lit(0).as("depth"))
      .localCheckpoint(true)
    var levelCount = level.count()
    var frontier = level
    var i = 0
    var done = false
    // children of the frontier not yet visited (= exactly the nodes whose
    // min depth is i+1); also the post-maxIter emptiness probe
    def step(depth: Int): DataFrame = frontier.as("f")
      .join(hinted(e, eCount).as("e2"), col("f.id") === col("e2.dst"))
      .select(col("e2.src").as("id"))
      .distinct()
      .join(hinted(level.select(col("id")), levelCount), Seq("id"), "left_anti")
      .select(col("id"), lit(depth).as("depth"))
      .localCheckpoint(true)
    while (i < maxIter && !done) {
      val next = step(i + 1)
      val n = next.count()
      if (n == 0) done = true
      else {
        // next is disjoint from level BY CONSTRUCTION (the anti-join), so
        // the union needs no dedup pass
        level = level.union(next).localCheckpoint(true)
        levelCount += n
        frontier = next
      }
      i += 1
    }
    if (!done) done = step(i + 1).isEmpty // fixpoint exactly at maxIter
    require(done, s"depths did not converge in $maxIter iterations " +
      "(graph deeper than maxIter) — raise maxIter")
    level
  }

  /** Distributed transitive reduction (G18, taxonomy.py:620-629): an edge
    * (u,v) is redundant iff a path u→…→v of length ≥ 2 exists, i.e. some
    * other parent p of u reaches v through the closure. Bare (src, dst)
    * tables within `driverEdgeLimit` close and filter on the driver; extra
    * columns keep the distributed plan, whose anti-join preserves them. */
  def transitiveReduction(edges: DataFrame,
                          driverEdgeLimit: Long = DriverEdgeLimit): DataFrame = {
    val bare = edges.columns.sameElements(Array("src", "dst"))
    val local = if (bare) driverEdges(edges, driverEdgeLimit) else None
    local.flatMap { case (src, dst) => localReduction(edges.sparkSession, src, dst) }
      .getOrElse {
        // a probed table stays distributed (over the edge cap, or its
        // closure over the pair cap): its closure must not probe again
        val (closure, closureCount) = ancestorClosureCounted(edges,
          driverEdgeLimit = if (bare) 0L else driverEdgeLimit)
        // 2+hop reachability: first hop through a parent, then closure-or-self
        val viaParent = edges.as("e1")
          .join(edges.as("e2"), col("e1.src") === col("e2.src") && col("e1.dst") =!= col("e2.dst"))
          .select(col("e1.src").as("src"), col("e1.dst").as("dst"), col("e2.dst").as("mid"))
        val redundant = viaParent
          .join(hinted(closure, closureCount),
            viaParent("mid") === closure("node") && viaParent("dst") === closure("anc"),
            "left_semi")
          .select(col("src"), col("dst")).distinct()
        edges.join(redundant, Seq("src", "dst"), "left_anti")
      }
  }

  /** Driver twin of [[transitiveReduction]]: each node's ancestor range of
    * the local closure is sorted in place, and an edge (u,v) is dropped iff
    * some OTHER parent p of u has v in its range (binary search). The RAW
    * rows are filtered, so duplicates and row order survive exactly as the
    * distributed left_anti keeps them. None when the closure is over
    * [[DriverClosureLimit]]. */
  private def localReduction(spark: SparkSession, src: Array[Long],
                             dst: Array[Long]): Option[DataFrame] = {
    val ids = sortedIds(src, dst)
    val up = new Adjacency(ids, src, dst)
    localClosure(ids, up, DriverClosureLimit).map { case (anc, start) =>
      for (v <- ids.indices) java.util.Arrays.sort(anc, start(v), start(v + 1))
      def redundant(u: Int, v: Long): Boolean =
        (up.off(u) until up.off(u + 1)).exists { j =>
          val p = up.tgt(j)
          ids(p) != v && java.util.Arrays.binarySearch(anc, start(p), start(p + 1), v) >= 0
        }
      val keep = Array.range(0, src.length).filter(i => !redundant(slot(ids, src(i)), dst(i)))
      localDF(spark, "src" -> keep.map(src), "dst" -> keep.map(dst))
    }
  }

  /** Distributed `reduce_subset` (G9, taxonomy.py:306-336): drop every
    * member that is an ancestor of another member (forward; keeps the most
    * specific), or a descendant (reverse=true; keeps the most general).
    * `subset` is a node table `(id)`. Pass a precomputed closure when
    * composing several of these ops to reuse the fixpoint. */
  def reduceSubset(edges: DataFrame, subset: DataFrame, reverse: Boolean = false,
                   closure0: Option[DataFrame] = None): DataFrame = {
    val closure = closure0.getOrElse(ancestorClosure(edges))
    // closure pairs with BOTH endpoints in the subset: anc is an ancestor
    // of node, so forward drops the anc side, reverse drops the node side
    val rel = closure
      .join(subset.select(col("id").as("node")), Seq("node"), "left_semi")
      .join(subset.select(col("id").as("anc")), Seq("anc"), "left_semi")
    val drop =
      if (reverse) rel.select(col("node").as("id")).distinct()
      else rel.select(col("anc").as("id")).distinct()
    subset.join(drop, Seq("id"), "left_anti")
  }

  /** Distributed `get_LCA` (G10, taxonomy.py:338-372): common ancestors =
    * nodes whose descendant-or-self set covers every query node, reduced to
    * the minimal ones. Empty query ⇒ leaves (reference semantics). One
    * aggregation over the closure instead of the driver's colour-BFS. */
  def lca(nodes: DataFrame, edges: DataFrame, query: DataFrame,
          closure0: Option[DataFrame] = None): DataFrame = {
    // localCheckpoint, not persist: eager (the count below reads the cached
    // RDD) and GC-reclaimed when the plan dies — persist() here leaked one
    // cache-manager entry per lca() call
    val q = query.select(col("id")).distinct().localCheckpoint(true)
    val n0 = q.count()
    if (n0 == 0) return leaves(nodes, edges)
    val closure = closure0.getOrElse(ancestorClosure(edges))
    val closureSelf = closure
      .union(q.select(col("id").as("node"), col("id").as("anc")))
    val ca = closureSelf
      .join(hinted(q.select(col("id").as("node")), n0), Seq("node"), "left_semi")
      .groupBy(col("anc")).agg(countDistinct(col("node")).as("covered"))
      .filter(col("covered") === n0)
      .select(col("anc").as("id"))
    reduceSubset(edges, ca, reverse = false, closure0 = Some(closure))
  }

  /** Distributed `get_GCD` (G11 dual): common descendants reduced to the
    * maximal ones; empty query ⇒ roots. */
  def gcd(nodes: DataFrame, edges: DataFrame, query: DataFrame): DataFrame = {
    val q = query.select(col("id")).distinct()
    if (q.isEmpty) return roots(nodes, edges)
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    lca(nodes, rev, q)
  }

  /** Distributed `create_insertion_search_space` node set (G12,
    * taxonomy.py:410-458): everything reachable downward from the LCA of
    * the reduced base (or the roots when cropTop=false) without expanding
    * below a base node, excluding strict base-descendants, and — when
    * strict — keeping only nodes that subsume at least one base node.
    * `forceLabels` mirrors subgraph_force (taxonomy.py:424-429): the top
    * set is unioned with the base's LCAs computed over label-filtered edge
    * subsets (edges must then carry a `label` column), reduced to the most
    * general. Returns the node ids of the sub-taxonomy (the per-candidate
    * traversal itself stays executor-local against the broadcast snapshot —
    * this is the contingency for taxonomies beyond broadcast size,
    * SURVEY.md §2.2). */
  def insertionSearchSpaceNodes(nodes: DataFrame, edges: DataFrame, base: DataFrame,
                                cropTop: Boolean = true, strict: Boolean = false,
                                forceLabels: Seq[Set[String]] = Nil,
                                maxIter: Int = 64): DataFrame = {
    // empty base ⇒ the whole taxonomy (reference deepcopy(self),
    // taxonomy.py:422-423) — without this the lca() empty-query leaf
    // semantics would wrongly shrink the space to the leaves
    if (base.isEmpty) return nodes.select(col("id"))
    val closure = ancestorClosure(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val baseR = reduceSubset(edges, base, reverse = false, closure0 = Some(closure))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val top =
      if (!cropTop) roots(nodes, edges)
      else if (forceLabels.nonEmpty) {
        val plain = lca(nodes, edges, baseR, closure0 = Some(closure))
        val forced = forceLabels.map { ls =>
          val fe = edges.filter(col("label").isin(ls.toSeq: _*))
          lca(nodes, fe, baseR)
        }
        val union = forced.foldLeft(plain.select(col("id")))(
          (acc, f) => acc.union(f.select(col("id")))).distinct()
        reduceSubset(edges, union, reverse = true, closure0 = Some(closure))
      } else lca(nodes, edges, baseR, closure0 = Some(closure))
    val baseDesc = closure
      .join(baseR.select(col("id").as("anc")), Seq("anc"), "left_semi")
      .select(col("node").as("id")).distinct()
    val allowed0 =
      if (!strict) nodes.select(col("id"))
      else closure // ancestors-or-self of base
        .join(baseR.select(col("id").as("node")), Seq("node"), "left_semi")
        .select(col("anc").as("id")).union(baseR.select(col("id"))).distinct()
    val allowed = allowed0.join(baseDesc, Seq("id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = edges.select(col("src"), col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    var space = top.select(col("id")).distinct().localCheckpoint(true)
    var frontier = space
    var i = 0
    var done = false
    def step(): DataFrame = frontier
      // don't expand below a base node (reference line 271)
      .join(baseR, Seq("id"), "left_anti")
      .join(e, col("id") === col("dst"))
      .select(col("src").as("id")).distinct()
      .join(allowed, Seq("id"), "left_semi")
      .join(space, Seq("id"), "left_anti")
      .localCheckpoint(true)
    while (i < maxIter && !done) {
      val next = step()
      if (next.isEmpty) done = true
      else {
        space = space.union(next).localCheckpoint(true)
        frontier = next
      }
      i += 1
    }
    if (!done) done = step().isEmpty // fixpoint exactly at maxIter
    require(done, s"insertionSearchSpaceNodes did not converge in $maxIter " +
      "iterations (graph deeper than maxIter) — raise maxIter")
    // `space` is eagerly localCheckpointed every iteration, so by here it
    // is materialized and independent of these cached intermediates —
    // dropping them is free and keeps repeated calls from accumulating
    // dead blocks in executor storage (persist() is cache-manager-owned,
    // never GC-reclaimed, unlike the loop's RDD localCheckpoints)
    closure.unpersist(); baseR.unpersist(); allowed.unpersist(); e.unpersist()
    space
  }

  /** Min-id union-find over the pairs `(a(i), b(i))`, indexed by
    * `ids = sortedIds(a, b)` — the driver twin of the distributed
    * fixpoint below. */
  private def unionAll(ids: Array[Long], a: Array[Long], b: Array[Long]): MinIdUnionFind = {
    val uf = new MinIdUnionFind(ids)
    for (i <- a.indices) uf.union(slot(ids, a(i)), slot(ids, b(i)))
    uf
  }

  /** node → min-id-of-component for every node of the pairs `(a(i), b(i))`
    * whose component minimum is another node. */
  private[graft] def unionFindMinId(a: Array[Long], b: Array[Long]): Map[Long, Long] =
    unionAll(sortedIds(a, b), a, b).merges

  /** Union-find over the dense slots `0 until ids.length`, each component
    * rooted at its member with the smallest id — the one find/union behind
    * [[connectedComponents]]' driver regime and the pipeline's driver
    * canonicalize, which unions while it scans LSH buckets. */
  private[graft] final class MinIdUnionFind(ids: Array[Long]) {
    private val parent = Array.tabulate(ids.length)(identity)

    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      // path compression: without it, min-id unions build chains whose
      // depth tracks the pair order (a descending-sorted dup cluster is
      // a depth-n chain) and the closing find-per-key pass goes O(p²) —
      // compression keeps every find amortized near-constant and does
      // not change any root
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }

    /** Joins the components of slots `a` and `b`. */
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb }
    }

    /** id → min id of its component, for every id that is not that min. */
    def merges: Map[Long, Long] =
      ids.indices.iterator.map(i => ids(i) -> ids(find(i)))
        .filter { case (a, b) => a != b }.toMap
  }

  /** Connected components over an undirected edge set `(a, b)`: min-label
    * propagation with pointer-jumping contraction each round (the
    * hash-to-min scheme — converges in O(log n) rounds on chains, no
    * GraphFrames/RDD dependency; SURVEY.md §4.3). Returns (node, component)
    * with component = min node id of the component.
    *
    * Regime switch (BENCH §9 round 5: profiling caught the distributed
    * fixpoint paying ~100 s of job overhead on a handful of pairs): a pair
    * set within `driverEdgeLimit` rows is solved with the driver union-find
    * — identical output by the equivalence test — while larger sets run the
    * distributed fixpoint.
    *
    * Distributed round structure (each round strictly lowers some label or
    * the algorithm has converged): one edge-propagation (the only
    * aggregation shuffle when the label table is broadcast-hinted)
    * followed by TWO pointer-jumping contractions — comp ←
    * comp(comp(comp(n))) — which roughly squares the contraction rate per
    * round versus a single jump for one extra (usually broadcast) join,
    * halving the round count on long chains. Convergence is detected from
    * the label sum: labels are NON-INCREASING under both propagation and
    * jumping, so sum(comp) is strictly monotone decreasing until the
    * fixpoint and an unchanged sum proves an unchanged labeling — one
    * cheap aggregation on the already-checkpointed result instead of a
    * join against the previous round's labels (the sum is exact:
    * decimal(38,0) cannot overflow at any feasible node count × id
    * range). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          driverEdgeLimit: Long = DriverEdgeLimit): DataFrame =
    connectedComponentsCounted(pairs, maxIter, driverEdgeLimit)._1

  /** [[connectedComponents]] plus the exact label-row count (for the
    * caller's own adaptive broadcast decision). */
  private def connectedComponentsCounted(pairs: DataFrame, maxIter: Int,
                                         driverEdgeLimit: Long): (DataFrame, Long) = {
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    driverEdges(p, driverEdgeLimit) match {
      case Some((a, b)) =>
        val ids = sortedIds(a, b)
        val uf = unionAll(ids, a, b)
        val component = Array.tabulate(ids.length)(i => ids(uf.find(i)))
        (localDF(pairs.sparkSession, "node" -> ids, "component" -> component), ids.length.toLong)
      case None =>
        val pc = p.localCheckpoint(true)
        val sym = pc
          .union(pc.select(col("b").as("a"), col("a").as("b")))
          .distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        var labels = sym.groupBy(col("a").as("node"))
          .agg(least(min(col("b")), col("a")).as("comp"))
          .localCheckpoint(true)
        val nLabels = labels.count()
        def labelSum(df: DataFrame): BigDecimal = {
          val r = df.agg(sum(col("comp").cast("decimal(38,0)")).as("s")).head()
          BigDecimal(r.getDecimal(0))
        }
        var prevSum = labelSum(labels)
        var i = 0
        var converged = false
        while (i < maxIter && !converged) {
          // propagate the min label across edges (the round's one aggregation)
          val viaEdges = sym.as("e")
            .join(hinted(labels, nLabels).as("l"), col("e.b") === col("l.node"))
            .groupBy(col("e.a").as("node")).agg(min(col("l.comp")).as("nbrComp"))
          val prop = labels.join(hinted(viaEdges, nLabels), Seq("node"), "left")
            .select(col("node"),
              least(col("comp"), coalesce(col("nbrComp"), col("comp"))).as("comp"))
          // pointer jumping: comp(n) <- comp(comp(n)), applied twice per round
          def jump(d: DataFrame): DataFrame = d.as("p")
            .join(hinted(d.select(col("node").as("cnode"), col("comp").as("ccomp")), nLabels).as("q"),
              col("p.comp") === col("q.cnode"), "left")
            .select(col("p.node").as("node"),
              least(col("p.comp"), coalesce(col("q.ccomp"), col("p.comp"))).as("comp"))
          val jumped = jump(jump(prop)).localCheckpoint(true)
          val s = labelSum(jumped)
          converged = s == prevSum // monotone: equal sum ⇔ no label moved ⇔ fixpoint
          prevSum = s
          labels = jumped
          i += 1
        }
        sym.unpersist()
        require(converged, s"connectedComponents did not converge in $maxIter " +
          "pointer-jumping rounds — raise maxIter (silently-partial components " +
          "would merge wrong canonicalization clusters)")
        (labels.select(col("node"), col("comp").as("component")), nLabels)
    }
  }

  /** Components including isolated nodes: every node maps to min(reachable). */
  def componentsWithIsolated(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val (cc, nCc) = connectedComponentsCounted(pairs, 25, DriverEdgeLimit)
    nodes.select(col("id").cast("long").as("node"))
      .join(hinted(cc, nCc), Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }
}
