package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.lexical.Tokenset
import graft.spark.GraphOps
import graft.taxo.{MutableTaxo, TaxoJson}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Distributed twins of G9 (reduce_subset) / G10 (get_LCA) / G11 (get_GCD)
  * / G12 (insertion search space) checked for set-equality against the
  * driver-side MutableTaxo on the 300-node Google Product Type golden
  * taxonomy — the contingency path for taxonomies beyond broadcast size
  * (SURVEY.md §2.2). */
class GraphTwinSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val taxo: MutableTaxo = {
    val in = getClass.getResourceAsStream("/goldens/manual_google300.json")
    val root = new ObjectMapper().readTree(in)
    TaxoJson.loadString(root.get("taxonomy").toString)
  }
  private lazy val nodesDF: DataFrame =
    taxo.nodes.toSeq.map(n => (n, taxo.getLabel(n))).toDF("id", "label")
  private lazy val edgesDF: DataFrame =
    taxo.edges.map { case (u, v, _) => (u, v) }.toDF("src", "dst")

  /** Deterministic pseudo-random node subset. */
  private def sample(seed: Int, mod: Int): Seq[Long] =
    taxo.nodes.toSeq.sorted.filter(n => ((Tokenset.fnv1a64(s"$seed:$n") % mod) + mod) % mod == 0)

  test("fixpoints fail fast instead of returning a silently-truncated result") {
    // a 5-node chain needs 4 closure hops; maxIter=2 must throw, not hand
    // back a partial closure that downstream TR/LCA would silently misuse.
    // driverEdgeLimit = 0 forces the DISTRIBUTED fixpoint — the round-6
    // driver regime would otherwise solve a 4-edge chain locally and the
    // maxIter guard under test would never run
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val e1 = intercept[IllegalArgumentException] {
      GraphOps.ancestorClosure(chain, maxIter = 2, driverEdgeLimit = 0L).count()
    }
    assert(e1.getMessage.contains("did not converge"))
    val chainNodes = (1L to 5L).map(n => (n, s"n$n")).toDF("id", "label")
    val e2 = intercept[IllegalArgumentException] {
      GraphOps.depths(chainNodes, chain, maxIter = 2).count()
    }
    assert(e2.getMessage.contains("did not converge"))
    // convergent inputs are unaffected (both regimes)
    assert(GraphOps.ancestorClosure(chain).count() == 4 + 3 + 2 + 1)
    assert(GraphOps.ancestorClosure(chain, driverEdgeLimit = 0L).count() == 4 + 3 + 2 + 1)
    // a fixpoint completing EXACTLY at maxIter converges (the post-loop
    // probe — ADVICE r5): 4 productive hops at maxIter = 4
    assert(GraphOps.ancestorClosure(chain, maxIter = 4, driverEdgeLimit = 0L)
      .count() == 4 + 3 + 2 + 1)
  }

  test("driver-regime closure/depths/TR equal the forced-distributed fixpoints") {
    // skip edges (TR work), a diamond (multi-parent min depth), duplicate
    // edge rows (TR preserves them), and — for the closure only — a cycle
    // (self-pairs via reachability)
    val dag = Seq((10L, 1L), (11L, 1L), (12L, 10L), (12L, 11L), (12L, 1L),
      (13L, 12L), (13L, 1L), (13L, 12L)).toDF("src", "dst")
    def rows(df: DataFrame) = df.as[(Long, Long)].collect().toSeq.sorted
    assert(rows(GraphOps.ancestorClosure(dag)) ==
      rows(GraphOps.ancestorClosure(dag, driverEdgeLimit = 0L)))
    assert(rows(GraphOps.transitiveReduction(dag)) ==
      rows(GraphOps.transitiveReduction(dag, driverEdgeLimit = 0L)))
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
    assert(rows(GraphOps.ancestorClosure(cyc)) ==
      rows(GraphOps.ancestorClosure(cyc, driverEdgeLimit = 0L)))
    // the cycle's members reach themselves: self-pairs present in BOTH
    assert(rows(GraphOps.ancestorClosure(cyc)).contains((1L, 1L)))
  }

  test("edge-node-derived leaves/depths equal the generic distributed forms") {
    // same graphs as above: skip edges, diamond, duplicate edge rows, cycle
    for (g <- Seq(
        Seq((10L, 1L), (11L, 1L), (12L, 10L), (12L, 11L), (12L, 1L),
          (13L, 12L), (13L, 1L), (13L, 12L)),
        Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)))) {
      val e = g.toDF("src", "dst")
      val ids = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      // driver fast path vs generic distributed anti-join / fixpoint
      assert(GraphOps.leavesOfEdgeNodes(e).as[Long].collect().toSeq.sorted ==
        GraphOps.leaves(ids, e).as[Long].collect().toSeq.sorted)
      assert(GraphOps.depthsOfEdgeNodes(e).as[(Long, Int)].collect().toSeq.sorted ==
        GraphOps.depths(ids, e)
          .as[(Long, Int)].collect().toSeq.sorted)
      // over-cap fallback of the specialized forms equals the fast path
      assert(GraphOps.leavesOfEdgeNodes(e, driverEdgeLimit = 1L)
        .as[Long].collect().toSeq.sorted ==
        GraphOps.leavesOfEdgeNodes(e).as[Long].collect().toSeq.sorted)
      assert(GraphOps.depthsOfEdgeNodes(e, driverEdgeLimit = 1L)
        .as[(Long, Int)].collect().toSeq.sorted ==
        GraphOps.depthsOfEdgeNodes(e).as[(Long, Int)].collect().toSeq.sorted)
    }
  }

  /** Random edge table (child, parent) in the PropertySpec style: two
    * disjoint components (ids offset by 1000), 1-3 parents per non-root
    * node drawn from lower ids (a DAG), duplicated rows and — unless
    * `dag` — back edges that close cycles. */
  private def genEdges(rng: scala.util.Random, dag: Boolean): Seq[(Long, Long)] = {
    def component(base: Long): Seq[(Long, Long)] = {
      val n = 4 + rng.nextInt(9)
      val down = for (i <- 1 until n; _ <- 0 until 1 + rng.nextInt(3))
        yield (base + i, base + rng.nextInt(i))
      val back = if (dag) Nil else Seq.fill(1 + rng.nextInt(2)) {
        val lo = rng.nextInt(n - 1)
        (base + lo, base + lo + 1 + rng.nextInt(n - 1 - lo))
      }
      down ++ back
    }
    val e = component(0L) ++ component(1000L)
    rng.shuffle(e ++ Seq.fill(3)(e(rng.nextInt(e.length))))
  }

  test("driver twins equal the forced-distributed fixpoints on random graphs") {
    val rng = new scala.util.Random(7L)
    def rows2(df: DataFrame) = df.as[(Long, Long)].collect().toSeq.sorted
    def depths(df: DataFrame) = df.as[(Long, Int)].collect().toSeq.sorted
    // toy graphs: one shuffle partition keeps the several hundred
    // distributed fixpoint jobs within the test's time budget
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try for (it <- 0 until 10) {
      val dag = it % 2 == 0
      val e = genEdges(rng, dag).toDF("src", "dst")
      val pairs = e.select(col("src").as("a"), col("dst").as("b"))
      withClue(s"graph $it (dag=$dag): ") {
        assert(rows2(GraphOps.ancestorClosure(e)) ==
          rows2(GraphOps.ancestorClosure(e, driverEdgeLimit = 0L)))
        assert(GraphOps.leavesOfEdgeNodes(e).as[Long].collect().toSeq.sorted ==
          GraphOps.leavesOfEdgeNodes(e, driverEdgeLimit = 0L).as[Long].collect().toSeq.sorted)
        assert(depths(GraphOps.depthsOfEdgeNodes(e)) ==
          depths(GraphOps.depthsOfEdgeNodes(e, driverEdgeLimit = 0L)))
        assert(rows2(GraphOps.connectedComponents(pairs)) ==
          rows2(GraphOps.connectedComponents(pairs, driverEdgeLimit = 0L)))
        if (dag) assert(rows2(GraphOps.transitiveReduction(e)) ==
          rows2(GraphOps.transitiveReduction(e, driverEdgeLimit = 0L)))
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("driver-regime components above 100k rows are not a LocalRelation") {
    // a LocalRelation serializes whole into every plan that uses it; the
    // other local outputs switch to an RDD above 100k rows, and so must CC
    val chain = spark.range(200000L).select(col("id").as("a"), (col("id") + 1).as("b"))
    val cc = GraphOps.connectedComponents(chain)
    assert(cc.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r
    }.isEmpty, "driver-regime CC output is one LocalRelation")
    assert(cc.count() == 200001L && cc.filter(col("component") =!= 0L).isEmpty)
  }

  test("distributed reduce_subset equals the driver twin (both directions)") {
    for (seed <- 1 to 4) {
      val subset = sample(seed, 5)
      val df = subset.toDF("id")
      val fwd = GraphOps.reduceSubset(edgesDF, df).as[Long].collect().toSet
      assert(fwd == taxo.reduceSubset(subset).toSet, s"fwd seed=$seed")
      val rev = GraphOps.reduceSubset(edgesDF, df, reverse = true).as[Long].collect().toSet
      assert(rev == taxo.reduceSubset(subset, reverse = true).toSet, s"rev seed=$seed")
    }
  }

  test("distributed LCA/GCD equal the driver twins, including empty input") {
    for (seed <- 1 to 4) {
      val subset = sample(seed, 24)
      val df = subset.toDF("id")
      val l = GraphOps.lca(nodesDF, edgesDF, df).select("id").as[Long].collect().toSet
      assert(l == taxo.getLCA(subset).toSet, s"lca seed=$seed subset=$subset")
      val g = GraphOps.gcd(nodesDF, edgesDF, df).select("id").as[Long].collect().toSet
      assert(g == taxo.getGCD(subset).toSet, s"gcd seed=$seed subset=$subset")
    }
    val emptyQ = Seq.empty[Long].toDF("id")
    assert(GraphOps.lca(nodesDF, edgesDF, emptyQ).select("id").as[Long].collect().toSet ==
      taxo.getLCA(Nil).toSet)
    assert(GraphOps.gcd(nodesDF, edgesDF, emptyQ).select("id").as[Long].collect().toSet ==
      taxo.getGCD(Nil).toSet)
  }

  test("distributed insertion-search-space nodes equal the driver twin") {
    for (seed <- 1 to 3; strict <- Seq(false, true)) {
      val base = sample(seed, 24)
      if (base.nonEmpty) {
        val df = base.toDF("id")
        val got = GraphOps.insertionSearchSpaceNodes(nodesDF, edgesDF, df,
          cropTop = true, strict = strict).as[Long].collect().toSet
        val want = taxo.createInsertionSearchSpace(base, cropTop = true,
          strict = strict).nodes.toSet
        assert(got == want, s"seed=$seed strict=$strict")
      }
    }
    // empty base = the whole taxonomy (reference deepcopy, taxonomy.py:422)
    val gotEmpty = GraphOps.insertionSearchSpaceNodes(nodesDF, edgesDF,
      Seq.empty[Long].toDF("id")).as[Long].collect().toSet
    assert(gotEmpty == taxo.nodes.toSet)
    // cropTop=false expands from the roots
    val base = sample(1, 24)
    val got = GraphOps.insertionSearchSpaceNodes(nodesDF, edgesDF, base.toDF("id"),
      cropTop = false, strict = true).as[Long].collect().toSet
    val want = taxo.createInsertionSearchSpace(base, cropTop = false,
      strict = true).nodes.toSet
    assert(got == want)
  }

  test("distributed insertion-search-space honors forced edge-label LCA unions") {
    // relabel a third of the edges so the label-filtered LCAs differ
    val relabeled = MutableTaxo(
      taxo.nodes.toSeq.map(n => (n, taxo.getLabel(n))),
      taxo.edges.map { case (u, v, l) => (u, v, if (u % 3 == 0) "auto" else l) })
    val edgesL = relabeled.edges.toSeq.map { case (u, v, l) => (u, v, l) }
      .toDF("src", "dst", "label")
    for (seed <- 1 to 2; force <- Seq(Seq(Set("original")), Seq(Set("auto", "original")))) {
      val base = sample(seed, 24)
      if (base.nonEmpty) {
        val got = GraphOps.insertionSearchSpaceNodes(nodesDF, edgesL, base.toDF("id"),
          cropTop = true, strict = false, forceLabels = force).as[Long].collect().toSet
        val want = relabeled.createInsertionSearchSpace(base, cropTop = true,
          forceLabels = force, strict = false).nodes.toSet
        assert(got == want, s"seed=$seed force=$force")
      }
    }
  }
}
