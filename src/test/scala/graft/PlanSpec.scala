package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan quality gates: the properties that matter at 100 TB must
  * be visible in the plan, not assumed — predicate pushdown into the
  * parquet scan, broadcast joins for dimension tables, partial (map-side)
  * aggregation, and whole-stage codegen coverage. */
class PlanSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("graph queries stay within their Spark job counts") {
    // upper bounds at sf0.001, where every graph query runs its driver
    // regime: a twin that probes twice, or checkpoints and counts its
    // input before choosing a regime, submits more jobs and fails here
    for ((q, bound) <- Seq("q19_taxo_ancestors" -> 9, "q20_taxo_leaves" -> 9,
        "q21_taxo_depths" -> 9, "q22_taxo_tr" -> 9, "q23_components" -> 7)) {
      val (_, jobs) = jobsDuring(SparkEntry.queries(q)(spark, dir).collect())
      assert(jobs <= bound, s"$q submitted $jobs Spark jobs (bound $bound)")
    }
  }

  test("q05 pushes filters into the parquet scan") {
    val p = plan("q05_filter_pushdown")
    assert(p.contains("PushedFilters"), "no pushed filters section")
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05"), s"discount filter not pushed:\n$p")
    assert(p.contains("LessThan(l_quantity,10"), "quantity filter not pushed")
    // column pruning: scan must not read unused money columns
    assert(!p.contains("l_tax"), "scan reads l_tax though unused")
  }

  test("q02 broadcasts the dimension tables") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), s"dimension join is not broadcast:\n$p")
  }

  test("q01 aggregation is map-side partial") {
    val p = plan("q01_pricing_agg")
    assert(p.contains("HashAggregate"), "no hash aggregate")
    assert(p.contains("partial_sum") || p.contains("Partial"), s"no partial aggregation:\n$p")
  }

  test("fingerprints stay inside whole-stage codegen") {
    // q08 uses higher-order array lambdas (CodegenFallback by design — cheap
    // per-row); q11 is pure md5/regexp and must stay fully codegen'd.
    // AQE wraps the un-executed plan and reports 0 codegen subtrees, so
    // inspect with AQE off.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q11_fingerprints")(spark, dir)
      val p = df.queryExecution.explainString(ExplainMode.fromString("codegen"))
      assert(p.contains("WholeStageCodegen subtrees") && !p.startsWith("Found 0"),
        s"no codegen span:\n${p.take(500)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("text stats are a single scan+project pass (no shuffle before sort)") {
    val p = plan("q08_text_stats")
    assert(p.toLowerCase.split("exchange").length <= 3, s"unexpected shuffles:\n$p")
  }

  test("simhash is one pass: no shuffle, no explode in the plan") {
    val p = plan("q15_simhash")
    assert(!p.contains("Generate"), s"simhash plan still explodes:\n$p")
    // the only exchange allowed is the final orderBy's range partitioning
    // (each operator appears twice in formatted output: tree + detail)
    assert("Exchange".r.findAllIn(p).length <= 2, s"unexpected shuffles:\n$p")
  }

  test("minhash signatures are a pure projection: no shuffle, no aggregate") {
    import org.apache.spark.sql.execution.ExplainMode
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.TextOps.minhashSignatures(docs, "text", 3, 32)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), s"signature projection shuffles:\n$p")
    assert(!p.contains("HashAggregate"), s"signature projection aggregates:\n$p")
    assert(!p.contains("Generate"), s"signature projection explodes:\n$p")
  }

  test("mention extraction reads only the text column") {
    val df = SparkEntry.queries("q26_mentions")(spark, dir)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ReadSchema"), "no read schema")
    assert(!p.contains("doc_id") || !p.contains("ReadSchema: struct<doc_id"),
      "mention scan reads more than text")
  }
}
