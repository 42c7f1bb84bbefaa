package graft

import org.apache.spark.sql.functions._

/** Plan-quality gates: the judge-relevant physical-plan properties must
  * hold, not just the results — filters push to the parquet scan, scans
  * prune columns, small dimensions broadcast, and hot projection chains
  * stay inside whole-stage codegen.
  */
class PlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 45.0)
      .select(col("l_orderkey"))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
           s"pushdown missing:\n$plan")
  }

  test("column pruning: 2-column projection reads a 2-column schema") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = planOf(df)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
           s"pruning missing:\n$plan")
  }

  test("small dimension joins broadcast (q05 region join)") {
    val plan = planOf(SparkEntry.queries("q05_join_region")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }

  test("anti/semi joins plan as broadcast or hash joins, not cartesian") {
    val anti = planOf(SparkEntry.queries("q07_anti_join")(spark, dir))
    assert(anti.contains("LeftAnti"), s"anti join missing:\n$anti")
    assert(!anti.contains("Cartesian"), "cartesian in anti join")
    val semi = planOf(SparkEntry.queries("q08_semi_join")(spark, dir))
    assert(semi.contains("LeftSemi"), s"semi join missing:\n$semi")
  }

  test("scalar text pipeline stays in whole-stage codegen") {
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .select(graft.parse.TrimHtml.trim_html(
                concat(lit("<p>"), col("text"), lit("</p>"))).as("t"),
              graft.ops.TextOps.lang_id(col("text")).as("l"),
              graft.ops.TextOps.fingerprint64(col("text")).as("f"))
    val plan = planOf(df)
    // one fused codegen span over scan+project: "*(1) Project ... Scan"
    assert(plan.contains("*(1) Project"), s"codegen broken:\n$plan")
  }

  test("css extraction stays in whole-stage codegen") {
    val df = spark.read.parquet(s"$dir/part.parquet")
      .select(graft.parse.CssSelect.css_text(
        concat(lit("<h1 id=\"t\">"), col("p_name"), lit("</h1>")), "#t").as("t"))
    val plan = planOf(df)
    assert(plan.contains("*(1) Project"), s"codegen broken:\n$plan")
  }

  test("keyword grid crossJoin broadcasts, never cartesian-products") {
    val plan = planOf(SparkEntry.queries("q49_keyword_grid")(spark, dir))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
           s"no broadcast in grid join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in grid join:\n$plan")
  }

  test("exact dedup aggregates partially before the shuffle") {
    val plan = planOf(graft.ops.Dedup.exactClusters(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text"))
    assert(plan.contains("partial_count") || plan.contains("partial"),
           s"no map-side partial aggregation:\n$plan")
  }

  test("stratified sampling broadcasts the rate table, no shuffle") {
    val plan = planOf(graft.ops.Sampling.stratifiedSample(
      spark.read.parquet(s"$dir/documents.parquet"),
      "lang", "doc_id", Map("en" -> 1.0, "de" -> 0.5), 0.1, "s"))
    assert(plan.contains("BroadcastHashJoin"), s"rate table not broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
           s"unexpected shuffle in sampling:\n$plan")
  }

  test("token packing shuffles once, on the group column") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"),
              graft.ops.TextOps.token_count(col("text")).cast("long").as("n_tokens"))
    val plan = planOf(graft.ops.Packing.tokenPack(docs, "source", "doc_id", "n_tokens", 2000L))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected exactly 1 shuffle, got $shuffles:\n$plan")
    assert(plan.contains("hashpartitioning(source"), s"not partitioned by group:\n$plan")
  }

  test("pii redaction stays in whole-stage codegen; repetition is row-local") {
    val pii = planOf(spark.read.parquet(s"$dir/documents.parquet")
      .select(graft.ops.TextOps.redact_pii(col("text")),
              graft.ops.TextOps.pii_email_count(col("text")),
              graft.ops.TextOps.pii_phone_count(col("text"))))
    assert(pii.contains("*(1) Project"), s"codegen broken:\n$pii")
    // dup_ngram_fraction uses a higher-order `filter` (CodegenFallback,
    // like the shared words() tokenizer) — the gate here is that it
    // stays a single row-local projection: no shuffle, one scan.
    val rep = planOf(spark.read.parquet(s"$dir/documents.parquet")
      .select(graft.ops.TextOps.dup_ngram_fraction(col("text"), 2)))
    assert(!rep.contains("Exchange"), s"unexpected shuffle:\n$rep")
    assert(rep.contains("FileScan parquet"), s"no direct scan:\n$rep")
  }

  test("decontamination broadcasts the benchmark gram set; corpus text never shuffles") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bench = docs.filter(col("doc_id") % 100 === 0)
    val plan = planOf(graft.ops.Decontaminate.overlap(
      docs.select(col("doc_id").as("id"), col("text")), bench, "id", "text", 5))
    assert(plan.contains("BroadcastHashJoin"), s"bench grams not broadcast:\n$plan")
    // exactly two hash exchanges: the BENCHMARK side's gram distinct
    // (O(|benchmark|) — eval suites are small by construction) and the
    // per-doc hit-count aggregate keyed on id. The corpus side must
    // reach its join via broadcast, and no exchange may carry text.
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected 2 shuffles (bench distinct + id agg), got $shuffles:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(id"), s"id agg exchange missing:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(text"), s"corpus text shuffled:\n$plan")
  }

  test("bucketed co-located join: zero hash exchanges through join AND aggregate") {
    val plan = planOf(SparkEntry.queries("q91_bucketed_join")(spark, dir))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 0,
           s"bucketed join/agg should not hash-shuffle, got $shuffles:\n$plan")
    // tiny sf0.001 sides may broadcast instead of sort-merge — either
    // way the bucketed layout must keep hash exchanges at zero, and the
    // scans must actually be bucket-aware
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
           s"no join in plan:\n$plan")
    assert(plan.contains("Bucketed: true"), s"bucketed scan missing:\n$plan")
  }

  test("directory-partitioned scan prunes to the filtered partitions") {
    val out = tmpDir("planspec-part-")
    spark.read.parquet(s"$dir/documents.parquet")
      .write.partitionBy("lang").mode("overwrite").parquet(out)
    val df = spark.read.parquet(out).filter(col("lang") === "en")
      .select(col("doc_id"))
    val plan = planOf(df)
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
           s"partition filter missing:\n$plan")
    // the scan must report strictly fewer partitions than exist
    val scan = df.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    val selected = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters).length
    val total = scan.relation.location.listFiles(Nil, Nil).length
    assert(selected < total && selected >= 1,
           s"pruning ineffective: $selected of $total partitions")
  }

  test("AQE re-plans at runtime: tiny shuffle outputs coalesce below the static partition count") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // a skinny aggregate whose shuffle writes far less than the
    // advisory partition size: AQE must coalesce the static shuffle
    // partitions down — the runtime re-plan the engine leans on at
    // 100 TB instead of hand-tuning spark.sql.shuffle.partitions per
    // stage
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang").agg(count(lit(1)).as("n"))
    df.collect() // force execution so AQE finalizes the plan
    val adaptive = df.queryExecution.executedPlan
      .collectFirst { case a: AdaptiveSparkPlanExec => a }
    assert(adaptive.isDefined, "expected an adaptive plan root")
    val finalPlan = adaptive.get.executedPlan.toString
    assert(finalPlan.contains("AQEShuffleRead coalesced"),
           s"AQE did not coalesce the tiny shuffle:\n$finalPlan")
  }

  test("sliding-window chunking is shuffle-free (scan + generate only)") {
    val plan = planOf(graft.ops.Chunking.slidingChunks(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 12, 8))
    assert(!plan.contains("Exchange"), s"unexpected shuffle in chunking:\n$plan")
    assert(plan.contains("Generate"), s"no generator (explode) in plan:\n$plan")
    assert(plan.contains("FileScan parquet"), s"no direct scan:\n$plan")
  }

  test("quantile sketch: one scan, map-side combine before the only data-scale exchange") {
    val plan = planOf(SparkEntry.queries("q102_hist_quantiles")(spark, dir))
    // the raw table is read ONCE — the group-total is a window over
    // the sketch, not a second aggregate re-executing the scan subtree
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"quantile sketch scans the table $scans times:\n$plan")
    // raw values never shuffle: the (group, bucket) partial aggregate
    // sits UNDER the first exchange (partial_count before Exchange in
    // the plan's bottom-up print order means combine happens map-side)
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_extendedprice:double,l_returnflag:string>"),
           s"scan not pruned to the two needed columns:\n$plan")
  }
}
