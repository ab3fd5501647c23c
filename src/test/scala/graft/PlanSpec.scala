package graft

import graft.operators.{Joins, Silver, Tpch}

/** Physical-plan shape assertions: correctness gates don't catch a plan
  * that silently degrades to shuffle-everything, so pin the properties
  * that matter at 100 TB here. */
class PlanSpec extends SparkSpecBase {

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q5 five-way join broadcasts all dimension legs") {
    val plan = physicalPlan(Tpch.q5LocalSupplier(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 4, s"expected ≥4 broadcast joins, got $broadcasts in:\n$plan")
  }

  test("brand revenue join is a broadcast, not a shuffle join") {
    val plan = physicalPlan(Joins.qBrandRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("global top-k plans as TakeOrderedAndProject (no full sort)") {
    val plan = physicalPlan(Joins.qTop10Orders(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("silver clean pushes null/range filters into the parquet scan") {
    val plan = physicalPlan(
      Silver.clean(Tables.events(spark, sf)))
    assert(plan.contains("PushedFilters") &&
      (plan.contains("IsNotNull(value)") || plan.contains("IsNotNull(user_id)")),
      s"filters not pushed:\n$plan")
  }

  test("q1 scan prunes to referenced columns only") {
    val plan = physicalPlan(Tpch.q1PricingSummary(spark, sf))
    // ReadSchema must not include unreferenced wide columns
    assert(!plan.contains("l_partkey") && !plan.contains("l_suppkey"),
      s"column pruning failed:\n$plan")
  }

  test("semi/anti joins do not materialize the right side columns") {
    val semi = physicalPlan(Joins.qActiveCustomers(spark, sf))
    assert(semi.contains("LeftSemi") || semi.contains("left_semi"))
    val anti = physicalPlan(Joins.qDormantCustomers(spark, sf))
    assert(anti.contains("LeftAnti") || anti.contains("left_anti"))
  }

  test("runtime bloom filter prunes the fact scan on a selective dim join") {
    import org.apache.spark.sql.functions._
    val set = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB")
    val saved = set.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      set.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = Tables.lineitem(spark, sf)
      val part = Tables.part(spark, sf).filter(col("p_brand") === "Brand#13")
      val j = li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).count()
      j.collect() // final adaptive plan only exists after execution
      val plan = j.queryExecution.executedPlan.toString
      // at 100 TB this is the shuffle-volume saver: the fact side is
      // pre-filtered by a bloom filter built from the dim's join keys
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n${plan.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q6 pushes every predicate into the parquet scan") {
    // formatted mode: toString truncates the PushedFilters list
    val plan = Tpch.q6ForecastRevenue(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("LessThan(l_quantity,24.0)"),
      s"q6 predicates not pushed:\n$plan")
  }

  test("corpus split scan prunes to doc_id only") {
    val plan = physicalPlan(
      graft.operators.TextAnalysis.qCorpusSplit(spark, sf))
    assert(!plan.contains("text") && !plan.contains("lang#"),
      s"split read more than doc_id:\n$plan")
  }

  test("top terms ranks with a WindowGroupLimit below the full window") {
    val plan = physicalPlan(
      graft.operators.TextAnalysis.topTerms(Tables.documents(spark, sf)))
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not pushed into the window sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "df join must broadcast")
  }

  test("curation map-only ops plan without a shuffle") {
    val docs = Tables.documents(spark, sf)
    Seq(
      "repetition" -> graft.operators.Curation.repetition(docs),
      "filterFunnel" -> graft.operators.Curation.filterFunnel(docs),
      "stratifiedSample" -> graft.operators.Curation
        .stratifiedSample(docs, Map("en" -> 50), 20)).foreach { case (name, df) =>
      val plan = physicalPlan(df)
      assert(!plan.contains("Exchange"), s"$name grew a shuffle:\n$plan")
    }
  }

  test("stratified sample prunes the text column from the scan") {
    val plan = physicalPlan(graft.operators.Curation
      .stratifiedSample(Tables.documents(spark, sf), Map("en" -> 50), 20)
      .select("doc_id", "lang", "bucket"))
    assert(!plan.contains("text:string"), s"text read but unused:\n$plan")
  }

  test("sequence packing shuffles exactly once, on the shard key") {
    val plan = physicalPlan(
      graft.operators.Curation.seqPack(Tables.documents(spark, sf), 2048, 8))
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"want the single shard-window shuffle, got $exchanges:\n$plan")
    assert(plan.contains("hashpartitioning(shard"), s"window not shard-partitioned:\n$plan")
  }

  test("q21 EXISTS/NOT-EXISTS resolve to hash semi/anti joins, never nested loops") {
    // q21 caches its shared join leg via Settle, whose checkpoint
    // truncates lineage; the lineage prop keeps the full plan visible
    sys.props(Settle.LineageProp) = "true"
    val plan = try physicalPlan(graft.operators.TpchMore.q21WaitingSuppliers(spark, sf))
    finally sys.props.remove(Settle.LineageProp)
    assert(plan.contains("LeftSemi") || plan.contains("left_semi"), plan)
    assert(plan.contains("LeftAnti") || plan.contains("left_anti"), plan)
    assert(!plan.contains("NestedLoop"),
      s"suppkey inequality must ride the orderkey hash join as a residual:\n$plan")
  }

  test("q16 NOT-IN is a broadcast anti join below the distinct-pair aggregate") {
    val plan = physicalPlan(graft.operators.TpchMore.q16SupplierCnt(spark, sf))
    assert(plan.contains("BroadcastHashJoin") &&
      (plan.contains("LeftAnti") || plan.contains("left_anti")), plan)
    assert(!plan.contains("NestedLoop"), plan)
  }

  test("binned range join plans as an equi-join, not a nested loop") {
    val plan = physicalPlan(graft.operators.Ranged.qEventFollowups(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join degraded to a per-key nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("bm25 serving pushes the query-term filter into the postings scan") {
    val plan = physicalPlan(graft.operators.Retrieval.qBm25Serving(spark, sf))
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"term filter not pushed to the postings scan:\n$plan")
  }

  test("tokenize and weighted sample are map-only up to the presentation sort") {
    // exactly ONE Exchange each — the rangepartitioning for the final
    // orderBy; any more means the map-only claim regressed
    Seq(
      physicalPlan(graft.operators.Tokenize.qTokenize(spark, sf)),
      physicalPlan(graft.operators.Sampling.qWeightedSample(spark, sf))
    ).foreach { plan =>
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 1, s"expected ≤1 exchange, got $exchanges:\n$plan")
    }
  }

  test("expectations contract evaluates as one aggregate over one scan") {
    val plan = physicalPlan(
      graft.operators.Expectations.qExpectations(spark, sf))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 events scan, got $scans:\n$plan")
  }

  test("drift monitor scans events exactly once") {
    val plan = physicalPlan(graft.operators.Monitor.qValueDrift(spark, sf))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 events scan, got $scans:\n$plan")
  }

  test("dpp star join plants a runtime pruning subquery on the partition scan") {
    val fact = spark.read.parquet(graft.operators.Dpp.layoutFor(spark, sf))
    val df = graft.operators.Dpp.revenueByYearDpp(fact,
      graft.operators.Dpp.yearDim(Tables.orders(spark, sf)))
    val plan = physicalPlan(df)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$plan")
    // and the result equals the statically-filtered computation
    val years = graft.operators.Dpp.yearDim(Tables.orders(spark, sf))
      .collect().map(_.getInt(0)).toSet
    val direct = Tables.lineitem(spark, sf)
      .withColumn("ship_year", org.apache.spark.sql.functions.year(
        org.apache.spark.sql.functions.col("l_shipdate")))
      .filter(org.apache.spark.sql.functions.col("ship_year")
        .isin(years.toSeq: _*))
      .count()
    val viaDpp = df.agg(org.apache.spark.sql.functions.sum("n_items"))
      .head().getLong(0)
    assert(viaDpp == direct, s"dpp $viaDpp vs direct $direct rows")
  }

  test("temperature mix: quota join broadcasts, selection shuffles only on the group") {
    val plan = physicalPlan(
      graft.operators.Rebalance.qMixTemperature(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"quota join should broadcast the bounded quota table:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("fertility scan reads only lang, text, n_chars") {
    val plan = physicalPlan(
      graft.operators.Fertility.qFertilityByLang(spark, sf))
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("doc_id"),
      s"fertility must not read unreferenced columns:\n$plan")
  }

  test("k-anonymity plans one partial+final aggregate over a broadcast dim join") {
    val plan = physicalPlan(
      graft.operators.Diagnostics.qKAnonymity(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    val aggs = "HashAggregate".r.findAllIn(plan).length
    assert(aggs >= 2, s"expected partial+final HashAggregate pair:\n$plan")
  }

  test("debounce shuffles once on the key with a secondary sort, no array build") {
    val plan = physicalPlan(
      graft.operators.Temporal.debounce(Tables.events(spark, sf), 3600L))
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly 1 exchange:\n$plan")
    assert(plan.contains("Sort") && plan.contains("MapGroups"), plan)
  }
}
