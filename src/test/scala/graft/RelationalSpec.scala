package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** SURVEY §5.2: join fanout (J1), distinct vs conditional distinct
  * (A4/A5), positional union (§2.5), cast/null edges (F1-F6). */
class RelationalSpec extends SparkSpec {
  import spark.implicits._
  import Relational.{dateStr, productPerformanceAgg}

  test("J1: non-unique composite keys produce m:n fanout") {
    val left = Seq(("Peru", "d1", 1), ("Peru", "d1", 2), ("Chile", "d2", 3))
      .toDF("country", "dt", "l")
    val right = Seq(("Peru", "d1", 10), ("Peru", "d1", 20), ("Chile", "d2", 30))
      .toDF("country", "dt", "r")
    val joined = left.join(right, Seq("country", "dt"))
    // 2 left × 2 right Peru rows fan out to 4; Chile 1×1.
    assert(joined.count() == 5)
  }

  test("A4 vs A5: conditional distinct count excludes NULL branch") {
    val df = Seq((1, 10.0), (1, 0.0), (2, 0.0), (3, 5.0))
      .toDF("customer_id", "income")
    val r = df.agg(
      countDistinct($"customer_id").as("all"),
      countDistinct(when($"income" > 0, $"customer_id")).as("paying"),
      countDistinct(when($"income" === 0, $"customer_id")).as("nonpaying"))
      .head()
    assert(r.getLong(0) == 3)
    assert(r.getLong(1) == 2) // customers 1 and 3
    assert(r.getLong(2) == 2) // customers 1 and 2 (customer 1 in both!)
  }

  test("union is positional (BigQuery UNION ALL semantics)") {
    val a = Seq((1, "x")).toDF("n", "s")
    val b = Seq((2, "y")).toDF("m", "t") // different names, same positions
    val u = a.union(b)
    assert(u.columns.toSeq == Seq("n", "s"))
    assert(u.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
  }

  test("F3/F4: null-tolerant casts at the raw→master boundary") {
    // Spark 4 defaults to ANSI mode (plain casts THROW on malformed
    // input) — the engine's boundary policy is try_* = null-out.
    val raw = Seq("2023-07-07 08:21:23", "not-a-date", "", "2023-02-30 00:00:00")
      .toDF("date_time")
    val ts = raw.select(
      try_to_timestamp($"date_time", lit("yyyy-MM-dd HH:mm:ss")).as("ts"))
    assert(ts.where($"ts".isNotNull).count() == 1) // only the first parses
    val nums = Seq("12.5", "abc", "").toDF("s")
      .select(expr("try_cast(s AS DOUBLE)").as("d"))
    assert(nums.where($"d".isNotNull).count() == 1)
  }

  test("F1: SUBSTR date/time slicing of 'yyyy-MM-dd HH:mm:ss'") {
    val r = Seq("2023-07-07 08:21:23").toDF("dt")
      .select(substring($"dt", 1, 10).as("d"), substring($"dt", 12, 8).as("t"))
      .head()
    assert(r.getString(0) == "2023-07-07")
    assert(r.getString(1) == "08:21:23")
  }

  test("masterModel: fanout preserved, campaign_cost constant per (country, month)") {
    val m = Relational.masterModel(spark, sf0001).cache()
    try {
      assert(m.count() > 0)
      // one campaign cost per (country, month(transaction_datetime))
      val distinctCosts = m
        .groupBy($"transaction_country", trunc($"transaction_datetime", "month"))
        .agg(countDistinct($"campaign_cost").as("n"))
        .agg(max($"n")).head().getLong(0)
      assert(distinctCosts == 1)
      // campaign_id encodes year: same nation+month in different years differ
      val idsPerNationMonth = m
        .select(month($"transaction_datetime").as("m"), $"campaign_id")
        .distinct()
        .groupBy($"m").agg(countDistinct($"campaign_id").as("n"))
        .agg(max($"n")).head().getLong(0)
      assert(idsPerNationMonth > 1)
    } finally m.unpersist()
  }

  test("masterModel: cost agg+join-back is bit-identical to the window form") {
    // The §8.7 swap's hash-neutrality claim, proven: the retired
    // window formulation (rebuilt here in-test) and the shipped
    // broadcast join-back produce the SAME multiset — the round(·,2)
    // inside the cost formula recovers the exact sum in any summation
    // order, so partitioning/plan differences cannot reach the values.
    import org.apache.spark.sql.expressions.Window
    val txn = Relational.transactions(spark, sf0001)
    val li = Tables.lineitem(spark, sf0001)
    val part = Tables.part(spark, sf0001)
    val shipped = Relational.masterModelFrom(txn, li, part)
    val w = Window.partitionBy(
      $"n_nationkey", $"transaction_country", $"tmonth")
    val windowed = txn
      .withColumn("campaign_id",
        ($"n_nationkey" * 1000000 + year($"tmonth") * 100 +
          month($"tmonth")).cast("long"))
      .withColumn("campaign_cost",
        round(round(sum($"income").over(w), 2) * lit(0.1).cast("double"), 3))
      .join(li, $"transaction_id" === $"l_orderkey")
      .join(part, $"l_partkey" === $"p_partkey")
      .select($"campaign_id", $"campaign_cost", $"transaction_id",
        $"income", $"transaction_country", $"customer_id",
        $"l_partkey".as("product_id"), $"l_quantity".as("quantity"),
        $"l_extendedprice".as("price"), $"p_brand".as("category"),
        $"transaction_datetime")
    assert(shipped.columns.toSeq == windowed.columns.toSeq)
    assert(shipped.exceptAll(windowed).isEmpty &&
      windowed.exceptAll(shipped).isEmpty)
  }

  test("topProductsPerCountry equals a hand-written single-window top-k") {
    val m = Relational.masterModel(spark, sf0001)
    val got = Relational.topProductsPerCountry(m, k = 3)
    import org.apache.spark.sql.expressions.Window
    val byCountry = m.groupBy($"transaction_country".as("country"), $"product_id")
      .agg(Relational.rsum2($"income").as("total_income"))
    val w = Window.partitionBy($"country")
      .orderBy($"total_income".desc, $"product_id".asc)
    val expect = byCountry.withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  /** The 100 TB shape for [[Relational.performanceMetrics]]'s exact
    * distinct count (SURVEY §4 watch list): Spark plans mixed distinct +
    * plain aggregates as an Expand that doubles every input row through
    * the shuffle; this two-phase form pre-aggregates on (group keys,
    * transaction_id) — map-side combine collapses the orders→lineitem
    * fanout before any exchange — then finishes with a plain aggregate
    * where the distinct count is a row count. Bit-identical results
    * (spec-proven): all money passes unrounded through phase 1 and hits
    * the same round(·, 2/3) at the end, which recovers the exact value
    * in any summation order; null-bearing rows contribute to exactly
    * the same aggregates as in the Expand form (per-column non-null
    * counts, per-row profit differences, null-skipping sums). Only
    * requirement: transaction_id non-null (it is the join key — a null
    * id would count as one distinct group here vs zero in
    * countDistinct). */
  private def performanceMetricsTwoPhase(master: DataFrame): DataFrame =
    master
      .groupBy(col("transaction_country").as("country"),
        dateStr(col("transaction_datetime")).as("date"),
        col("transaction_id"))
      .agg(
        sum(col("income")).as("s_income"),
        sum(col("campaign_cost")).as("s_cost"),
        sum(col("income") - col("campaign_cost")).as("s_profit"),
        count(col("income")).as("n_income"),
        count(col("campaign_cost")).as("n_cost"))
      .groupBy(col("country"), col("date"))
      .agg(
        count(lit(1)).as("transaction_count"),
        round(sum(col("s_income")), 2).as("total_income"),
        round(sum(col("s_cost")), 3).as("total_campaign_cost"),
        (round(sum(col("s_income")), 2) / sum(col("n_income")))
          .as("average_income"),
        (round(sum(col("s_cost")), 3) / sum(col("n_cost")))
          .as("average_campaign_cost"),
        round(sum(col("s_profit")), 3).as("total_profit"),
        (round(sum(col("s_income")), 2) / count(lit(1)))
          .as("average_transaction_value"))

  /** The pre-r17 Expand form of [[Relational.customerRetention]], kept
    * as the equivalence twin this spec pins the rewrite against (the
    * performanceMetricsTwoPhase discipline, in the opposite
    * direction: here the DIRECT form is the reference twin and the
    * two-phase form is shipped). */
  private def customerRetentionExpand(master: DataFrame): DataFrame =
    master
      .groupBy(col("transaction_country").as("country"),
        dateStr(col("transaction_datetime")).as("date"))
      .agg(
        countDistinct(col("customer_id")).as("unique_customers"),
        countDistinct(when(col("income") > 0, col("customer_id")))
          .as("paying_customers"),
        countDistinct(when(col("income") === 0, col("customer_id")))
          .as("non_paying_customers"))

  /** [[Relational.productPerformance]]'s pre-r18 planner-default
    * two-exchange shape, kept as the identity pin's reference twin. */
  private def productPerformanceTwoExchange(master: DataFrame): DataFrame =
    productPerformanceAgg(
      master.groupBy(col("product_id"),
        col("transaction_country").as("country"),
        to_date(col("transaction_datetime")).as("_d")))

  test("performanceMetrics: two-phase distinct is bit-identical to Expand form") {
    val m = Relational.masterModel(spark, SparkSpec.Sf001)
    val a = Relational.performanceMetrics(m)
    val b = performanceMetricsTwoPhase(m)
    assert(a.count() > 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // Identity must survive nulls (null-skipping sums, per-column
    // non-null counts, per-row profit differences).
    val m2 = m.withColumn("income",
      when(pmod($"transaction_id", lit(97)) === 0, lit(null).cast("double"))
        .otherwise($"income"))
    val a2 = Relational.performanceMetrics(m2)
    val b2 = performanceMetricsTwoPhase(m2)
    assert(m2.where($"income".isNull).count() > 0)
    assert(a2.exceptAll(b2).isEmpty && b2.exceptAll(a2).isEmpty)
  }

  test("customerRetention: two-phase flags are bit-identical to the " +
      "Expand form") {
    val m = Relational.masterModel(spark, SparkSpec.Sf001)
    val a = customerRetentionExpand(m)
    val b = Relational.customerRetention(m)
    assert(a.count() > 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // Identity must survive nulls: a null income yields a null WHEN
    // condition in both forms (countDistinct skips the null projection;
    // max skips the null flag) — and zero incomes must land in
    // non_paying without leaking into paying.
    val m2 = m.withColumn("income",
      when(pmod($"transaction_id", lit(97)) === 0, lit(null).cast("double"))
        .when(pmod($"transaction_id", lit(89)) === 0, lit(0.0))
        .otherwise($"income"))
    assert(m2.where($"income".isNull).count() > 0)
    assert(m2.where($"income" === 0).count() > 0)
    val a2 = customerRetentionExpand(m2)
    val b2 = Relational.customerRetention(m2)
    assert(a2.exceptAll(b2).isEmpty && b2.exceptAll(a2).isEmpty)
  }

  test("campaign-blind master: dropping the cost join is row-identical " +
      "for the frame and both shipped consumers") {
    val full = Relational.masterModel(spark, SparkSpec.Sf001)
    val lite = Relational.masterModelCampaignBlind(spark, SparkSpec.Sf001)
    // Frame identity: the cost dimension is an aggregate OF THE SAME txn
    // frame on a unique key, so the inner join only ATTACHES columns —
    // full minus the campaign columns must be the lite frame exactly.
    val fullMinus = full.drop("campaign_id", "campaign_cost")
    assert(fullMinus.columns.toSeq == lite.columns.toSeq)
    assert(fullMinus.exceptAll(lite).isEmpty &&
      lite.exceptAll(fullMinus).isEmpty)
    // Consumer identity for the two campaign-blind shipped rows.
    val tpF = Relational.topProductsPerCountry(full)
    val tpL = Relational.topProductsPerCountry(lite)
    assert(tpF.count() > 0)
    assert(tpF.exceptAll(tpL).isEmpty && tpL.exceptAll(tpF).isEmpty)
    val crF = Relational.customerRetention(full)
    val crL = Relational.customerRetention(lite)
    assert(crF.exceptAll(crL).isEmpty && crL.exceptAll(crF).isEmpty)
  }

  test("product performance: one-exchange repartitioned distinct matches " +
      "the planner-default two-exchange shape") {
    val m = Relational.masterModel(spark, SparkSpec.Sf001)
    val one = Relational.productPerformance(m)
    val two = productPerformanceTwoExchange(m)
    assert(one.count() > 0)
    assert(one.columns.toSeq == two.columns.toSeq)
    assert(one.exceptAll(two).isEmpty && two.exceptAll(one).isEmpty)
    // The shipped form's aggregate path must contain NO exchange keyed
    // on the distinct key — the explicit group-key repartition
    // satisfies both required distributions of the single-distinct
    // aggregate, so the planner-default's 4-key exchange (the second
    // fact-grain shuffle) must be gone. Count on the FINAL adaptive
    // plan (PlanAuditSpec pattern).
    def tidExchanges(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
      "Exchange hashpartitioning\\([^)]*transaction_id".r
        .findAllIn(plan).size
    }
    assert(tidExchanges(two) == 1)
    assert(tidExchanges(one) == 0)
  }

  test("rollup: grouping-sets formulation matches direct two-branch union") {
    val got = Relational.rollup(spark, sf0001)
    // Direct (reference-shaped) formulation: two separate aggregates.
    val txn = Relational.transactions(spark, sf0001)
      .withColumn("date", substring($"transaction_datetime".cast("string"), 1, 10))
    val tranxAgg = txn.groupBy($"transaction_country".as("country"), $"date")
      .agg(Relational.rsum2($"income").as("income"),
        count($"transaction_id").as("transaction_count"),
        lit(0.0).as("cost"), lit(0L).as("campaign_count"))
      .select("country", "income", "transaction_count", "cost",
        "campaign_count", "date")
    val campAgg = Relational.campaigns(spark, sf0001)
      .withColumn("date", substring($"campaign_month".cast("string"), 1, 10))
      .groupBy($"campaign_country".as("country"), $"date")
      .agg(lit(0.0).as("income"), lit(0L).as("transaction_count"),
        Relational.rsum3($"campaign_cost").as("cost"),
        count($"campaign_id").as("campaign_count"))
      .select("country", "income", "transaction_count", "cost",
        "campaign_count", "date")
    val expect = tranxAgg.union(campAgg)
      .groupBy($"country", $"date")
      .agg(round(sum($"income"), 2).as("income"),
        sum($"transaction_count").as("transaction_count"),
        round(sum($"cost"), 3).as("cost"),
        sum($"campaign_count").as("campaign_count"))
      .select($"country", $"transaction_count", $"income", $"cost",
        round($"income" - $"cost", 3).as("revenue"), $"campaign_count", $"date")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }
}
