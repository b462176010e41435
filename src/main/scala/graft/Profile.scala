package graft
/** Dev profiling scratchpad (not part of the driver contract).
  *
  * Same-JVM A/B harness: box drift between runs makes cross-run
  * comparison of single rows uninterpretable (PLANS.md r16 ch.1), so
  * every optimization candidate is measured as back-to-back arms inside
  * ONE session. Bench protocol envs apply (SPARK_GRAFT_CPUS, TQ_SF).
  *
  * Usage: runMain graft.Profile [experiment] [reps]
  *   retention — r17 ch.1/2 arms of record (customer-retention
  *               two-phase vs Expand; source-authority one-job loop vs
  *               the probed/checkpointed replica)
  *   datekey   — r17 continuation (SHIPPED after this A/B won −9..13%
  *               at sf0.1): business group keys on the 4-byte DATE with
  *               the string format applied AFTER the final aggregate
  *               (now the shipped form), vs the pre-r17c
  *               group-on-string twin kept here (guide §2.3 narrower
  *               types through the exchange)
  *   masterpin — r18 (VERDICT r17 #1): the ad-hoc master frame
  *               re-plans the orders⨝customer⨝nation subtree twice
  *               (campaignCosts agg input + fact side); arm B pins the
  *               shared txn subtree with ONE localCheckpoint so both
  *               consumers read the materialized frame (the E1
  *               persisted-frame discipline applied in-query)
  *   authority — r18 (VERDICT r17 #4): q_source_authority served
  *               from the standing overlap table staged once per
  *               corpus version, vs the r17 form that re-aggregates the
  *               overlap from the pair table on every run
  *   masterlite — r18 (VERDICT r17 #5): campaign-blind business rows
  *               (topProducts, customerRetention) over the full master
  *               (pays the campaignCosts aggregate's second
  *               orders⨝customer⨝nation pass for columns they never
  *               read) vs Relational.masterModelCampaignBlind (the
  *               cost join dropped — row-identical unconditionally,
  *               see its scaladoc)
  *   prodperf  — r18: productPerformance single-distinct aggregate —
  *               the shipped one-exchange form (explicit repartition
  *               on the three group keys satisfies both required
  *               distributions; guide §2.4) vs the planner-default
  *               two-exchange shape, both fact-grain on this row
  *   minband   — r18: simhash64 banded pair fold — the shipped
  *               canonical-band filter (keep each pair only in its
  *               first matching table: no distinct exchange, one
  *               Hamming verify per pair) vs the pre-r18 distinct twin
  *               (Dedup.simhash64NeighborsDistinct), quarter AND wide
  *   rollup    — r17 continuation (NEGATIVE RESULT, not shipped):
  *               E3 rollup with the fact aggregated once at day grain
  *               and the month grain re-aggregated from day partials,
  *               vs the shipped GROUPING SETS Expand — a wash at both
  *               SFs (the Expand is absorbed by map-side combine;
  *               OPTIMIZATION_r17.md ch.12)
  *   simhash   — r17 continuation (NEGATIVE RESULT, not shipped):
  *               md5-digit vote extraction via ascii arithmetic
  *               projected once per row, vs the shipped 64×
  *               conv(substring(..),16,10) form (guide §4) — a wash at
  *               sf0.1 (0.83 vs 0.83 s) AND at ×100 (11.33 vs 11.01 s
  *               interleaved mins): the row is md5/shuffle/agg-bound,
  *               not digit-decode-bound
  */
object Profile {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("TQ_SF", "/root/testdata/sf0.1")
    val experiment = args.headOption.getOrElse("retention")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    def time(name: String)(f: => DataFrame): Unit = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-26s min ${ts.min}%.2f s  reps " +
        ts.map(t => f"$t%.2f").mkString("/"))
    }
    import graft.operators.{Relational, Dedup, Graph}

    experiment match {
      case "datekey" => dateKeyArms(spark, d, time)
      case "simhash" => simhashArms(spark, d, time)
      case "rollup" => rollupArms(spark, d, time)
      case "masterpin" => masterPinArms(spark, d, time)
      case "masterlite" => masterLiteArms(spark, d, time)
      case "minband" => minBandArms(spark, d, time)
      case "prodperf" => prodPerfArms(spark, d, time)
      case "authority" => authorityServeArms(spark, d, time)
      case _ => retentionAuthorityArms(spark, d, time)
    }
    spark.stop()
  }

  // ------------------------------------------------------------------
  // Experiment: authority served from the standing overlap matrix
  // ------------------------------------------------------------------

  /** r18 (VERDICT r17 #4) A/B: q_source_authority's r17 form rebuilt
    * the overlap rollup (two doc→source joins + source-pair aggregate)
    * from the standing PAIR table on every run; the shipped form reads
    * a standing OVERLAP table staged once per corpus version. Both
    * arms run over the same one-off staged artifacts in this JVM. */
  private def authorityServeArms(spark: org.apache.spark.sql.SparkSession,
                                 d: String,
                                 time: String => (=> DataFrame) => Unit)
      : Unit = {
    import graft.operators.{Dedup, Graph}
    val root = java.nio.file.Files.createTempDirectory("graft_prof_auth")
      .toString
    Dedup.buildPairTable(spark, d, s"$root/pairs")
    val pairFrame = Dedup.pairTable(spark, s"$root/pairs")
    Dedup.sourceOverlapFrom(spark, d, pairFrame)
      .write.mode("overwrite").parquet(s"$root/overlap")
    def oldForm = Graph.sourceAuthority(spark, d, pairFrame)
    def newForm = Graph.sourceAuthorityFromOverlap(spark, d,
      spark.read.parquet(s"$root/overlap"))
    val diff = oldForm.exceptAll(newForm).count() +
      newForm.exceptAll(oldForm).count()
    println(s"authority old-vs-served diff rows: $diff (must be 0)")
    time("warmup")(newForm)
    time("authority served (r18)")(newForm)
    time("authority pair-form (r17)")(oldForm)
    time("authority served2")(newForm)
    time("authority pair-form2")(oldForm)
  }

  // ------------------------------------------------------------------
  // Experiment: campaign-blind rows over the cost-join-free master
  // ------------------------------------------------------------------

  private def masterLiteArms(spark: org.apache.spark.sql.SparkSession,
                             d: String,
                             time: String => (=> DataFrame) => Unit): Unit = {
    import graft.operators.Relational
    def full = Relational.masterModel(spark, d)
    def lite = Relational.masterModelCampaignBlind(spark, d)
    def tpF = Relational.topProductsPerCountry(full)
    def tpL = Relational.topProductsPerCountry(lite)
    def crF = Relational.customerRetention(full)
    def crL = Relational.customerRetention(lite)
    val diff = tpF.exceptAll(tpL).count() + tpL.exceptAll(tpF).count() +
      crF.exceptAll(crL).count() + crL.exceptAll(crF).count()
    println(s"masterlite identity diff rows: $diff (must be 0)")
    time("warmup")(tpL)
    time("topProducts full")(tpF)
    time("topProducts lite")(tpL)
    time("topProducts full2")(tpF)
    time("topProducts lite2")(tpL)
    time("retention full")(crF)
    time("retention lite")(crL)
    time("retention full2")(crF)
    time("retention lite2")(crL)
  }

  // ------------------------------------------------------------------
  // Experiment: productPerformance one-exchange distinct vs the
  // planner-default two-exchange shape
  // ------------------------------------------------------------------

  private def prodPerfArms(spark: org.apache.spark.sql.SparkSession,
                           d: String,
                           time: String => (=> DataFrame) => Unit): Unit = {
    import graft.operators.Relational
    def m = Relational.masterModel(spark, d)
    def one = Relational.productPerformance(m)
    def two = Relational.productPerformanceTwoExchange(m)
    val diff = one.exceptAll(two).count() + two.exceptAll(one).count()
    println(s"prodperf identity diff rows: $diff (must be 0)")
    time("warmup")(one)
    time("productPerf one-exchange (r18)")(one)
    time("productPerf two-exchange (old)")(two)
    time("productPerf one2")(one)
    time("productPerf two2")(two)
    time("productPerf one3")(one)
    time("productPerf two3")(two)
  }

  // ------------------------------------------------------------------
  // Experiment: simhash64 canonical-band pair fold vs distinct
  // ------------------------------------------------------------------

  private def minBandArms(spark: org.apache.spark.sql.SparkSession,
                          d: String,
                          time: String => (=> DataFrame) => Unit): Unit = {
    import graft.operators.Dedup
    def sig = Dedup.simhash64(spark, d)
    def qNew = Dedup.simhash64NeighborsOf(sig)._1
    def qOld = Dedup.simhash64NeighborsDistinct(sig, wide = false)
    def wNew = Dedup.simhash64WideNeighborsOf(sig)._1
    def wOld = Dedup.simhash64NeighborsDistinct(sig, wide = true)
    val diff = qNew.exceptAll(qOld).count() + qOld.exceptAll(qNew).count() +
      wNew.exceptAll(wOld).count() + wOld.exceptAll(wNew).count()
    println(s"minband identity diff rows: $diff (must be 0)")
    time("warmup")(qNew)
    time("quarter minband (r18)")(qNew)
    time("quarter distinct (old)")(qOld)
    time("quarter minband2")(qNew)
    time("quarter distinct2")(qOld)
    time("wide minband (r18)")(wNew)
    time("wide distinct (old)")(wOld)
    time("wide minband2")(wNew)
    time("wide distinct2")(wOld)
  }

  // ------------------------------------------------------------------
  // Experiment: pin the master frame's shared txn subtree
  // ------------------------------------------------------------------

  private def masterPinArms(spark: org.apache.spark.sql.SparkSession,
                            d: String,
                            time: String => (=> DataFrame) => Unit): Unit = {
    import graft.operators.Relational
    def adhoc = Relational.masterModel(spark, d)
    def pinned = Relational.masterModelFrom(
      Relational.transactions(spark, d).localCheckpoint(),
      graft.Tables.lineitem(spark, d), graft.Tables.part(spark, d))
    val diff = Relational.salesKpi(adhoc).exceptAll(Relational.salesKpi(pinned))
      .count() +
      Relational.salesKpi(pinned).exceptAll(Relational.salesKpi(adhoc)).count()
    println(s"salesKpi adhoc-vs-pinned diff rows: $diff (must be 0)")
    time("warmup")(Relational.salesKpi(adhoc))
    time("salesKpi adhoc")(Relational.salesKpi(adhoc))
    time("salesKpi pinned")(Relational.salesKpi(pinned))
    time("salesKpi adhoc2")(Relational.salesKpi(adhoc))
    time("salesKpi pinned2")(Relational.salesKpi(pinned))
    time("topProducts adhoc")(Relational.topProductsPerCountry(adhoc))
    time("topProducts pinned")(Relational.topProductsPerCountry(pinned))
    time("topProducts adhoc2")(Relational.topProductsPerCountry(adhoc))
    time("topProducts pinned2")(Relational.topProductsPerCountry(pinned))
    time("productPerf adhoc")(Relational.productPerformance(adhoc))
    time("productPerf pinned")(Relational.productPerformance(pinned))
    time("productPerf adhoc2")(Relational.productPerformance(adhoc))
    time("productPerf pinned2")(Relational.productPerformance(pinned))
  }

  // ------------------------------------------------------------------
  // Experiment: rollup without the GROUPING SETS Expand
  // ------------------------------------------------------------------

  /** E3 rollup with the fact stream aggregated ONCE at day grain and
    * the month grain re-aggregated from the day partials (bounded:
    * countries × days), instead of the GROUPING SETS Expand that emits
    * every fact row twice (once per grain) below the partial
    * aggregate. Exactness is the ReaggPropertySpec invariant: the true
    * month income is a multiple of 0.01, so round(sum(day partials), 2)
    * recovers it independent of summation order — the same 2-dp
    * argument the shipped form already relies on. Both union branches
    * consume the SAME day aggregate, so ReuseExchange computes the
    * fact-side subtree once. */
  private def rollupDayFirst(spark: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame = {
    import graft.operators.Relational
    val day = Relational.transactions(spark, dir)
      .groupBy(col("n_nationkey"), col("transaction_country"),
        col("transaction_datetime").as("_d"))
      .agg(sum(col("income")).as("inc_raw"),
        count(col("transaction_id")).as("txn_cnt"))
      .withColumn("dday", substring(col("_d").cast("string"), 1, 10))
    val dayRows = day.select(
      col("transaction_country").as("country"),
      round(col("inc_raw"), 2).as("income"),
      col("txn_cnt").as("transaction_count"),
      lit(0.0).as("cost"),
      lit(0L).as("campaign_count"),
      col("dday").as("date"))
    val monRows = day
      .groupBy(col("n_nationkey"), col("transaction_country"),
        concat(substring(col("dday"), 1, 7), lit("-01")).as("dmon"))
      .agg(round(sum(col("inc_raw")), 2).as("minc"))
      .select(
        col("transaction_country").as("country"),
        lit(0.0).as("income"),
        lit(0L).as("transaction_count"),
        round(col("minc") * lit(0.1).cast("double"), 3).as("cost"),
        lit(1L).as("campaign_count"),
        col("dmon").as("date"))
    dayRows.unionAll(monRows)
      .groupBy(col("country"), col("date"))
      .agg(
        round(sum(col("income")), 2).as("income"),
        sum(col("transaction_count")).as("transaction_count"),
        round(sum(col("cost")), 3).as("cost"),
        sum(col("campaign_count")).as("campaign_count"))
      .select(
        col("country"),
        col("transaction_count"),
        col("income"),
        col("cost"),
        round(col("income") - col("cost"), 3).as("revenue"),
        col("campaign_count"),
        col("date"))
  }

  private def rollupArms(spark: org.apache.spark.sql.SparkSession,
                         d: String,
                         time: String => (=> DataFrame) => Unit): Unit = {
    import graft.operators.Relational
    val a = Relational.rollup(spark, d)
    val b = rollupDayFirst(spark, d)
    val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    println(s"rollup identity diff rows: $diff (must be 0)")
    time("warmup")(Relational.rollup(spark, d))
    time("rollup shipped")(Relational.rollup(spark, d))
    time("rollup dayFirst")(rollupDayFirst(spark, d))
    time("rollup shipped2")(Relational.rollup(spark, d))
    time("rollup dayFirst2")(rollupDayFirst(spark, d))
  }

  // ------------------------------------------------------------------
  // Experiment: business group keys on DATE, format after the aggregate
  // ------------------------------------------------------------------

  /** The PRE-r17c string-keyed forms, kept as the A/B twins after the
    * date-keyed forms shipped in Relational (equal dates ⟺ equal
    * strings, so the grouping is identical; the shipped forms run the
    * format expression once per GROUP instead of once per master row
    * and shuffle a 4-byte date instead of a 10-char string). */
  private def salesKpiStrKey(master: DataFrame): DataFrame = {
    import graft.operators.Relational._
    master
      .groupBy(col("transaction_country").as("country"),
        dateStr(col("transaction_datetime")).as("date"))
      .agg(
        countDistinct(col("transaction_id")).as("transaction_count"),
        rsum2(col("income")).as("total_income"),
        ravg2(col("income")).as("average_income"),
        rsum3(col("income") - col("campaign_cost")).as("total_profit"))
  }

  private def retentionStrKey(master: DataFrame): DataFrame = {
    import graft.operators.Relational._
    master
      .groupBy(col("transaction_country").as("country"),
        dateStr(col("transaction_datetime")).as("date"),
        col("customer_id"))
      .agg(
        max(when(col("income") > 0, lit(1))).as("has_pay"),
        max(when(col("income") === 0, lit(1))).as("has_zero"))
      .groupBy(col("country"), col("date"))
      .agg(
        count(lit(1)).as("unique_customers"),
        count(col("has_pay")).as("paying_customers"),
        count(col("has_zero")).as("non_paying_customers"))
  }

  private def dateKeyArms(spark: org.apache.spark.sql.SparkSession,
                          d: String,
                          time: String => (=> DataFrame) => Unit): Unit = {
    import graft.operators.Relational
    def master = Relational.masterModel(spark, d)
    // Identity sanity inside the same session.
    val a = Relational.salesKpi(master)
    val b = salesKpiStrKey(master)
    val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    println(s"salesKpi identity diff rows: $diff (must be 0)")
    time("warmup")(Relational.salesKpi(master))
    time("salesKpi shipped=dateKey")(Relational.salesKpi(master))
    time("salesKpi strKey (old)")(salesKpiStrKey(master))
    time("salesKpi shipped2")(Relational.salesKpi(master))
    time("salesKpi strKey2")(salesKpiStrKey(master))
    time("retention shipped")(Relational.customerRetention(master))
    time("retention strKey (old)")(retentionStrKey(master))
    time("retention shipped2")(Relational.customerRetention(master))
    time("retention strKey2")(retentionStrKey(master))
  }

  // ------------------------------------------------------------------
  // Experiment: simhash64 vote extraction
  // ------------------------------------------------------------------

  /** simhash64 with the 32 md5 hex digits decoded ONCE per token row in
    * a projection below the aggregate (ascii arithmetic: '0'-'9' →
    * 48..57, 'a'-'f' → 97..102), votes as bit tests on the decoded
    * ints. Bit-identical to Dedup.simhash64's conv(substring) form:
    * digit k's vote is bit 3 (k < 32) / bit 2 (k ≥ 32) of the same hex
    * digit (k mod 32) of the same md5. */
  private def simhash64Ascii(spark: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame = {
    import graft.operators.{Spread, TextOps}
    val digitCols = (0 until 32).map { i =>
      val a = ascii(substring(col("m"), i + 1, 1))
      when(a >= 97, a - 87).otherwise(a - 48).as(s"d$i")
    }
    val voteCols = (0 until 64).map { k =>
      val bit = if (k < 32) col(s"d$k").bitwiseAND(lit(8))
                else col(s"d${k - 32}").bitwiseAND(lit(4))
      sum(when(bit > 0, lit(1)).otherwise(lit(-1))).as(s"v$k")
    }
    def quarter(j: Int): Column =
      (0 until 16).map(b =>
        when(col(s"v${16 * j + b}") > 0, lit(1 << b)).otherwise(lit(0)))
        .reduce(_ + _)
    Spread(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("m"))
      .select(col("doc_id") +: digitCols: _*)
      .groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id") +:
        (0 until 4).map(j => quarter(j).as(s"q$j")): _*)
  }

  private def simhashArms(spark: org.apache.spark.sql.SparkSession,
                          d: String,
                          time: String => (=> DataFrame) => Unit): Unit = {
    import graft.operators.Dedup
    val a = Dedup.simhash64(spark, d)
    val b = simhash64Ascii(spark, d)
    val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    println(s"simhash64 identity diff rows: $diff (must be 0)")
    time("warmup")(Dedup.simhash64(spark, d))
    time("simhash64 shipped")(Dedup.simhash64(spark, d))
    time("simhash64 ascii")(simhash64Ascii(spark, d))
    time("simhash64 shipped2")(Dedup.simhash64(spark, d))
    time("simhash64 ascii2")(simhash64Ascii(spark, d))
  }

  // ------------------------------------------------------------------
  // r17 ch.1/2 arms of record (unchanged)
  // ------------------------------------------------------------------

  private def retentionAuthorityArms(
      spark: org.apache.spark.sql.SparkSession, d: String,
      time: String => (=> DataFrame) => Unit): Unit = {
    import graft.operators.{Relational, Graph, Dedup}
    def master = Relational.masterModel(spark, d)
    time("warmup")(Relational.customerRetention(master))
    time("two_phase (shipped)")(Relational.customerRetention(master))
    time("expand (old form)")(Relational.customerRetentionExpand(master))
    // Same-JVM A/B of the source-authority forms: the shipped one-job
    // closed-form recurrence vs a verbatim replica of the r10–r16
    // per-iteration probed/checkpointed loop.
    val overlap = Dedup.sourceOverlap(spark, d).localCheckpoint()
    def nodesIn = graft.Tables.documents(spark, d).select(col("source"))
    def oldAuthority(): DataFrame = {
      val ov = overlap.where(col("source_a") =!= col("source_b"))
      val edges = ov.select(col("source_a").as("src"),
          col("source_b").as("dst"), col("n_dup_pairs").as("w"))
        .unionAll(ov.select(col("source_b").as("src"),
          col("source_a").as("dst"), col("n_dup_pairs").as("w")))
      val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      val shares = edges.join(outw, "src")
        .select(col("src"), col("dst"),
          expr(s"(w * ${Graph.ShareScale}) DIV ow").as("share"))
        .localCheckpoint()
      val srcs = shares.select(col("src")).distinct()
      val ns = nodesIn.select(col("source")).distinct()
        .join(srcs, col("source") === col("src"), "left")
        .select(col("source"), col("src").isNull.as("dangling"))
        .localCheckpoint()
      val n = ns.count()
      val teleport =
        (Graph.Scale * (Graph.DampDen - Graph.DampNum) / Graph.DampDen) / n
      var ranks = ns.withColumn("r", lit(Graph.Scale / n)).localCheckpoint()
      for (_ <- 1 to Graph.Iterations) {
        val dang = ranks.where(col("dangling"))
          .agg(coalesce(sum(expr(
            s"(r * ${Graph.DampNum}) DIV ${Graph.DampDen}")), lit(0L)))
          .head().getLong(0)
        val inMass = shares
          .join(ranks.select(col("source").as("src"), col("r")), "src")
          .select(col("dst"),
            expr(s"(((r * ${Graph.DampNum}) DIV ${Graph.DampDen}) * share)" +
              s" DIV ${Graph.ShareScale}").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("m"))
        ranks = ns.join(inMass, ns("source") === inMass("dst"), "left")
          .select(col("source"), col("dangling"),
            (lit(teleport) + coalesce(col("m"), lit(0L)) + lit(dang / n))
              .as("r"))
          .localCheckpoint()
      }
      ranks.select(col("source"), col("r").as("rank_micro"),
        (col("r").cast("double") / lit(Graph.Scale.toDouble))
          .as("authority"))
    }
    time("authority shipped")(Graph.authorityFrom(nodesIn, overlap))
    time("authority old loop")(oldAuthority())
    time("authority shipped2")(Graph.authorityFrom(nodesIn, overlap))
    time("authority old loop2")(oldAuthority())
  }
}
