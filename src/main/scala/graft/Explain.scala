package graft

/** Plan-audit tool: prints the formatted physical plan of one query (or a
  * scan/exchange summary of all) so partition/pushdown/broadcast decisions
  * can be reviewed per round. Usage:
  *   runMain graft.Explain <sfDir> [queryName]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // r17: every name after the sfDir is dumped (one JVM for a batch of
    // before/after plan artifacts instead of one sbt launch per query).
    val which = if (args.length > 1) Some(args.drop(1).toSet) else None
    val spark = Session.local()
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => which.forall(_.contains(q._1)))
    // EXPLAIN_FINAL=1 (r18): for named queries, EXECUTE first and print
    // the POST-execution adaptive plan — AQE performs broadcast/shuffle
    // stage reuse at runtime via its stage cache, so ReusedExchange
    // nodes only exist in the final plan, never in the pre-execution
    // explain("formatted") output (the ch.6 certificate evidence).
    val wantFinal = sys.env.get("EXPLAIN_FINAL").contains("1")
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      if (which.isDefined && wantFinal) {
        df.queryExecution.toRdd.foreach(_ => ())
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        val finalPlan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan.toString
          case p => p.toString
        }
        println(s"===== $name (final adaptive plan) =====")
        println(finalPlan)
      } else if (which.isDefined) {
        println(s"===== $name =====")
        df.explain("formatted")
      } else {
        // Force THIS Dataset's QueryExecution so AQE finalizes join
        // strategies (count() would execute a separate derived plan and
        // leave this one at its initial, pre-AQE state). toRdd executes
        // distributed without collecting results to the driver — a
        // SELECT-* query at a big SF must not OOM the audit tool.
        df.queryExecution.toRdd.foreach(_ => ())
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        val finalPlan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan.toString
          case p => p.toString
        }
        def n(re: String) = re.r.findAllIn(finalPlan).size
        println(f"$name%-28s scans=${n("Scan parquet")}%2d " +
          f"shuffles=${n("Exchange (hash|range)")}%2d " +
          f"bcast=${n("BroadcastExchange")}%2d " +
          f"reused=${n("ReusedExchange|ReusedShuffle")}%2d " +
          f"codegen=${n("\\*\\(\\d+\\)")}%3d " +
          f"pushed=${n("PushedFilters: \\[[^\\]]")}%2d")
      }
    }
    spark.stop()
  }
}
