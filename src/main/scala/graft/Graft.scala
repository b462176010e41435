package graft

import org.apache.spark.sql.SparkSession
import graft.operators.Relational

/** Public facade: registers the whole medallion surface as temp views so
  * a reference user can keep writing plain SQL (`spark.sql(...)`)
  * against the same table names the BigQuery layers exposed —
  * `r_transactions`/`r_campaigns` (raw shapes), `m_data_model` (master),
  * and the five `b_*` business rollups — plus the LLM-pipeline corpus
  * tables (`documents`, `embeddings`, `events`).
  *
  * Views are lazy logical plans: registering costs nothing; Catalyst
  * plans each SQL query end-to-end through the view definitions (the
  * same plans the DataFrame API produces, including pushdown into the
  * parquet scans).
  */
object Graft {

  def registerViews(spark: SparkSession, dir: String): Unit = {
    // Fixture tables under their fixture names.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.read(spark, dir, t).createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events")

    // Reference layer names (SURVEY §1.1).
    Relational.transactions(spark, dir)
      .createOrReplaceTempView("r_transactions")
    Relational.campaigns(spark, dir)
      .createOrReplaceTempView("r_campaigns")
    val master = Relational.masterModel(spark, dir)
    master.createOrReplaceTempView("m_data_model")
    Relational.performanceMetrics(master)
      .createOrReplaceTempView("b_performance_metrics")
    Relational.productPerformance(master)
      .createOrReplaceTempView("b_product_performance")
    Relational.profitabilityKpi(master)
      .createOrReplaceTempView("b_profitability_kpi")
    Relational.salesKpi(master)
      .createOrReplaceTempView("b_sales_kpi")
    Relational.customerRetention(master)
      .createOrReplaceTempView("b_customer_retention")
  }
}
