package graft

import org.apache.spark.sql.functions._

/** SQL facade: the registered views answer plain SQL with the same
  * results as the DataFrame API. */
class GraftFacadeSpec extends SparkSpec {

  test("registered views answer SQL equal to the DataFrame API") {
    Graft.registerViews(spark, sf0001)
    val viaSql = spark.sql(
      """SELECT transaction_country AS country,
        |       ROUND(SUM(income), 2) AS income
        |FROM m_data_model
        |GROUP BY 1""".stripMargin)
    val viaApi = graft.operators.Relational.masterModel(spark, sf0001)
      .groupBy(col("transaction_country").as("country"))
      .agg(round(sum(col("income")), 2).as("income"))
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
    // business view answers directly
    assert(spark.sql("SELECT * FROM b_sales_kpi").count() > 0)
    // raw + LLM tables are addressable
    assert(spark.sql(
      "SELECT count(*) FROM r_transactions").head().getLong(0) > 0)
    assert(spark.sql(
      "SELECT count(*) FROM documents WHERE lang = 'en'").head().getLong(0) > 0)
  }
}
