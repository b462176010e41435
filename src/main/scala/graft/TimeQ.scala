package graft
object TimeQ {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    for (q <- args) {
      val t0 = System.nanoTime()
      // Construction INSIDE the window (matching Bench): queries that
      // train driver-side during plan build (GD epochs, codebooks)
      // must not have that cost timed away.
      val df = SparkEntry.queries(q)(spark, sys.env.getOrElse("TQ_SF", "/root/testdata/sf0.01"))
      val construct = (System.nanoTime() - t0) / 1e9
      // Noop-sink write, matching Bench's honest evaluation: count()
      // would let ColumnPruning delete the computed columns being timed.
      // The row count piggybacks on the SAME forced evaluation via an
      // Observation — no second execution of the pipeline.
      val obs = new org.apache.spark.sql.Observation(s"rows_$q")
      df.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
        .write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"$q: $secs%.2f s (construct $construct%.2f s), ${obs.get("n")} rows")
    }
    spark.stop()
  }
}
