package graft
import org.apache.spark.sql.SparkSession

/** The one session every main (Bench, Verify, Explain, TimeQ,
  * tools.MintSf) runs on:
  *  - master `local[SPARK_GRAFT_CPUS]` (default 4), with the shuffle
  *    partitions equal to that count;
  *  - `spark.sql.session.timeZone=UTC` — [[Tables.events]] reads the
  *    TIMESTAMP_NTZ fixtures without loss only under UTC, and fails fast
  *    otherwise;
  *  - UI off, log level WARN.
  * Specs use SparkSpec's shared session instead. */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
