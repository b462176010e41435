package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture table readers (see TESTDATA.md, FIXTURES.md).
  *
  * Every table is a `<dir>/<name>.parquet` directory — the fixture
  * layout and the layer layout `Sinks` writes — where Catalyst provides
  * column pruning and predicate pushdown for free: downstream operators
  * should see `PushedFilters`/`ReadSchema` reach these scans in
  * `.explain`.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  /** Fallback read schema for events.parquet fixtures whose `ts` is parquet
    * TIMESTAMP(NANOS), which Spark has no native type for. Supplying
    * LongType makes the vectorized reader hand back the raw
    * nanosecond longs without the session-wide
    * `spark.sql.legacy.parquet.nanosAsLong` flag (ADVICE r2: the flag
    * leaked into every later parquet read in the session). */
  private val eventsRawSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** Fixture-affinity guard (VERDICT r7): a silent fixture-format change
    * walked 12 queries into 1970 unnoticed in round 7. Run once per path
    * per JVM; a scalar max(year(ts)) probe over the single pruned column.
    */
  private val eventsSpanChecked =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def requireSaneEventSpan(df: DataFrame, path: String): Unit =
    eventsSpanChecked.computeIfAbsent(path, _ => {
      import org.apache.spark.sql.functions.{col, max, year}
      val row = df.agg(max(year(col("ts")))).head()
      if (!row.isNullAt(0)) {
        val maxYear = row.getInt(0)
        require(maxYear >= 2000 && maxYear <= 2100,
          s"events fixture at $path decodes to an implausible time span " +
            s"(max year = $maxYear); the fixture's on-disk ts encoding " +
            "likely changed — update Tables.events to match.")
      }
      java.lang.Boolean.TRUE
    })

  /** Reads `events.parquet` with whatever `ts` encoding the fixture ships:
    *   - native parquet TIMESTAMP(MICROS/MILLIS) → plain scan, no rewrite;
    *   - legacy TIMESTAMP(NANOS) (Spark refuses to infer it) or raw int64
    *     nanos → forced-LongType read + div-1000 shim to micros.
    * Either way the decoded span is sanity-checked once per path so a
    * future fixture change fails fast instead of silently wrong.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val path = s"$d/events.parquet"
    val inferred: Option[DataFrame] =
      try Some(s.read.parquet(path))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    def rawNanosRead: DataFrame =
      s.read.schema(eventsRawSchema).parquet(path)
        .withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
    val df = inferred match {
      case None =>
        // Spark refuses to infer the schema at all — the legacy parquet
        // TIMESTAMP(NANOS) fixture; force LongType and shim to micros.
        rawNanosRead
      case Some(inf) =>
        // find(), not schema("ts") (ADVICE r8): a fixture missing the
        // column entirely must hit the descriptive error below, not a
        // bare IllegalArgumentException from StructType.apply — and must
        // NOT fall through to the forced-schema read, which would decode
        // the absent column as all-NULL and sail past the span guard.
        inf.schema.find(_.name == "ts").map(_.dataType) match {
          case Some(TimestampType) => inf
          case Some(TimestampNTZType) =>
            // timestamp[us] with no tz: wall-clock values. The cast below
            // is only an identity mapping when the session tz is UTC —
            // enforce that HERE, where it is relied on (ADVICE r8): a new
            // entrypoint that forgot to set UTC would shift every event by
            // hours, below the year-granularity span guard's threshold.
            val tz = s.conf.get("spark.sql.session.timeZone")
            require(tz == "UTC",
              s"Tables.events requires spark.sql.session.timeZone=UTC to " +
                s"read TIMESTAMP_NTZ fixtures losslessly (session has " +
                s"'$tz'); build the session with graft.Session.local().")
            inf.withColumn("ts",
              org.apache.spark.sql.functions.col("ts").cast(TimestampType))
          case Some(LongType) => rawNanosRead
          case Some(other) =>
            throw new IllegalStateException(
              s"events fixture at $path has unsupported ts type $other")
          case None =>
            throw new IllegalStateException(
              s"events fixture at $path has no ts column — the fixture " +
                "schema changed; update Tables.events to match.")
        }
    }
    requireSaneEventSpan(df, path)
    df
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
