package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Ranking

/** [[Ranking.topK]] against a plain-Scala sort-and-take reference on
  * small in-memory frames: a hot group spread over many input
  * partitions (the map-side group limit must not drop a winner), exact
  * score ties broken by id, NaN and null scores (Spark's `desc` puts
  * NaN first and null last), groups smaller than k, a null group key,
  * and the partition-less global top-k. */
class RankingSpec extends SparkSpec {
  import spark.implicits._

  private type Row3 = (Option[String], Option[Double], Long)

  private val rows: Seq[Row3] =
    // hot: 200 rows with 11 distinct scores (many exact ties), two NaN,
    // two null
    (0L until 200L).map(i => (Some("hot"), Some((i * 37 % 11).toDouble), i)) ++
      Seq((Some("hot"), Some(Double.NaN), 200L),
        (Some("hot"), Some(Double.NaN), 201L),
        (Some("hot"), None, 202L), (Some("hot"), None, 203L)) ++
      // small: fewer rows than k, one each of null, number and NaN
      Seq((Some("small"), None, 300L), (Some("small"), Some(1.0), 301L),
        (Some("small"), Some(Double.NaN), 302L)) ++
      // ties: ten identical scores, inserted in descending id order
      (409L to 400L by -1L).map(i => (Some("ties"), Some(2.0), i)) ++
      Seq((Some("one"), None, 500L),
        (None, Some(3.0), 600L), (None, Some(4.0), 601L))

  private def frame: DataFrame =
    rows.toDF("g", "score", "id").repartition(8)

  /** Spark's double ordering: NaN above every number, 0.0 == -0.0. */
  private def cmpScore(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** (score DESC NULLS LAST, id ASC). */
  private val refOrder: Ordering[Row3] = (x: Row3, y: Row3) =>
    (x._2, y._2) match {
      case (Some(a), Some(b)) if cmpScore(a, b) != 0 => cmpScore(b, a)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case _ => java.lang.Long.compare(x._3, y._3)
    }

  /** Sort-and-take per group: (group, id, rank). */
  private def reference(grouped: Boolean, k: Int)
      : Set[(Option[String], Long, Int)] =
    rows.groupBy(r => if (grouped) r._1 else None).values.flatMap { g =>
      g.sorted(refOrder).take(k).zipWithIndex
        .map { case (r, i) => (r._1, r._3, i + 1) }
    }.toSet

  private def topK(df: DataFrame, grouped: Boolean, k: Int): DataFrame =
    Ranking.topK(df, if (grouped) Seq(col("g")) else Seq.empty,
      Seq(col("score").desc, col("id").asc), k)

  private def collected(out: DataFrame): Set[(Option[String], Long, Int)] =
    out.select($"g", $"id", $"rank").as[(Option[String], Long, Int)]
      .collect().toSet

  test("the hot group is spread over at least 4 input partitions") {
    val parts = frame.where($"g" === "hot")
      .select(spark_partition_id()).distinct().count()
    assert(parts >= 4, s"hot group spans only $parts partitions")
  }

  test("grouped topK equals sort-and-take: hot group, ties, NaN, null, " +
      "groups smaller than k") {
    for (k <- Seq(1, 3, 5, 12)) {
      val got = collected(topK(frame, grouped = true, k))
      val want = reference(grouped = true, k)
      assert(got == want, s"k=$k: extra ${got -- want}, missing ${want -- got}")
    }
    // Spot checks on the reference itself: NaN first, null last, ties
    // by id.
    val ref = reference(grouped = true, 5)
    assert(ref.filter(_._1.contains("hot")).map(r => r._2 -> r._3)
      .toSeq.sortBy(_._2).take(2) == Seq(200L -> 1, 201L -> 2))
    assert(ref.filter(_._1.contains("small")).map(r => r._2 -> r._3) ==
      Set(302L -> 1, 301L -> 2, 300L -> 3))
    assert(ref.filter(_._1.contains("ties")).map(r => r._2 -> r._3) ==
      (400L to 404L).zip(1 to 5).toSet)
  }

  test("empty part is a global topK") {
    for (k <- Seq(1, 7, 40)) {
      val got = collected(topK(frame, grouped = false, k))
      assert(got == reference(grouped = false, k), s"k=$k")
    }
  }

  test("rank is exactly 1..min(k, n) in every group; schema is input + rank") {
    val k = 5
    val out = topK(frame, grouped = true, k)
    assert(out.columns.toSeq == Seq("g", "score", "id", "rank"))
    val sizes = rows.groupBy(_._1).map { case (g, rs) => g -> rs.size }
    val ranks = out.select($"g", $"rank").as[(Option[String], Int)]
      .collect().groupBy(_._1)
    assert(ranks.keySet == sizes.keySet)
    ranks.foreach { case (g, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to math.min(k, sizes(g))),
        s"group $g")
    }
  }

  test("an input that already has a rank column fails the require") {
    val e = intercept[IllegalArgumentException] {
      topK(frame.withColumn("rank", lit(1)), grouped = true, 3)
    }
    assert(e.getMessage.contains("rank"))
  }
}
