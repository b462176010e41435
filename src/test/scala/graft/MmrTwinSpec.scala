package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.DotProduct
import graft.operators.Similarity

/** Differential guard for [[Similarity.mmrDiversify]]'s one-plan greedy
  * fold: it must select exactly what the K-round windowed form selects
  * (one q_id-keyed join + row_number argmax + eager pin per round), on
  * the fixture and on crafted corpora that hit the fold's edge cases —
  * pools smaller than MmrKeep, exact score ties, a zero-norm vector. */
class MmrTwinSpec extends SparkSpec {
  import spark.implicits._

  /** The K-round windowed MMR: pick the (score desc, vec_id asc) argmax
    * per q_id, pin it, drop it from the pool, raise the penalties. */
  private def windowedMmr(spark: SparkSession, dir: String): DataFrame = {
    val dot = (a: String, b: String) => DotProduct.of(col(a), col(b))
    val score = lit(0.7) * col("rel") - lit(0.3) * col("pen")
    var cand = Similarity.topkCosine(spark, dir, k = Similarity.MmrPool)
      .select(col("q_id"), col("vec_id"), col("cosine").as("rel"))
      .join(Similarity.normalizedCorpus(spark, dir)
        .select(col("vec_id"), col("v"), col("nv")), "vec_id")
      .select(col("q_id"), col("vec_id"), col("rel"), col("v"), col("nv"))
      .withColumn("pen", lit(0.0))
      .localCheckpoint()
    val picks = (1 to Similarity.MmrKeep).map { t =>
      val w = Window.partitionBy(col("q_id"))
        .orderBy(score.desc, col("vec_id").asc)
      val sel = cand.withColumn("score", score)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), col("score"),
          col("v").as("sv"), col("nv").as("snv"))
        .localCheckpoint()
      cand = cand
        .join(sel.select(col("q_id"), col("vec_id").as("sel_id"),
          col("sv"), col("snv")), "q_id")
        .where(col("vec_id") =!= col("sel_id"))
        .select(col("q_id"), col("vec_id"), col("rel"), col("v"), col("nv"),
          greatest(col("pen"), dot("v", "sv") / (col("nv") * col("snv")))
            .as("pen"))
        .localCheckpoint()
      sel.select(col("q_id"), col("vec_id"), lit(t).as("mmr_rank"),
        col("score"))
    }
    picks.reduce(_ unionAll _)
  }

  /** Writes `vecs` (vec_id → 64-dim embedding) as an embeddings fixture. */
  private def corpusDir(name: String, vecs: Seq[(Long, Seq[Float])]): String = {
    val dir = tmpDir(s"mmr_$name")
    vecs.map { case (id, v) => (id, v, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def vecOf(parts: (Int, Float)*): Seq[Float] =
    parts.foldLeft(Seq.fill(Similarity.Dim)(0f)) { case (v, (i, x)) =>
      v.updated(i, x)
    }

  /** Asserts the fold equals the windowed twin as a multiset, and that
    * no pick is null. Returns the fold's rows. */
  private def assertMatchesTwin(dir: String, session: SparkSession = spark)
      : Array[(Long, Long, Int, Double)] = {
    val got = Similarity.mmrDiversify(session, dir).cache()
    try {
      val want = windowedMmr(session, dir)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"fold diverged from the windowed twin:\n got=" +
          got.collect().mkString(",") + s"\nwant=" +
          want.collect().mkString(","))
      assert(got.where(col("vec_id").isNull || col("score").isNull).isEmpty,
        "a null pick leaked out of the fold")
      got.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    } finally got.unpersist()
  }

  test("fold == windowed twin on the fixture") {
    val rows = assertMatchesTwin(sf0001)
    assert(rows.length == Similarity.NumQueries * Similarity.MmrKeep)
  }

  test("fold == windowed twin when every pool is smaller than MmrKeep") {
    val dir = corpusDir("small", (0 until 4).map(i =>
      (i.toLong, vecOf(0 -> 1f, (i + 1) -> (i + 1).toFloat))))
    val rows = assertMatchesTwin(dir)
    // Each of the 4 queries has a 3-vector pool: 3 picks, ranks 1..3.
    assert(rows.groupBy(_._1).values.forall(r =>
      r.map(_._3).sorted.toSeq == Seq(1, 2, 3)))
    assert(rows.length == 4 * 3)
  }

  test("fold == windowed twin on exact score ties (vec_id breaks them)") {
    // Queries 0..9 lie on four axes; 10..21 are exact copies of one
    // direction, so every query's pool holds byte-equal rel AND pen
    // values and each round's argmax is a pure vec_id tiebreak.
    val shared = vecOf(0 -> 1f, 1 -> 1f, 2 -> 1f, 3 -> 1f)
    val dir = corpusDir("ties",
      (0 until 10).map(i => (i.toLong, vecOf((i % 4) -> (1f + i)))) ++
        (10 until 22).map(i => (i.toLong, shared)))
    val rows = assertMatchesTwin(dir)
    val q9 = rows.filter(_._1 == 9L).sortBy(_._3).map(_._2).toSeq
    assert(q9 == q9.sorted && q9.distinct.length == q9.length,
      s"tied picks must come out in vec_id order: $q9")
  }

  test("all-zero vector: both forms fail fast under ANSI, agree without it") {
    // Vectors 0..6 are queries; the zero vector (id 10) sits in every
    // pool. Its cosine divides by a zero norm.
    val dir = corpusDir("zero",
      (0 until 7).map(i => (i.toLong, vecOf(0 -> 1f, (i + 1) -> (i + 1f)))) :+
        (10L, Seq.fill(Similarity.Dim)(0f)))
    Seq[SparkSession => DataFrame](
      s => Similarity.mmrDiversify(s, dir), s => windowedMmr(s, dir))
      .foreach { form =>
        // The twin fails inside its eager pin, wrapped in a job failure.
        val e = intercept[Exception](form(spark).collect())
        val cause = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).collectFirst {
            case a: SparkThrowable => a.getCondition
          }
        assert(cause.contains("DIVIDE_BY_ZERO"), s"unexpected failure: $e")
      }
    // Legacy arithmetic: the zero vector's cosine is NULL, which ranks
    // last in both the window and the struct argmax — never picked.
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.ansi.enabled", "false")
    val rows = assertMatchesTwin(dir, legacy)
    assert(rows.length == 7 * Similarity.MmrKeep)
    assert(!rows.exists(_._2 == 10L), "a NULL-relevance candidate was picked")
  }
}
