package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Grouped top-k, shared by every operator that keeps k rows per group
  * (top products, cosine top-k, exact-k sampling, term and merge
  * vocabularies): `row_number() <= k` over (part, ord), emitted as
  * `rank` (1-based, dense by construction). Spark plans the grouped
  * form as a partial WindowGroupLimit on the map side (each task keeps
  * at most k rows per group), one exchange, then the final limit — no
  * task ever sorts a whole group's candidate list, skewed groups
  * included. With an empty `part` it plans as TakeOrderedAndProject
  * (per-partition k-row heaps merged on the driver, no exchange). The
  * map-side cut holds only while k ≤
  * spark.sql.optimizer.windowGroupLimitThreshold (default 1000). The
  * ordering must be total (break ties on a unique column) or ranks are
  * nondeterministic. */
object Ranking {
  def topK(df: DataFrame, part: Seq[Column], ord: Seq[Column],
           k: Int): DataFrame = {
    require(!df.columns.contains("rank"),
      "topK emits 'rank' — rename the input's 'rank' column first")
    df.withColumn("rank",
        row_number().over(Window.partitionBy(part: _*).orderBy(ord: _*)))
      .filter(col("rank") <= k)
  }

  /** Standalone global ORDER BY … LIMIT (VERDICT r5 ask #5) — the one
    * everyday interactive shape that had no dedicated oracle row: the
    * n longest documents by `n_chars`, `doc_id` ASC tiebreak (total
    * order ⇒ deterministic result). Spark plans `orderBy(…).limit(n)`
    * as TakeOrderedAndProject: each partition keeps an n-row heap and
    * the driver merges #partitions·n rows — NO global sort, no range
    * exchange, no skew exposure, so the shape holds at any corpus size
    * for interactive n. PlanAuditSpec pins the plan sort-free. */
  def orderLimit(spark: SparkSession, dir: String, n: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .limit(n)
}
