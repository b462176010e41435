package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Native ShingleArray vs the declarative construction it replaced:
  * the equivalence that makes the swap safe for every oracle in the
  * minhash/fingerprint/decontamination family. */
class ShingleSpec extends SparkSpec {
  import spark.implicits._

  /** The declarative shingle construction [[TextOps.shingles]] replaced —
    * kept as the independently-derived twin the native expression is
    * checked against (and the form the DuckDB oracles mirror
    * structurally). */
  private def shinglesDeclarative(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(toks, (i + j + 1).cast("int"))): _*))))
      .otherwise(array().cast("array<string>"))

  test("native == declarative, element-for-element, on the fixture corpus") {
    val toks = TextOps.tokens(col("text"))
    val both = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        TextOps.shingles(toks).as("fast"),
        shinglesDeclarative(toks).as("slow"))
    // Element-for-element INCLUDING order (array_distinct keeps first
    // occurrence; the LinkedHashSet must reproduce that exactly).
    assert(both.where(not(col("fast") <=> col("slow"))).count() == 0)
    assert(both.where(size(col("fast")) > 0).count() > 0)
  }

  test("native == declarative on crafted edges") {
    val rows = Seq(
      "",                       // empty doc
      "one",                    // below width
      "one two",                // still below
      "a b c",                  // exactly one shingle
      "a b c a b c a b c",     // heavy duplication
      "x y z x y w",            // partial overlap
      "a a a a a"               // degenerate single-token run
    ).toDF("text")
    val toks = TextOps.tokens(col("text"))
    val both = rows.select(
      TextOps.shingles(toks).as("fast"),
      shinglesDeclarative(toks).as("slow"))
    assert(both.where(not(col("fast") <=> col("slow"))).count() == 0)
  }

  test("null token array yields [] on both forms (total equivalence)") {
    // A null-text document must not flip n_shingles/shingle_min
    // semantics versus the declarative twin the oracles mirror.
    val rows = Seq(Some("a b c d"), None).toDF("text")
    val toks = TextOps.tokens(col("text"))
    val both = rows.select(
      TextOps.shingles(toks).as("fast"),
      shinglesDeclarative(toks).as("slow"))
    assert(both.where(not(col("fast") <=> col("slow"))).count() == 0)
    // And directly on a null ARRAY (not just null text): both empty,
    // neither null.
    val nullArr = Seq(1).toDF("i")
      .select(lit(null).cast("array<string>").as("toks"))
      .select(TextOps.shingles(col("toks")).as("fast"),
        shinglesDeclarative(col("toks")).as("slow"))
      .collect()(0)
    assert(nullArr.getSeq[String](0) == Seq.empty)
    assert(nullArr.getSeq[String](1) == Seq.empty)
  }

  test("width parameter respected (n = 2 and n = 5)") {
    val rows = Seq("a b c d e f").toDF("text")
    val toks = TextOps.tokens(col("text"))
    Seq(2, 5).foreach { n =>
      val both = rows.select(
        TextOps.shingles(toks, n).as("fast"),
        shinglesDeclarative(toks, n).as("slow"))
      assert(both.where(not(col("fast") <=> col("slow"))).count() == 0, s"n=$n")
    }
  }
}
