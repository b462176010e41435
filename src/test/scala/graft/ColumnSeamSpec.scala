package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Operators reach the native expressions through ColumnSeam only:
  * building and running the rows that use them leaves a session's
  * function registry without their SQL names. */
class ColumnSeamSpec extends SparkSpec {

  test("native-expression rows leave a fresh session's function registry " +
      "untouched") {
    // A new session starts from the built-in registry, whatever other
    // suites installed on the shared one.
    val s = spark.newSession()
    // dot_d (exact and served IVF), bounded_collect_long and the bloom
    // probe, in that order.
    Seq("q_topk_similarity", "q_ann_ivf_served", "q_decontaminate",
        "q_bloom_join").foreach { q =>
      SparkEntry.queries(q)(s, sf0001).collect()
    }
    val registry = s.sessionState.functionRegistry
    Seq("dot_d", "bounded_collect_long", "bloom_might_contain")
      .foreach { name =>
        assert(!registry.functionExists(FunctionIdentifier(name)),
          s"$name was written to the session's function registry")
      }
  }
}
