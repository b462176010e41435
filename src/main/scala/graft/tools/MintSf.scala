package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mint a scaled-up fixture dir (VERDICT r8 #5): `mult` key-shifted copies
  * of a base fixture (default sf0.1 ×10 ≈ sf1), so the banded LSH, IVF
  * build, grouped top-k and window tiers can be OBSERVED above 600 k rows
  * instead of argued about. Usage: `runMain graft.tools.MintSf <baseDir>
  * <outDir> [mult]`.
  *
  * Scaling model (TPC-H's): entity COUNTS scale, per-entity densities
  * don't. Each copy c shifts every int64 entity key by c·10⁹ — foreign
  * keys shift in lockstep, so join fanouts and per-key row counts are
  * EXACTLY the base fixture's at 10× the keys. Bounded dims
  * (region/nation) stay fixed, as at any SF. Events keep their 30-day
  * span and per-user density (user_id shifts ⇒ 10× users). Documents get
  * a per-copy suffix token — copies are NEAR-dups of their originals
  * (protects dedup tiers from the degenerate everything-is-exact-dup
  * corpus 10× duplication would make), with n_chars recomputed to keep
  * the text↔stats contract. Embeddings perturb one coordinate per copy
  * (distinct vectors, cosine structure intact for the ANN tiers).
  */
object MintSf {
  val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session.local()
    mint(spark, base, out, mult)
    spark.stop()
  }

  /** The mint body on a CALLER-OWNED session (PlanAuditSf1Spec mints
    * through the shared test session — main()'s create/stop would kill
    * it). */
  def mint(spark: SparkSession, base: String, out: String,
           mult: Int): Unit = {

    def copies(name: String)(shift: (DataFrame, Long) => DataFrame): Unit = {
      val src = graft.Tables.read(spark, base, name)
      val scaled = (0 until mult).map(c => shift(src, c.toLong * Stride))
        .reduce(_ unionByName _)
      scaled.write.mode("errorifexists").parquet(s"$out/$name.parquet")
      println(s"minted $name x$mult")
    }
    def shiftKeys(keys: String*)(df: DataFrame, off: Long): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(off)))

    // Bounded dims: fixed at any SF — write through unchanged.
    Seq("region", "nation").foreach { name =>
      graft.Tables.read(spark, base, name)
        .write.mode("errorifexists").parquet(s"$out/$name.parquet")
      println(s"minted $name x1 (bounded dim)")
    }
    copies("customer")(shiftKeys("c_custkey"))
    copies("supplier")(shiftKeys("s_suppkey"))
    copies("part")(shiftKeys("p_partkey"))
    copies("orders")(shiftKeys("o_orderkey", "o_custkey"))
    copies("lineitem")(shiftKeys("l_orderkey", "l_partkey", "l_suppkey"))
    copies("events")(shiftKeys("event_id", "user_id"))
    copies("documents") { (df, off) =>
      val shifted = shiftKeys("doc_id")(df, off)
      if (off == 0L) shifted
      else shifted
        .withColumn("text", concat(col("text"), lit(s" c${off / Stride}")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    copies("embeddings") { (df, off) =>
      val shifted = shiftKeys("vec_id")(df, off)
      if (off == 0L) shifted
      else shifted.withColumn("embedding",
        transform(col("embedding"), (v, i) =>
          when(i === 0, v + lit((off / Stride).toFloat * 1e-3f))
            .otherwise(v)))
    }
    println(s"minted $out at ${mult}x of $base")
  }
}
