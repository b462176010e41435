package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph centrality over the corpus syndication graph — the
  * domain-authority signal an LLM-data pipeline feeds into source
  * weighting (CommonCrawl-style curation ranks domains by how content
  * propagates between them; heavily-syndicated canonical sources get
  * upweighted, scrapers and isolated spam pools do not).
  *
  * Nodes are the corpus `source` values; edges are CROSS-source
  * verified near-duplicate pairs from the standing pair table
  * ([[Dedup.sourceOverlapFrom]] — content observed on both ends),
  * symmetrized, weighted by pair count. [[authorityFrom]] runs a
  * fixed-iteration damped PageRank over that graph.
  *
  * Scale shape: the rank vector stays DISTRIBUTED (one row per source
  * — web-scale corpora have 10⁷⁺ domains, never driver-side), and each
  * iteration is one key-shuffled join (edge src → rank) plus one
  * aggregation (sum by dst) — the textbook Pregel/power-iteration
  * round. Two standing-iterative disciplines:
  *  - the per-edge transition SHARE (this row's fraction of its
  *    source's out-weight) is computed ONCE and reused by every
  *    iteration, so the join side of an iteration is a pure
  *    multiply-sum over a static frame;
  *  - ranks are localCheckpoint-pinned per iteration — lineage
  *    truncation, without which the plan doubles per round (the
  *    standard practice for iterative graph algorithms on Spark).
  * The dangling mass is a one-row aggregate re-entering as a literal
  * (the [[Learn]] scalar-probe class — bounded, never data-sized).
  *
  * Engine-exact determinism: the whole iteration is INTEGER
  * arithmetic. Ranks live in 1e-12 fixed-point units ([[Scale]]),
  * shares in 1e-6 units ([[ShareScale]]), and every division is
  * integer floor division (Spark `DIV` / DuckDB `//` — identical on
  * the non-negative operands used here). No float ever enters the
  * recurrence, so partial-aggregation order cannot perturb the result
  * and the DuckDB twin unrolls the same iterations as CTEs onto
  * bit-identical ranks. Floor losses (≤ 1 unit per division) leak a
  * vanishing fraction of rank mass per round rather than perturbing
  * order — conservation to within 1% is spec-pinned.
  *
  * Overflow bounds (documented, guarded): rank mass totals [[Scale]]
  * = 1e12, so per-node rank ≤ 1e12; the largest product is
  * damped-rank × share ≤ 0.85e12 × 1e6 = 8.5e17 < 2⁶³. The bound is
  * independent of corpus size — growing N only SPREADS the fixed
  * total mass. */
object Graph {

  /** Power-iteration rounds. Six reaches stationarity well inside the
    * fixed-point resolution on corpus-shaped graphs (damping 0.85
    * contracts by ~0.44 per round); the knob a real deployment raises
    * until successive rounds agree. */
  val Iterations = 6

  /** Rank fixed-point scale: total rank mass = 1e12 micro-units. */
  val Scale = 1000000000000L

  /** Per-edge transition-share fixed-point scale (1e-6 resolution). */
  val ShareScale = 1000000L

  /** Damping factor 85/100 kept as exact integers — never a float. */
  val DampNum = 85L
  val DampDen = 100L

  /** Rank-lineage truncation cadence (r17): a localCheckpoint every
    * this many rounds. Lineage per round is one join+agg+join (linear
    * since the closed-form dangling mass removed the second consumer
    * of `ranks`), so a handful of rounds per plan is cheap; the pin
    * bounds plan depth for deployments that raise [[Iterations]]. */
  val CheckpointEvery = 8

  /** PageRank over an explicit node frame (`source`) and an overlap
    * frame (source_a, source_b, n_dup_pairs). Self-loops are excluded
    * (same-source duplication is redundancy, not syndication) and the
    * canonical least/greatest pairs are symmetrized into a directed
    * edge list. Returns (source, rank_micro, authority). */
  def authorityFrom(nodesIn: DataFrame, overlap: DataFrame): DataFrame = {
    val ov = overlap.where(col("source_a") =!= col("source_b"))
    val edges = ov.select(col("source_a").as("src"), col("source_b").as("dst"),
        col("n_dup_pairs").as("w"))
      .unionAll(ov.select(col("source_b").as("src"),
        col("source_a").as("dst"), col("n_dup_pairs").as("w")))
    // Row-stochastic transition matrix in 1e-6 fixed point, computed
    // ONCE: per-edge share of the source's total out-weight. At scale
    // this is the one join+agg the whole run pays for edge preparation.
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val shares = edges.join(outw, "src")
      .select(col("src"), col("dst"),
        expr(s"(w * $ShareScale) DIV ow").as("share"))
      .localCheckpoint()
    // Node frame with a static dangling flag: the symmetrized graph
    // has in-degree > 0 iff out-degree > 0, so dangling == isolated.
    val srcs = shares.select(col("src")).distinct()
    val nodes = nodesIn.select(col("source")).distinct()
      .join(srcs, col("source") === col("src"), "left")
      .select(col("source"), col("src").isNull.as("dangling"))
      .localCheckpoint()
    // n and the dangling-node count in ONE bounded job (r17 optimization
    // round, guide §5 — the driver should schedule as few blocking jobs
    // as possible on an iterative path; this replaces a count() plus six
    // per-iteration scalar-probe jobs with one 2-row collect).
    val byDangling = nodes.groupBy(col("dangling"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1))).toMap
    val n = byDangling.values.sum
    val nDang = byDangling.getOrElse(true, 0L)
    require(n > 0, "sourceAuthority: empty node set")
    // Teleport term (1-d)·mass/N — exact integer derivation, mirrored
    // token-for-token by the twin: ((Scale·15) div 100) div N.
    val teleport = (Scale * (DampDen - DampNum) / DampDen) / n
    var ranks = nodes.withColumn("r", lit(Scale / n)).localCheckpoint()
    // CLOSED-FORM dangling mass (r17): dangling == isolated (the
    // symmetrized graph has in-degree 0 iff out-degree 0), so a dangling
    // node receives NO in-mass and every dangling rank follows the same
    // scalar recurrence r(0) = Scale/n, r(t+1) = teleport + dang(t)/n
    // with dang(t) = nDang · ((r(t)·DampNum) DIV DampDen) — bit-identical
    // to the distributed sum the r10–r16 form probed per iteration
    // (an integer sum of nDang EQUAL terms; Scala Long `/` on the
    // non-negative operands here is the same floor division as Spark
    // DIV), GraphSpec pins the identity against the probed form. No
    // overflow: Σ dangling rank ≤ total mass = Scale, so
    // nDang·((rDang·85) DIV 100) ≤ 0.85·Scale < 2⁶³.
    var rDang = Scale / n
    for (it <- 1 to Iterations) {
      val dang = nDang * ((rDang * DampNum) / DampDen)
      val inMass = shares
        .join(ranks.select(col("source").as("src"), col("r")), "src")
        .select(col("dst"),
          expr(s"(((r * $DampNum) DIV $DampDen) * share) DIV $ShareScale")
            .as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("m"))
      ranks = nodes.join(inMass, nodes("source") === inMass("dst"), "left")
        .select(col("source"), col("dangling"),
          (lit(teleport) + coalesce(col("m"), lit(0L)) + lit(dang / n))
            .as("r"))
      // Lineage cadence, not per-iteration pinning (r17 optimization
      // round, guide §5): with the dangling mass in closed form the
      // ranks frame is referenced exactly ONCE per round, so lineage
      // grows LINEARLY (join+agg+join per round) — the whole fixed-
      // iteration run executes as one job instead of one blocking
      // materialization per round (the r10–r16 shape existed because
      // the per-round scalar probe consumed `ranks` a second time,
      // which unpinned would have re-run the chain). The cadence pin
      // stays for deployments that raise Iterations past what one
      // plan should carry.
      if (it % CheckpointEvery == 0 && it < Iterations)
        ranks = ranks.localCheckpoint()
      rDang = teleport + dang / n
    }
    ranks.select(col("source"), col("r").as("rank_micro"),
      (col("r").cast("double") / lit(Scale.toDouble)).as("authority"))
  }

  /** Corpus entry point over a prebuilt OVERLAP frame (r18, VERDICT
    * r17 #4): nodes = every distinct `source` in the corpus (isolated
    * sources still hold teleport mass — an unsyndicated domain has LOW
    * authority, not undefined authority), edges = the verified
    * cross-source near-dup counts. The per-run residual cost of the
    * retired pair-table form was the overlap rollup itself — two
    * doc_id→source joins against the corpus plus the source-pair
    * aggregate, rebuilt on every authority run even though the overlap
    * matrix is a once-per-corpus-version artifact exactly like the pair
    * table it derives from. A standing deployment maintains it next to
    * the pair table; this entry reads it. (string, string, long) rows
    * round-trip parquet bit-exactly, and the overlap build stays benched
    * as `q_source_overlap`, whose computation is verbatim the staging
    * build. */
  def sourceAuthorityFromOverlap(spark: SparkSession, dir: String,
                                 overlap: DataFrame): DataFrame =
    authorityFrom(graft.Tables.documents(spark, dir).select(col("source")),
      overlap)
}
