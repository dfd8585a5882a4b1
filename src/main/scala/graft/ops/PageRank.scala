package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** PageRank over a DataFrame edge list — the iterative-join workload
  * class (Pregel-shaped) expressed Spark-first: each iteration is one
  * join (ranks ⋈ edges on the source) plus one map-side-combinable
  * aggregation (sum of contributions per destination). Catalyst/AQE
  * re-plan every iteration; nothing driver-side but the loop counter.
  *
  * Exactness is the interesting part: floating-point PageRank is not
  * cross-engine comparable (per-destination summation order differs),
  * so ranks live in integer MICRO-UNITS (scale 10^12) and each
  * contribution is `rank div outdeg` — floor division. Integer sums
  * are associative and order-independent, so a fixed iteration count
  * is bit-identical on any engine, any parallelism (the floor leaks
  * ≤ outdeg-1 micro-units of mass per node per iteration — a 10^-12
  * relative artifact, the price of determinism).
  *
  * Scale: ranks and edges both hash-partition on their join key; the
  * per-iteration shuffle carries (node, long) pairs. A degree-skewed
  * hub fans out through the partial aggregate, not a single reducer.
  * Fixed iterations (the production norm for feature generation) keep
  * the plan a straight pipeline — no driver-side convergence loop over
  * collected ranks.
  */
object PageRank {

  /** `iterations` rounds over an undirected edge list (cols a, b; each
    * edge walks both ways), damping 0.85 in integer arithmetic:
    * rank' = SCALE·15/(100·n) + 85·Σ contrib div 100. Returns
    * (node, rank_micro). */
  def pageRankOf(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val Scale = 1000000000000L // 10^12 micro-units of total rank mass
    // materialized once, hash-partitioned on the per-iteration join key:
    // without the checkpoint every iteration re-derives the edge list
    // from scratch (for q105 that is a lineitem self-join, paid 3x), and
    // without the repartition every iteration re-shuffles it
    val directed = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src"))
      .localCheckpoint(eager = false)
    val outdeg = directed.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg")).localCheckpoint(eager = false)
    // outdeg is static across iterations — attach it to the edge frame
    // ONCE (both sides already src-partitioned, so this join is
    // exchange-free) instead of re-joining it every iteration: each
    // round then does a single join (ranks) against the checkpointed
    // (src, dst, outdeg) frame. 8 bytes/edge of checkpoint for one
    // fewer join per iteration (A/B in OPTIMIZATION_r16 §5). guide §2.4/§1.2.
    val directedOut =
      directed.join(outdeg, "src").localCheckpoint(eager = false)
    val n = outdeg.count()
    // an empty edge list has no nodes to rank — return the empty frame
    // instead of dividing rank mass by zero (a composed pipeline over a
    // link-free corpus must degrade to rank 0, not crash)
    if (n == 0)
      return outdeg.select(col("src").as("node"),
        col("outdeg").as("rank_micro"))
    val base = lit(Scale * 15L / (100L * n))
    var ranks = outdeg.select(col("src").as("node"),
      lit(Scale / n).as("rank"))
    // deliberately SORT-merge per iteration (no SHUFFLE_HASH hint):
    // directedOut is the output of an src-keyed sort-merge join, so its
    // checkpoint already carries src order and each iteration's SMJ
    // sorts only the node-sized rank frame — the hint variant re-paid a
    // hash build per iteration and lost its A/B (OPTIMIZATION_r16 §5)
    (1 to iterations).foreach { _ =>
      val contribs = directedOut
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("rank div outdeg").as("contrib"))
      ranks = contribs.groupBy(col("node"))
        .agg((base + expr("85 * sum(contrib) div 100")).as("rank"))
        .localCheckpoint(eager = false) // truncate the growing lineage per iteration
    }
    ranks.select(col("node"), col("rank").as("rank_micro"))
  }

  /** q105: 3 PageRank rounds on the q104 part co-purchase graph
    * ([[Triangles.coPurchaseEdges]] — one shared definition for both
    * queries and both oracles) — top-20 parts by rank. */
  def q105PageRank(spark: SparkSession, dir: String): DataFrame = {
    pageRankOf(Triangles.coPurchaseEdgesFor(spark, dir), iterations = 3)
      .select(col("node").as("part"), col("rank_micro"))
      .orderBy(col("rank_micro").desc, col("part"))
      .limit(20)
  }

  val q105Oracle: String =
    s"""WITH ${Triangles.CoPurchaseEdgesSql.replaceFirst("^e AS", "e0 AS")},
       e AS (SELECT a AS src, b AS dst FROM e0
             UNION ALL SELECT b, a FROM e0),
       od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       n AS (SELECT count(*) AS n FROM od),
       r0 AS (SELECT src AS node, 1000000000000 // n.n AS rank
              FROM od, n),
       r1 AS (SELECT e.dst AS node,
                1000000000000 * 15 // (100 * any_value(n.n)) +
                85 * sum(r0.rank // od.outdeg) // 100 AS rank
              FROM e JOIN r0 ON r0.node = e.src
                JOIN od ON od.src = e.src, n
              GROUP BY 1),
       r2 AS (SELECT e.dst AS node,
                1000000000000 * 15 // (100 * any_value(n.n)) +
                85 * sum(r1.rank // od.outdeg) // 100 AS rank
              FROM e JOIN r1 ON r1.node = e.src
                JOIN od ON od.src = e.src, n
              GROUP BY 1),
       r3 AS (SELECT e.dst AS node,
                1000000000000 * 15 // (100 * any_value(n.n)) +
                85 * sum(r2.rank // od.outdeg) // 100 AS rank
              FROM e JOIN r2 ON r2.node = e.src
                JOIN od ON od.src = e.src, n
              GROUP BY 1)
       SELECT node AS part, CAST(rank AS BIGINT) AS rank_micro
       FROM r3 ORDER BY rank_micro DESC, part LIMIT 20"""
}
