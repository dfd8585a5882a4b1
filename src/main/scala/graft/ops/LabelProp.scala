package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synchronous label propagation — the fourth graph primitive next to
  * connected components ([[graft.ext.Curate.dedupClusters]]), triangle
  * counting ([[Triangles]]) and [[PageRank]]: communities in the
  * co-occurrence graph, the structure spam-farm and mirror-cluster
  * detection reads (a link farm is a dense community whose triangle
  * density q104 already measures; LPA names its members).
  *
  * Semantics (deterministic by construction, so engine and oracle can
  * agree bit for bit): labels start as node ids; each round, every
  * node simultaneously adopts the most frequent label among its
  * neighbors PLUS its own current label as one vote (the self-vote
  * damps the 2-cycle oscillation synchronous LPA is known for), ties
  * broken toward the smallest label. A fixed [[Rounds]] rounds — the
  * output is a deterministic snapshot of the propagation, not a
  * convergence claim (classic LPA has none to offer; community READS
  * should aggregate sizes, which stabilize much faster than member
  * labels).
  *
  * Scale: per round one (node-keyed) aggregate over the edge list —
  * the frame is edge-sized, labels are node-sized, and the per-node
  * argmax is a single packed-DECIMAL(38,0) max aggregate (count desc,
  * label asc encoded into one comparable key — see [[argmaxLabel]]),
  * NOT a window and NOT a struct-buffered aggregate: no per-node
  * sort, no SortAggregate demotion, no single-reducer funnel. Rounds
  * are a fixed small constant, the large-star/small-star budget
  * argument. */
object LabelProp {

  /** Fixed synchronous rounds (the oracle unrolls exactly these — the
    * q105 fixed-iteration convention; community SIZES stabilize within
    * a few rounds even where member labels keep drifting). */
  val Rounds = 3

  /** Label table after [[Rounds]] synchronous rounds over a distinct
    * undirected edge list (columns `a`, `b`; a ≠ b). Nodes are the
    * edge endpoints. */
  def propagateOf(edges: DataFrame): DataFrame = {
    // materialized once, hash-partitioned on the per-round join key —
    // the q105 pattern: without the repartition every round re-shuffles
    // the edge-sized side; with it only the node-sized label frame
    // moves per round
    val adj = edges.select(col("a").as("n"), col("b").as("m"))
      .unionAll(edges.select(col("b").as("n"), col("a").as("m")))
      .repartition(col("m"))
      .localCheckpoint(eager = false)
    var labels = adj.select(col("n").as("node")).distinct()
      .withColumn("lbl", col("node"))
    // one exchange per round, not two: hash-partitioning on `n` ALONE
    // satisfies the vote count's (n, lbl) clustering requirement
    // (subset rule) AND the argmax's (n) requirement AND the next
    // round's join on m (the argmax output renames n→node→m with the
    // partitioning carried through the aliases), so the explicit
    // repartition(n) below lets count + argmax + next join all share
    // it. The trade: the exchange ships raw votes instead of
    // partially-aggregated (n, lbl) counts — measured cheaper here
    // (votes are two longs/row, and label diversity keeps map-side
    // combine near-useless in early rounds; A/B in OPTIMIZATION_r16 §5).
    // SHUFFLE_HASH on the node-sized label frame: the join is already
    // co-partitioned, the hint swaps each round's sort-merge (which
    // re-sorts the edge-sized adj side — the checkpoint carries hash
    // partitioning but no order) for a hash build (guide §3.1;
    // A/B in OPTIMIZATION_r16 §5). guide §2.4.
    var r = 0
    while (r < Rounds) {
      val votes = adj
        .join(labels.select(col("node").as("m"), col("lbl"))
          .hint("shuffle_hash"), Seq("m"))
        .select(col("n"), col("lbl"))
        .unionAll(labels.select(col("node").as("n"), col("lbl")))
        .repartition(col("n"))
        .groupBy(col("n"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      labels = argmaxLabel(votes).localCheckpoint(eager = false)
      r += 1
    }
    labels
  }

  /** Per-node argmax of (c DESC, lbl ASC) over a (n, lbl, c) vote
    * frame — as ONE packed DECIMAL(38,0) max: c·2⁶³ + (2⁶³−1−lbl).
    * The earlier max-of-struct form put a STRUCT in the aggregation
    * buffer, which disqualifies HashAggregate — Spark demoted the
    * per-round argmax to SortAggregate, a per-partition sort of the
    * vote frame every round. Fixed-precision decimals are mutable
    * buffer types, so the packed form keeps each round's fold in
    * HashAggregate with map-side combine. Bounds: labels are node
    * ids in [0, 2⁶³) and c ≤ corpus size, so the pack stays far
    * below 10³⁸. */
  private[graft] def argmaxLabel(votes: DataFrame): DataFrame =
    votes
      // the packed key only orders correctly for non-negative labels
      // (the complement term would bleed into the count component) —
      // propagateOf is a public API over arbitrary edge frames, so a
      // negative node id is refused loudly per row, not corrupted
      // silently (assert_true yields NULL when the condition holds)
      .filter(assert_true(col("lbl") >= 0,
        lit("LabelProp: negative node/label id — the packed argmax " +
          "key cannot represent it; remap ids to [0, 2^63)")).isNull)
      .withColumn("pk", graft.functions.DecimalPack.packDesc("c", "lbl"))
      .groupBy(col("n"))
      .agg(max(col("pk")).as("best"))
      .select(col("n").as("node"),
        graft.functions.DecimalPack.unpackLoDesc("best").as("lbl"))

  /** q187: communities of the part co-purchase graph — per node its
    * final label, plus the community size (a broadcast-joinable
    * label-count frame). ORDER BY = oracle determinism only. */
  def q187LabelProp(spark: SparkSession, dir: String): DataFrame =
    communityReport(propagateOf(
        Triangles.coPurchaseEdgesFor(spark, dir)).localCheckpoint(eager = false))
      .withColumnRenamed("node", "part")
      .orderBy(col("part"))

  /** The community report over a (node, lbl) label table — node,
    * label, and community size (one rollup definition for the batch
    * q187 and the streaming snapshot). Sizes are label-count rows,
    * broadcast back. */
  def communityReport(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(broadcast(sizes), Seq("lbl"))
      .select(col("node"), col("lbl").as("community"),
        col("community_size"))
  }

  /** The edge CTE shared with q104/q105 plus [[Rounds]] unrolled
    * vote+argmax rounds, ending at `lbl_$Rounds` (node, lbl) — shared
    * by the q187 and q189 oracles (the oracle may window per node —
    * that is DuckDB's plan, not the engine's). */
  private def lpaChainSql: String = {
    val b = new StringBuilder
    b ++= s"""${Triangles.CoPurchaseEdgesSql},
       adj AS MATERIALIZED (SELECT a AS n, b AS m FROM e
         UNION ALL SELECT b AS n, a AS m FROM e),
       lbl_0 AS MATERIALIZED (SELECT DISTINCT n AS node, n AS lbl
         FROM adj)"""
    for (r <- 1 to Rounds) {
      b ++= s""",
       votes_$r AS (SELECT n, lbl, CAST(count(*) AS BIGINT) AS c FROM (
           SELECT adj.n, l.lbl FROM adj
           JOIN lbl_${r - 1} l ON l.node = adj.m
           UNION ALL SELECT node AS n, lbl FROM lbl_${r - 1})
         GROUP BY 1, 2),
       lbl_$r AS MATERIALIZED (SELECT n AS node, lbl FROM (
           SELECT n, lbl, row_number() OVER (PARTITION BY n
             ORDER BY c DESC, lbl) AS rn FROM votes_$r)
         WHERE rn = 1)"""
    }
    b.toString
  }

  lazy val oracle: String =
    s"""WITH $lpaChainSql,
       sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
         FROM lbl_$Rounds GROUP BY 1)
       SELECT l.node AS part, l.lbl AS community, sz.community_size
       FROM lbl_$Rounds l JOIN sz ON sz.lbl = l.lbl
       ORDER BY part"""

  /** The q187 label table, memoized (q189 is a READ of the community
    * artifact; q187 derives fresh). */
  private def labelsFor(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo(spark, s"lpa-labels:$dir") {
      propagateOf(Triangles.coPurchaseEdgesFor(spark, dir))
        .localCheckpoint()
    }

  /** Per-community modularity contributions over an undirected edge
    * list and a (node, lbl) partition — EXACT integers: with m total
    * edges, e_c intra-community edges and D_c the community degree
    * sum, Newman's Q = Σ_c [e_c/m − (D_c/2m)²] = Σ_c q_num_4m2 / 4m²
    * where q_num_4m2 = 4m·e_c − D_c². Reporting the numerators keeps
    * the scorecard engine-exact (the q105 integer-fixed-point
    * reasoning applied to partition quality); the reader divides once.
    * Magnitudes: ≤ 4m² per community — BIGINT to ~1.5·10⁹ edges; the
    * 100 TB form widens the two products to DECIMAL(38,0), same shape.
    *
    * Scale: one count, two edge-sized keyed joins against the
    * node-sized label frame, two aggregates — no window, no driver
    * state beyond m. */
  def modularityOf(edges: DataFrame, labels: DataFrame): DataFrame = {
    val m = edges.count()
    val lbl = labels
    val intra = edges
      .join(lbl.select(col("node").as("a"), col("lbl").as("ca")),
        Seq("a"))
      .join(lbl.select(col("node").as("b"), col("lbl").as("cb")),
        Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val dsum = edges.select(col("a").as("n"))
      .unionAll(edges.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .join(lbl.select(col("node").as("n"), col("lbl")), Seq("n"))
      .groupBy(col("lbl").as("community"))
      .agg(sum(col("d")).as("degree_sum"),
        count(lit(1)).as("n_nodes"))
    dsum.join(intra, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (lit(4L * m) * coalesce(col("intra_edges"), lit(0L))
          - col("degree_sum") * col("degree_sum")).as("q_num_4m2"))
  }

  /** q189: modularity scorecard of the q187 communities — the graph
    * family's evaluation operator (is this partition actually
    * community-like, per community?). ORDER BY = oracle determinism
    * only. */
  def q189Modularity(spark: SparkSession, dir: String): DataFrame =
    modularityOf(Triangles.coPurchaseEdgesFor(spark, dir),
        labelsFor(spark, dir))
      .orderBy(col("community"))

  lazy val modularityOracle: String =
    s"""WITH $lpaChainSql,
       mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
       intra AS (SELECT la.lbl AS community,
           CAST(count(*) AS BIGINT) AS intra_edges
         FROM e JOIN lbl_$Rounds la ON la.node = e.a
           JOIN lbl_$Rounds lb ON lb.node = e.b
         WHERE la.lbl = lb.lbl GROUP BY 1),
       deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
           SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
         GROUP BY 1),
       dsum AS (SELECT l.lbl AS community,
           CAST(sum(deg.d) AS BIGINT) AS degree_sum,
           CAST(count(*) AS BIGINT) AS n_nodes
         FROM deg JOIN lbl_$Rounds l ON l.node = deg.n GROUP BY 1)
       SELECT dsum.community, dsum.n_nodes,
         CAST(COALESCE(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
         dsum.degree_sum,
         CAST(4 * mm.m * COALESCE(intra.intra_edges, 0)
           - dsum.degree_sum * dsum.degree_sum AS BIGINT) AS q_num_4m2
       FROM dsum CROSS JOIN mm
         LEFT JOIN intra ON intra.community = dsum.community
       ORDER BY dsum.community"""
}
