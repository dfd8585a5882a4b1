package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over the `embeddings` table (`Array[Float]` vectors).
  *
  * Two paths, as a 100 TB pipeline needs both:
  *   - [[neardupPairs]] / [[knnBruteForce]] — exact cosine via a
  *     broadcast-block nested loop: the bounded side (query set, or one
  *     block of the corpus) is broadcast as primitive arrays and each
  *     partition runs a tight JVM dot-product loop. No shuffle of the big
  *     side at all; scales by blocking the broadcast side.
  *   - [[annLsh]] — the scale path: sign-random-projection LSH buckets
  *     (deterministic seeded hyperplanes), candidates only within a
  *     bucket, so the pairwise work is O(n · bucket_size) not O(n²).
  *
  * All dot products are computed in Double after widening the Float
  * components, matching the oracle's CAST(embedding AS DOUBLE[]).
  */
object Similarity {

  case class Vec(vec_id: Long, embedding: Array[Float])

  private[ext] def vecs(spark: SparkSession, dir: String): Dataset[Vec] = {
    import spark.implicits._
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[Vec]
  }

  private[ext] def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private[ext] def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  /** All pairs with cosine ≥ tau. Exact, block-partitioned: the corpus is
    * processed in bounded vec_id ranges of ≤ ~blockSize vectors — each
    * block is collected, broadcast, scored against the full corpus in a
    * tight shuffle-free JVM loop, materialized (localCheckpoint), and its
    * broadcast destroyed before the next block starts. Peak driver/
    * executor footprint is ONE block, never the corpus; total work is
    * ceil(n/blockSize) cached scans. A pair (a,b), a<b, is emitted exactly
    * once: by the block containing b. Block boundaries come from
    * approxQuantile (driver receives nBlocks+1 doubles only) and affect
    * memory, not results. At fact scale prefer [[neardupPairsLsh]]. */
  def neardupPairs(spark: SparkSession, dir: String,
      tau: Double = 0.4, blockSize: Int = 4096): DataFrame = {
    import spark.implicits._
    val empty = spark.emptyDataset[(Long, Long, Double)]
      .toDF("a", "b", "cosine")
    val ds = vecs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = ds.count()
      if (n == 0) return empty
      val nBlocks = math.max(1, math.ceil(n.toDouble / blockSize).toInt)
      val bounds: Array[Double] =
        if (nBlocks == 1) Array(Double.NegativeInfinity, Double.PositiveInfinity)
        else {
          val probs = (0 to nBlocks).map(_.toDouble / nBlocks).toArray
          val q = ds.toDF().stat.approxQuantile("vec_id", probs, 0.001)
          q(0) = Double.NegativeInfinity
          q(nBlocks) = Double.PositiveInfinity
          q
        }
      val parts = (0 until nBlocks).flatMap { b =>
        val lo = bounds(b)
        val hi = bounds(b + 1)
        val inBlock =
          if (b == nBlocks - 1) col("vec_id") > lo
          else col("vec_id") > lo && col("vec_id") <= hi
        val block = ds.filter(inBlock).collect().sortBy(_.vec_id)
        if (block.isEmpty) None
        else {
          val bc = spark.sparkContext.broadcast(block)
          val bns = spark.sparkContext
            .broadcast(block.map(v => norm(v.embedding)))
          val part = ds.flatMap { v =>
              val blk = bc.value
              val ns = bns.value
              val nv = norm(v.embedding)
              val out =
                scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
              var j = 0
              while (j < blk.length) {
                val u = blk(j)
                if (u.vec_id > v.vec_id) {
                  val c = dot(v.embedding, u.embedding) / (nv * ns(j))
                  if (c >= tau) out += ((v.vec_id, u.vec_id, c))
                }
                j += 1
              }
              out
            }
            .toDF("a", "b", "cos")
            .localCheckpoint(true) // materialize so the broadcast can die
          bc.destroy()
          bns.destroy()
          Some(part)
        }
      }
      if (parts.isEmpty) empty
      else parts.reduce(_.union(_))
        .select(col("a"), col("b"), round(col("cos"), 4).as("cosine"))
        .orderBy(col("a"), col("b"))
    } finally ds.unpersist()
  }

  val neardupOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
       SELECT a.vec_id AS a, b.vec_id AS b,
         round(list_cosine_similarity(a.v, b.v), 4) AS cosine
       FROM e a JOIN e b ON a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.v, b.v) >= 0.4
       ORDER BY a, b"""

  /** Exact top-k cosine neighbors for the query set (vec_id < nQueries),
    * self-matches excluded. Queries broadcast; each partition scans its
    * corpus slice once computing nQueries dot products per vector; the
    * per-query top-k is a bounded-heap aggregate
    * ([[graft.functions.TopK]]), so partial aggregation keeps at most k
    * candidates per (partition, query) map-side and the shuffle carries
    * k-element buffers — never the n·nQueries scored rows a row_number
    * window would sort. */
  def knnBruteForce(spark: SparkSession, dir: String,
      nQueries: Int = 16, k: Int = 5): DataFrame = {
    import spark.implicits._
    import graft.functions.TopK.top_k_by_score
    val ds = vecs(spark, dir)
    val queries = ds.filter(col("vec_id") < nQueries).collect().sortBy(_.vec_id)
    val bq = spark.sparkContext.broadcast(
      queries.map(q => (q.vec_id, q.embedding, norm(q.embedding))))
    val scored = ds.flatMap { v =>
      val nv = norm(v.embedding)
      bq.value.iterator.collect {
        case (qid, qe, qn) if qid != v.vec_id =>
          (qid, v.vec_id, dot(qe, v.embedding) / (qn * nv))
      }
    }.toDF("q_id", "neighbor_id", "cos")
    scored.groupBy(col("q_id"))
      .agg(top_k_by_score(col("cos"), col("neighbor_id"), k).as("nn"))
      .select(col("q_id"), explode(col("nn")).as("nb"))
      .select(col("q_id"), col("nb.rank").as("rank"),
        col("nb.id").as("neighbor_id"))
      .orderBy(col("q_id"), col("rank"))
  }

  def knnOracle(nQueries: Int = 16, k: Int = 5): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
       scored AS (
         SELECT q.vec_id AS q_id, n.vec_id AS neighbor_id,
           list_cosine_similarity(q.v, n.v) AS cos
         FROM e q JOIN e n ON q.vec_id < $nQueries AND n.vec_id != q.vec_id),
       ranked AS (
         SELECT q_id, neighbor_id, CAST(row_number() OVER (
           PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         FROM scored)
       SELECT q_id, rank, neighbor_id FROM ranked WHERE rank <= $k
       ORDER BY q_id, rank"""

  /** Keyspace sizing: the bucket count must GROW with the corpus or the
    * in-bucket candidate join degenerates toward O(n²/buckets). nBits ≈
    * log₂(n/targetBucket) keeps the expected bucket population near
    * targetBucket at any scale; the floor of 6 preserves small-corpus
    * recall (fewer bits = coarser buckets = higher recall). */
  private[ext] def autoBits(n: Long, targetBucket: Int = 64): Int =
    math.max(6, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt)

  /** Index-side LSH keys: one (vec_id, table, bucket) row per table —
    * banded multi-table signatures. Recall of a single table is capped by
    * its bucket granularity; L independent tables lift it to
    * 1-(1-p_table)^L without coarsening any one table's buckets (the
    * MinHash banding trick applied to sign-random-projection). */
  private def tableKeys(ds: Dataset[Vec], bits: Int,
      tables: Int): Dataset[(Long, Int, Long)] = {
    import ds.sparkSession.implicits._
    ds.flatMap { v =>
      (0 until tables).map(t => (v.vec_id, t, bucketKey(v.embedding, bits, t)))
    }
  }

  /** Query-side probes: per table, the home bucket plus every 1-bit-flip
    * bucket (multiprobe). */
  private def tableProbes(keyed: Dataset[(Long, Int, Long)],
      bits: Int): Dataset[(Long, Int, Long)] = {
    import keyed.sparkSession.implicits._
    keyed.flatMap { case (id, t, key) =>
      (key +: (0 until bits).map(b => key ^ (1L << b))).map(kk => (id, t, kk))
    }
  }

  /** Scale path for [[neardupPairs]]: candidate pairs from multiprobe
    * multi-table LSH buckets only (O(n·tables·(1+nBits)) shuffled key
    * rows, never O(n²)), exact cosine verification within candidates.
    * nBits ≤ 0 (default) derives the keyspace from the corpus size via
    * [[autoBits]] so bucket population stays bounded at any scale; the
    * `tables` independent hash tables trade bounded extra fanout for
    * recall (1-(1-p)^tables). Even with autoBits, degenerate vector
    * clusters (zero vectors, boilerplate embeddings) can collapse onto
    * one bucket, so index-side buckets are additionally bounded by the
    * [[BucketCap]] guard (logged, maxBucket ≤ 0 disables). Approximate —
    * recall vs the exact pair set is gated ≥ 0.5 in ScalaTest; rows-only
    * driver check. */
  def neardupPairsLsh(spark: SparkSession, dir: String,
      tau: Double = 0.4, nBits: Int = -1, tables: Int = 4,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    import spark.implicits._
    // NOT spread: parallelizing the single-file embeddings scan before
    // the table keying A/B'd 0.76/0.65 (two runs, OPTIMIZATION_r17.md
    // §10) — the candidate join + cap stages dominate and the added
    // exchange is pure price here
    val ds = vecs(spark, dir)
    val bits = if (nBits > 0) nBits else autoBits(ds.count())
    // the guard's anti-join fronts the bucket keys — reselect the tuple
    // order before re-binding the encoder
    val keyed = BucketCap.capBuckets(
        tableKeys(ds, bits, tables).toDF("_1", "_2", "_3"),
        Seq("_2", "_3"), maxBucket, "srp-lsh")
      .select("_1", "_2", "_3")
      .as[(Long, Int, Long)]
    val probes = tableProbes(keyed, bits)
    // a < b keeps each candidate pair once even when both sides probe
    val candidates = probes.as("x")
      .joinWith(keyed.as("y"),
        col("x._2") === col("y._2") && col("x._3") === col("y._3") &&
          col("x._1") < col("y._1"))
      .map { case ((a, _, _), (b, _, _)) => (a, b) }
      .distinct()
    // vectors resolved by join — no driver-side corpus materialization
    scorePairs(candidates.toDF("a", "b"), ds, "a", "b")
      .filter(col("cos") >= tau)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cosine"))
      .orderBy(col("a"), col("b"))
  }

  /** Attach exact cosine to (idColA, idColB) pairs by joining the vector
    * table twice — the candidate set shuffles, the corpus never lands on
    * the driver. */
  /** Resolve candidate id pairs to vectors and score them with the
    * codegen'd [[graft.functions.CosineSimilarity]] expression — the
    * arrays stay UnsafeArrayData inside whole-stage codegen instead of
    * round-tripping through an Encoder per row (the previous typed
    * `.map` implementation). Same double accumulation order, so
    * results are bit-identical. */
  private[ext] def scorePairs(pairs: DataFrame, ds: Dataset[Vec],
      a: String, b: String): DataFrame = {
    import graft.functions.CosineSimilarity.cosine_similarity
    pairs
      .join(ds.toDF(a, "_ea"), a)
      .join(ds.toDF(b, "_eb"), b)
      .select(col(a), col(b),
        cosine_similarity(col("_ea"), col("_eb")).as("cos"))
  }

  // --- IVF (inverted-file) ANN -------------------------------------------

  /** Deterministic IVF index: nLists centroids seeded from evenly-spaced
    * corpus vectors (by vec_id rank) and refined with a few distributed
    * Lloyd iterations; each vector is assigned to its nearest centroid's
    * list. Queries probe the nProbe nearest lists, computing exact cosine
    * only within them — the classic alternative to LSH when the corpus
    * is clustered rather than uniform. Deterministic: no RNG anywhere
    * (seed choice is rank-based, iteration count fixed). */
  def annIvf(spark: SparkSession, dir: String,
      nLists: Int = 16, nProbe: Int = 4, k: Int = 5,
      lloydIters: Int = 3): DataFrame = {
    // the corpus is scanned lloydIters+2 times (Lloyd passes + index +
    // probe) — cache it once instead of re-reading parquet every pass.
    // Train / assign / probe live in [[IvfIndex]] so the index can also
    // be persisted and appended to across sessions (the production
    // lifecycle); this registered query is the self-contained one-call
    // composition of the three phases.
    val ds = vecs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val centroids = IvfIndex.train(ds, nLists, lloydIters)
      val postings = IvfIndex.assign(ds, centroids)
      IvfIndex.probe(ds, ds, postings, centroids, nProbe, k)
        .localCheckpoint(true) // materialize so the cache can be released
    } finally ds.unpersist()
  }

  /** q69: ANN via product quantization + asymmetric distance (Jégou et
    * al., "Product Quantization for Nearest Neighbor Search", TPAMI
    * 2011). The vector is split into m subvectors; each subspace gets
    * its own ksub-centroid codebook (deterministic distributed Lloyd,
    * same recipe as [[annIvf]]); a corpus vector is stored as m small
    * codes — dim·4 bytes shrink to m bytes (32× here), which is what
    * lets a 100 TB embedding corpus live in executor memory as codes
    * while raw vectors stay in cold storage. Queries stay UN-quantized:
    * per query a (m × ksub) table of subspace dot products against the
    * codebooks is precomputed once (bounded: nQueries·m·ksub doubles,
    * broadcast), and a corpus vector's approximate dot product is m
    * table lookups — no float math per dimension at scan time. Cosine
    * uses the reconstructed (quantized) corpus norm, computed once at
    * encode time. The PQ scan keeps a `shortlist`-element bounded heap
    * per query (the [[graft.functions.TopK]] aggregate — map-side
    * partials, no window sort), then the shortlist alone is re-ranked
    * with EXACT cosine against the raw vectors (the "+R" refinement of
    * IVFADC+R): full-precision work is O(queries·shortlist), never
    * corpus-sized. Deterministic (rank-based seeds, fixed iterations,
    * no RNG); approximate — recall vs [[knnBruteForce]] gated in
    * ScalaTest; rows-only driver check. */
  def annPq(spark: SparkSession, dir: String,
      m: Int = 8, ksub: Int = 32, k: Int = 5, nQueries: Int = 16,
      lloydIters: Int = 3, shortlist: Int = 64): DataFrame = {
    // train / encode / probe live in [[PqIndex]] so codebooks and codes
    // can be persisted and appended to across sessions (the production
    // lifecycle — the codes table is the whole point of PQ at scale);
    // this registered query is the self-contained one-call composition.
    val ds = vecs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val codebooks = PqIndex.train(ds, m, ksub, lloydIters)
      val codes = PqIndex.encode(ds, codebooks)
      val queries = ds.filter(_.vec_id < nQueries).collect().sortBy(_.vec_id)
      PqIndex.probe(queries, codes, codebooks, ds, k, shortlist)
        .localCheckpoint(true) // materialize so the cache can be released
    } finally ds.unpersist()
  }

  /** Deterministic ±1 hyperplane components from a splitmix-style hash —
    * no RNG state, reproducible across executors and runs. */

  /** nBits-bit bucket key for one hash table: sign of dot with
    * deterministic ±1 hyperplanes; table t draws planes t·nBits …
    * t·nBits+nBits-1 so tables are independent. */
  private def bucketKey(emb: Array[Float], nBits: Int, table: Int = 0): Long =
    // integer-exact SRP (the q115 recipe): micro-quantized coordinates
    // against DetMix ±1 planes, table t = plane seed 5 + t — identical
    // in any engine, which is what lets q47's candidate generation sit
    // under the DuckDB oracle ([[srpCodesOf]] with the same seed is the
    // column-level twin)
    graft.functions.SrpCode.computeFloats(emb, nBits, 5L + table)

  /** ANN via multi-table sign-random-projection LSH with multiprobe: per
    * table an nBits-bit bucket key per vector; the query side probes the
    * home bucket and every bucket at Hamming distance ≤ 1 in each table —
    * tables×(1+nBits)× candidate fanout (of long keys only) for
    * 1-(1-p_table)^tables recall. Exact cosine top-k within candidates.
    * Approximate — recall gated ≥ 0.5 against [[knnBruteForce]] in
    * ScalaTest; rows-only driver check. */
  def annLsh(spark: SparkSession, dir: String,
      nBits: Int = -1, k: Int = 5, tables: Int = 4): DataFrame = {
    import spark.implicits._
    // persisted: read once for the count, the table keying, and both
    // sides of the candidate scoring join (same fix annIvf got — without
    // it the parquet is re-scanned 4x per call). NOT spread: repartition
    // before the persist A/B'd 0.82/0.87 (two runs, OPTIMIZATION_r17.md
    // §10) — the window top-k and candidate-join stages dominate, not
    // the keying.
    val ds = vecs(spark, dir).persist()
    try {
    // keyspace grows with the corpus (nBits ≤ 0 → autoBits) so bucket
    // population stays bounded at any scale
    val bits = if (nBits > 0) nBits else autoBits(ds.count())
    // shuffle only (id, table, bucket) rows; vectors resolved by join
    val keyed = tableKeys(ds, bits, tables)
    val probes = tableProbes(keyed, bits)
    val candidates = probes.as("x")
      .joinWith(keyed.as("y"),
        col("x._2") === col("y._2") && col("x._3") === col("y._3") &&
          col("x._1") =!= col("y._1"))
      .map { case ((qid, _, _), (nid, _, _)) => (qid, nid) }
      .distinct() // a pair can surface from several tables/probes

    val scored = scorePairs(
      candidates.toDF("q_id", "neighbor_id"), ds, "q_id", "neighbor_id")

    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cosine"))
      .orderBy(col("q_id"), col("rank"))
      .localCheckpoint(true) // materialize so the cache can be released
    } finally ds.unpersist()
  }

  /** q88: SemDeDup — semantic deduplication by clustering then exact
    * within-cluster pruning (Abbas et al. 2023, arXiv:2303.09540): k-means
    * the embeddings ([[IvfIndex.train]]'s deterministic distributed
    * Lloyd), compute exact cosine only WITHIN each cluster, and drop
    * every vector that has a ≥ tau neighbor with a lower vec_id (one
    * deterministic survivor per semantic-duplicate chain; the paper
    * keeps a random member — lowest-id is that choice made
    * reproducible).
    *
    * The clustering is what makes this a 100 TB operator: candidate
    * generation is the paper's "quadratic inside clusters only" —
    * nClusters grows with the corpus so expected cluster size stays
    * bounded, and [[BucketCap]] caps pathological clusters (logged +
    * recoverable) exactly like every banded-LSH join in [[Dedup]]. The
    * self-join ships (vec_id, cluster) longs only; vectors resolve
    * through [[scorePairs]] at scoring time.
    *
    * Deterministic but centroid values are engine-specific → rows-only
    * driver check; SimilaritySpec replays the within-cluster decision
    * exactly against a local reference. */
  def semDedup(spark: SparkSession, dir: String, nClusters: Int = 16,
      tau: Double = 0.4, clusterCap: Int = 10000): DataFrame = {
    // tau 0.4 matches this corpus's near-dup threshold (q25); real text
    // embeddings run much higher (the paper uses ~0.95 on OpenCLIP)
    val ds = vecs(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val centroids = IvfIndex.train(ds, nClusters)
      val assigned = IvfIndex.assign(ds, centroids)
        .localCheckpoint(eager = false) // reused: candidate join (twice) + verdict join
      // name-based renames: capBuckets's USING join reorders columns to
      // (list_id, vec_id), so a positional toDF would swap the roles
      val capped = BucketCap.capBuckets(assigned, Seq("list_id"),
        clusterCap, "semDedup")
      val candidates = capped.select(col("vec_id").as("a"), col("list_id"))
        .join(capped.select(col("vec_id").as("b"), col("list_id")),
          Seq("list_id"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"))
      val dropped = scorePairs(candidates, ds, "a", "b")
        .filter(col("cos") >= tau)
        .select(col("b").as("vec_id"), lit(1).as("_dropped"))
        .distinct()
      assigned
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("list_id"),
          when(col("_dropped").isNotNull, "drop").otherwise("keep")
            .as("action"))
        .orderBy(col("vec_id"))
        .localCheckpoint(true) // materialize so the cache can be released
    } finally ds.unpersist()
  }

  // --- signed random projection codes (q115) -------------------------------

  /** q115: signed-random-projection (SRP) codes — the ORACLED exact twin
    * of the hyperplane-hashing layer inside [[annLsh]] (Charikar, STOC
    * 2002: sign(r·v) bits preserve cosine similarity in expectation).
    * Where q27's bands use JVM-seeded Gaussian planes (rows-only gate),
    * this derives every projection sign from [[graft.functions.DetMix]]
    * of the (projection, dimension) ordinal and quantizes each embedding
    * coordinate to integer micro-units, so the 16-bit code is pure 64-bit
    * integer arithmetic — bit-identical in any engine, and a DuckDB
    * oracle verifies every code. Rademacher ±1 planes are a standard SRP
    * choice (Achlioptas, JCSS 2003 — sparse/sign random projections).
    *
    * |dot| ≤ 64 dims · ~6·10⁶ µ-units · 1 ≪ 2⁶³: no overflow at any
    * corpus size (the bound is per-vector, not per-corpus).
    *
    * Scale: one narrow codegen'd map over the embeddings — 16 aggregate
    * expressions per row, zero shuffle, zero UDF; the output is the
    * (vec_id, code) pair list a bucketed ANN join would consume.
    * Dimension ordinals are 1-based on both sides (Spark's `transform`
    * index is 0-based, DuckDB's `generate_subscripts` 1-based). */
  def srpCodes(spark: SparkSession, dir: String, nBits: Int = 16,
      seed: Long = 5): DataFrame =
    // The global sort exists ONLY for oracle hash determinism in the
    // registered query; the reusable srpCodesOf stays sort-free (a
    // corpus-wide orderBy of the embeddings table is exactly the plan
    // shape that amplifies one slow executor into a stage stall).
    srpCodesOf(Tables(spark, dir, "embeddings"), nBits, seed)
      .orderBy(col("vec_id"))

  /** SRP codes over any (vec_id, embedding: array<float>) frame.
    * Sort-free: consumers that need an order (the oracle entry) add it.
    * One fused codegen'd pass per row ([[graft.functions.SrpCode]]) —
    * the compositional nBits-aggregate SQL form it replaced computed
    * the same integers through 16 interpreted higher-order-function
    * lambdas per row; the oracle still uses that SQL shape, so the
    * q115 correctness row pins the two implementations equal. */
  def srpCodesOf(vecs: DataFrame, nBits: Int = 16,
      seed: Long = 5): DataFrame = {
    import graft.functions.SrpCode.srp_code
    vecs.select(col("vec_id"),
        srp_code(col("embedding"), nBits, seed).as("srp_code"))
      .withColumn("srp_bits", bit_count(col("srp_code")).cast("long"))
  }

  /** Oracle for q47 [[neardupPairsLsh]] (registered with a FIXED
    * nBits so the SQL is static): SRP codes per hash table t with
    * plane seed 5 + t — the [[srpCodesOf]]/[[bucketKey]] integer
    * recipe — candidates where some table's codes lie within Hamming
    * distance 1 (home bucket ∪ 1-bit multiprobe), then the exact
    * cosine filter (q25's proven cross-engine arithmetic). BucketCap
    * cannot fire at oracle scale (500 vectors < the 1024 cap). */
  /** Shared oracle CTE chain: per-table SRP codes (the
    * [[bucketKey]]/[[srpCodesOf]] integer recipe, table t = seed 5+t). */
  private def srpTableCodesCtes(nBits: Int, tables: Int): String = {
    val mix = graft.functions.DetMix.mixSqlSeedExpr("(j * 64 + i)", "5 + t")
    s"""dims AS (SELECT vec_id,
           unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS i
         FROM embeddings),
       q AS (SELECT vec_id, i,
               CAST(floor(CAST(x AS DOUBLE) * 1e6 + 5e-1) AS BIGINT) AS qx
             FROM dims),
       proj AS (SELECT vec_id, qx, i, tt.range AS t, jj.range AS j
                FROM q, range($tables) tt, range($nBits) jj),
       dots AS (SELECT vec_id, t, j,
           CAST(sum(qx * (CASE WHEN $mix % 2 = 0 THEN 1 ELSE -1 END))
             AS BIGINT) AS dot
         FROM proj GROUP BY 1, 2, 3),
       codes AS (SELECT vec_id, t,
           CAST(sum(CASE WHEN dot >= 0
             THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)
             AS BIGINT) AS code
         FROM dots GROUP BY 1, 2),
       e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)"""
  }

  def neardupLshOracle(tau: Double = 0.4, nBits: Int = 8,
      tables: Int = 4): String =
    s"""WITH ${srpTableCodesCtes(nBits, tables)},
       cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
                FROM codes x JOIN codes y
                  ON x.t = y.t AND x.vec_id < y.vec_id
                     AND bit_count(xor(x.code, y.code)) <= 1)
       SELECT a, b, round(list_cosine_similarity(ea.v, eb.v), 4) AS cosine
       FROM cand JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b
       WHERE list_cosine_similarity(ea.v, eb.v) >= $tau
       ORDER BY a, b"""

  /** Oracle for q27 [[annLsh]] (registered with FIXED nBits): the same
    * SRP multiprobe candidates, directional (every vector is a query),
    * ranked per query by unrounded cosine with neighbor-id tie-break —
    * exactly the Spark window. */
  def annLshOracle(k: Int = 5, nBits: Int = 8, tables: Int = 4): String =
    s"""WITH ${srpTableCodesCtes(nBits, tables)},
       cand AS (SELECT DISTINCT x.vec_id AS qv, y.vec_id AS nv
                FROM codes x JOIN codes y
                  ON x.t = y.t AND x.vec_id <> y.vec_id
                     AND bit_count(xor(x.code, y.code)) <= 1),
       scored AS (SELECT qv, nv, list_cosine_similarity(eq.v, en.v) AS c
                  FROM cand JOIN e eq ON eq.vec_id = qv
                            JOIN e en ON en.vec_id = nv),
       r AS (SELECT qv, nv, c, row_number() OVER (PARTITION BY qv
               ORDER BY c DESC, nv) AS rank
             FROM scored)
       SELECT qv AS q_id, CAST(rank AS INT) AS rank, nv AS neighbor_id,
         round(c, 4) AS cosine
       FROM r WHERE rank <= $k ORDER BY q_id, rank"""

  // --- integer-exact ANN assignment gates (q176/q177) ----------------------

  /** Micro-quantized embedding corpus: every coordinate becomes
    * floor(x·10⁶ + 0.5) carried as a Float — exact, because |x| < 0.6
    * keeps the integer below 2²⁴ (a Float's exact-integer range), and
    * the float→double product x·10⁶ is itself exact (24-bit mantissa ×
    * 20-bit constant < 2⁵³). The q115 quantization applied to the
    * whole vector, so the REAL index code paths run on
    * integer-valued floats. */
  /** floor(x·10⁶ + 0.5) carried as Float — ONE definition of the
    * micro-quantization for the batch corpus AND the streaming batch
    * form; the integer-cosine gate's whole correctness story rests on
    * the two quantizing identically. Exact for |x| < 0.6 (integer
    * below 2²⁴, a Float's exact range — the [[quantVecs]] contract). */
  private def microQuantize(v: Vec): Vec =
    Vec(v.vec_id, v.embedding.map(x =>
      math.floor(x.toDouble * 1e6 + 0.5).toFloat))

  private def quantVecs(spark: SparkSession,
      dir: String): Dataset[Vec] = {
    import spark.implicits._
    vecs(spark, dir).map { v =>
      require(v.embedding.length == EmbDim,
        s"q176/q177 oracles are pinned to dim $EmbDim, " +
          s"got ${v.embedding.length}")
      microQuantize(v)
    }
  }

  private val EmbDim = 64
  private val IvfExactLists = 16
  private val IvfExactSeed = 11L
  private val PqExactM = 8
  private val PqExactKsub = 16
  private val PqExactSeed = 13L
  private val IvfTrainSeed = 17L
  private val IvfTrainIters = 3
  private val AdcQueries = 8
  private val AdcK = 5
  private val IvfForgetFpSeed = 19L
  private val RecallK = 10
  private val RecallNProbe = 4

  /** Shared oracle fragments (the CoPurchaseEdgesSql convention): ONE
    * definition of the micro-quantization, the DetMix centroid table,
    * and the assignment argmin, so the eight ANN gates cannot drift
    * from each other or from the index definition. */
  private def quantVecsSql(materialized: Boolean = false): String = {
    val m = if (materialized) " MATERIALIZED" else ""
    s"""dims AS (SELECT vec_id, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS i
         FROM embeddings),
       q AS$m (SELECT vec_id, i,
           CAST(floor(CAST(x AS DOUBLE) * 1e6 + 5e-1) AS BIGINT) AS qx
         FROM dims)"""
  }

  /** The DetMix integer centroid table as CTE `name` (l, i, c). */
  private def detCentSql(name: String, seed: Long,
      materialized: Boolean = false): String = {
    val m = if (materialized) " MATERIALIZED" else ""
    val mix = graft.functions.DetMix.mixSql(
      s"(ll.range * $EmbDim + ii.range)", seed)
    s"""$name AS$m (SELECT ll.range AS l, ii.range AS i,
           CAST($mix % 1200001 - 600000 AS BIGINT) AS c
         FROM range($IvfExactLists) ll, range(1, ${EmbDim + 1}) ii)"""
  }

  /** Per-(vector, list) L2² (`$dd`) and the assignment argmin (`$asg`:
    * vec_id, l [, d2]) against centroid CTE `cent`. Output CTE names
    * parameterized so one definition serves every assignment replay —
    * including oracles that assign under TWO centroid sets (q188). */
  private def ivfAssignSql(cent: String, ddMaterialized: Boolean = false,
      keepD2: Boolean = false, dd: String = "dd",
      asg: String = "asg"): String = {
    val m = if (ddMaterialized) " MATERIALIZED" else ""
    val d2 = if (keepD2) ", d2" else ""
    s"""$dd AS$m (SELECT q.vec_id, $cent.l,
           CAST(sum((qx - c) * (qx - c)) AS BIGINT) AS d2
         FROM q JOIN $cent ON $cent.i = q.i GROUP BY 1, 2),
       $asg AS (SELECT vec_id, l$d2 FROM (SELECT vec_id, l, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, l) AS rn
         FROM $dd) WHERE rn = 1)"""
  }

  /** The q176 index's assignment artifact, memoized (the shared-
    * artifact policy): q178/q181/q183 are READS of the same postings
    * the q176 gate registers, so they reuse one derivation per
    * session; q176 itself derives fresh (a query never memoizes its
    * own result). Every oracle still replays the assignment
    * independently. */
  private def exactAssignFor(spark: SparkSession,
      dir: String): DataFrame =
    graft.SessionMemo(spark, s"ivf-exact-assign:$dir") {
      IvfIndex.assign(quantVecs(spark, dir),
          IvfIndex.detCentroids(IvfExactLists, EmbDim, IvfExactSeed))
        .localCheckpoint()
    }

  /** q176: the IVF ASSIGNMENT gate — [[IvfIndex.assign]] (the exact
    * code path q42 and every incremental ingest batch run) over the
    * micro-quantized corpus and [[IvfIndex.detCentroids]]' integer
    * centroids. Float Lloyd training is unordered-sum nondeterministic
    * by design (and so rows-only gated in q42); the ASSIGNMENT — the
    * part that touches every vector forever after — is pure integer
    * arithmetic here, and the DuckDB oracle replays it bit for bit
    * (the q115 recipe applied to a centroid argmin). ORDER BY =
    * oracle determinism only.
    *
    * Scale: centroids broadcast; one narrow map; no shuffle before
    * the output sort. */
  def ivfAssignExact(spark: SparkSession, dir: String): DataFrame =
    IvfIndex.assign(quantVecs(spark, dir),
        IvfIndex.detCentroids(IvfExactLists, EmbDim, IvfExactSeed))
      .orderBy(col("vec_id"))

  lazy val ivfAssignExactOracle: String =
    s"""WITH ${quantVecsSql()},
       ${detCentSql("cent", IvfExactSeed)},
       ${ivfAssignSql("cent")}
       SELECT vec_id, CAST(l AS INT) AS list_id
       FROM asg ORDER BY vec_id"""

  /** q177: the PQ ENCODE gate — [[PqIndex.encode]] (q69's exact code
    * path, the per-ingest-batch step that turns 256 raw bytes into 8
    * code bytes) over the micro-quantized corpus and
    * [[PqIndex.detCodebooks]]' integer codebooks, one row per
    * (vector, subspace). The per-subspace argmin is exact integer
    * arithmetic; the DuckDB oracle replays every code. ORDER BY =
    * oracle determinism only. */
  def pqCodesExact(spark: SparkSession, dir: String): DataFrame =
    PqIndex.encode(quantVecs(spark, dir),
        PqIndex.detCodebooks(PqExactM, PqExactKsub,
          EmbDim / PqExactM, PqExactSeed))
      .select(col("vec_id"), posexplode(col("code")))
      .toDF("vec_id", "subspace", "code")
      .orderBy(col("vec_id"), col("subspace"))

  lazy val pqCodesExactOracle: String = {
    val sub = EmbDim / PqExactM
    val mix = graft.functions.DetMix.mixSql(
      s"((ss.range * $PqExactKsub + cc.range) * $sub + ii.range)",
      PqExactSeed)
    s"""WITH dims AS (SELECT vec_id, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS i
         FROM embeddings),
       q AS (SELECT vec_id, i,
           CAST(floor(CAST(x AS DOUBLE) * 1e6 + 5e-1) AS BIGINT) AS qx
         FROM dims),
       cb AS (SELECT ss.range AS s, cc.range AS c, ii.range AS i,
           CAST($mix % 1200001 - 600000 AS BIGINT) AS v
         FROM range($PqExactM) ss, range($PqExactKsub) cc,
           range(1, ${sub + 1}) ii),
       qq AS (SELECT vec_id, (i - 1) // $sub AS s,
           (i - 1) % $sub + 1 AS i0, qx FROM q),
       d AS (SELECT qq.vec_id, qq.s, cb.c,
           CAST(sum((qx - v) * (qx - v)) AS BIGINT) AS d2
         FROM qq JOIN cb ON cb.s = qq.s AND cb.i = qq.i0
         GROUP BY 1, 2, 3),
       a AS (SELECT vec_id, s, c, row_number() OVER (
           PARTITION BY vec_id, s ORDER BY d2, c) AS rn FROM d)
       SELECT vec_id, CAST(s AS INT) AS subspace, CAST(c AS INT) AS code
       FROM a WHERE rn = 1 ORDER BY vec_id, subspace"""
  }

  /** q178: the SemDeDup DECISION gate — q88's cluster-then-prune
    * pipeline made integer-exact end to end: the REAL
    * [[IvfIndex.assign]] over the micro-quantized corpus and q176's
    * DetMix centroids, then the within-cluster ≥ tau prune evaluated
    * as pure integer arithmetic — for tau = 2/5,
    * cos(a,b) ≥ tau ⟺ dot > 0 ∧ 25·dot² ≥ 4·|a|²·|b|² — in
    * DECIMAL(38,0) (dot ≤ 64·(1.2·10⁶)² ≈ 10¹⁴, squared ≈ 10²⁸ ≪
    * 10³⁸), which DuckDB replays in HUGEINT. Keep/drop per vector is
    * therefore hash-gated cross-engine; q88 remains the production
    * form (float Lloyd centroids, BucketCap'd clusters, rows-only +
    * spec-replayed). This is the oracle-scale twin: no cluster cap
    * (clusters at oracle SF sit far below any cap) and the quadratic
    * stays within clusters exactly as the paper bounds it. ORDER BY =
    * oracle determinism only. */
  def semDedupExact(spark: SparkSession, dir: String): DataFrame = {
    val qv = quantVecs(spark, dir)
    // shared artifact, reused: pair join (twice) + verdict join
    val assigned = exactAssignFor(spark, dir)
    // the quantized coordinates as BIGINT arrays (floats are integral
    // by construction, so the cast is exact) + integer norms; dot and
    // norm run through the codegen'd int_dot kernel, not interpreted
    // higher-order lambdas
    import graft.functions.IntDot.int_dot
    val qarr = qv.toDF().select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS BIGINT))").as("e"))
      .localCheckpoint(eager = false)
    val qn = qarr.select(col("vec_id"),
      int_dot(col("e"), col("e")).as("nrm"))
    val pairs = assigned.select(col("vec_id").as("a"), col("list_id"))
      .join(assigned.select(col("vec_id").as("b"), col("list_id")),
        Seq("list_id"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    val dropped = pairs
      .join(qarr.select(col("vec_id").as("a"), col("e").as("ea")),
        Seq("a"))
      .join(qarr.select(col("vec_id").as("b"), col("e").as("eb")),
        Seq("b"))
      .withColumn("dot", int_dot(col("ea"), col("eb")))
      .join(qn.select(col("vec_id").as("a"), col("nrm").as("na")),
        Seq("a"))
      .join(qn.select(col("vec_id").as("b"), col("nrm").as("nb")),
        Seq("b"))
      .filter(col("dot") > 0 && expr(
        "25 * CAST(dot AS DECIMAL(38,0)) * dot >= " +
          "4 * CAST(na AS DECIMAL(38,0)) * nb"))
      .select(col("b").as("vec_id"))
      .distinct()
      .withColumn("_dropped", lit(1))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        when(col("_dropped").isNotNull, "drop").otherwise("keep")
          .as("action"))
      .orderBy(col("vec_id"))
  }

  lazy val semDedupExactOracle: String = {
    s"""WITH ${quantVecsSql()},
       ${detCentSql("cent", IvfExactSeed)},
       ${ivfAssignSql("cent")},
       asg2 AS (SELECT vec_id, l AS list_id FROM asg),
       n AS (SELECT vec_id, CAST(sum(qx * qx) AS BIGINT) AS nrm
         FROM q GROUP BY 1),
       pr AS (SELECT x.vec_id AS a, y.vec_id AS b
         FROM asg2 x JOIN asg2 y
           ON x.list_id = y.list_id AND x.vec_id < y.vec_id),
       dt AS (SELECT pr.a, pr.b,
           CAST(sum(qa.qx * qb.qx) AS BIGINT) AS dot
         FROM pr JOIN q qa ON qa.vec_id = pr.a
           JOIN q qb ON qb.vec_id = pr.b AND qb.i = qa.i
         GROUP BY 1, 2),
       dr AS (SELECT DISTINCT dt.b AS vec_id FROM dt
         JOIN n na ON na.vec_id = dt.a
         JOIN n nb ON nb.vec_id = dt.b
         WHERE dot > 0 AND 25 * CAST(dot AS HUGEINT) * dot
           >= 4 * CAST(na.nrm AS HUGEINT) * nb.nrm)
       SELECT asg2.vec_id, CAST(asg2.list_id AS INT) AS list_id,
         CASE WHEN dr.vec_id IS NULL THEN 'keep' ELSE 'drop' END
           AS action
       FROM asg2 LEFT JOIN dr ON dr.vec_id = asg2.vec_id
       ORDER BY asg2.vec_id"""
  }

  /** q179: the IVF TRAINING gate — [[IvfIndex.trainExact]]'s full
    * Lloyd loop (3 iterations, DetMix init, truncating-Long-division
    * centroid updates) over the micro-quantized corpus, with the REAL
    * [[IvfIndex.nearestList]] assignment inside every iteration.
    * Where q176 gates the forever-after per-batch step, this gates the
    * training transcript itself: integer sums are order-independent,
    * so the trained index is bit-identical across partitionings AND
    * engines — the DuckDB oracle unrolls the three assign+update
    * rounds as materialized CTEs (the q82 BPE idiom) and reproduces
    * every centroid coordinate and final list size. Float Lloyd
    * ([[IvfIndex.train]], q42) remains the recall-tuned production
    * default; this is the reproducible re-train a 100 TB corpus swap
    * wants. Output is the index definition itself (nLists·dim rows),
    * assembled on the driver from the bounded training result. */
  def ivfTrainExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (cs, ns) = IvfIndex.trainExact(quantVecs(spark, dir),
      IvfExactLists, EmbDim, IvfTrainIters, IvfTrainSeed)
    val rows = for {
      l <- cs.indices
      i <- 0 until EmbDim
    } yield (l, i + 1, cs(l)(i).toLong, ns(l))
    rows.toDF("list_id", "i", "coord", "list_n")
      .orderBy(col("list_id"), col("i"))
  }

  /** The q179 Lloyd rounds as CTEs `d/a/s/c{1..iters}` over `q` and
    * `c0` — shared by the training gate and the retrain-diff gate. */
  private def trainRoundsSql: String =
    (1 to IvfTrainIters).map { r =>
      val prev = s"c${r - 1}"
      s"""d$r AS MATERIALIZED (SELECT q.vec_id, $prev.l,
           CAST(sum((qx - c) * (qx - c)) AS BIGINT) AS d2
         FROM q JOIN $prev ON $prev.i = q.i GROUP BY 1, 2),
       a$r AS MATERIALIZED (SELECT vec_id, l FROM (SELECT vec_id, l,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, l) AS rn
         FROM d$r) WHERE rn = 1),
       s$r AS (SELECT a$r.l, q.i, sum(q.qx) AS s, count(*) AS cnt
         FROM q JOIN a$r ON a$r.vec_id = q.vec_id GROUP BY 1, 2),
       c$r AS MATERIALIZED (SELECT $prev.l, $prev.i,
           COALESCE(CAST(s$r.s // s$r.cnt AS BIGINT), $prev.c) AS c
         FROM $prev LEFT JOIN s$r
           ON s$r.l = $prev.l AND s$r.i = $prev.i)"""
    }.mkString(",\n       ")

  lazy val ivfTrainExactOracle: String = {
    val rounds = trainRoundsSql
    val last = s"c$IvfTrainIters"
    s"""WITH ${quantVecsSql(materialized = true)},
       ${detCentSql("c0", IvfTrainSeed, materialized = true)},
       $rounds,
       n AS (SELECT l, CAST(count(*) AS BIGINT) AS list_n
         FROM a$IvfTrainIters GROUP BY 1)
       SELECT CAST($last.l AS INT) AS list_id, CAST($last.i AS INT) AS i,
         $last.c AS coord,
         CAST(COALESCE(n.list_n, 0) AS BIGINT) AS list_n
       FROM $last LEFT JOIN n ON n.l = $last.l
       ORDER BY list_id, i"""
  }

  /** The q179 trained centroids, memoized (q188 is a READ of the
    * training artifact; q179 itself derives fresh). */
  private def exactTrainFor(spark: SparkSession,
      dir: String): Array[Array[Double]] =
    graft.SessionMemo(spark, s"ivf-exact-train:$dir") {
      IvfIndex.trainExact(quantVecs(spark, dir), IvfExactLists, EmbDim,
        IvfTrainIters, IvfTrainSeed)._1
    }

  /** q188: the retrain MIGRATION report — what swapping the index
    * definition actually shuffles: every vector assigned under the
    * CURRENT index (q176's centroids) and under the CANDIDATE retrain
    * (q179's trained centroids), reported as per-(old_list, new_list)
    * transition counts. The stayed-fraction prices the posting rewrite
    * a re-train triggers (the class doc's "re-assign offline, swap the
    * postings table" has a bill; this is it), and rows off the
    * diagonal say WHERE the drift went. Both assignments are the REAL
    * code path on integer-exact inputs, so the whole report replays in
    * DuckDB. Transition rows are ≤ nLists², broadcast-sized.
    *
    * Scale: both centroid sets broadcast; ONE narrow map emits
    * (old_list, new_list) per vector — joining two corpus-sized
    * postings frames on vec_id would shuffle the corpus twice for a
    * report this aggregate-sized. ORDER BY = oracle determinism
    * only. */
  def ivfRetrainDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val oldCs = IvfIndex.detCentroids(IvfExactLists, EmbDim,
      IvfExactSeed)
    val newCs = exactTrainFor(spark, dir)
    val bcOld = spark.sparkContext.broadcast(oldCs)
    val bcNew = spark.sparkContext.broadcast(newCs)
    quantVecs(spark, dir)
      .map(v => (IvfIndex.nearestList(bcOld.value, v.embedding),
        IvfIndex.nearestList(bcNew.value, v.embedding)))
      .toDF("old_list", "new_list")
      .groupBy(col("old_list"), col("new_list"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("old_list"), col("new_list"))
  }

  lazy val ivfRetrainDiffOracle: String = {
    s"""WITH ${quantVecsSql(materialized = true)},
       ${detCentSql("cent", IvfExactSeed)},
       ${ivfAssignSql("cent")},
       ${detCentSql("c0", IvfTrainSeed, materialized = true)},
       $trainRoundsSql,
       ${ivfAssignSql(s"c$IvfTrainIters", dd = "dn", asg = "asgn")}
       SELECT CAST(asg.l AS INT) AS old_list,
         CAST(asgn.l AS INT) AS new_list,
         CAST(count(*) AS BIGINT) AS n
       FROM asg JOIN asgn ON asgn.vec_id = asg.vec_id
       GROUP BY 1, 2 ORDER BY old_list, new_list"""
  }

  /** q180: the PQ SEARCH gate — asymmetric-distance top-k through the
    * REAL ADC machinery ([[PqIndex.adcTable]] build + [[PqIndex.adcOf]]
    * lookups, the exact code [[PqIndex.probe]] runs) over q177's
    * integer codebooks and the real [[PqIndex.encode]] codes. Ranking
    * is by the raw integer ADC dot (every table entry and lookup sum
    * is exact integer arithmetic below 2⁵³), so DuckDB replays the
    * whole search — encode, tables, lookups, top-k with (adc desc, id)
    * tiebreak — bit for bit. q69's probe stays the production form
    * (cosine normalization + exact re-rank, float by nature); this
    * gates the lookup pipeline those floats flow through.
    *
    * Scale: queries are a bounded driver set (the interactive side of
    * ANN — same contract as [[PqIndex.probe]]); the corpus side is two
    * narrow passes over the codes table (score into the bounded TopK
    * heap, then recover the winners' scores under a broadcast of the
    * nQueries·k winner ids). No corpus shuffle, no window. */
  def pqAdcExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = quantVecs(spark, dir)
    val cbs = PqIndex.detCodebooks(PqExactM, PqExactKsub,
      EmbDim / PqExactM, PqExactSeed)
    val codes = PqIndex.encode(ds, cbs)
    val queries = ds.orderBy(col("vec_id")).limit(AdcQueries).collect()
    val tables: Map[Long, Array[Array[Double]]] =
      queries.map(q => q.vec_id -> PqIndex.adcTable(q.embedding, cbs)).toMap
    val bcT = spark.sparkContext.broadcast(tables)
    val scored = codes.select(col("vec_id"), col("code"))
      .as[(Long, Seq[Int])]
      .flatMap { case (vid, code) =>
        bcT.value.iterator.collect { case (qid, t) if qid != vid =>
          // integral double by construction: toLong exact
          (qid, vid, PqIndex.adcOf(t, code).toLong)
        }
      }.toDF("q_id", "neighbor_id", "adc")
    val winners = scored.groupBy(col("q_id"))
      .agg(graft.functions.TopK.top_k_by_score(
        col("adc").cast("double"), col("neighbor_id"), AdcK).as("top"))
      .select(col("q_id"), inline(col("top")))
      .withColumnRenamed("id", "neighbor_id")
    scored.join(broadcast(winners), Seq("q_id", "neighbor_id"))
      .select(col("q_id"), col("rank"), col("neighbor_id"), col("adc"))
      .orderBy(col("q_id"), col("rank"))
  }

  lazy val pqAdcExactOracle: String = {
    val sub = EmbDim / PqExactM
    val mix = graft.functions.DetMix.mixSql(
      s"((ss.range * $PqExactKsub + cc.range) * $sub + ii.range)",
      PqExactSeed)
    s"""WITH dims AS (SELECT vec_id, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS i
         FROM embeddings),
       q AS (SELECT vec_id, i,
           CAST(floor(CAST(x AS DOUBLE) * 1e6 + 5e-1) AS BIGINT) AS qx
         FROM dims),
       cb AS (SELECT ss.range AS s, cc.range AS c, ii.range AS i,
           CAST($mix % 1200001 - 600000 AS BIGINT) AS v
         FROM range($PqExactM) ss, range($PqExactKsub) cc,
           range(1, ${sub + 1}) ii),
       qq AS (SELECT vec_id, (i - 1) // $sub AS s,
           (i - 1) % $sub + 1 AS i0, qx FROM q),
       d AS (SELECT qq.vec_id, qq.s, cb.c,
           CAST(sum((qx - v) * (qx - v)) AS BIGINT) AS d2
         FROM qq JOIN cb ON cb.s = qq.s AND cb.i = qq.i0
         GROUP BY 1, 2, 3),
       enc AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c)
             AS rn FROM d) WHERE rn = 1),
       qs AS (SELECT vec_id FROM embeddings ORDER BY vec_id
         LIMIT $AdcQueries),
       tab AS (SELECT qq.vec_id AS q_id, cb.s, cb.c,
           CAST(sum(qq.qx * cb.v) AS BIGINT) AS dot
         FROM qq JOIN cb ON cb.s = qq.s AND cb.i = qq.i0
         WHERE qq.vec_id IN (SELECT vec_id FROM qs)
         GROUP BY 1, 2, 3),
       adc AS (SELECT tab.q_id, enc.vec_id AS neighbor_id,
           CAST(sum(tab.dot) AS BIGINT) AS adc
         FROM enc JOIN tab ON tab.s = enc.s AND tab.c = enc.c
           AND tab.q_id <> enc.vec_id
         GROUP BY 1, 2),
       r AS (SELECT q_id, neighbor_id, adc, row_number() OVER (
           PARTITION BY q_id ORDER BY adc DESC, neighbor_id) AS rn
         FROM adc)
       SELECT q_id, CAST(rn AS INT) AS rank, neighbor_id, adc
       FROM r WHERE rn <= $AdcK ORDER BY q_id, rank"""
  }

  /** q181: ANN-index erasure scorecard — the REAL [[IvfIndex.assign]]
    * postings under q176's centroids, put through
    * [[IvfIndex.forgetImpactOf]] with the q146 forget predicate
    * (vec_id % 13 = 0): per list, counts and order-independent DetMix
    * checksums before/after erasure. The checksum algebra
    * (checksum_before − checksum_after = Σ fp(forgotten)) is what
    * lets a consumer verify a postings rewrite against just the
    * forgotten ids. ORDER BY = oracle determinism only. */
  def ivfForgetExact(spark: SparkSession, dir: String): DataFrame =
    IvfIndex.forgetImpactOf(exactAssignFor(spark, dir),
        col("vec_id") % 13 === 0, IvfForgetFpSeed)
      .orderBy(col("list_id"))

  lazy val ivfForgetExactOracle: String = {
    val fp = graft.functions.DetMix.mixSql("vec_id", IvfForgetFpSeed)
    s"""WITH ${quantVecsSql()},
       ${detCentSql("cent", IvfExactSeed)},
       ${ivfAssignSql("cent")},
       f AS (SELECT vec_id, CAST(l AS INT) AS list_id,
           vec_id % 13 = 0 AS forgotten, $fp AS fp
         FROM asg)
       SELECT list_id,
         CAST(count(*) AS BIGINT) AS n_before,
         CAST(sum(CASE WHEN forgotten THEN 1 ELSE 0 END) AS BIGINT)
           AS n_forgotten,
         CAST(count(*) - sum(CASE WHEN forgotten THEN 1 ELSE 0 END)
           AS BIGINT) AS n_after,
         CAST(sum(fp) AS BIGINT) AS checksum_before,
         CAST(sum(CASE WHEN NOT forgotten THEN fp END) AS BIGINT)
           AS checksum_after,
         sum(CASE WHEN forgotten THEN 1 ELSE 0 END) > 0
           AS needs_rewrite
       FROM f GROUP BY list_id ORDER BY list_id"""
  }

  /** q182: index-health drift scorecard — [[IvfIndex.driftOf]] over the
    * micro-quantized corpus and q176's centroids: per list, population
    * plus exact truncating-mean and max assigned L2² in micro-units².
    * The monitoring half of the index lifecycle (watch these numbers
    * rise against a baseline snapshot → re-train), priced at one
    * narrow pass + an nLists-row aggregate. ORDER BY = oracle
    * determinism only. */
  def ivfDriftExact(spark: SparkSession, dir: String): DataFrame =
    IvfIndex.driftOf(quantVecs(spark, dir),
        IvfIndex.detCentroids(IvfExactLists, EmbDim, IvfExactSeed))
      .orderBy(col("list_id"))

  lazy val ivfDriftExactOracle: String = {
    s"""WITH ${quantVecsSql()},
       ${detCentSql("cent", IvfExactSeed)},
       ${ivfAssignSql("cent", keepD2 = true)}
       SELECT CAST(l AS INT) AS list_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(d2) // count(*) AS BIGINT) AS avg_d2,
         max(d2) AS max_d2
       FROM asg GROUP BY l ORDER BY list_id"""
  }

  /** q183: ANN recall scorecard — the evaluation operator of the
    * lifecycle: per query, how many of the exact integer-dot top-k
    * ground-truth neighbors the IVF index (q176 centroids, nProbe
    * probe lists) retains, plus the candidate count the probe actually
    * scored (the honest cost axis: recall means nothing without the
    * fraction of corpus scanned). Both rankings use the raw integer
    * dot with the (dot desc, id) tiebreak, so ground truth, probe
    * selection, candidate restriction, and both top-k's replay exactly
    * in DuckDB. Queries are a bounded driver set (the q180 contract);
    * ground truth is the oracle-scale exact scan (the q25 convention —
    * at 100 TB you'd ground-truth a sample the same way). ORDER BY =
    * oracle determinism only. */
  def ivfRecallExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.IntDot.int_dot
    import graft.functions.TopK.top_k_by_score
    val qv = quantVecs(spark, dir)
    val cs = IvfIndex.detCentroids(IvfExactLists, EmbDim, IvfExactSeed)
    val assigned = exactAssignFor(spark, dir)
    val qarr = qv.toDF().select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS BIGINT))").as("e"))
    // ONE bounded pull of the query set feeds both the join side and
    // the driver-derived probe lists
    val qVecs = qv.orderBy(col("vec_id")).limit(AdcQueries).collect()
    val queries = qVecs.toSeq.toDS().toDF()
      .select(col("vec_id").as("q_id"),
        expr("transform(embedding, x -> CAST(x AS BIGINT))").as("ea"))
    // probe lists per query: the nProbe nearest centroids, derived on
    // the driver from the bounded query set (same tiebreak as probe)
    val probePairs = qVecs
      .flatMap { qvec =>
        val dists = cs.indices.map { c =>
          var d = 0.0
          var i = 0
          while (i < qvec.embedding.length) {
            val diff = qvec.embedding(i) - cs(c)(i); d += diff * diff
            i += 1
          }
          (c, d)
        }
        dists.sortBy(x => (x._2, x._1)).take(RecallNProbe)
          .map { case (c, _) => (qvec.vec_id, c) }
      }.toSeq.toDF("q_id", "list_id")
    val dots = qarr.select(col("vec_id").as("neighbor_id"),
        col("e").as("eb"))
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("q_id"))
      .withColumn("dot", int_dot(col("ea"), col("eb")))
      .select(col("q_id"), col("neighbor_id"), col("dot"))
    val gt = dots.groupBy(col("q_id"))
      .agg(top_k_by_score(col("dot").cast("double"), col("neighbor_id"),
        RecallK).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("neighbor_id"))
    val cand = dots
      .join(assigned.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"))
      .join(broadcast(probePairs), Seq("q_id", "list_id"))
      .select(col("q_id"), col("neighbor_id"), col("dot"))
    val ivf = cand.groupBy(col("q_id"))
      .agg(top_k_by_score(col("dot").cast("double"), col("neighbor_id"),
        RecallK).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("neighbor_id"))
    val hits = gt.join(ivf, Seq("q_id", "neighbor_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    val nCand = cand.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_cand"))
    queries.select(col("q_id"))
      .join(hits, Seq("q_id"), "left")
      .join(nCand, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"))
      .orderBy(col("q_id"))
  }

  lazy val ivfRecallExactOracle: String = {
    s"""WITH ${quantVecsSql(materialized = true)},
       ${detCentSql("cent", IvfExactSeed)},
       ${ivfAssignSql("cent", ddMaterialized = true)},
       asg2 AS (SELECT vec_id, l AS list_id FROM asg),
       qs AS (SELECT vec_id FROM embeddings ORDER BY vec_id
         LIMIT $AdcQueries),
       dt AS MATERIALIZED (SELECT qa.vec_id AS q_id, qb.vec_id
           AS neighbor_id, CAST(sum(qa.qx * qb.qx) AS BIGINT) AS dot
         FROM q qa JOIN q qb
           ON qb.i = qa.i AND qb.vec_id <> qa.vec_id
         WHERE qa.vec_id IN (SELECT vec_id FROM qs)
         GROUP BY 1, 2),
       gt AS (SELECT q_id, neighbor_id FROM (SELECT q_id, neighbor_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY dot DESC, neighbor_id) AS rn FROM dt)
         WHERE rn <= $RecallK),
       pl AS (SELECT vec_id AS q_id, l FROM (SELECT vec_id, l,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, l) AS rn
         FROM dd WHERE vec_id IN (SELECT vec_id FROM qs))
         WHERE rn <= $RecallNProbe),
       cand AS (SELECT dt.q_id, dt.neighbor_id, dt.dot
         FROM dt JOIN asg2 ON asg2.vec_id = dt.neighbor_id
           JOIN pl ON pl.q_id = dt.q_id AND pl.l = asg2.list_id),
       ivf AS (SELECT q_id, neighbor_id FROM (SELECT q_id, neighbor_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY dot DESC, neighbor_id) AS rn FROM cand)
         WHERE rn <= $RecallK),
       h AS (SELECT gt.q_id, count(*) AS hits FROM gt
         JOIN ivf ON ivf.q_id = gt.q_id
           AND ivf.neighbor_id = gt.neighbor_id
         GROUP BY 1),
       nc AS (SELECT q_id, count(*) AS n_cand FROM cand GROUP BY 1)
       SELECT qs.vec_id AS q_id,
         CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         CAST(COALESCE(nc.n_cand, 0) AS BIGINT) AS n_cand
       FROM qs LEFT JOIN h ON h.q_id = qs.vec_id
         LEFT JOIN nc ON nc.q_id = qs.vec_id
       ORDER BY q_id"""
  }

  def srpCodesOracle(nBits: Int = 16, seed: Long = 5): String = {
    val mix = graft.functions.DetMix.mixSql("(j * 64 + i)", seed)
    s"""WITH dims AS (SELECT vec_id,
           unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS i
         FROM embeddings),
       proj AS (SELECT vec_id, x, i, range AS j
         FROM dims, range($nBits)),
       dots AS (SELECT vec_id, j,
           CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1e6 + 5e-1) AS BIGINT)
             * (CASE WHEN $mix % 2 = 0 THEN 1 ELSE -1 END)) AS BIGINT)
             AS dot
         FROM proj GROUP BY 1, 2),
       codes AS (SELECT vec_id,
           CAST(sum(CASE WHEN dot >= 0
             THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END)
             AS BIGINT) AS srp_code
         FROM dots GROUP BY 1)
       SELECT vec_id, srp_code,
         CAST(bit_count(srp_code) AS BIGINT) AS srp_bits
       FROM codes ORDER BY vec_id"""
  }

  // --- semantic (embedding-level) decontamination (q190/q191) --------------

  /** q54's benchmark convention lifted to the embedding table: vec_id
    * % 50 = 0 members stand in for eval-suite documents (doc_id and
    * vec_id are 1:1 in the fixtures), partitioned into named
    * benchmarks by (vec_id div 50) mod 3 — the per-benchmark
    * dimension a contamination report card actually carries. */
  private val SemDecBenchMod = 50L
  private val SemDecBenches = 3L

  /** The multiprobe width P of the q190 eval-side assignment: each
    * eval-suite member posts to its P nearest IVF lists (the q183
    * probe idiom applied to the benchmark artifact), so a corpus
    * neighbor that lands one list away still meets it at the same-list
    * join. P multiplies only the benchmark-sized eval artifact — the
    * corpus side stays single-assigned — so the 100 TB cost is
    * unchanged while recall (measured exactly by q199) rises from the
    * 25–50%% the single-list filter scored on the fixtures. Raise P
    * toward nLists for recall → 1 at proportional candidate cost;
    * P = 1 is the single-list filter. */
  private[graft] val SemDecProbes = 4

  /** q190: semantic (embedding-level) decontamination — flag corpus
    * documents whose embedding is ≥ tau-cosine-close to any eval-set
    * member sharing its IVF list, reported per benchmark with the
    * count of contaminating eval neighbors. Dataset cards increasingly
    * report exactly this next to n-gram overlap (q54): paraphrased or
    * re-rendered eval leakage shares no 5-gram but survives embedding
    * similarity.
    *
    * Composed entirely from already-oracled parts: the q176 assignment
    * artifact (memoized postings — candidate generation is
    * IVF-bucketed, never corpus×eval brute force), and q178's integer
    * cosine gate — for tau = 2/5, cos(a,b) ≥ tau ⟺ dot > 0 ∧
    * 25·dot² ≥ 4·|a|²·|b|² in DECIMAL(38,0) through the codegen'd
    * [[graft.functions.IntDot]] kernel — so keep/flag decisions are
    * bit-identical cross-engine.
    *
    * Scale: the eval set is benchmark-sized (thousands of documents
    * against a 100 TB corpus), so its postings AND its quantized
    * vectors broadcast; the corpus side is touched once, restricted to
    * same-list pairs (corpus_rows × eval_members_per_list, the IVF
    * bound), and the only shuffle is the final per-(doc, benchmark)
    * count. Missing lists cost nothing — a corpus doc whose list holds
    * no eval member generates no pair. ORDER BY = oracle determinism
    * only. */
  def semanticDecontaminate(spark: SparkSession,
      dir: String): DataFrame =
    semanticFlagsOf(spark, dir).orderBy(col("vec_id"), col("benchmark"))

  /** The q190 flag frame, memoized for composed consumers (q191 reads
    * it; q190 itself derives fresh — a query never memoizes its own
    * result). */
  private def semanticFlagsFor(spark: SparkSession,
      dir: String): DataFrame =
    graft.SessionMemo(spark, s"sem-flags:$dir") {
      semanticFlagsOf(spark, dir).localCheckpoint()
    }

  private def semanticFlagsOf(spark: SparkSession,
      dir: String): DataFrame =
    semanticFlagsOfP(spark, dir, SemDecProbes)

  /** P-parameterized flag frame — the [[SemDecProbes]] knob exposed so
    * the recall spec can demonstrate P = 1 (the single-list filter) vs
    * the default side by side. Corpus side identical at every P. */
  private[graft] def semanticFlagsOfP(spark: SparkSession,
      dir: String, p: Int): DataFrame = {
    import graft.functions.IntDot.int_dot
    val assigned = exactAssignFor(spark, dir)
    val qarr = quantVecs(spark, dir).toDF().select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS BIGINT))").as("e"))
    val corpus = assigned
      .filter(col("vec_id") % SemDecBenchMod =!= 0)
      .join(qarr, Seq("vec_id"))
      .select(col("vec_id"), col("list_id"), col("e"),
        int_dot(col("e"), col("e")).as("n"))
    semanticGateOf(corpus, semanticEvalArtifactP(spark, dir, p))
  }

  /** The eval-side artifact of the q190 gate — (ev, list_id,
    * benchmark, ee, ne), one row per (eval-suite member, probe): its
    * [[SemDecProbes]]-multiprobe postings ([[IvfIndex.assignTopP]],
    * whose rank-1 row IS the [[IvfIndex.assign]] assignment — same
    * L2²-then-lowest-id tiebreak), benchmark name, quantized integer
    * coordinates, and norm. Benchmark-sized × P (thousands of rows
    * against a 100 TB corpus), so it is the CONFIG a streaming stage
    * carries, exactly like the q54 benchmark gram set; memoized per
    * session and per P. */
  def semanticEvalArtifact(spark: SparkSession,
      dir: String): DataFrame =
    semanticEvalArtifactP(spark, dir, SemDecProbes)

  private[graft] def semanticEvalArtifactP(spark: SparkSession,
      dir: String, p: Int): DataFrame =
    graft.SessionMemo(spark, s"sem-eval-artifact:$dir:$p") {
      import graft.functions.IntDot.int_dot
      val evQuant = quantVecs(spark, dir)
        .filter(col("vec_id") % SemDecBenchMod === 0)
      val qarr = evQuant.toDF().select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS BIGINT))").as("e"))
      IvfIndex.assignTopP(evQuant,
          IvfIndex.detCentroids(IvfExactLists, EmbDim, IvfExactSeed), p)
        .withColumn("benchmark", concat(lit("bench"),
          (expr(s"vec_id div $SemDecBenchMod") % SemDecBenches)
            .cast("string")))
        .join(qarr, Seq("vec_id"))
        .select(col("vec_id").as("ev"), col("list_id"),
          col("benchmark"), col("e").as("ee"),
          int_dot(col("e"), col("e")).as("ne"))
        .localCheckpoint(eager = false)
    }

  /** The flag rollup over a prepared corpus frame (vec_id, list_id,
    * e, n) against the broadcast eval side — ONE definition for the
    * batch q190 and the streaming stage, so the two cannot drift. */
  private[graft] def semanticGateOf(corpus: DataFrame,
      evalSide: DataFrame): DataFrame = {
    import graft.functions.IntDot.int_dot
    corpus
      .join(broadcast(evalSide), Seq("list_id"))
      .withColumn("dot", int_dot(col("e"), col("ee")))
      .filter(col("dot") > 0 && expr(
        "25 * CAST(dot AS DECIMAL(38,0)) * dot >= " +
          "4 * CAST(n AS DECIMAL(38,0)) * ne"))
      .groupBy(col("vec_id"), col("benchmark"))
      .agg(count(lit(1)).as("n_sem"))
  }

  /** Per-batch semantic flags of any (vec_id, embedding) frame
    * against a SUPPLIED index definition + eval artifact — the
    * streaming form of q190: micro-quantize, assign through the REAL
    * [[IvfIndex.assign]] path under the supplied centroids, drop
    * vectors that ARE eval members (a suite member must not flag
    * against itself — id membership comes from the artifact, not a
    * fixture convention), then the SAME [[semanticGateOf]] rollup. */
  def semanticFlagsOfBatch(batch: DataFrame,
      centroids: Array[Array[Double]],
      evalSide: DataFrame): DataFrame = {
    import batch.sparkSession.implicits._
    import graft.functions.IntDot.int_dot
    val dim = centroids.headOption.map(_.length).getOrElse(0)
    // materialized once per micro-batch: both the assignment pass and
    // the integer-array projection read it — without the checkpoint
    // every batch would quantize twice
    val ds = batch
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .as[Vec]
      .map { v =>
        // the dim contract quantVecs enforces, applied per arriving
        // vector: a short vector would silently assign by a PARTIAL
        // distance (nearestList iterates the vector's length)
        require(v.embedding.length == dim,
          s"vector ${v.vec_id} has dim ${v.embedding.length}, " +
            s"index definition has $dim")
        microQuantize(v)
      }
      .localCheckpoint(eager = false)
    val assigned = IvfIndex.assign(ds, centroids)
    val qarr = ds.toDF().select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS BIGINT))").as("e"))
    val corpus = assigned
      .join(broadcast(evalSide.select(col("ev").as("vec_id"))),
        Seq("vec_id"), "left_anti")
      .join(qarr, Seq("vec_id"))
      .select(col("vec_id"), col("list_id"), col("e"),
        int_dot(col("e"), col("e")).as("n"))
    semanticGateOf(corpus, evalSide)
  }

  /** q199: the semantic-decontamination RECALL audit — the evaluation
    * operator for q190's IVF-bucketed filter (the q183 pattern applied
    * to contamination): per benchmark, the count of ≥ tau (corpus,
    * eval) pairs found by EXACT all-pairs integer cosine, the count
    * the same-list bucketed filter finds (a subset by construction),
    * and the integer-exact recall in ppm. A contamination report is
    * only as good as its recall — a boundary-straddling paraphrase
    * that lands one list away is exactly what this audit counts.
    *
    * Scale: the exact side is corpus × |eval| work — the HONEST cost
    * of ground truth, priced like q183's exact top-k: eval is
    * benchmark-sized and broadcast, the corpus side is one narrow
    * pass per eval member; at 100 TB this audit runs over a sampled
    * corpus slice (the recall estimate needs thousands of pairs, not
    * the corpus). The bucketed side reads the memoized q190 flag
    * artifact. recall_ppm is truncating integer division — exact on
    * both engines. ORDER BY = oracle determinism only. */
  def semanticRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.IntDot.int_dot
    val evalSide = semanticEvalArtifact(spark, dir)
    val qarr = quantVecs(spark, dir).toDF().select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS BIGINT))").as("e"))
    val corpus = qarr.filter(col("vec_id") % SemDecBenchMod =!= 0)
      .select(col("vec_id"), col("e"),
        int_dot(col("e"), col("e")).as("n"))
    // one row per eval MEMBER, derived directly from the quantized
    // vectors: the ground truth is list-free by definition, and the
    // multiprobe artifact carries P posting rows per member — deduping
    // the artifact instead would demote to SortAggregate (a first()
    // over the array column) where this is a narrow filter
    val evalMembers = qarr.filter(col("vec_id") % SemDecBenchMod === 0)
      .select(col("vec_id").as("ev"),
        concat(lit("bench"),
          (expr(s"vec_id div $SemDecBenchMod") % SemDecBenches)
            .cast("string")).as("benchmark"),
        col("e").as("ee"), int_dot(col("e"), col("e")).as("ne"))
    val exact = corpus
      .crossJoin(broadcast(evalMembers))
      .withColumn("dot", int_dot(col("e"), col("ee")))
      .filter(col("dot") > 0 && expr(
        "25 * CAST(dot AS DECIMAL(38,0)) * dot >= " +
          "4 * CAST(n AS DECIMAL(38,0)) * ne"))
      .groupBy(col("benchmark"))
      .agg(count(lit(1)).as("n_pairs_exact"))
    val bucketed = semanticFlagsFor(spark, dir)
      .groupBy(col("benchmark"))
      .agg(sum(col("n_sem")).as("n_pairs_bucketed"))
    // every benchmark appears, found-nothing ones included: recall of
    // an empty ground truth is vacuously complete
    evalSide.select(col("benchmark")).distinct()
      .join(exact, Seq("benchmark"), "left")
      .join(bucketed, Seq("benchmark"), "left")
      .select(col("benchmark"),
        coalesce(col("n_pairs_exact"), lit(0L)).as("n_pairs_exact"),
        coalesce(col("n_pairs_bucketed"), lit(0L))
          .as("n_pairs_bucketed"))
      .withColumn("recall_ppm", expr(
        "CASE WHEN n_pairs_exact = 0 THEN CAST(1000000 AS BIGINT) " +
          "ELSE n_pairs_bucketed * 1000000 div n_pairs_exact END"))
      .orderBy(col("benchmark"))
  }

  lazy val semanticRecallAuditOracle: String =
    s"""WITH $semDecSql,
       cpx AS (SELECT vec_id FROM asg2
         WHERE vec_id % $SemDecBenchMod <> 0),
       evd AS (SELECT DISTINCT ev, benchmark FROM ev),
       prx AS (SELECT cpx.vec_id, evd.ev, evd.benchmark
         FROM cpx CROSS JOIN evd),
       dtx AS (SELECT prx.vec_id, prx.ev, prx.benchmark,
           CAST(sum(qa.qx * qb.qx) AS BIGINT) AS dot
         FROM prx JOIN q qa ON qa.vec_id = prx.vec_id
           JOIN q qb ON qb.vec_id = prx.ev AND qb.i = qa.i
         GROUP BY 1, 2, 3),
       ex AS (SELECT benchmark,
           CAST(count(*) AS BIGINT) AS n_pairs_exact
         FROM dtx JOIN n na ON na.vec_id = dtx.vec_id
           JOIN n nb ON nb.vec_id = dtx.ev
         WHERE dot > 0 AND 25 * CAST(dot AS HUGEINT) * dot
           >= 4 * CAST(na.nrm AS HUGEINT) * nb.nrm
         GROUP BY 1),
       bk AS (SELECT benchmark,
           CAST(sum(n_sem) AS BIGINT) AS n_pairs_bucketed
         FROM sem GROUP BY 1)
       SELECT b.benchmark,
         COALESCE(ex.n_pairs_exact, 0) AS n_pairs_exact,
         COALESCE(bk.n_pairs_bucketed, 0) AS n_pairs_bucketed,
         CASE WHEN COALESCE(ex.n_pairs_exact, 0) = 0
           THEN CAST(1000000 AS BIGINT)
           ELSE COALESCE(bk.n_pairs_bucketed, 0) * 1000000
             // ex.n_pairs_exact END AS recall_ppm
       FROM (SELECT DISTINCT benchmark FROM ev) b
       LEFT JOIN ex ON ex.benchmark = b.benchmark
       LEFT JOIN bk ON bk.benchmark = b.benchmark
       ORDER BY b.benchmark"""

  /** The q190 CTE chain up to per-(doc, benchmark) flag counts —
    * shared verbatim by the q190 oracle and q191's composed verdict
    * so the two cannot drift. */
  private def semDecSql: String =
    s"""${quantVecsSql()},
       ${detCentSql("cent", IvfExactSeed)},
       ${ivfAssignSql("cent")},
       asg2 AS (SELECT vec_id, l AS list_id FROM asg),
       n AS (SELECT vec_id, CAST(sum(qx * qx) AS BIGINT) AS nrm
         FROM q GROUP BY 1),
       ev AS (SELECT vec_id AS ev, l AS list_id,
           'bench' || CAST((vec_id // $SemDecBenchMod) % $SemDecBenches
             AS VARCHAR) AS benchmark
         FROM (SELECT vec_id, l,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, l)
               AS rn
           FROM dd WHERE vec_id % $SemDecBenchMod = 0)
         WHERE rn <= $SemDecProbes),
       cp AS (SELECT vec_id, list_id FROM asg2
         WHERE vec_id % $SemDecBenchMod <> 0),
       pr AS (SELECT cp.vec_id, ev.ev, ev.benchmark
         FROM cp JOIN ev USING (list_id)),
       dt AS (SELECT pr.vec_id, pr.ev, pr.benchmark,
           CAST(sum(qa.qx * qb.qx) AS BIGINT) AS dot
         FROM pr JOIN q qa ON qa.vec_id = pr.vec_id
           JOIN q qb ON qb.vec_id = pr.ev AND qb.i = qa.i
         GROUP BY 1, 2, 3),
       sem AS (SELECT dt.vec_id, dt.benchmark,
           CAST(count(*) AS BIGINT) AS n_sem
         FROM dt JOIN n na ON na.vec_id = dt.vec_id
           JOIN n nb ON nb.vec_id = dt.ev
         WHERE dot > 0 AND 25 * CAST(dot AS HUGEINT) * dot
           >= 4 * CAST(na.nrm AS HUGEINT) * nb.nrm
         GROUP BY 1, 2)"""

  lazy val semanticDecontaminateOracle: String =
    s"""WITH $semDecSql
       SELECT vec_id, benchmark, n_sem
       FROM sem ORDER BY vec_id, benchmark"""

  /** q191: the composed contamination VERDICT — every corpus document
    * flagged by EITHER filter, carrying q54's shared-5-gram count,
    * q190's semantic-neighbor count (summed over benchmarks), and the
    * verdict `both`/`ngram`/`semantic`. The shape a training-mix
    * release audit publishes: the n-gram column catches verbatim
    * leakage, the semantic column catches paraphrase, and the `both`
    * rows are the high-confidence removals. doc_id ≡ vec_id by the
    * fixture contract; each side's eval exclusion is its own (q54
    * drops %50 docs, q190's corpus side drops %50 vecs — same set).
    *
    * Scale: the union of two flag frames, each already
    * benchmark-bounded (contaminated docs are a sliver of the
    * corpus); the outer join keys on doc_id longs. */
  def contaminationVerdict(spark: SparkSession,
      dir: String): DataFrame = {
    // both flag frames are shared artifacts (the q60 convention):
    // q54/q190 derive fresh, the composed verdict reads the memos
    val ngram = graft.SessionMemo(spark, s"ngram-contam:$dir") {
      Curate.decontaminate(spark, dir).localCheckpoint()
    }.select(col("doc_id"), col("n_shared"))
    val sem = semanticFlagsFor(spark, dir)
      .groupBy(col("vec_id").as("doc_id"))
      .agg(sum(col("n_sem")).as("n_sem"))
    ngram.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("n_sem"), lit(0L)).as("n_sem"),
        when(col("n_shared").isNotNull && col("n_sem").isNotNull, "both")
          .when(col("n_shared").isNotNull, "ngram")
          .otherwise("semantic").as("verdict"))
      .orderBy(col("doc_id"))
  }

  lazy val contaminationVerdictOracle: String =
    s"""WITH $semDecSql,
       semdoc AS (SELECT vec_id AS doc_id,
           CAST(sum(n_sem) AS BIGINT) AS n_sem
         FROM sem GROUP BY 1),
       w AS (SELECT doc_id, string_split(text, ' ') AS ws
         FROM documents),
       gi AS (SELECT doc_id, ws, unnest(generate_series(1,
           greatest(len(ws) - 4, 0))) AS i FROM w),
       g AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS sh
         FROM gi),
       d AS (SELECT DISTINCT doc_id, sh FROM g),
       bench AS (SELECT DISTINCT sh FROM d WHERE doc_id % 50 = 0),
       ng AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         FROM d JOIN bench USING (sh)
         WHERE d.doc_id % 50 <> 0 GROUP BY 1)
       SELECT COALESCE(ng.doc_id, semdoc.doc_id) AS doc_id,
         COALESCE(ng.n_shared, 0) AS n_shared,
         COALESCE(semdoc.n_sem, 0) AS n_sem,
         CASE WHEN ng.doc_id IS NOT NULL AND semdoc.doc_id IS NOT NULL
             THEN 'both'
           WHEN ng.doc_id IS NOT NULL THEN 'ngram'
           ELSE 'semantic' END AS verdict
       FROM ng FULL OUTER JOIN semdoc ON semdoc.doc_id = ng.doc_id
       ORDER BY doc_id"""
}
