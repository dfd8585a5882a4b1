package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.DetMix
import graft.functions.MinHashAgg
import graft.functions.ShingleHashes.shingle_hashes_md5
import graft.functions.Sketches.{minhash_sketch, simhash_sketch}

/** Deduplication operators over the `documents` table: exact
  * (hash-groupBy), MinHash+LSH, SimHash, and exact n-gram Jaccard via an
  * inverted shingle index.
  *
  * Scale posture: nothing here is O(n²) over the corpus. Candidate
  * generation is always a shuffle keyed on a bounded-fanout value (content
  * hash, LSH band bucket, shingle, SimHash band), so 100 TB of documents
  * shuffles O(n·bands) rows, and pairwise work happens only inside
  * buckets. The brute-force pairwise shape exists only in the oracle SQL,
  * where the oracle engine runs at sf0.01.
  */
object Dedup {

  // --- shingling -----------------------------------------------------------

  /** Distinct word k-gram shingles from a *materialized* token-array
    * column; empty array when the document has fewer than k tokens.
    *
    * Callers must bind the token array to its own projection first
    * (see [[shingleDf]]): handing `split(text)` in directly would be
    * re-evaluated per lambda element inside `transform` — O(tokens²)
    * per document. */
  def shinglesOfTokens(w: Column, k: Int = 3): Column =
    when(size(w) >= k,
      array_distinct(transform(sequence(lit(0), size(w) - k),
        i => array_join(slice(w, i + lit(1), lit(k)), " "))))
      .otherwise(array().cast("array<string>"))

  /** Convenience wrapper over a text column (used in tests). */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesOfTokens(split(text, " "), k)

  /** (doc_id, hs) — sorted distinct shingle-hash sets via the custom
    * single-pass [[graft.functions.ShingleHashesMd5]] expression. Every
    * dedup operator consumes this, so the corpus is byte-scanned exactly
    * once per query with no token/shingle string materialization. The
    * md5-60bit portable hash (rather than the faster splitmix form)
    * because every sketch downstream — MinHash signatures, SimHash
    * bits, KMV minima — inherits engine-portability from its feature
    * hash, which is what lets the whole family sit under the DuckDB
    * oracle instead of rows-only checks. */
  private def shingleHashDf(spark: SparkSession, dir: String): DataFrame =
    shingleHashDfOf(Tables(spark, dir, "documents"))

  /** Same over any (doc_id, text) DataFrame (injectable for tests). */
  def shingleHashDfOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingle_hashes_md5(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)

  /** DuckDB SQL fragment: distinct (doc_id, h) portable shingle hashes
    * of `documents` — the oracle-side twin of [[shingleHashDfOf]]
    * exploded. Shared prefix of every sketch-family oracle. */
  private val shingleHashCte: String =
    """w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word,
             generate_subscripts(string_split(text,' '),1) AS pos
           FROM documents),
       t AS (SELECT a.doc_id, a.word||' '||b.word||' '||c.word AS sh
             FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
                      JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
       hh AS (SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(sh),1,15)) AS BIGINT) AS h
             FROM t)"""

  // --- exact dedup ---------------------------------------------------------

  /** Exact dedup: hash-groupBy on content digest; keep-first = min id.
    * One shuffle on the digest; at 100 TB the digest groupBy benefits
    * from map-side partial aggregation (most groups are singletons). */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.groupBy(md5(col("text").cast("binary")).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        max(col("n_chars")).as("n_chars"))
      .orderBy(col("keep_id"))
  }

  val exactOracle: String =
    """SELECT md5(text) AS digest, min(doc_id) AS keep_id,
       count(*) AS n_copies, max(n_chars) AS n_chars
       FROM documents GROUP BY md5(text) ORDER BY keep_id"""

  /** Incremental exact dedup — the ingestion-time shape of [[exact]]:
    * admit only batch documents whose content digest is new, both
    * against the already-ingested digest set and within the batch
    * (first occurrence = min id wins).
    *
    * Scale: within-batch first-occurrence is a digest groupBy (map-side
    * combinable); the seen-set check is a left-anti join on a
    * fixed-width 32-byte key — the seen side ships only digests, never
    * text, so a petabyte corpus contributes gigabytes of join state. */
  def incrementalNew(batch: DataFrame, seenDigests: DataFrame): DataFrame =
    batch
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(seenDigests.select(col("digest")).distinct(), Seq("digest"),
        "left_anti")
      .select(col("doc_id"), col("digest"))

  /** q61: [[incrementalNew]] over the documents table with the even ids
    * standing in for the already-ingested corpus. The ORDER BY exists
    * only here, for oracle hash determinism — the reusable
    * [[incrementalNew]] (the per-batch ingestion path) stays sort-free. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
    incrementalNew(d.filter(col("doc_id") % 2 =!= 0),
      d.filter(col("doc_id") % 2 === 0))
      .orderBy(col("doc_id"))
  }

  val incrementalOracle: String =
    """WITH d AS (SELECT doc_id, sha256(text) AS digest FROM documents),
       seen AS (SELECT DISTINCT digest FROM d WHERE doc_id % 2 = 0),
       firstb AS (SELECT digest, min(doc_id) AS doc_id
                  FROM d WHERE doc_id % 2 <> 0 GROUP BY 1)
       SELECT doc_id, digest FROM firstb
       WHERE digest NOT IN (SELECT digest FROM seen) ORDER BY doc_id"""

  // --- MinHash + LSH -------------------------------------------------------

  val MinhashK = 64      // signature length
  val LshBands = 16      // bands of 4 rows → catches jaccard ≳ 0.6
  val LshRows: Int = MinhashK / LshBands

  /** Default hot-bucket guard for the banded candidate joins (see
    * [[BucketCap]]): a band bucket with more members than this is dropped
    * (logged, recoverable via [[BucketCap.hotBuckets]]) instead of
    * emitting m²/2 candidate pairs. Far above any honest near-dup
    * cluster in the fixtures; at 100 TB it is the difference between a
    * bounded join and a 10¹²-pair straggler. */
  val DefaultMaxBucket = 1024

  /** MinHash signatures via the custom [[graft.functions.MinHashAgg]]
    * TypedImperativeAggregate: one xxhash64 per (doc, shingle) row, k
    * permutation minima maintained in a single mutable buffer, partial
    * sketches merged map-side — one aggregate instead of k parallel
    * `min()` columns. Returns (doc_id, sig array<long>). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignaturesOf(Tables(spark, dir, "documents"))

  /** Same over any (doc_id, text) DataFrame (injectable for tests and
    * the incremental path). */
  def minhashSignaturesOf(docs: DataFrame): DataFrame =
    shingleHashDfOf(docs)
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy(col("doc_id"))
      .agg(minhash_sketch(col("h"), MinhashK).as("sig"))

  /** (doc_id, band_idx, band_hash, band) — one row per signature band.
    * `band_hash` (32-bit) is the SHUFFLE key — buckets and BucketCap
    * group on it so the exchange ships an int, not an array — while
    * `band` (the LshRows signature values themselves) rides along so
    * candidate joins can require true band equality: a band_hash
    * collision can then never fabricate a candidate pair, making the
    * pair set exactly "some band identical" — the portable semantics
    * the DuckDB oracles reproduce. */
  private def bandedSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(
      array((0 until LshBands).map { b =>
        val sl = slice(col("sig"), b * LshRows + 1, LshRows)
        struct(hash(sl).as("band_hash"), sl.as("band"))
      }: _*)))
      .select(col("doc_id"), col("pos").as("band_idx"),
        col("col.band_hash").as("band_hash"), col("col.band").as("band"))

  /** LSH candidate pairs from a signature table: band the signature, hash
    * each band, shuffle on (band_idx, band_hash), emit pairs within a
    * bucket. The only pairwise work is inside buckets — O(n·bands)
    * shuffled rows, never O(n²) — and buckets themselves are bounded by
    * the [[BucketCap]] guard (maxBucket ≤ 0 disables). */
  private[ext] def candidatesFromSigs(sigs: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = BucketCap.capBuckets(bandedSigs(sigs),
      Seq("band_idx", "band_hash"), maxBucket, "minhash-lsh")
    banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  def minhashCandidates(spark: SparkSession, dir: String): DataFrame =
    candidatesFromSigs(minhashSignatures(spark, dir))

  /** MinHash near-dup pairs with the signature-agreement Jaccard estimate.
    * Signatures are localCheckpoint'ed so the band pass and the two
    * estimate joins share one materialization instead of recomputing the
    * shingle aggregation three times. Deterministic (salted hashes, no
    * RNG) but engine-specific hash values → rows-only driver check;
    * ScalaTest checks recall against the exact [[ngramJaccardPairs]]. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    minhashPairsOf(Tables(spark, dir, "documents"))
      .orderBy(col("a"), col("b"))

  /** Same over any (doc_id, text) DataFrame (injectable for tests). */
  def minhashPairsOf(docs: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sigs = minhashSignaturesOf(docs).localCheckpoint(eager = false)
    candidatesFromSigs(sigs, maxBucket)
      .join(sigs.withColumnsRenamed(Map("doc_id" -> "a", "sig" -> "sig_a")), "a")
      .join(sigs.withColumnsRenamed(Map("doc_id" -> "b", "sig" -> "sig_b")), "b")
      .select(col("a"), col("b"),
        round(aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) =>
            when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / MinhashK, 4)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  /** DuckDB CTE chain reproducing [[minhashSignaturesOf]] exactly:
    * portable shingle hashes → min over the group of DetMix(h, 7000+j)
    * for j in [0, 64) — the same integers [[graft.functions.MinHashAgg]]
    * computes, so signature-derived queries hash-match cross-engine. */
  private def minhashSigCtes: String = {
    val mix = DetMix.mixSqlSeedExpr("h", s"${MinHashAgg.SeedBase} + j")
    s"""$shingleHashCte,
       js AS (SELECT unnest(range(0, $MinhashK)) AS j),
       sig AS (SELECT doc_id, j, min($mix) AS m
               FROM hh CROSS JOIN js GROUP BY 1, 2),
       band AS (SELECT doc_id, j // $LshRows AS band_idx,
                  string_agg(CAST(m AS VARCHAR), ',' ORDER BY j) AS bv
                FROM sig GROUP BY 1, 2)"""
  }

  /** Oracle for q22 [[minhashPairs]]: banded candidates (true band
    * equality — the Spark side requires the band VALUES equal too, so
    * band_hash collisions cannot widen the pair set) + signature
    * agreement ≥ 32/64. Brute-force band self-join is oracle-side only.
    * BucketCap cannot fire at oracle scale (500 docs < the 1024 cap). */
  val minhashPairsOracle: String =
    s"""WITH $minhashSigCtes,
       cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
                FROM band x JOIN band y
                  ON x.band_idx = y.band_idx AND x.bv = y.bv
                     AND x.doc_id < y.doc_id),
       est AS (SELECT da, db,
                 sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS matches
               FROM cand
                 JOIN sig sa ON sa.doc_id = da
                 JOIN sig sb ON sb.doc_id = db AND sb.j = sa.j
               GROUP BY 1, 2)
       SELECT da AS a, db AS b,
         round(matches / $MinhashK.0, 4) AS est_jaccard
       FROM est WHERE matches * 2 >= $MinhashK ORDER BY a, b"""

  /** Oracle for q68 [[incrementalNearDup]]: odd-id batch vs even-id
    * seen corpus, banded candidates, best (highest-agreement, ties →
    * highest seen id) match per batch doc at ≥ 32/64. */
  val incrementalNearDupOracle: String =
    s"""WITH $minhashSigCtes,
       cand AS (SELECT DISTINCT x.doc_id AS d, y.doc_id AS s
                FROM band x JOIN band y
                  ON x.band_idx = y.band_idx AND x.bv = y.bv
                WHERE x.doc_id % 2 <> 0 AND y.doc_id % 2 = 0),
       est AS (SELECT d, s,
                 sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS matches
               FROM cand
                 JOIN sig sa ON sa.doc_id = d
                 JOIN sig sb ON sb.doc_id = s AND sb.j = sa.j
               GROUP BY 1, 2),
       best AS (SELECT d, s, matches,
                  row_number() OVER (PARTITION BY d
                    ORDER BY matches DESC, s DESC) AS rn
                FROM est WHERE matches * 2 >= $MinhashK)
       SELECT d AS doc_id, s AS near_dup_of,
         round(matches / $MinhashK.0, 4) AS est_jaccard
       FROM best WHERE rn = 1 ORDER BY doc_id"""

  /** Incremental NEAR-dup admission — the LSH twin of [[incrementalNew]]:
    * flag batch documents whose MinHash signature band-collides with an
    * already-ingested document and whose signature-agreement estimate
    * confirms jaccard ≥ tau. Returns one row per flagged batch doc with
    * its best (highest-estimate, ties → highest id) seen match.
    *
    * Scale: the seen corpus contributes only its band index (16 longs
    * per doc) and signatures (64 longs) — never text; the join is keyed
    * on (band_idx, band_hash) with the [[BucketCap]] guard on BOTH
    * sides, so a boilerplate band bucket in a petabyte seen-corpus
    * cannot cross-explode against the batch. In production the seen
    * side's banded index and signatures are precomputed once and only
    * appended to. */
  def incrementalNearDupOf(batch: DataFrame, seen: DataFrame,
      tau: Double = 0.5, maxBucket: Int = DefaultMaxBucket): DataFrame =
    incrementalNearDupSigs(
      minhashSignaturesOf(batch).localCheckpoint(eager = false),
      minhashSignaturesOf(seen).localCheckpoint(eager = false), tau, maxBucket)

  /** Signature-level core of [[incrementalNearDupOf]] — the entry the
    * production/streaming shape calls directly: the seen side is a
    * PERSISTED (doc_id, sig) index that is appended to per batch, never
    * re-derived from text (see
    * [[graft.streaming.StreamingNearDup]]). */
  def incrementalNearDupSigs(bs: DataFrame, ss: DataFrame,
      tau: Double = 0.5, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val bb = BucketCap.capBuckets(bandedSigs(bs),
      Seq("band_idx", "band_hash"), maxBucket, "incr-neardup-batch")
    val sb = BucketCap.capBuckets(bandedSigs(ss),
      Seq("band_idx", "band_hash"), maxBucket, "incr-neardup-seen")
    val cand = bb.as("x").join(sb.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.band") === col("y.band"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("seen_id"))
      .distinct()
    bestSeenMatch(cand, bs, ss, tau)
  }

  /** Intra-set near-dup pass — flag each doc whose signature estimates
    * jaccard ≥ tau against a LOWER-id doc in the SAME signature set.
    * The lowest-id member of every near-dup group is never flagged (it
    * has no lower partner), so exactly one representative survives; a
    * flagged doc's reported best match may itself be flagged (greedy
    * chain — standard for a micro-batch checking itself before the seen
    * index, see [[graft.streaming.StreamingNearDup]]). Same banded
    * candidate shape and BucketCap guard as the cross-set pass. */
  def selfNearDupSigs(sigs: DataFrame, tau: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = BucketCap.capBuckets(bandedSigs(sigs),
      Seq("band_idx", "band_hash"), maxBucket, "self-neardup")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.band") === col("y.band") &&
          col("y.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("seen_id"))
      .distinct()
    bestSeenMatch(cand, sigs, sigs, tau)
  }

  /** Resolve (doc_id, seen_id) candidates against their signatures and
    * keep each doc's best (highest-estimate, ties → highest id) match
    * at jaccard ≥ tau. */
  private def bestSeenMatch(cand: DataFrame, bs: DataFrame,
      ss: DataFrame, tau: Double): DataFrame =
    cand
      .join(bs.withColumnsRenamed(Map("sig" -> "sig_b")), "doc_id")
      .join(ss.withColumnsRenamed(
        Map("doc_id" -> "seen_id", "sig" -> "sig_s")), "seen_id")
      .select(col("doc_id"), col("seen_id"),
        aggregate(
          zip_with(col("sig_b"), col("sig_s"), (x, y) =>
            when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).as("m"))
      .withColumn("est_jaccard",
        round(col("m").cast("double") / MinhashK, 4))
      .filter(col("est_jaccard") >= tau)
      // argmax by (est DESC, seen_id DESC): est is monotone in the
      // integer match count m, so the packed-decimal key (DecimalPack
      // — no struct buffer, fold stays in HashAggregate) orders by
      // (m, seen_id) and the rounded estimate is recomputed from the
      // decoded m. The seen index is an arbitrary persisted frame —
      // a negative id is outside the key's domain, refused loudly.
      .filter(assert_true(col("seen_id") >= 0,
        lit("incremental near-dup: negative seen_id — the packed " +
          "argmax key cannot represent it")).isNull)
      .withColumn("pk",
        graft.functions.DecimalPack.packAsc("m", "seen_id"))
      .groupBy(col("doc_id"))
      .agg(max(col("pk")).as("best"))
      .select(col("doc_id"),
        graft.functions.DecimalPack.unpackLoAsc("best")
          .as("near_dup_of"),
        round(graft.functions.DecimalPack.unpackHi("best")
          .cast("double") / MinhashK, 4).as("est_jaccard"))

  /** Recovery path for capped hot buckets — the route the [[BucketCap]]
    * WARN log points at, as an operator: members of every dropped bucket
    * re-enter through the EXACT digest pass. Giant band buckets at scale
    * are overwhelmingly exact duplicates (boilerplate, templates, empty
    * pages), so digest-grouping recovers their CLUSTERS with O(m) work
    * AND O(m) output per bucket — each member pairs with its digest
    * group's min doc_id (a star of m−1 spanning pairs), never the m²/2
    * all-pairs form, which for a 10⁶-member boilerplate bucket would be
    * the same quadratic blowup BucketCap exists to prevent. The star
    * preserves exactly the connectivity downstream clustering consumes
    * (connected components of capped ∪ recovered = components of the
    * uncapped run — proven in DedupSpec); docs a hot bucket contains
    * that are NOT exact duplicates are precisely the ones whose other
    * 15 band buckets stay under the cap, so they keep their LSH path.
    * Returns (a, b, est_jaccard=1.0): an exact-duplicate pair is a
    * jaccard-1 near-dup pair, unionable with [[minhashPairsOf]] output.
    *
    * Scale: hot-bucket ids are bounded (≤ n/cap buckets materialize,
    * broadcast); the digest join shuffles 32-byte digests of only the
    * hot membership, never text. */
  def hotBucketRecoveryOf(docs: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sigs = minhashSignaturesOf(docs).localCheckpoint(eager = false)
    val banded = bandedSigs(sigs)
    val hot = BucketCap.hotBuckets(banded,
      Seq("band_idx", "band_hash"), maxBucket)
    val memberIds = banded
      .join(broadcast(hot.select(col("band_idx"), col("band_hash"))),
        Seq("band_idx", "band_hash"))
      .select(col("doc_id")).distinct()
    val digests = docs.join(memberIds, "doc_id")
      .select(col("doc_id"), sha2(col("text").cast("binary"), 256).as("digest"))
    val roots = digests.groupBy(col("digest"))
      .agg(min(col("doc_id")).as("a"))
    digests.join(roots, "digest")
      .filter(col("doc_id") =!= col("a"))
      .select(col("a"), col("doc_id").as("b"), lit(1.0).as("est_jaccard"))
  }

  /** q68: [[incrementalNearDupOf]] with the odd ids standing in for the
    * incoming batch and the evens for the already-ingested corpus
    * (mirrors q61's split). */
  def incrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    // sort = oracle determinism only; the reusable Of/Sigs forms (the
    // per-micro-batch path StreamingNearDup pays) stay sort-free
    incrementalNearDupOf(d.filter(col("doc_id") % 2 =!= 0),
      d.filter(col("doc_id") % 2 === 0))
      .orderBy(col("doc_id"))
  }

  // --- exact n-gram Jaccard ------------------------------------------------

  /** Exact word-3-gram Jaccard ≥ τ pairs via prefix filtering (the
    * standard exact set-similarity join): shingles are hashed to longs
    * and sorted, and only the first |A| - ⌈τ·|A|⌉ + 1 elements of each
    * sorted set (its "prefix") are exploded into the inverted index — any
    * pair with jaccard ≥ τ must collide inside its prefixes, so the
    * candidate fanout shrinks ~(1-τ)² vs a full inverted index while
    * staying exact. Candidates are then verified with a real
    * array_intersect over the full sorted-hash sets.
    *
    * Integer-ratio jaccard arithmetic → bit-identical to the oracle
    * (hash collisions across a pair: ~|shingles|²/2^64, immaterial). */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
      tau: Double = 0.8): DataFrame =
    // sort = oracle determinism only; the reusable Of form (the one
    // Curate's clustering/leakage pipelines compose) stays sort-free
    ngramJaccardPairsOf(shingleHashDf(spark, dir), tau)
      .orderBy(col("a"), col("b"))

  /** Prefix-filter join over any (doc_id, hs) shingle-hash DataFrame.
    *
    * Two standard exactness-preserving refinements (Xiao et al., PPJoin)
    * keep the candidate set near the true pair set instead of ~1000×:
    *
    *   - document-frequency ordering: every set is re-sorted by the
    *     GLOBAL (df, hash) order before prefixes are taken, so prefixes
    *     hold each document's rarest shingles and hot shingles (which
    *     index many documents) fall out of the prefix zone. Correct for
    *     any consistent global total order; measured here it cut
    *     candidates 222k → ~true-pair scale at sf0.1. Costs two extra
    *     shuffles of the exploded (doc_id, hash) stream — linear,
    *     map-side-combinable, and far cheaper than verifying the
    *     un-pruned candidate fanout;
    *   - length filter inside the candidate join: jaccard ≥ τ forces
    *     τ·max(na,nb) ≤ min(na,nb), so wildly different-size sets never
    *     become candidates. */
  def ngramJaccardPairsOf(shingleSets: DataFrame, tau: Double): DataFrame = {
    val sh = shingleSets
      .withColumn("n", size(col("hs")))
      .localCheckpoint(eager = false)
    // global df per shingle hash, then each set re-sorted rare-first —
    // array_intersect and |A∩B| are order-independent, so verification
    // runs on the df-ordered sets directly. PPJoin's exactness needs any
    // CONSISTENT global total order, not the true df for every shingle:
    // a df=1 shingle can never collide across documents, so all df=1
    // shingles (the vast majority of any real corpus) can share one
    // order bucket and sort among themselves by hash. Joining the
    // exploded stream against ONLY the df>1 shingles (left join,
    // coalesce to 1) shrinks the join's build side from |distinct
    // shingles| to |repeated shingles| — small enough to broadcast at
    // this SF, and proportional to duplicated content (not corpus size)
    // at any SF.
    val freq = sh.select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
    val ordered = sh
      .select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
      .join(freq, Seq("h"), "left")
      .groupBy(col("doc_id"), col("n"))
      .agg(transform(array_sort(collect_list(
        struct(coalesce(col("df"), lit(1L)).as("df"), col("h")))),
        x => x.getField("h")).as("hs"))
      .localCheckpoint(eager = false)
    val prefixLen = (col("n") - ceil(col("n") * tau) + 1).cast("int")
    val prefix = ordered.select(col("doc_id"), col("n"),
      explode(slice(col("hs"), lit(1), prefixLen)).as("p"))
    val candidates = prefix.as("x").join(prefix.as("y"),
        col("x.p") === col("y.p") && col("x.doc_id") < col("y.doc_id") &&
          col("x.n") >= col("y.n") * tau && col("y.n") >= col("x.n") * tau)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    candidates
      .join(ordered.select(col("doc_id").as("a"), col("hs").as("hsa"), col("n").as("na")), "a")
      .join(ordered.select(col("doc_id").as("b"), col("hs").as("hsb"), col("n").as("nb")), "b")
      .withColumn("c", size(array_intersect(col("hsa"), col("hsb"))))
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= tau)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // --- span-level dedup (C4/RefinedWeb-style) ------------------------------

  /** q63: span-level exact dedup — the C4/RefinedWeb-style pass that
    * removes REPEATED SPANS from otherwise-kept documents (document-level
    * dedup alone leaves boilerplate duplicated across pages). Documents
    * are cut into consecutive non-overlapping k-word spans (the
    * fixed-width analogue of C4's three-sentence spans — this corpus has
    * no sentence boundaries); across the whole corpus each distinct span
    * survives only at its first occurrence (min (doc_id, position)), and
    * every later occurrence is dropped from its document. Documents whose
    * every span was dropped disappear (fully-boilerplate pages).
    *
    * Scale: span candidate keys are 64-bit hashes, so the occurrence
    * shuffle carries (hash, doc_id, pos) longs — never span text; the
    * dropped set is re-attached by a (doc_id, pos) anti-join, and span
    * text flows through exactly one shuffle (the per-document
    * reconstruction groupBy). Matching is on xxhash64 with ~2⁻⁶⁴
    * per-pair collision risk — accepted for the no-string-shuffle scan,
    * same tradeoff as [[Curate.decontaminate]] (the oracle compares the
    * span strings themselves). */
  def spanDedup(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free.
    // NOT spread: flat under the gap-slice cut shape (1.03/0.99,
    // OPTIMIZATION_r17.md §10)
    spanDedupOf(Tables(spark, dir, "documents"), k)
      .orderBy(col("doc_id"))

  /** The rows of `occ` (h, doc_id, `pos`) that are NOT the
    * corpus-wide first occurrence of their hash under the
    * (doc_id, pos) order — the shared keep-first core of span and
    * repeat-span dedup. The packed-decimal key (DecimalPack) keeps
    * the corpus-wide min in HashAggregate (a struct buffer would
    * demote it to a per-partition SortAggregate), and survivors are
    * identified by comparing the PACKED keys directly — no decode.
    * Negative doc ids are outside the packed key's domain and refused
    * loudly per row (these are public injectable APIs). */
  private def nonFirstOccurrences(occ: DataFrame,
      pos: String): DataFrame = {
    val keyed = occ
      .filter(assert_true(col("doc_id") >= 0,
        lit("span dedup: negative doc_id — the packed keep-first " +
          "key cannot represent it")).isNull)
      .withColumn("fk",
        graft.functions.DecimalPack.packAsc("doc_id", pos))
    val keeper = keyed.groupBy(col("h"))
      .agg(min(col("fk")).as("firstk"))
    keyed.join(keeper, "h")
      .filter(col("fk") =!= col("firstk"))
      .select(col("doc_id"), col(pos))
  }

  /** Same over any (doc_id, text) DataFrame (injectable for tests). */
  def spanDedupOf(docs: DataFrame, k: Int = 10): DataFrame = {
    // consecutive k-word spans, order-preserving, derived narrowly —
    // bind the token array first (HOF lambdas re-evaluate outer exprs)
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) > 0)
    // the span array, bound once per row (HOF lambdas re-evaluate
    // outer exprs, so the token array is a projected column)
    val spansArr = toks.select(col("doc_id"),
      transform(
        sequence(lit(0), ((size(col("w")) - 1) / k).cast("int")),
        i => array_join(slice(col("w"), i * k + 1, lit(k)), " ")).as("sp"))
    // first occurrence per span hash: one long-keyed shuffle, map-side
    // combinable min; every other (doc_id, span_pos) is dropped
    val occ = spansArr
      .select(col("doc_id"), posexplode(col("sp")))
      .select(xxhash64(col("col")).as("h"), col("doc_id"),
        col("pos").as("span_pos"))
    val dropped = nonFirstOccurrences(occ, "span_pos")
    // array-native reconstruction (same gap-slice shape as
    // [[cutSpansOf]]): the dropped POSITIONS per doc — bounded by the
    // duplicated-content volume, distinct by construction — fold into
    // one SORTED array and the kept spans are the gap slices between
    // consecutive dropped positions: O(spans + drops) per document (a
    // per-span array_contains probe would be O(spans·drops), quadratic
    // for a mostly-duplicate megadocument), and the span payload
    // strings never cross a shuffle at all (the old anti-join +
    // collect_list rebuild shuffled every surviving span string twice).
    // Positions here are 0-based posexplode indices, so the slice
    // bounds are (d_prev + 2) in 1-based slice coordinates; fully-
    // deduped docs still vanish via the size guard. guide §2.3/§8.
    val drops = dropped.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("span_pos"))).as("dp"))
    spansArr.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dp").isNull, col("sp")).otherwise(flatten(zip_with(
          concat(array(lit(-1)), col("dp")),
          concat(col("dp"), array(size(col("sp")))),
          (dPrev, dNext) => slice(col("sp"), dPrev + 2,
            greatest(dNext - dPrev - 1, lit(0)))))).as("kept"))
      .filter(size(col("kept")) > 0)
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_spans_kept"),
        array_join(col("kept"), " ").as("text_dedup"))
  }

  /** Oracle keys on the span STRING (DuckDB side never hashes). */
  val spanDedupOracle: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w,
             generate_subscripts(string_split(text,' '),1) AS pos
           FROM documents),
       sp AS (SELECT doc_id, CAST(floor((pos-1)/10) AS BIGINT) AS span_pos,
                string_agg(w, ' ' ORDER BY pos) AS span
              FROM tok GROUP BY 1,2),
       occ AS (SELECT doc_id, span_pos, span,
                 row_number() OVER (PARTITION BY span
                   ORDER BY doc_id, span_pos) AS occ
               FROM sp)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_kept,
              string_agg(span, ' ' ORDER BY span_pos) AS text_dedup
       FROM occ WHERE occ = 1
       GROUP BY doc_id ORDER BY doc_id"""

  /** Oracle computes the same pairs with a positional self-join trigram
    * build — O(n²)-free there too, but structured for DuckDB. */
  val ngramJaccardOracle: String =
    """WITH w AS (
         SELECT doc_id, unnest(string_split(text,' ')) AS word,
                generate_subscripts(string_split(text,' '),1) AS pos
         FROM documents),
       t AS (
         SELECT a.doc_id, a.word||' '||b.word||' '||c.word AS sh
         FROM w a JOIN w b ON a.doc_id=b.doc_id AND b.pos=a.pos+1
                  JOIN w c ON a.doc_id=c.doc_id AND c.pos=a.pos+2),
       d AS (SELECT DISTINCT doc_id, sh FROM t),
       sz AS (SELECT doc_id, count(*) n FROM d GROUP BY 1),
       com AS (SELECT x.doc_id a, y.doc_id b, count(*) c
               FROM d x JOIN d y ON x.sh=y.sh AND x.doc_id<y.doc_id
               GROUP BY 1,2)
       SELECT a, b, round(c*1.0/(sa.n+sb.n-c), 4) AS jaccard
       FROM com JOIN sz sa ON sa.doc_id=a JOIN sz sb ON sb.doc_id=b
       WHERE c*1.0/(sa.n+sb.n-c) >= 0.8
       ORDER BY a, b"""

  // --- exact-substring repeat spans (ExactSubstr-style) --------------------

  /** q120: exact-substring repeat spans — the OVERLAPPING-window sibling
    * of [[spanDedup]], after Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499): q63's fixed
    * k-word grid misses any duplicate that straddles a grid boundary,
    * while the ExactSubstr pass marks EVERY maximal token range whose
    * every k-window recurs elsewhere in the corpus. Their suffix-array
    * formulation is inherently single-machine; the distributed
    * re-expression is: hash all n−k+1 overlapping k-token windows
    * ([[graft.functions.ShingleHashesPos]] — position order preserved),
    * keep the corpus-wide first occurrence of each distinct window (min
    * (doc_id, pos) — "leave one copy"), and merge every OTHER
    * occurrence's [p, p+k−1] token interval into maximal spans per
    * document (gaps-and-islands: running max of interval end, new span
    * when the next window starts past it +1, so overlapping and
    * back-to-back repeats fuse). One row per span: where repeated
    * content sits and how many tokens a removal pass would cut.
    *
    * Scale: the window shuffle carries (hash, doc_id, pos) longs only —
    * the positional expression never materializes a window string — and
    * the islands window partitions per doc_id (bounded by document
    * length, never corpus-wide). Matching is on the 64-bit chain hash
    * (~n²/2⁶⁴ corpus-wide collision odds) — same accepted tradeoff as
    * [[spanDedup]]; the oracle compares window STRINGS. */
  def repeatSpans(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    // sort = oracle determinism only; the reusable Of form (whose span
    // merge StreamingRepeatSpans pays per micro-batch) stays sort-free.
    // spreadScan: A/B 1.13/1.18 across two runs under the gap-slice cut
    // shape (OPTIMIZATION_r17.md §10); q120's cost IS the windowed span
    // build above the single-task scan
    repeatSpansOf(Tables.spreadScan(spark, dir, "documents"), k)
      .orderBy(col("doc_id"), col("span_start"))

  /** Same over any (doc_id, text) DataFrame (injectable for tests). */
  def repeatSpansOf(docs: DataFrame, k: Int = 10): DataFrame = {
    val wins = windowHashes(docs, k)
    // corpus-wide first occurrence per window content: one long-keyed
    // shuffle, map-side-combinable min
    val repeated = nonFirstOccurrences(wins, "p")
    mergeRepeatSpans(repeated, k)
  }

  /** Position-preserving window hashes of every overlapping k-token
    * window: (doc_id, p, h) with p 1-based. Shared by the batch q120
    * path and [[graft.streaming.StreamingRepeatSpans]]. */
  def windowHashes(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
        posexplode(graft.functions.ShingleHashes
          .shingle_hashes_pos(col("text"), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
        col("col").as("h"))

  /** Merge marked (doc_id, p) windows into maximal spans — per-doc
    * gaps-and-islands: a window extends the current span iff it starts
    * at or before (running max end) + 1. Window partitions are per
    * doc_id, bounded by document length at any corpus size. */
  def mergeRepeatSpans(repeated: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val marked = repeated
      .select(col("doc_id"), col("p"), (col("p") + (k - 1)).as("e"))
      .withColumn("pme", max(col("e"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ns",
        when(col("pme").isNull || col("p") > col("pme") + 1, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("ns")).over(byDoc))
    marked.groupBy(col("doc_id"), col("sid"))
      .agg(min(col("p")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens"))
  }

  /** q121: the REMOVAL pass composing [[repeatSpans]] — reconstruct every
    * document with its repeat spans cut (what a training pipeline
    * actually applies; q120 is the audit view). Documents whose whole
    * token range is covered disappear, mirroring [[spanDedup]]'s
    * erased-boilerplate behavior.
    *
    * Scale: spans explode to at most span-length (doc_id, pos) pairs —
    * bounded by the repeated content volume, not the corpus — and the
    * cut is a (doc_id, pos) anti-join against the token stream followed
    * by the same single reconstruction groupBy as q63. */
  def repeatSpanRemoval(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free.
    // NOT spread: a loss under the gap-slice cut shape (0.85/0.92,
    // OPTIMIZATION_r17.md §10; the cut join reads the scan twice and
    // the added exchanges outprice the narrow span build)
    repeatSpanRemovalOf(Tables(spark, dir, "documents"), k)
      .orderBy(col("doc_id"))

  /** Same over any (doc_id, text) DataFrame (injectable for tests). */
  def repeatSpanRemovalOf(docs: DataFrame, k: Int = 10): DataFrame =
    cutSpansOf(docs, repeatSpansOf(docs, k))

  /** The cut applied to precomputed spans (q120 shape) — shared by the
    * batch q121 path above and [[graft.streaming.StreamingRepeatSpans]]'
    * per-micro-batch removal, so stream and batch cuts are the same
    * code by construction. Sort-free. */
  def cutSpansOf(docs: DataFrame, spans: DataFrame): DataFrame = {
    // array-native cut: group each doc's spans into one bounded SORTED
    // array (span count ≤ repeated-content volume / k), keyed-join it
    // to the document, and emit the GAPS between spans as slices of the
    // token array. The earlier form posexploded every document into
    // (doc_id, pos) rows, anti-joined, and rebuilt text with a
    // collect_list — the whole corpus token stream crossed TWO shuffles
    // (anti-join key, reconstruction groupBy) just to delete positions
    // that were already adjacent in the array. Here the text payload
    // moves once (the doc_id join) and the cut is a narrow codegen'd
    // gap-slice — O(tokens + spans) per document (a per-token
    // membership test over the span array would be O(tokens·spans),
    // quadratic for a mostly-duplicate megadocument). Correct because
    // the spans are the q120 shape this API documents: MERGED maximal
    // spans, pairwise disjoint and non-adjacent (mergeRepeatSpans fuses
    // overlapping and back-to-back intervals), so sorted span bounds
    // delimit the kept gaps exactly. Output is row-identical (same
    // positions kept, same order, fully-cut docs still vanish).
    // guide §2.3/§2.4 + §8 (decide with small rows, move big rows once).
    val cuts = spans.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e")))).as("cuts"))
    docs.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), split(col("text"), " ").as("ws"),
        col("cuts"))
      .select(col("doc_id"),
        when(col("cuts").isNull, col("ws")).otherwise(flatten(zip_with(
          // gap g: (end of previous span, start of next span); the
          // sentinel bounds are position 0 and n+1
          concat(array(lit(0L)),
            transform(col("cuts"), c => c.getField("e"))),
          concat(transform(col("cuts"), c => c.getField("s")),
            array(size(col("ws")).cast("long") + 1L)),
          (ePrev, sNext) => slice(col("ws"), (ePrev + 1L).cast("int"),
            greatest(sNext - ePrev - 1L, lit(0L)).cast("int")))))
          .as("kept"))
      .filter(size(col("kept")) > 0)
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_tokens_kept"),
        array_join(col("kept"), " ").as("text_cut"))
  }

  /** Oracle: q120's span CTE chain, then cut and re-join by position. */
  val repeatSpanRemovalOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws
           FROM documents),
       win AS (SELECT doc_id, i AS p, array_to_string(ws[i:i+9], ' ') AS s
               FROM w, unnest(generate_series(1, len(ws)-9)) AS t(i)),
       occ AS (SELECT doc_id, p, s,
                 row_number() OVER (PARTITION BY s
                   ORDER BY doc_id, p) AS rn
               FROM win),
       rep AS (SELECT doc_id, p, p + 9 AS e FROM occ WHERE rn > 1),
       cut AS (SELECT DISTINCT doc_id, p + u.i AS pos
               FROM rep, unnest(generate_series(0, 9)) AS u(i)),
       tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS wd,
                 generate_subscripts(string_split(text,' '),1) AS pos
               FROM documents)
       SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens_kept,
              string_agg(wd, ' ' ORDER BY tok.pos) AS text_cut
       FROM tok LEFT JOIN cut
         ON cut.doc_id = tok.doc_id AND cut.pos = tok.pos
       WHERE cut.pos IS NULL
       GROUP BY tok.doc_id ORDER BY tok.doc_id"""

  /** Oracle keys on the window STRING (list-slice build, the q60-oracle
    * idiom) and replays the same first-occurrence + islands logic with
    * window functions. */
  val repeatSpansOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws
           FROM documents),
       win AS (SELECT doc_id, i AS p, array_to_string(ws[i:i+9], ' ') AS s
               FROM w, unnest(generate_series(1, len(ws)-9)) AS t(i)),
       occ AS (SELECT doc_id, p, s,
                 row_number() OVER (PARTITION BY s
                   ORDER BY doc_id, p) AS rn
               FROM win),
       rep AS (SELECT doc_id, p, p + 9 AS e FROM occ WHERE rn > 1),
       m AS (SELECT doc_id, p, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
             FROM rep),
       g AS (SELECT doc_id, p, e,
               CASE WHEN pme IS NULL OR p > pme + 1 THEN 1 ELSE 0 END AS ns
             FROM m),
       sp AS (SELECT doc_id, p, e,
                sum(ns) OVER (PARTITION BY doc_id ORDER BY p) AS sid
              FROM g)
       SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
              CAST(max(e) AS BIGINT) AS span_end,
              CAST(max(e) - min(p) + 1 AS BIGINT) AS n_tokens
       FROM sp GROUP BY doc_id, sid ORDER BY doc_id, span_start"""

  // --- SimHash -------------------------------------------------------------

  /** 60, not 64: the portable md5-60bit feature hash leaves bits 60–63
    * identically zero (their vote sum is always −n), so only 60 sketch
    * bits carry signal — banding over the zero bits would put every
    * document in one bucket for that band. */
  val SimhashBits = 60
  val SimhashBands = 4   // 15-bit bands: hamming ≤ 3 ⇒ ≥1 identical band

  /** 64-bit SimHash over word-3-gram shingles (unigram features collapse
    * when the corpus shares a small vocabulary — shingles keep the bit
    * sums discriminative), via the custom [[graft.functions.SimHashAgg]]:
    * one buffer update per (doc, shingle) row, partial bit-count vectors
    * merged map-side in a single shuffle. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOf(Tables(spark, dir, "documents"))

  /** Same over any (doc_id, text) DataFrame (injectable for tests). */
  def simhashOf(docs: DataFrame): DataFrame =
    shingleHashDfOf(docs)
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy(col("doc_id"))
      .agg(simhash_sketch(col("h")).as("simhash"))

  /** SimHash near-dup pairs within hamming distance ≤ maxHamming, found by
    * the banding pigeonhole (4 bands of 16 bits: any pair with ≤3 bit
    * flips matches on ≥1 whole band), then verified with bit_count(xor).
    * Band buckets are bounded by the [[BucketCap]] guard. Rows-only
    * driver check; recall vs exact Jaccard in ScalaTest. */
  def simhashPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    // sort = oracle determinism only; the reusable Of form is sort-free
    simhashPairsOf(Tables(spark, dir, "documents"), maxHamming)
      .orderBy(col("a"), col("b"))

  /** Same over any (doc_id, text) DataFrame (injectable for tests). */
  def simhashPairsOf(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sh = simhashOf(docs).localCheckpoint(eager = false)
    val bandWidth = SimhashBits / SimhashBands
    val banded = BucketCap.capBuckets(
      sh.select(col("doc_id"), col("simhash"), posexplode(
        array((0 until SimhashBands).map(b =>
          shiftrightunsigned(col("simhash"), b * bandWidth)
            .bitwiseAND((1L << bandWidth) - 1)): _*)))
        .toDF("doc_id", "simhash", "band_idx", "band_val"),
      Seq("band_idx", "band_val"), maxBucket, "simhash-bands")
    banded.as("x").join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Oracle for q24 [[simhashPairs]]: recompute the 60-bit SimHash from
    * the portable shingle hashes (per-bit ±1 vote sums — the exact
    * [[graft.functions.SimHashAgg]] semantics), band into 4×15 bits,
    * pair within buckets, verify hamming ≤ 3. Band values here ARE bit
    * slices (no engine hash anywhere), so the oracle is exact. */
  val simhashPairsOracle: String =
    s"""WITH $shingleHashCte,
       js AS (SELECT unnest(range(0, $SimhashBits)) AS j),
       bits AS (SELECT doc_id, j,
           CASE WHEN sum(CASE WHEN ((h >> CAST(j AS INT)) & 1) = 1
                    THEN 1 ELSE -1 END) > 0
             THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
             ELSE CAST(0 AS BIGINT) END AS bit
         FROM hh CROSS JOIN js GROUP BY doc_id, j),
       sim AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash
               FROM bits GROUP BY 1),
       bnum AS (SELECT unnest(range(0, $SimhashBands)) AS bi),
       band AS (SELECT doc_id, simhash, bi,
                  (simhash >> CAST(bi * ${SimhashBits / SimhashBands} AS INT))
                    & ${(1L << (SimhashBits / SimhashBands)) - 1} AS bv
                FROM sim CROSS JOIN bnum),
       cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
                  x.simhash AS sa, y.simhash AS sb
                FROM band x JOIN band y
                  ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id)
       SELECT da AS a, db AS b,
         CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY a, b"""
}
