package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Redirect-chain resolution (q158) — the crawl-front stage between the
  * fetch gate and admission: an HTTP 3xx response is not a document,
  * it's an EDGE to the URL that must consume the crawl budget, and a
  * real crawler follows those edges (bounded hops, loop-safe) to a
  * final canonical URL before admitting anything, where q154's gate
  * once silently dropped the planted 301s instead of resolving them.
  *
  * Spark-first shape: the fetch table (url, http_status, location) is
  * derived once from the parsed records and `localCheckpoint`'ed, then
  * resolution is a BOUNDED ITERATED JOIN — `MaxHops` rounds, the
  * industry posture (crawlers cap redirect chains at a single-digit
  * hop count rather than chasing them indefinitely; RFC 9110 §15.4
  * notes clients SHOULD detect cycles) — each round one equi-join of
  * the still-pending chains against the fetch table on the location
  * key. Settled rows accumulate by union; the pending side shrinks
  * every round. No windows, no driver-side chain state; at 100 TB each
  * hop is one hash join keyed on URL, and the pending side after hop k
  * holds only chains longer than k — a small and shrinking fraction
  * (redirects are ~10% of fetches, multi-hop chains are rare).
  *
  * Refuse-don't-mislabel (the [[Curate.connectedComponents]] posture):
  * a chain still unresolved after `MaxHops` — self-loops and longer
  * cycles never resolve — is emitted as `cap_exceeded`, never dropped
  * and never given a fake terminal; a Location that was never fetched
  * (or a 3xx with no Location at all) is `dangling`.
  *
  * The registered q158 resolves the synthesized corpus' planted 301s
  * ([[Warc.redirectTargetOf]]: 1-, 2- and 3-hop chains plus self-loops,
  * all by doc_id arithmetic) and keys each resolved URL by registrable
  * domain — the admission-chain fold, where a redirect target consumes
  * ITS domain's crawl budget, not the origin's. The DuckDB oracle
  * replays the walk as a recursive CTE in id space (url(id) is
  * injective, so the id walk and the operator's URL walk agree). */
object Redirects {

  /** Bounded hop count — chains longer than this (and all cycles) are
    * refused as `cap_exceeded`. */
  val MaxHops = 5

  private val RedirectCodes = Seq(301, 302, 303, 307, 308)

  /** Resolve every redirect chain in a fetch table.
    *
    * `fetches`: one row per fetched URL — (`url`, `http_status`,
    * `location`), `location` null for non-redirects. ONE ROW PER URL
    * is a precondition, not a hint: each hop left-joins the pending
    * frontier against this table on url, so a duplicated url fans
    * every chain passing through it into multiple (possibly
    * contradictory) output rows per origin. Callers with revisit
    * history dedup latest-wins first (the
    * [[graft.streaming.StreamingRedirects.snapshot]] recipe: distinct,
    * then a deterministic row_number). Every 3xx row
    * seeds a chain. One output row per seed: (`origin`, `final_url`,
    * `final_status`, `n_hops`, `outcome`) with outcome ∈
    * resolved | dangling | cap_exceeded. */
  def resolveOf(fetches: DataFrame, maxHops: Int = MaxHops): DataFrame = {
    val t = fetches
      .select(col("url").as("_t_url"), col("http_status").as("_t_status"),
        col("location").as("_t_loc"))
      .localCheckpoint(eager = false) // read once per hop
    val seedRedirect = col("http_status").isin(RedirectCodes: _*)
    val tRedirect = col("_t_status").isin(RedirectCodes: _*)
    // a redirect with no Location header is immediately dangling
    var settled = fetches.filter(seedRedirect && col("location").isNull)
      .select(col("url").as("origin"), col("url").as("final_url"),
        col("http_status").cast("int").as("final_status"),
        lit(0).as("n_hops"), lit("dangling").as("outcome"))
    // `_last_status`: the 3xx of the redirect most recently followed —
    // what a capped chain reports as its final_status (the last REAL
    // observation, never a fabricated code)
    var pending = fetches.filter(seedRedirect && col("location").isNotNull)
      .select(col("url").as("origin"), col("location").as("_next"),
        lit(0).as("n_hops"),
        col("http_status").cast("int").as("_last_status"))
    for (_ <- 1 to maxHops) {
      val j = pending
        .join(t, col("_next") === col("_t_url"), "left")
        .localCheckpoint(eager = false) // pending-sized; keeps round lineage flat
      // null _t_status (a transport-failed fetch recorded without an
      // HTTP status) is DANGLING: without this arm the row passes none
      // of the three filters (tRedirect is SQL null) and the chain
      // would silently vanish — the filters must be exhaustive
      val dangling = j.filter(col("_t_url").isNull ||
          col("_t_status").isNull ||
          (tRedirect && col("_t_loc").isNull))
        .select(col("origin"),
          coalesce(col("_t_url"), col("_next")).as("final_url"),
          col("_t_status").cast("int").as("final_status"),
          (col("n_hops") + when(col("_t_url").isNull, 0).otherwise(1))
            .as("n_hops"),
          lit("dangling").as("outcome"))
      val landed = j.filter(col("_t_url").isNotNull &&
        col("_t_status").isNotNull && !tRedirect)
        .select(col("origin"), col("_t_url").as("final_url"),
          col("_t_status").cast("int").as("final_status"),
          (col("n_hops") + 1).as("n_hops"), lit("resolved").as("outcome"))
      settled = settled.union(dangling).union(landed)
      pending = j.filter(col("_t_url").isNotNull && tRedirect &&
          col("_t_loc").isNotNull)
        .select(col("origin"), col("_t_loc").as("_next"),
          (col("n_hops") + 1).as("n_hops"),
          col("_t_status").cast("int").as("_last_status"))
    }
    settled.union(
      pending.select(col("origin"), col("_next").as("final_url"),
        col("_last_status").as("final_status"), col("n_hops"),
        lit("cap_exceeded").as("outcome")))
  }

  /** q158: resolve the synthesized corpus' redirect chains and key each
    * RESOLVED final URL by its registrable domain — the admission
    * chain's view. ORDER BY = oracle determinism only. */
  def redirectChains(spark: SparkSession, dir: String): DataFrame = {
    val recs = Warc.recordsOf(Warc.synthesizeWarcBlobsOf(
        Tables(spark, dir, "documents"))).toDF()
    val fetches = recs.filter(col("error").isNull &&
        col("warc_type") === "response" && col("http_status").isNotNull)
      .select(col("target_uri").as("url"), col("http_status"),
        col("http_location").as("location"))
    val resolved = resolveOf(fetches)
    UrlCurate.registrableDomainOf(UrlCurate.canonicalizeOf(
        resolved.withColumn("url", col("final_url"))))
      .withColumn("final_domain",
        when(col("outcome") === "resolved",
          coalesce(col("registrable_domain"), col("host"))))
      .select(col("origin"), col("final_url"), col("final_status"),
        col("n_hops"), col("outcome"), col("final_domain"))
      .orderBy(col("origin"))
  }

  /** Oracle for q158 [[redirectChains]] — the planted edges and the
    * bounded walk replayed as a recursive CTE in id space, the final
    * domain via the shared curate chain (`blk` carries every doc's
    * registrable domain). Walk state: `cur` = the next URL to fetch
    * (as an id), `n_hops` = hops already followed; one step fetches
    * `cur` and either terminates (missing → dangling, non-301 →
    * resolved, hop budget spent → cap_exceeded) or advances to that
    * record's own Location target. */
  lazy val redirectChainsOracle: String =
    s"""WITH RECURSIVE ${UrlCurate.curateCte},
       resp AS (SELECT doc_id,
           CASE WHEN doc_id % 10 = 3 THEN 404
                WHEN doc_id % 10 = 7 THEN 301 ELSE 200 END AS code
         FROM documents WHERE doc_id % 5 <> 4),
       tgt AS (SELECT doc_id, ${Warc.redirectTargetSql("doc_id")} AS t
         FROM resp WHERE code = 301),
       walk(origin, cur, n_hops, outcome) AS (
         SELECT g.doc_id, g.t, 0, CAST(NULL AS VARCHAR) FROM tgt g
         UNION ALL
         SELECT w.origin,
           CASE WHEN r.doc_id IS NULL OR r.code <> 301 THEN w.cur
                ELSE g2.t END,
           CASE WHEN r.doc_id IS NULL THEN w.n_hops
                ELSE w.n_hops + 1 END,
           CASE WHEN r.doc_id IS NULL THEN 'dangling'
                WHEN r.code <> 301 THEN 'resolved'
                WHEN w.n_hops + 1 >= $MaxHops THEN 'cap_exceeded'
                ELSE NULL END
         FROM walk w
         LEFT JOIN resp r ON r.doc_id = w.cur
         LEFT JOIN tgt g2 ON g2.doc_id = w.cur
         WHERE w.outcome IS NULL),
       fin AS (SELECT origin, cur, n_hops, outcome FROM walk
         WHERE outcome IS NOT NULL)
       SELECT uo.url AS origin,
         coalesce(uf.url, ${UrlCurate.urlExprSql("f.cur")}) AS final_url,
         /* cap_exceeded reports the last status OBSERVED on the chain;
            the literal is valid because synthesis plants ONLY 301
            redirects (statusOf: id % 10 = 7 -> 301) — if other 3xx
            codes are ever planted, replace it with the last-followed
            record's code or this oracle silently diverges from
            resolveOf's _last_status */
         CAST(CASE WHEN f.outcome = 'dangling' THEN NULL
              WHEN f.outcome = 'cap_exceeded' THEN 301
              ELSE r2.code END AS INT) AS final_status,
         f.n_hops, f.outcome,
         CASE WHEN f.outcome = 'resolved'
              THEN coalesce(bf.registrable_domain, bf.host) END
           AS final_domain
       FROM fin f
       JOIN u uo ON uo.doc_id = f.origin
       LEFT JOIN u uf ON uf.doc_id = f.cur
       LEFT JOIN resp r2 ON r2.doc_id = f.cur
       LEFT JOIN blk bf ON bf.doc_id = f.cur
       ORDER BY origin"""
}
