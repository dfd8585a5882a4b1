package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped memo for the STATIC test tables' resolved relations
  * ([[Tables]]) and the artifacts derived from them — materialized pair
  * indexes, trained model tables, decoded fingerprint frames.
  *
  * Several registered queries are index/model READS that share one
  * expensive deterministic derivation (the n-gram Jaccard pair set
  * feeds q48/q53/q60/q103 and q23; the BPE merge table feeds q82/q83;
  * the image/video/audio fingerprints feed their dedup trios). A
  * production curation stack derives each artifact once and every
  * downstream stage reuses it — re-deriving per query was an artifact
  * of registering each stage standalone for the oracle, not a
  * semantic requirement. Memoizing changes NO query's result (the
  * DuckDB oracles replay every derivation independently, and the
  * builders are deterministic); it collapses only the repeat cost.
  *
  * Keys include the SparkSession reference, so test suites running
  * their own sessions never observe a stopped session's checkpoint,
  * and a fresh session (the driver's Verify/Bench runs) always pays
  * the first derivation itself. Values are whatever the caller
  * builds — typically a `localCheckpoint`'ed DataFrame (caller's
  * choice, since some artifacts are driver-side Seqs). */
object SessionMemo {
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Any]

  def apply[T](spark: SparkSession, key: String)(build: => T): T = {
    // cheap sweep: a stopped session's artifacts are unreadable and
    // only pin memory (the session graph + checkpointed plans) — drop
    // them whenever the memo is next touched, so a long-lived JVM
    // cycling sessions (the test runner, a driver loop) cannot
    // accumulate dead entries
    memo.keysIterator.filter(_._1.sparkContext.isStopped)
      .foreach(memo.remove)
    memo.getOrElseUpdate((spark, key), build).asInstanceOf[T]
  }
}
