package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.ext.{IvfIndex, Similarity}

/** IVF postings maintenance over an IN-FLIGHT embedding stream — the
  * q176 per-ingest-batch step as streaming state. Each micro-batch of
  * (vec_id, embedding) rows is assigned to its nearest list by the
  * REAL [[IvfIndex.assign]] code path (centroids are the index
  * definition — supplied config, broadcast, never derived from the
  * stream), and the (vec_id, list_id) postings are appended to an
  * additive [[DeltaIndex]] under the house recipe
  * (delete-own-partition, src_batch provenance, refuse-foreign-state
  * reads). This is exactly the "indexing N new vectors costs
  * O(N · nLists), never a re-train" posture of the batch index, made
  * continuous.
  *
  * Every delta row also carries `index_fp`, a fingerprint of the
  * centroid set that produced it: postings from two different index
  * definitions are mutually meaningless (list 3 of index A is not
  * list 3 of index B), so [[snapshot]] REFUSES a mixed index instead
  * of silently merging it — an index-definition swap is a new index
  * dir (re-assign offline, swap the postings table, the batch
  * contract).
  *
  * State is two longs + two ints per vector — bounded by corpus size,
  * never batch count. A vector re-ingested in a later batch (an
  * updated document re-embedded) supersedes its earlier posting
  * latest-wins at snapshot, with a deterministic full-key tiebreak so
  * two snapshots of identical state always agree. Probing a snapshot
  * is [[IvfIndex.probe]] over the snapshot postings — spec-pinned
  * equal to the batch index over the same vectors. */
object StreamingIvf {

  private val postingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("list_id", IntegerType),
    StructField("index_fp", LongType),
    StructField("src_batch", LongType),
    StructField("batch_id", LongType)))

  /** Order-independent-enough fingerprint of an index definition: FNV-1a
    * over the coordinate bit patterns in (list, dim) order. Two centroid
    * sets differing in any coordinate get different fps (collision odds
    * 2⁻⁶⁴ — and a collision only weakens a refusal, never corrupts
    * data). */
  def centroidFp(cs: Array[Array[Double]]): Long = {
    var h = 0xcbf29ce484222325L
    var l = 0
    while (l < cs.length) {
      var i = 0
      while (i < cs(l).length) {
        var bits = java.lang.Double.doubleToLongBits(cs(l)(i))
        var b = 0
        while (b < 8) {
          h = (h ^ (bits & 0xffL)) * 0x100000001b3L
          bits >>>= 8
          b += 1
        }
        i += 1
      }
      l += 1
    }
    h
  }

  /** One micro-batch: assign and append. Package-visible for direct
    * testing without a streaming harness. */
  private[graft] def processBatch(vecs: DataFrame,
      centroids: Array[Array[Double]], batchId: Long,
      outDir: String): Unit = {
    DeltaIndex.deleteBatchPartition(vecs.sparkSession, outDir, batchId)
    if (vecs.isEmpty) return
    import vecs.sparkSession.implicits._
    val ds = vecs.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding")).as[Similarity.Vec]
    DeltaIndex.writeDelta(
      IvfIndex.assign(ds, centroids)
        .withColumn("index_fp", lit(centroidFp(centroids))),
      batchId, outDir)
  }

  /** All posting delta rows accumulated so far (shared read contract:
    * missing/bootstrapped dir is EMPTY; foreign entries refused). */
  def readPostings(spark: SparkSession, outDir: String): DataFrame =
    DeltaIndex.readDeltas(spark, outDir, postingSchema,
      "IVF postings index")

  /** The index's current postings: latest-wins per vec_id (a re-ingested
    * vector supersedes its earlier posting), exact duplicate
    * observations collapsed first and same-batch conflicts tiebroken
    * deterministically by list_id, so two snapshots of identical state
    * always agree. Refuses postings from more than one index
    * definition (see class doc). */
  def snapshot(spark: SparkSession, outDir: String): DataFrame = {
    val postings = readPostings(spark, outDir)
    // distinct fp count is tiny by construction (one per index
    // definition ever written here) — collect them ALL so the refusal
    // message reports the true mix size, not a limit(3) artifact
    val fps = postings.select(col("index_fp")).distinct()
      .collect().map(_.getLong(0)).sorted
    require(fps.length <= 1,
      s"IVF postings at $outDir mix ${fps.length} index definitions " +
        s"(fps ${fps.mkString(", ")}) — postings of different centroid " +
        "sets are not mergeable; re-assign into a fresh index dir")
    // one index_fp left, so list_id alone decides a same-batch conflict
    DeltaIndex.latest(postings, "vec_id", "list_id", "index_fp")
      .select(col("vec_id"), col("list_id"))
  }

  /** Start the postings sink over a streaming (vec_id, embedding)
    * frame. */
  def start(vecs: DataFrame, centroids: Array[Array[Double]],
      outDir: String, checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatch(batch.toDF(), centroids, batchId, outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
}
