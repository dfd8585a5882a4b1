package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one `batch_id` sink recipe every streaming stage in this package
  * follows — its moves are defined here and nowhere else:
  *
  *   - delete the batch's own `batch_id=` partition up front, so a
  *     replay rewrites byte-identically and an EMPTIED replay clears
  *     stale rows instead of keeping them;
  *   - overwrite ONLY that partition with the batch's rows; index and
  *     delta rows also carry their origin batch as the `src_batch` data
  *     column (after any data files the delta accounts for, so
  *     delta-present implies data-present);
  *   - read the whole index under the refuse-foreign-state contract: a
  *     missing or just-bootstrapped dir is EMPTY, anything other than
  *     `batch_id=` partitions carrying the expected schema is refused,
  *     never silently summed;
  *   - compact into the reserved `batch_id=-1` partition: materialize →
  *     commit −1 → delete the sources, `src_batch` kept verbatim so a
  *     batch replayed after compaction still excludes its own rows;
  *   - snapshot an index latest-wins: one row per key, from its latest
  *     batch.
  *
  * Each module keeps only its own decisions: its schema, its
  * compaction fold, and which sinks it writes. */
private[streaming] object DeltaIndex {

  /** Delete `outDir/batch_id=N` if present (call FIRST, even for an
    * empty batch). */
  def deleteBatchPartition(spark: SparkSession, outDir: String,
      batchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(outDir, s"batch_id=$batchId")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Write `df` as partition `batch_id=N` of `outDir`, overwriting that
    * partition only (dynamic partition overwrite). */
  def writeBatch(df: DataFrame, batchId: Long, outDir: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)

  /** Write `delta` as the batch's rows: `src_batch` + `batch_id`
    * appended, one file (delta frames are aggregate-sized). */
  def writeDelta(delta: DataFrame, batchId: Long, outDir: String): Unit =
    writeBatch(delta.withColumn("src_batch", lit(batchId)).coalesce(1),
      batchId, outDir)

  /** Read all committed delta rows under the shared contract. `what`
    * names the index in refusal messages. */
  def readDeltas(spark: SparkSession, outDir: String,
      schema: StructType, what: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val entries =
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName)
      else Array.empty[String]
    if (!entries.exists(_.startsWith("batch_id="))) {
      val stray = entries.filterNot(n => n.startsWith("_") || n.startsWith("."))
      require(stray.isEmpty,
        s"$what at $outDir has no batch_id= partitions but contains " +
          s"${stray.mkString(", ")} — refusing to read as empty")
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      // the refuse-foreign-state contract holds on the populated side
      // too: stray non-partition entries at the index root would be
      // silently folded into the rollup by spark.read.parquet (or
      // surface as a confusing partition-discovery failure)
      val stray = entries.filterNot(n =>
        n.startsWith("batch_id=") || n.startsWith("_") || n.startsWith("."))
      require(stray.isEmpty,
        s"$what at $outDir contains non-partition entries " +
          s"${stray.mkString(", ")} next to its batch_id= partitions — " +
          "refusing to fold foreign files into the index")
      // a forced-schema read would null-fill a missing column (e.g. a
      // pre-provenance index without src_batch), and a src_batch =!= N
      // replay filter over nulls drops every row silently
      val onDisk = spark.read.parquet(outDir).schema.fieldNames.toSet
      val missing = schema.fieldNames.filterNot(onDisk)
      require(missing.isEmpty,
        s"$what at $outDir is missing column(s) " +
          s"${missing.mkString(", ")} — refusing to read it")
      spark.read.schema(schema).parquet(outDir)
    }
  }

  /** The latest-wins snapshot rule: one row per `key`, the one from the
    * latest batch (a re-delivery supersedes its earlier row). Exact
    * duplicate rows collapse first, and a same-batch conflict is decided
    * by `tieBreak` ascending, in order — arbitrary but stable, so two
    * snapshots of identical state always agree. `tieBreak` names every
    * other column kept; the result is `key` then `tieBreak`. */
  def latest(rows: DataFrame, key: String, tieBreak: String*): DataFrame =
    rows.select((key +: tieBreak :+ "batch_id").map(col): _*)
      .distinct()
      .withColumn("_rk", row_number().over(Window.partitionBy(col(key))
        .orderBy(col("batch_id").desc +: tieBreak.map(col): _*)))
      .filter(col("_rk") === 1)
      .select((key +: tieBreak).map(col): _*)

  /** Fold every partition but `batch_id=-1` into `batch_id=-1`: read
    * the whole index under [[readDeltas]], apply the module's `fold`
    * (which must keep each kept row's `src_batch`), materialize BEFORE
    * overwriting what was read, commit −1, then delete the sources. A
    * crash between the commit and the deletes leaves duplicate rows,
    * which each module's fold tolerates and the next compaction drops.
    * A missing dir is a no-op. */
  def compact(spark: SparkSession, dir: String, schema: StructType,
      what: String)(fold: DataFrame => DataFrame): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val old = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.startsWith("batch_id=") &&
        p.getName != "batch_id=-1")
    val compacted = fold(readDeltas(spark, dir, schema, what))
      .localCheckpoint(eager = false)
    writeBatch(compacted, -1L, dir)
    old.foreach(p => fs.delete(p, true))
  }
}
