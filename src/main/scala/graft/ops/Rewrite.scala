package graft.ops

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Copy-on-write rewrite of some partitions of a `partitionBy`-laid-out
  * parquet table: the one recipe behind MERGE ([[Merge]]), forget
  * ([[Forget]]), SCD2 increments ([[Scd]]), CDC tombstone vacuum
  * ([[graft.streaming.StreamingCdc]]) and the enrichment backfill
  * ([[graft.pipeline.FilePipeline.backfillEnrichment]]), the reference's
  * batched join-UPDATE (database_manager.py:200-241) made
  * partition-scoped. A caller decides which partitions are affected and
  * what their new rows are; this object decides how those rows reach
  * disk:
  *   - partition values are compared as strings, with a null value
  *     under the Hive default directory name ([[value]]);
  *   - the new rows are checkpointed, so the write never reads from
  *     the files it replaces;
  *   - a dynamic partition overwrite swaps each written partition
  *     through Spark's staging protocol (never missing mid-write) and
  *     leaves every other directory byte-identical;
  *   - an affected partition that received no rows (every row deleted
  *     or moved away) is removed, since a dynamic overwrite cannot say
  *     "this partition is now empty". Finding those costs no job: the
  *     overwrite replaces a written partition's files wholesale with
  *     files named for the new write, so a directory that still holds
  *     only its pre-write files was not written.
  *
  * At 100 TB this is the point: a change touching one day of a
  * year-partitioned table rewrites 1/365th of it.
  *
  * Appends that must be checked before they land go through the staged
  * variant, [[staged]]: rows are written beside the table and renamed
  * into its partition directories only once the caller accepts them. */
object Rewrite {

  /** Directory name Spark and Hive use for a null partition value. A
    * real string value equal to it would collide; Hive-style
    * partitioning cannot tell the two apart on disk either. */
  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** A row's partition value as its directory names it. */
  def value(partitionCol: String): Column =
    coalesce(col(partitionCol).cast("string"), lit(HiveDefaultPartition))

  /** The distinct partition values of `df` (a bounded collect: one
    * string per partition, never rows). */
  def valuesOf(df: DataFrame, partitionCol: String): Seq[String] =
    df.select(value(partitionCol)).distinct().collect().map(_.getString(0)).toSeq

  /** The rows of `df` in partitions `parts`. */
  def slice(df: DataFrame, partitionCol: String, parts: Seq[String]): DataFrame =
    df.filter(value(partitionCol).isInCollection(parts))

  /** Replace partitions `parts` of the table at `dir` with `rows`, which
    * must lie within `parts`; a partition of `parts` that `rows` leaves
    * empty is removed. */
  def partitions(spark: SparkSession, dir: String, partitionCol: String,
      parts: Seq[String], rows: DataFrame): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def files(p: Path): Set[String] =
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName).toSet
      else Set.empty
    val before = parts.map { v =>
      val p = new Path(dir, ExternalCatalogUtils.getPartitionPathString(partitionCol, v))
      p -> files(p)
    }
    rows.localCheckpoint(eager = false)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(dir)
    before.foreach { case (p, old) =>
      if (fs.exists(p) && files(p).subsetOf(old)) fs.delete(p, true)
    }
  }

  /** Append rows to the `partitionBy`-laid-out parquet table at `dir`
    * through a run-scoped staging directory, `_staging/<uuid>` beside the
    * table. `body` gets a `stage` function: each call writes its rows,
    * partitioned by `partitionCol`, in place of whatever an earlier call
    * staged, so a caller that rejects what a write showed can discard it
    * and write again. When `body` returns, every staged file is renamed
    * into its partition directory of the table. Staged file names carry
    * their write's unique job id, so they never replace a table file. The
    * staging directory is deleted whether `body` returns or throws: a
    * failed write commits nothing.
    *
    * Renames are atomic on local file systems and HDFS; on object stores
    * they are copies. A failure midway through the renames leaves the
    * files renamed so far in the table. */
  def staged[A](spark: SparkSession, dir: String, partitionCol: String)(
      body: (DataFrame => Unit) => A): A = {
    val table = new Path(dir)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val stage = new Path(table.getParent, s"_staging/${UUID.randomUUID}")
    try {
      val result = body { rows =>
        fs.delete(stage, true)
        rows.write.partitionBy(partitionCol).parquet(stage.toString)
      }
      if (fs.exists(stage))
        fs.listStatus(stage).filter(_.isDirectory).foreach { part =>
          val dest = new Path(table, part.getPath.getName)
          if (!fs.mkdirs(dest)) throw new IOException(s"cannot create $dest")
          fs.listStatus(part.getPath).filter(_.isFile).foreach { f =>
            if (!fs.rename(f.getPath, new Path(dest, f.getPath.getName)))
              throw new IOException(s"cannot move ${f.getPath} into $dest")
          }
        }
      result
    } finally fs.delete(stage, true)
  }
}
