package graft.maintenance

import graft.operators.MergeSink
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Small-file compaction — the lake-maintenance operator every long-running
  * ingestion pipeline needs (the reference's daily appends produce one file
  * per ticker per day: `data/03_staging/...` grows without bound;
  * incremental Spark sinks have the same pathology — a 100 TB lake fed by
  * small batches degrades every downstream scan with per-file open costs
  * and starves split planning).
  *
  * Two pieces:
  *  - [[binPack]]: the PLAN — deterministic size-based bin packing of a
  *    (file, bytes) listing into target-size output groups. Pure
  *    DataFrame logic (window cumsum), so it is oracle-checkable and runs
  *    distributed over listings of any size.
  *  - [[compactParquetDir]]: the ACTION — list a parquet directory's part
  *    files, bin-pack them, rewrite each bin as one file, and publish the
  *    rewrite through [[graft.operators.MergeSink.swapDirs]].
  *
  * Binning contract: files are taken in a DETERMINISTIC total order
  * (caller-chosen sort key; path order for the FS op) and bin
  * `b = floor(cum_bytes_before / targetBytes)` — i.e. the byte stream is
  * cut at exact target boundaries and a file belongs to the bin its first
  * byte falls in. This is the same virtual-concatenation packing Spark's
  * own `FilePartition` planner uses for `maxPartitionBytes`; unlike
  * close-when-full greedy (which needs sequential state), it is a pure
  * function of the prefix sums — embarrassingly parallel, stable under
  * re-listing, and bins overflow by at most one file tail.
  */
object Compaction {

  /** Assign each file to a compaction bin. `ordered` = deterministic total
    * order over files within each `partitionCols` group (compaction never
    * merges across partitions — partition columns are pruning boundaries).
    * Output adds (cum_before, bin).
    *
    * 100 TB shape: one hash exchange on the partition key + per-partition
    * sort (the windowed-cumsum contract shape, like q49/q67); the listing
    * frame is metadata (~100 bytes/file), so even a 10^8-file lake windows
    * in MBs per partition. */
  def binPack(listing: DataFrame, bytesCol: String, targetBytes: Long,
              partitionCols: Seq[String], ordered: Seq[String]): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(ordered.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    listing
      .withColumn("cum_before",
        (sum(col(bytesCol)).over(w) - col(bytesCol)).cast("long"))
      .withColumn("bin", (col("cum_before") / targetBytes).cast("long"))
  }

  /** List `dir`'s `part-*` files as a (path, bytes) DataFrame (driver
    * listing — bounded by file count, the same metadata scale as any
    * catalog listing; a 10^8-file lake would feed this from the table
    * metadata log instead). */
  def listPartFiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (!fs.exists(p)) Seq.empty[(String, Long)]
      else fs.listStatus(p).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(st => (st.getPath.toString, st.getLen))
        .sortBy(_._1)
    files.toDF("path", "bytes")
  }

  /** Bin jobs one compaction pass runs at once (driver threads; Spark's
    * scheduler interleaves their single-task jobs). */
  private val MaxParallelBins = 4

  /** Compact a parquet directory in place: bin-pack its part files at
    * `targetBytes`, rewrite each bin as ONE output file, and atomically
    * swap the rewritten directory over the original. Returns
    * (filesBefore, bins). No-op (returns early) when already compact.
    *
    * Per-bin rewrite instead of a global `repartition(n)`: reading a
    * bin's own files and writing them back with `coalesce(1)` moves no
    * rows between tasks — the whole rewrite is shuffle-free, and the bins
    * are independent single-task jobs submitted CONCURRENTLY (up to
    * [[MaxParallelBins]] driver threads; Spark's scheduler interleaves
    * them — Delta OPTIMIZE semantics). Each bin writes its own staging
    * subdirectory: concurrent jobs must not share one output committer's
    * `_temporary`, so isolation is per-job directories and the files are
    * lifted into the staged dir afterwards (driver renames, metadata
    * cost only). The rewrite is staged under
    * [[graft.operators.MergeSink.stagingPath]] and published by
    * [[graft.operators.MergeSink.swapDirs]], the warehouse sinks' marker
    * swap; readers see old or new, never a mix. */
  def compactParquetDir(spark: SparkSession, dir: String,
                        targetBytes: Long): (Int, Int) = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    MergeSink.recoverSwap(spark, dir)
    val (before, bins) = stageCompacted(spark, fs, dir,
      new Path(MergeSink.stagingPath(dir)), targetBytes)
    if (before > bins) MergeSink.swapDirs(fs, dir, Seq(""))
    (before, bins)
  }

  /** [[compactParquetDir]] for a HIVE-PARTITIONED parquet table
    * (`root/key=value/part-*`): compact each partition directory
    * independently, never merging across partitions — partition dirs are
    * replay/overwrite boundaries (dynamic partition overwrite replaces a
    * whole `key=value` dir, so rows must stay inside theirs) and pruning
    * boundaries. Already-compact partitions no-op cheaply, so calling
    * this every K batches from an ingestion loop does O(new partitions)
    * work, not O(table).
    *
    * Every rewritten partition is staged under `root__tmp/key=value` and
    * the pass publishes them all with ONE marker swap
    * ([[graft.operators.MergeSink.swapDirs]]). The staging, backup and
    * marker paths are SIBLINGS of the table root, NOT inside it: a
    * leftover dir inside the root would parse as a bogus partition value
    * and double-read old rows; outside it, leftover state is invisible to
    * readers. A pass that dies mid-swap is healed by
    * [[graft.operators.MergeSink.recoverSwap]], which every pass runs
    * first (and which a reader of the dir can run itself).
    *
    * `minFiles` (0 = off) is the ADAPTIVE trigger: partitions holding
    * `minFiles` part files or fewer are skipped without planning a
    * rewrite — an ingestion loop can then call this EVERY batch and pay
    * only FS listings until a partition actually accumulates enough
    * files to hurt scan planning (the r9 cadence ablation showed
    * unconditional every-N compaction costs more than it saves at short
    * horizons; the file-count rule makes the cost proportional to the
    * problem). Returns (filesBefore, filesAfter) summed over the
    * partitions it planned (skipped partitions are not counted).
    * Recovery runs on every call, regardless of skips.
    *
    * Takes no table lock: a compacted dir has one writer, which calls
    * this between its own writes. */
  def compactPartitionedDir(spark: SparkSession, root: String,
                            targetBytes: Long,
                            minFiles: Int = 0): (Int, Int) = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return (0, 0)
    MergeSink.recoverSwap(spark, root)
    val parts = fs.listStatus(rootPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(_.getPath).sortBy(_.getName)
    val staging = new Path(MergeSink.stagingPath(root))
    val planned = parts.filterNot { part =>
      minFiles > 0 &&
        fs.listStatus(part).count(st => st.isFile &&
          st.getPath.getName.startsWith("part-")) <= minFiles
    }.map { part =>
      val (b, a) = stageCompacted(spark, fs, part.toString,
        new Path(staging, part.getName), targetBytes)
      (part.getName, b, a)
    }
    val rewritten = planned.collect { case (n, b, a) if b > a => n }
    if (rewritten.nonEmpty) MergeSink.swapDirs(fs, root, rewritten)
    // the pass must preserve the partition set: a vanished partition is
    // data loss, and streaming replay reads these dirs, where a missing
    // partition just looks like fewer rows — fail LOUDLY instead
    val after = fs.listStatus(rootPath)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(_.getPath.getName).toSet
    parts.map(_.getName).foreach { n =>
      require(after.contains(n), s"compaction lost partition $n of $root")
    }
    (planned.map(_._2).sum, planned.map(_._3).sum)
  }

  /** Plans `dir`'s bins and, when that would cut its file count, writes
    * the compacted files into `staged` (created here; it must not exist).
    * Returns (files, bins): `files > bins` iff `staged` was written. */
  private def stageCompacted(spark: SparkSession, fs: FileSystem,
                             dir: String, staged: Path,
                             targetBytes: Long): (Int, Int) = {
    val listing = listPartFiles(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val plan = {
      var cum = 0L
      listing.map { case (path, bytes) =>
        val bin = cum / targetBytes; cum += bytes; (path, bin)
      }
    }
    val bins = plan.map(_._2).distinct.sorted
    if (listing.length <= bins.length) return (listing.length, bins.length)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(MaxParallelBins, bins.length))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val jobs = bins.toSeq.map { b =>
        scala.concurrent.Future {
          val paths = plan.filter(_._2 == b).map(_._1)
          spark.read.parquet(paths: _*).coalesce(1)
            .write.mode(SaveMode.ErrorIfExists)
            .parquet(new Path(staged, s"bin=$b").toString)
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(jobs),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    // lift each bin's file into the staged dir (bin prefix keeps names
    // collision-free), then drop the per-job dirs
    bins.foreach { b =>
      val binDir = new Path(staged, s"bin=$b")
      fs.listStatus(binDir).filter(st => st.isFile &&
          st.getPath.getName.startsWith("part-"))
        .foreach { st =>
          require(fs.rename(st.getPath,
            new Path(staged, s"part-b$b-${st.getPath.getName.stripPrefix("part-")}")),
            s"compaction: could not lift ${st.getPath}")
        }
      fs.delete(binDir, true)
    }
    (listing.length, bins.length)
  }
}
