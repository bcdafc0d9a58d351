package graft.operators

import graft.functions.BoundValue
import graft.schema.Schemas
import graft.util.ArtifactIO
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Hash-guarded upsert — the reference's single most important operator
  * (SURVEY.md §2.5 J3, §2.2 K3–K5, §3.3): `INSERT ... ON CONFLICT (natural
  * key) DO UPDATE SET ... WHERE row_hash IS DISTINCT FROM EXCLUDED.row_hash`
  * (src/utils/db_connector.py:380-419), re-expressed as a relational MERGE.
  *
  * [[merge]] is a pure DataFrame -> DataFrame function (testable, oracle-able
  * as a FULL OUTER JOIN in ANSI SQL); [[upsertParquet]] wraps it as a
  * read-merge-atomic-swap sink for a parquet-backed warehouse (this build has
  * no Delta jars; with Delta/Iceberg the same `merge` becomes `MERGE INTO`).
  *
  * Scale notes: the merge is a single shuffle on the natural key. The
  * warehouse table is hash-bucketed on that key, and an upsert rewrites
  * only the buckets that receive a CHANGED row: an update row whose
  * `guardCols` values the target already holds costs a probe read of
  * its bucket, never a rewrite. So the rewrite scales with the rows whose
  * content changed, not with the rows delivered — a full-snapshot feed
  * (every history file re-sent whole, one new row) rewrites only the
  * buckets holding the new rows. A table without a hash column (K4,
  * `stg_daily_nav`) is guarded on its whole content, so a NAV re-sent
  * with only a new `updated_at` rewrites nothing either.
  */
object MergeSink {

  /** The columns that decide whether a matched update row changes the
    * table: `keys :+ hashCol` for a hash-guarded table (T2), otherwise
    * every column of `schema` except [[Schemas.updatedAt]] (K4: the
    * reference's SET list rewrites every column but `id` and
    * `updated_at`, so a row re-sent unchanged leaves the stored row as
    * it was). Fails, naming `table` and the column, when a guard column
    * holds a map: Spark cannot compare maps with `<=>`. */
  private def guardCols(schema: StructType, keys: Seq[String],
                        hashCol: Option[String], table: String): Seq[String] = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType    => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType  => hasMap(a.elementType)
      case _             => false
    }
    val guard = hashCol.fold(
      schema.fieldNames.toSeq.filterNot(_ == Schemas.updatedAt))(keys :+ _)
    guard.find(c => hasMap(schema(c).dataType)).foreach { c =>
      throw new IllegalArgumentException(
        s"table $table: column `$c` holds a map, which the upsert's change " +
          "guard cannot compare; give the table a hash column or store the " +
          "map as a sorted array of entries")
    }
    guard
  }

  /** MERGE semantics on `keys`, with `guard` = `guardCols`:
    *  - matched + guard columns equal    -> keep target row unchanged (no-op)
    *  - matched + a guard column differs -> take update row
    *  - target-only                      -> keep target row
    *  - update-only                      -> insert update row
    *
    * `updates` is deduplicated on the keys first (keep-last by `updateOrder`,
    * mirroring the reference's last-chunk-wins constraint behavior but made
    * deterministic). Output schema = target schema.
    *
    * Keys match null-safely (`<=>`), so a NULL key part (holdings'
    * `as_of_date` in the GenLakeData layout) is an ordinary key value.
    * Which side of the join a row came from is read from a non-null
    * marker column per side, never from the key values themselves.
    */
  def merge(target: DataFrame, updates: DataFrame, keys: Seq[String],
            hashCol: Option[String] = Some("row_hash"),
            updateOrder: Seq[Column] = Nil): DataFrame = {
    val cols = target.columns.toSeq
    val upd0 = updates.select(cols.map(col): _*)
    val upd =
      if (updateOrder.nonEmpty) Dedup.keyedKeepFirst(upd0, keys, updateOrder)
      else upd0.dropDuplicates(keys)

    val t = target.select(
      cols.map(c => col(c).as(s"t_$c")) :+ lit(true).as("t__present"): _*)
    val u = upd.select(
      cols.map(c => col(c).as(s"u_$c")) :+ lit(true).as("u__present"): _*)
    val joinCond = keys.map(k => col(s"t_$k") <=> col(s"u_$k")).reduce(_ && _)
    val joined = t.join(u, joinCond, "full_outer")

    val updPresent = col("u__present").isNotNull
    val tgtPresent = col("t__present").isNotNull
    val same = guardCols(target.schema, keys, hashCol, "merge target")
      .map(c => col(s"t_$c") <=> col(s"u_$c")).reduce(_ && _)
    val takeUpdate = updPresent && (!tgtPresent || !same)
    joined.select(cols.map { c =>
      when(takeUpdate, col(s"u_$c")).otherwise(col(s"t_$c")).as(c)
    }: _*)
  }

  // ------------------------------------------------------------------ lock

  /** A second writer is already mid-upsert on the same table. */
  final class ConcurrentWriteException(path: String, holder: String)
    extends RuntimeException(
      s"table $path is locked by another writer ($holder); " +
        "concurrent upserts into one parquet table are serialized, not merged")

  private def lockPath(path: String) = new Path(path + "__lock")

  /** This writer's lock was broken (stale-judged) by a contender while it
    * was still alive; the critical section must abort, not proceed. */
  final class LockLostException(path: String, newHolder: String)
    extends RuntimeException(
      s"lock on $path was lost to another writer ($newHolder) while this " +
        "writer was still running; aborting before the table swap to avoid " +
        "two concurrent swaps corrupting the table")

  /** Handle to an acquired table lock. [[assertOwned]] re-reads the lock
    * file and aborts if another writer replaced it — called immediately
    * before the swap critical section so a slow-but-alive writer whose
    * lock was stale-broken can never race the new holder's renames. */
  private[graft] final class TableLock(fs: FileSystem, path: String,
                                       val holder: String) {
    private val lp = lockPath(path)
    private[MergeSink] def holderOf: String =
      try {
        val in = fs.open(lp)
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString
        in.close(); s
      } catch { case _: Exception => "unknown" }
    def owned: Boolean = holderOf == holder
    def assertOwned(): Unit = {
      val h = holderOf
      if (h != holder) throw new LockLostException(path, h)
    }
  }

  /** This JVM's `pid@host`, the prefix of every lock holder string. */
  private val processName =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName

  /** True when `holder` (`pid@host/uuid`) names this host and a pid that
    * is neither this JVM's nor alive: its owner can never release it. */
  private def deadLocalHolder(holder: String): Boolean =
    holder.takeWhile(_ != '/').split("@", 2) match {
      case Array(pid, host) if host == processName.split("@", 2).last =>
        pid.toLongOption.exists(p => p != ProcessHandle.current().pid &&
          !ProcessHandle.of(p).filter(h => h.isAlive).isPresent)
      case _ => false
    }

  /** Table-level writer mutex via atomic create-if-absent of a lock file.
    *
    * The parquet swap-sink is crash-safe (marker + [[recoverSwap]]) but a
    * SECOND concurrent writer would race the staged dirs and the marker
    * itself. This lock serializes writers: acquisition is
    * `FileSystem.create(overwrite = false)`, which is atomic on HDFS and
    * object stores with conditional-put semantics; a writer that died
    * mid-hold is healed by the stale-lock timeout (its swap marker is then
    * rolled forward by recoverSwap under the new lock). A holder that is
    * provably dead — its `pid@host` names this host and a pid other than
    * this JVM's that is not alive — is broken at once instead of after
    * `staleAfterMs`; a holder on another host can only go stale.
    *
    * Liveness vs the stale horizon: a daemon HEARTBEAT re-touches the lock
    * mtime every `heartbeatMs` while `body` runs, so a slow-but-alive
    * writer (a big merge overrunning `staleAfterMs`) never LOOKS dead —
    * only a truly crashed holder goes stale. Defense in depth on top: the
    * critical section re-reads the holder via [[TableLock.assertOwned]]
    * immediately before [[swapDirs]] and aborts with [[LockLostException]]
    * if the lock was lost anyway (e.g. a heartbeat write outage), so two
    * concurrent swaps cannot both proceed. Honest limits, documented: this
    * is optimistic writer-EXCLUSION, not transaction isolation — readers
    * still see generation boundaries, not snapshots, and on filesystems
    * without atomic create the race window is the create call itself.
    * Delta/Iceberg `MERGE INTO` with a real commit protocol remains the
    * upgrade path (no such jars ship here). */
  private[graft] def withTableLock[T](fs: FileSystem, path: String,
                                      staleAfterMs: Long = 30 * 60 * 1000L,
                                      heartbeatMs: Long = -1L)
                                     (body: TableLock => T): T = {
    val lp = lockPath(path)
    val holder = s"$processName/${java.util.UUID.randomUUID()}"
    val lock = new TableLock(fs, path, holder)
    def tryAcquire(): Boolean = {
      val created =
        try {
          val out = fs.create(lp, false) // overwrite=false: atomic create-if-absent
          out.write(holder.getBytes("UTF-8")); out.close(); true
        } catch {
          // only an EXISTING lock is contention; a transient infrastructure
          // failure (outage, permissions) must surface as itself, not as a
          // phantom concurrent writer
          case e: java.io.IOException => if (fs.exists(lp)) false else throw e
        }
      // read-back verify: two stale-breakers can both pass the mtime
      // re-check, one deletes the other's FRESH replacement, and both
      // "create" — the loser's create lands second and its bytes are the
      // file, or it lands first and was overwritten. Only the writer whose
      // holder string IS the file content actually owns the lock.
      created && lock.owned
    }
    var acquired = tryAcquire()
    if (!acquired) {
      // break ONLY the exact stale or dead-holder lock we observed:
      // re-check that the file still carries the same mtime before
      // deleting, so two writers probing the same lock can't each delete
      // the other's FRESH replacement
      val staleMtime =
        try {
          val st = fs.getFileStatus(lp)
          if (System.currentTimeMillis() - st.getModificationTime > staleAfterMs ||
              deadLocalHolder(lock.holderOf))
            Some(st.getModificationTime)
          else None
        } catch { case _: Exception => None } // vanished -> plain retry below
      staleMtime.foreach { m =>
        try if (fs.getFileStatus(lp).getModificationTime == m) fs.delete(lp, false)
        catch { case _: Exception => () } // already gone/replaced: don't touch
      }
      acquired = tryAcquire()
      if (!acquired) throw new ConcurrentWriteException(path, lock.holderOf)
    }
    // heartbeat: keep the lock visibly alive for as long as body runs.
    // Touch only while we still own it — freshening a usurper's lock would
    // extend THEIR hold. hbMs <= 0 with the default sentinel derives a
    // period well inside the stale horizon; tests pass Long.MaxValue to
    // simulate a heartbeat-less overrunning writer.
    val hbMs = if (heartbeatMs > 0) heartbeatMs
               else math.max(50L, staleAfterMs / 6)
    val hb = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(hbMs)
          try if (lock.owned) fs.setTimes(lp, System.currentTimeMillis(), -1)
          catch { case _: InterruptedException => throw new InterruptedException
                  case _: Exception => () }
        }
      } catch { case _: InterruptedException => () }
    })
    hb.setDaemon(true); hb.setName("graft-lock-heartbeat")
    if (hbMs != Long.MaxValue) hb.start()
    try body(lock)
    finally {
      hb.interrupt()
      // release ONLY our own lock: if a stale-breaker replaced it while we
      // overran staleAfterMs, deleting blindly would free the table under
      // the new holder's feet and admit a third writer mid-swap
      try if (lock.owned) fs.delete(lp, false)
      catch { case _: Exception => () }
    }
  }

  // ------------------------------------------------------------------ swap

  /** Marker-file path for an in-flight swap of `path`. The marker is
    * written BEFORE any rename and deleted after the last one, so a crash
    * leaves a record of exactly which generation dirs were mid-flight;
    * [[recoverSwap]] rolls the swap forward (staged dirs win) or back. */
  private def swapMarker(path: String) = new Path(path + "__swap")

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Marker line encoding the whole-directory swap: a root swap's subdir
    * is the empty string, which would serialize to an EMPTY marker file —
    * recovery would then parse zero entries and delete both the backup
    * and the staged generation (total table loss). The sentinel keeps the
    * marker one non-blank line per swapped dir. */
  private val RootDirSentinel = "."
  private def encodeDir(d: String) = if (d.isEmpty) RootDirSentinel else d
  private def decodeDir(l: String) = if (l == RootDirSentinel) "" else l

  /** Hadoop FileSystem.rename reports failure by RETURNING FALSE on many
    * implementations (dest-parent races, quotas, cross-fs paths) — an
    * ignored false here would let the cleanup deletes below destroy the
    * only copy of the data while reporting success. */
  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Where a writer stages the next generation of `path`'s subdirs
    * (`<path>__tmp/<subdir>`, or the whole staged dir for a root swap)
    * before [[swapDirs]] publishes them. */
  private[graft] def stagingPath(path: String): String = path + "__tmp"

  /** Publishes `subdirs` of the staged generation under
    * [[stagingPath]]`(path)` into `path` (tmp/<d> -> path/<d>, previous
    * path/<d> parked under path__old until the swap completes).
    * `subdirs == Seq("")` swaps the whole directory. This is the one
    * directory swap of the engine: the warehouse sinks and
    * [[graft.maintenance.Compaction]] both publish through it, and
    * [[recoverSwap]] is the one way an interrupted swap is healed.
    *
    * Writer exclusion is the caller's: the sinks re-verify their table
    * lock ([[TableLock.assertOwned]]) right before calling, so a writer
    * whose lock was stale-broken during the (long) staged write aborts
    * with [[LockLostException]] instead of racing the new holder's
    * renames. */
  private[graft] def swapDirs(fs: FileSystem, path: String,
                              subdirs: Seq[String]): Unit = {
    val tmp = stagingPath(path)
    val old = path + "__old"
    fs.delete(new Path(old), true)
    fs.mkdirs(new Path(old))
    val m = fs.create(swapMarker(path), true)
    m.write(subdirs.map(encodeDir).mkString("\n").getBytes("UTF-8")); m.close()
    subdirs.foreach { d =>
      val cur = if (d.isEmpty) new Path(path) else new Path(path, d)
      val stg = if (d.isEmpty) new Path(tmp) else new Path(tmp, d)
      val bak = new Path(old, if (d.isEmpty) "__root" else d)
      if (fs.exists(cur)) renameOrThrow(fs, cur, bak)
      if (fs.exists(stg)) renameOrThrow(fs, stg, cur)
    }
    fs.delete(new Path(old), true)
    fs.delete(new Path(tmp), true)
    fs.delete(swapMarker(path), false)
  }

  /** Finishes an interrupted [[swapDirs]]: staged dirs (path__tmp) roll
    * forward, missing staged dirs roll back from path__old. With no
    * marker, a leftover path__tmp or path__old is a write that died
    * before its swap began (the marker is written before the first
    * rename and deleted after the last delete), so it is removed. A
    * marker with no entries is a writer killed between creating and
    * closing it, before any rename: nothing is renamed, so the write
    * rolls back. Every writer calls this before staging, under its own
    * writer exclusion. Returns whether a marker was found. */
  def recoverSwap(spark: SparkSession, path: String): Boolean = {
    val fs = fsFor(spark, path)
    val old = path + "__old"
    val tmp = stagingPath(path)
    if (!fs.exists(swapMarker(path))) {
      Seq(old, tmp).foreach(d => fs.delete(new Path(d), true))
      return false
    }
    val in = fs.open(swapMarker(path))
    val subdirs = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map(decodeDir).toList
    in.close()
    subdirs.foreach { d =>
      val cur = if (d.isEmpty) new Path(path) else new Path(path, d)
      val stg = if (d.isEmpty) new Path(tmp) else new Path(tmp, d)
      val bak = new Path(old, if (d.isEmpty) "__root" else d)
      if (!fs.exists(cur)) {
        if (fs.exists(stg)) renameOrThrow(fs, stg, cur)
        else if (fs.exists(bak)) renameOrThrow(fs, bak, cur)
      }
    }
    fs.delete(new Path(old), true)
    fs.delete(new Path(tmp), true)
    fs.delete(swapMarker(path), false)
    spark.catalog.refreshByPath(path)
    true
  }

  /** Runs a sink's staged write. If it fails before [[swapDirs]] wrote its
    * marker (a cancelled or failed write job), the half-written
    * `path__tmp` is garbage that no recovery reads, so it is removed here
    * instead of outliving the call. */
  private def cleaningTmp[T](fs: FileSystem, path: String, lock: TableLock)
                            (body: => T): T =
    try body
    catch { case e: Throwable =>
      // a writer that lost the lock leaves `__tmp` alone: it may be the
      // new holder's staged generation
      try if (lock.owned && !fs.exists(swapMarker(path)))
        fs.delete(new Path(stagingPath(path)), true)
      catch { case c: Exception => e.addSuppressed(c) }
      throw e
    }

  /** Writes `df` to a temp dir then swaps it into `path`. Crash-safe via
    * the [[swapDirs]] marker: an interrupted swap is finished by
    * [[recoverSwap]] on the next sink call instead of losing the table. */
  def replaceParquet(spark: SparkSession, path: String, df: DataFrame): Unit = {
    val fs = fsFor(spark, path)
    withTableLock(fs, path) { lock => cleaningTmp(fs, path, lock) {
      recoverSwap(spark, path)
      df.write.mode("overwrite").parquet(stagingPath(path))
      lock.assertOwned()
      swapDirs(fs, path, Seq(""))
      // drop cached file listings so readers created after the swap see the
      // new generation (stale FileStatusCache entries would 404 on old parts)
      spark.catalog.refreshByPath(path)
    }}
  }

  // -------------------------------------------------------------- bucketed

  /** Hash bucket of the natural key — the warehouse partitioning column.
    * Stable across runs (xxhash64 is seed-fixed), so a key always lands in
    * the same bucket and an upsert touches exactly the buckets its keys
    * hash into. */
  def bucketExpr(keys: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets)).cast("int")

  private def metaPath(path: String) = new Path(path, "_graft_meta.json")

  /** numBuckets is a TABLE property, not a call parameter: mixing bucket
    * counts across upserts would route the same key to different dirs. The
    * creating write records it; later upserts read it back. */
  private def readNumBuckets(fs: FileSystem, path: String): Option[Int] = {
    if (!fs.exists(metaPath(path))) None
    else {
      val in = fs.open(metaPath(path))
      val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      in.close()
      "\"numBuckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toInt)
    }
  }

  private def writeMeta(fs: FileSystem, path: String, keys: Seq[String],
                        numBuckets: Int): Unit = {
    val out = fs.create(metaPath(path), true)
    out.write(
      s"""{"numBuckets":$numBuckets,"keys":[${keys.map("\"" + _ + "\"").mkString(",")}]}"""
        .getBytes("UTF-8"))
    out.close()
  }

  /** Reads a warehouse table with its `__bucket` partition column, the
    * schema taken from a part file's footer on the driver
    * ([[graft.util.ArtifactIO.tableSchema]]): no footer-merge job. */
  private def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ArtifactIO.tableSchema(spark, path)).parquet(path)

  /** Reads a bucketed warehouse table without the physical `__bucket`
    * partition column. */
  def readTable(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, path).drop("__bucket")

  /** Partition-pruned, crash-safe MERGE into a hash-bucketed parquet
    * warehouse table (the scale-safe replacement for a full-table
    * rewrite — matches db_connector.py:380-419's touch-only-conflicting-
    * rows contract at the granularity Spark files allow):
    *
    *  1. table layout: path/__bucket=N/..., N = xxhash64(natural key) %
    *     numBuckets (recorded in _graft_meta.json at creation). The
    *     creating upsert stages the deduplicated rows and the meta under
    *     [[stagingPath]] and publishes them with one whole-dir
    *     [[swapDirs]], so a table dir never exists without its meta and a
    *     killed create is healed like any other staged write. A create
    *     with no rows writes one schema-bearing empty file as bucket 0:
    *     an empty table is an ordinary bucketed table;
    *  2. an upsert computes the DISTINCT buckets its update keys hash to
    *     (`hit`; bounded driver collect: <= numBuckets ints) and reads
    *     ONLY those partitions of the target (partition-pruned scan).
    *     It left-anti-joins the update rows against the
    *     `guardCols :+ __bucket` projection of the `hit` buckets
    *     (null-safe `<=>` on every column); the buckets of the surviving,
    *     CHANGED rows are `touched`;
    *  3. only the `touched` buckets are merged — target buckets with the
    *     update rows of those buckets — and rewritten via a staged marker
    *     swap. An empty `touched` writes nothing: no staging, no swap.
    *     Untouched buckets are never shuffled or rewritten, and buckets
    *     outside `hit` are never read;
    *  4. a crash mid-swap is healed by [[recoverSwap]] on the next call
    *     (staged bucket dirs roll forward; the table is never lost).
    *
    * An existing dir without the meta is not a table this sink wrote; the
    * upsert fails naming it instead of guessing its layout. Idempotent:
    * replaying updates whose guard values the table already holds (a K4
    * row re-sent with only a new `updated_at`, say) touches no bucket and
    * writes no file.
    *
    * Why skipping unchanged rows keeps the output: an update row whose
    * guard values the target already holds merges back to that target row
    * (`merge` keeps `t` on the same rule), so a bucket holding only such
    * rows would be rewritten with identical rows. Duplicate-key and
    * null-key update rows are at worst kept as changed, which only adds
    * buckets. */
  def upsertParquet(spark: SparkSession, path: String, updates: DataFrame,
                    keys: Seq[String], hashCol: Option[String] = Some("row_hash"),
                    numBuckets: Int = 32): Unit = {
    val fs = fsFor(spark, path)
    withTableLock(fs, path) { lock => cleaningTmp(fs, path, lock) {
      recoverSwap(spark, path)
      val tmp = stagingPath(path)

      readNumBuckets(fs, path) match {
        case None if fs.exists(new Path(path)) =>
          throw new IllegalStateException(
            s"table $path exists but has no ${metaPath(path).getName}: not a " +
              "table this sink wrote, or a copy that lost its meta; " +
              "restore the meta or remove the dir")

        case None =>
          // a table no later upsert could compare is refused before it exists
          guardCols(updates.schema, keys, hashCol, path)
          val rows = updates.dropDuplicates(keys)
            .withColumn("__bucket", bucketExpr(keys, numBuckets))
          rows.write.mode("overwrite").partitionBy("__bucket").parquet(tmp)
          // zero rows through partitionBy write no part file, and a dir
          // without one has no schema to read back: an empty create
          // writes one schema-bearing empty file as bucket 0
          if (fs.globStatus(new Path(tmp, "__bucket=*")).isEmpty)
            rows.drop("__bucket").limit(0).write.parquet(s"$tmp/__bucket=0")
          writeMeta(fs, tmp, keys, numBuckets)
          lock.assertOwned()
          swapDirs(fs, path, Seq(""))
          spark.catalog.refreshByPath(path)

        case Some(nb) =>
          val upd = updates
            .withColumn("__bucket", bucketExpr(keys, nb))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          def buckets(df: DataFrame): Array[Int] =
            df.select("__bucket").distinct().collect().map(_.getInt(0)).sorted
          // the bucket set is bound as data, not inlined as literals, so
          // an upsert that hits other buckets reuses the compiled classes;
          // on the table it is still a partition filter
          def inBuckets(df: DataFrame, bs: Array[Int]): DataFrame =
            df.filter(array_contains(BoundValue.ints(bs), col("__bucket")))
          try {
            val table = readParquet(spark, path)
            // a bucket is touched only if it receives an update row whose
            // guard values the target does not already hold — every other
            // update row merges back to its target row
            val probe = guardCols(table.drop("__bucket").schema, keys,
              hashCol, path) :+ "__bucket"
            val hit = buckets(upd)
            val touched =
              if (hit.isEmpty) hit
              else {
                val held = inBuckets(table, hit)
                  .select(probe.map(c => col(c).as(s"__t_$c")): _*)
                buckets(upd.join(held,
                  probe.map(c => upd(c) <=> col(s"__t_$c")).reduce(_ && _),
                  "left_anti"))
              }
            if (touched.nonEmpty) {
              val merged = merge(inBuckets(table, touched),
                inBuckets(upd, touched), keys, hashCol)
              merged.write.mode("overwrite").partitionBy("__bucket").parquet(tmp)
              lock.assertOwned()
              swapDirs(fs, path, touched.map(n => s"__bucket=$n").toSeq)
              spark.catalog.refreshByPath(path)
            }
          } finally upd.unpersist()
      }
    }}
  }

  /** T5 status lifecycle (src/utils/status_manager.py:63-88) as a pure
    * column rewrite of the master table. The reference runs two sequential
    * UPDATEs: first `get_sql_update_inactive` (targets ONLY rows WHERE
    * status='active' AND last_seen < cutoff), then
    * `get_sql_promote_new_to_active` ('new' with non-blank name). A stale
    * 'new' row therefore is never demoted — it stays 'new' or gets
    * promoted; only 'active' rows age out. The when-chain mirrors that
    * exact transition order:
    *  - 'active' + last_seen older than `asOf - inactiveDays` -> 'inactive'
    *  - 'new' with a non-blank name                           -> 'active'
    *  - otherwise unchanged. */
  def applyStatusLifecycle(master: DataFrame, asOf: Column,
                           inactiveDays: Int = 7): DataFrame =
    master.withColumn("status",
      when(col("status") === "active" &&
          col("last_seen") < date_sub(asOf, inactiveDays), lit("inactive"))
        .when(col("status") === "new" &&
          length(trim(coalesce(col("name"), lit("")))) > 0, lit("active"))
        .otherwise(col("status")))
}
