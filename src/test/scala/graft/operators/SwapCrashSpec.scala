package graft.operators

import graft.{FaultFileSystem, SparkSpec}
import graft.maintenance.Compaction
import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

/** Crash at every step of the one directory swap ([[MergeSink.swapDirs]],
  * which both the warehouse sinks and [[Compaction]] publish through): a
  * [[FaultFileSystem]] stops the swap before its k-th mutating call, for
  * every k a clean swap makes. [[MergeSink.recoverSwap]] and the caller's
  * next call (a compaction pass) then run on the plain file system, and
  * the dir must hold every subdir, each wholly of the old generation or
  * wholly of the new one, with no staging, backup or marker left. */
class SwapCrashSpec extends SparkSpec {
  import spark.implicits._

  private def localFs: FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private val ids = 0L until 40L

  /** `gen`'s rows in partitions p=1 and p=2 (several files each), or
    * unpartitioned when `partitioned` is false. */
  private def writeGen(dir: String, gen: String, partitioned: Boolean): Unit = {
    val df = ids.toDF("id")
      .select((col("id") % 2 + 1).as("p"), col("id"), lit(gen).as("gen"))
      .repartition(3)
    if (partitioned) df.write.partitionBy("p").parquet(dir)
    else df.write.parquet(dir)
  }

  /** A dir holding the old generation with the new one staged for the
    * swap, as a caller leaves it right before [[MergeSink.swapDirs]]. */
  private def fixture(name: String, partitioned: Boolean): String = {
    val path = Files.createTempDirectory(name).resolve("t").toString
    writeGen(path, "old", partitioned)
    writeGen(MergeSink.stagingPath(path), "new", partitioned)
    path
  }

  /** Every (id, gen) row, by partition value `p`. */
  private def rowsByPartition(path: String): Map[Long, Set[(Long, String)]] =
    spark.read.parquet(path).select(col("p").cast("long"), col("id"), col("gen"))
      .as[(Long, Long, String)].collect().toSeq
      .groupBy(_._1).map { case (p, rs) => p -> rs.map(r => (r._2, r._3)).toSet }

  /** Both partitions hold all their rows, and each swapped unit (a
    * partition, or the whole dir) holds one generation. */
  private def assertWhole(path: String, partitioned: Boolean, k: Int): Unit = {
    val got = rowsByPartition(path)
    assert(got.keySet == Set(1L, 2L), s"k=$k: partitions ${got.keySet}")
    got.foreach { case (p, rows) =>
      assert(rows.map(_._1) == ids.filter(_ % 2 + 1 == p).toSet,
        s"k=$k: p=$p lost rows")
    }
    val units = if (partitioned) got.values else Seq(got.values.flatten)
    units.foreach { rows =>
      val gens = rows.map(_._2).toSet
      assert(gens.size == 1, s"k=$k: a swapped unit mixes generations $gens")
    }
    Seq("__tmp", "__old", "__swap").foreach { s =>
      assert(!new java.io.File(path + s).exists(), s"k=$k: $s left behind")
    }
  }

  /** Mutating calls of a clean swap of `subdirs` (k = 0: no fault),
    * which must publish the new generation whole. */
  private def cleanCalls(partitioned: Boolean, subdirs: Seq[String]): Int = {
    val path = fixture("swap_clean", partitioned)
    val fs = new FaultFileSystem(localFs, failAt = 0)
    MergeSink.swapDirs(fs, path, subdirs)
    assertWhole(path, partitioned, k = 0)
    assert(rowsByPartition(path).values.flatten.map(_._2).toSet == Set("new"))
    fs.calls
  }

  private def crashEveryStep(partitioned: Boolean, subdirs: Seq[String])
                            (nextCall: String => Unit): Unit = {
    val k0 = cleanCalls(partitioned, subdirs)
    assert(k0 >= 2 * subdirs.size + 3, s"clean swap made only $k0 calls")
    info(s"a clean swap of ${subdirs.size} subdir(s) makes $k0 mutating calls")
    (1 to k0).foreach { k =>
      val path = fixture(s"swap_k$k", partitioned)
      val fs = new FaultFileSystem(localFs, failAt = k)
      intercept[FaultFileSystem.Fault](MergeSink.swapDirs(fs, path, subdirs))
      MergeSink.recoverSwap(spark, path)
      nextCall(path)
      assertWhole(path, partitioned, k)
    }
  }

  test("a partition swap crashed at every step recovers to whole generations") {
    crashEveryStep(partitioned = true, Seq("p=1", "p=2")) { path =>
      Compaction.compactPartitionedDir(spark, path, 1L << 30)
    }
  }

  test("a create swap crashed at every step recovers to a readable table " +
      "with its meta") {
    val created = ids.map(i => (i, s"v$i"))
    val more = Seq((100L, "v100"))
    def rows(r: Seq[(Long, String)]) = r.toDF("id", "v")
    // a staged create as upsertParquet stages it: bucketed rows and meta
    // under the staging dir, no table dir yet
    val staged = Files.createTempDirectory("create_src").resolve("t").toString
    MergeSink.upsertParquet(spark, staged, rows(created), Seq("id"), None,
      numBuckets = 4)
    def fixture(name: String): String = {
      val path = Files.createTempDirectory(name).resolve("t").toString
      org.apache.hadoop.fs.FileUtil.copy(localFs, new Path(staged), localFs,
        new Path(MergeSink.stagingPath(path)), false,
        spark.sparkContext.hadoopConfiguration)
      path
    }
    val clean = fixture("create_clean")
    val counter = new FaultFileSystem(localFs, failAt = 0)
    MergeSink.swapDirs(counter, clean, Seq(""))
    val k0 = counter.calls
    assert(k0 >= 5, s"clean create swap made only $k0 calls")
    assert(MergeSink.readTable(spark, clean).as[(Long, String)].collect().toSet ==
      created.toSet)
    (1 to k0).foreach { k =>
      val path = fixture(s"create_k$k")
      intercept[FaultFileSystem.Fault](
        MergeSink.swapDirs(new FaultFileSystem(localFs, failAt = k), path, Seq("")))
      MergeSink.recoverSwap(spark, path)
      MergeSink.upsertParquet(spark, path, rows(more), Seq("id"), None)
      val got = MergeSink.readTable(spark, path).as[(Long, String)].collect().toSet
      // the create published whole, or not at all and the next upsert
      // created the table
      assert(got == (created ++ more).toSet || got == more.toSet,
        s"k=$k: ${got.size} rows")
      assert(new java.io.File(path, "_graft_meta.json").exists(), s"k=$k: no meta")
      Seq("__tmp", "__old", "__swap").foreach { s =>
        assert(!new java.io.File(path + s).exists(), s"k=$k: $s left behind")
      }
    }
  }

  test("an empty swap marker (writer killed before closing it) rolls back " +
      "a staged bucket generation and a staged create") {
    def table(name: String, gen: String): String = {
      val path = Files.createTempDirectory(name).resolve("t").toString
      MergeSink.upsertParquet(spark, path, ids.map(i => (i, gen)).toDF("id", "v"),
        Seq("id"), None, numBuckets = 4)
      path
    }
    def copy(src: String, dst: String): Unit =
      org.apache.hadoop.fs.FileUtil.copy(localFs, new Path(src), localFs,
        new Path(dst), false, spark.sparkContext.hadoopConfiguration)
    // what swapDirs leaves when killed between creating its marker and
    // closing it: the backup dir made, the marker empty, nothing renamed
    def crashBeforeClose(path: String): Unit = {
      assert(localFs.mkdirs(new Path(path + "__old")))
      localFs.create(new Path(path + "__swap"), true).close()
    }
    def assertNoLeftovers(path: String): Unit =
      Seq("__tmp", "__old", "__swap").foreach { s =>
        assert(!new java.io.File(path + s).exists(), s"$s left behind")
      }

    val updated = table("empty_marker_new", "new")
    val bucketed = table("empty_marker_bucket", "old")
    val bucket = new java.io.File(updated).list().filter(_.startsWith("__bucket=")).min
    copy(s"$updated/$bucket", s"${MergeSink.stagingPath(bucketed)}/$bucket")
    crashBeforeClose(bucketed)
    assert(MergeSink.recoverSwap(spark, bucketed))
    assert(MergeSink.readTable(spark, bucketed).as[(Long, String)].collect().toSet ==
      ids.map(i => (i, "old")).toSet)
    assertNoLeftovers(bucketed)

    val create = Files.createTempDirectory("empty_marker_create").resolve("t").toString
    copy(updated, MergeSink.stagingPath(create))
    crashBeforeClose(create)
    assert(MergeSink.recoverSwap(spark, create))
    assert(!new java.io.File(create).exists(), "a create with no marker entry rolled forward")
    assertNoLeftovers(create)
  }

  test("a whole-dir swap crashed at every step recovers to one generation") {
    crashEveryStep(partitioned = false, Seq("")) { path =>
      Compaction.compactParquetDir(spark, path, 1L << 30)
    }
  }
}
