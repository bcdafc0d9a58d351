package graft.maintenance

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("binPack cuts the byte stream at exact target boundaries per partition") {
    val listing = Seq(
      // source A: 5+5+5+5 at target 10 -> bins 0,0,1,1
      ("A", 1L, 5L), ("A", 2L, 5L), ("A", 3L, 5L), ("A", 4L, 5L),
      // source B: an oversized file occupies its own boundary span;
      // the next file starts in the bin its first byte falls in
      ("B", 1L, 25L), ("B", 2L, 5L), ("B", 3L, 5L)
    ).toDF("source", "file_id", "bytes")
    val got = Compaction.binPack(listing, "bytes", targetBytes = 10L,
        partitionCols = Seq("source"), ordered = Seq("file_id"))
      .orderBy("source", "file_id")
      .select("source", "file_id", "cum_before", "bin")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("A", 1L, 0L, 0L), ("A", 2L, 5L, 0L), ("A", 3L, 10L, 1L), ("A", 4L, 15L, 1L),
      ("B", 1L, 0L, 0L), ("B", 2L, 25L, 2L), ("B", 3L, 30L, 3L)))
  }

  test("compactParquetDir rewrites a fragmented dir to the planned bin count, content intact") {
    val dir = Files.createTempDirectory("compact").resolve("t").toString
    spark.range(0, 1000)
      .select(col("id"), (col("id") * 3).as("v"))
      .repartition(16)
      .write.parquet(dir)
    val before = Compaction.listPartFiles(spark, dir).collect()
    assert(before.length == 16)
    val totalBytes = before.map(_.getLong(1)).sum
    val target = totalBytes / 3 + 1
    val (nBefore, nBins) = Compaction.compactParquetDir(spark, dir, target)
    assert(nBefore == 16 && nBins <= 4 && nBins >= 3)
    val after = Compaction.listPartFiles(spark, dir).collect()
    assert(after.length == nBins, s"expected $nBins files, found ${after.length}")
    // content survives the swap bit-for-bit
    val rows = spark.read.parquet(dir).as[(Long, Long)].collect().toSet
    assert(rows == (0L until 1000L).map(i => (i, i * 3)).toSet)
    // repeated compaction converges to a fixpoint (compacted files are
    // SMALLER than the fragmented originals — fewer headers — so one more
    // repack pass is legitimate before bins == files holds)
    var res = (nBefore, nBins)
    var passes = 0
    while (res._1 > res._2 && passes < 5) {
      res = Compaction.compactParquetDir(spark, dir, target); passes += 1
    }
    assert(res._1 == res._2, s"no fixpoint after $passes passes: $res")
    assert(spark.read.parquet(dir).as[(Long, Long)].collect().toSet == rows)
  }

  test("compactPartitionedDir compacts each hive partition in place; partition column and rows intact; no staging debris under the root") {
    val root = Files.createTempDirectory("compactp").resolve("t").toString
    spark.range(0, 900)
      .select((col("id") % 3).as("batch_id"), col("id"), (col("id") * 7).as("v"))
      .repartition(8)
      .write.partitionBy("batch_id").parquet(root)
    val expect = spark.read.parquet(root)
      .select("batch_id", "id", "v").as[(Long, Long, Long)].collect().toSet
    def files(): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.startsWith("part-")) b += f.toString
      }
      b.result()
    }
    val nBefore = files().size
    assert(nBefore > 3, s"fixture not fragmented: $nBefore files")
    val (b1, a1) = Compaction.compactPartitionedDir(spark, root, 1L << 30)
    assert(b1 == nBefore && a1 == 3, s"expected $nBefore -> 3 files, got $b1 -> $a1")
    assert(files().size == 3)
    // rows AND the dir-encoded partition values survive the per-partition swap
    assert(spark.read.parquet(root)
      .select("batch_id", "id", "v").as[(Long, Long, Long)].collect().toSet == expect)
    // second pass is a no-op (the amortized-O(1) loop contract)
    val (b2, a2) = Compaction.compactPartitionedDir(spark, root, 1L << 30)
    assert(b2 == 3 && a2 == 3, s"second pass not a no-op: $b2 -> $a2")
    // staging/old/marker siblings cleaned; nothing inside the root but partitions
    val parent = new java.io.File(root).getParentFile.listFiles().map(_.getName).toSet
    assert(!parent.exists(n => Seq("__tmp", "__old", "__swap").exists(n.contains)),
      s"staging debris: $parent")
    val inRoot = new java.io.File(root).listFiles().map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    assert(inRoot == Set("batch_id=0", "batch_id=1", "batch_id=2"), s"root contents: $inRoot")
  }

  test("compactPartitionedDir recovers a partition stranded mid-swap instead of deleting it") {
    val root = Files.createTempDirectory("compactr").resolve("t").toString
    spark.range(0, 600)
      .select((col("id") % 3).as("batch_id"), col("id"), (col("id") * 7).as("v"))
      .repartition(4)
      .write.partitionBy("batch_id").parquet(root)
    val expect = spark.read.parquet(root)
      .select("batch_id", "id", "v").as[(Long, Long, Long)].collect().toSet
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def strand(sibling: String, part: String): Unit = {
      // simulate a crash inside the marker swap: the partition exists
      // ONLY under the sibling dir
      val side = new org.apache.hadoop.fs.Path(root + sibling, part)
      fs.mkdirs(side.getParent)
      assert(fs.rename(new org.apache.hadoop.fs.Path(root, part), side))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root, part)))
    }
    strand("__old", "batch_id=1")  // original parked, rewrite not staged
    strand("__tmp", "batch_id=2")  // rewrite staged, not yet published
    val marker = fs.create(new org.apache.hadoop.fs.Path(root + "__swap"), true)
    marker.write("batch_id=1\nbatch_id=2".getBytes("UTF-8")); marker.close()
    val (_, after) = Compaction.compactPartitionedDir(spark, root, 1L << 30)
    assert(after == 3, s"expected 3 files after recovery+compaction, got $after")
    // every row of every partition survived, including both stranded ones
    assert(spark.read.parquet(root)
      .select("batch_id", "id", "v").as[(Long, Long, Long)].collect().toSet == expect)
    val parent = new java.io.File(root).getParentFile.listFiles().map(_.getName).toSet
    assert(!parent.exists(n => Seq("__tmp", "__old", "__swap").exists(n.contains)),
      s"staging debris: $parent")
  }

  test("compactPartitionedDir minFiles skips small partitions (adaptive trigger)") {
    val root = Files.createTempDirectory("compacta").resolve("t").toString
    // batch_id=0: 2 files (under the bound); batch_id=1: 6 files (over it)
    spark.range(0, 100).select(lit(0L).as("batch_id"), col("id"))
      .repartition(2).write.partitionBy("batch_id").parquet(root)
    spark.range(100, 200).select(lit(1L).as("batch_id"), col("id"))
      .repartition(6).write.mode("append").partitionBy("batch_id").parquet(root)
    def partFiles(part: String): Set[String] =
      new java.io.File(root, part).listFiles()
        .map(_.getName).filter(_.startsWith("part-")).toSet
    val smallBefore = partFiles("batch_id=0")
    assert(smallBefore.size == 2 && partFiles("batch_id=1").size == 6)
    val (b, a) = Compaction.compactPartitionedDir(spark, root, 1L << 30,
      minFiles = 3)
    // only the over-bound partition was planned and rewritten
    assert(b == 6 && a == 1, s"expected 6 -> 1 (skipping the small partition), got $b -> $a")
    assert(partFiles("batch_id=0") == smallBefore, "skipped partition was touched")
    assert(partFiles("batch_id=1").size == 1)
    assert(spark.read.parquet(root).select("id").as[Long].collect().toSet
      == (0L until 200L).toSet)
  }
}
