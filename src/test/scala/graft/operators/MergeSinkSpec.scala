package graft.operators

import graft.SparkSpec
import graft.functions.HashFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

class MergeSinkSpec extends SparkSpec {
  import spark.implicits._

  private def withHash(df: DataFrame): DataFrame =
    df.withColumn("row_hash",
      HashFns.canonicalRowHash(Seq(col("ticker")), Seq(col("price"))))

  private lazy val target = withHash(Seq(
    ("AAA", 10.0), ("BBB", 20.0), ("CCC", 30.0)).toDF("ticker", "price"))

  test("merge: unchanged rows no-op, changed rows update, new rows insert") {
    val updates = withHash(Seq(
      ("AAA", 10.0),   // identical -> no-op
      ("BBB", 21.0),   // changed   -> update
      ("DDD", 40.0)    // new       -> insert
    ).toDF("ticker", "price"))
    val out = MergeSink.merge(target, updates, Seq("ticker"))
      .orderBy("ticker").as[(String, Double, String)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) ==
      Seq(("AAA", 10.0), ("BBB", 21.0), ("CCC", 30.0), ("DDD", 40.0)))
  }

  test("merge is idempotent: re-applying the same updates changes nothing") {
    val updates = withHash(Seq(("BBB", 21.0), ("DDD", 40.0)).toDF("ticker", "price"))
    val once  = MergeSink.merge(target, updates, Seq("ticker"))
    val twice = MergeSink.merge(once, updates, Seq("ticker"))
    assert(once.orderBy("ticker").collect().toSeq ==
      twice.orderBy("ticker").collect().toSeq)
  }

  test("merge without hash column updates unconditionally (K4 shape)") {
    val noHash = Seq(("AAA", 10.0), ("BBB", 20.0)).toDF("ticker", "price")
    val updates = Seq(("AAA", 99.0)).toDF("ticker", "price")
    val out = MergeSink.merge(noHash, updates, Seq("ticker"), hashCol = None)
      .orderBy("ticker").as[(String, Double)].collect().toSeq
    assert(out == Seq(("AAA", 99.0), ("BBB", 20.0)))
  }

  test("merge dedups update batch deterministically by updateOrder") {
    val updates = withHash(Seq(
      ("AAA", 1.0), ("AAA", 2.0)).toDF("ticker", "price"))
    val out = MergeSink.merge(target, updates, Seq("ticker"),
        updateOrder = Seq(col("price").desc))
      .filter(col("ticker") === "AAA").as[(String, Double, String)].head()
    assert(out._2 == 2.0) // keep-first by price desc = highest price wins
  }

  test("merge: a NULL key part (holdings as_of_date) is a key value — a " +
       "changed payload lands, a new row inserts itself, an unchanged row stays") {
    val keys = Seq("ticker", "asset_type", "source", "holding_name", "as_of_date")
    def holdings(rows: (String, Double)*): DataFrame =
      rows.toDF("holding_name", "weight")
        .select(lit("AAA").as("ticker"), lit("ETF").as("asset_type"),
          lit("YF").as("source"), col("holding_name"),
          lit(null).cast("date").as("as_of_date"), col("weight"))
        .withColumn("row_hash",
          HashFns.canonicalRowHash(keys.map(col), Seq(col("weight"))))
    val target = holdings("Apple" -> 5.0, "Msft" -> 4.0)
    val updates = holdings("Apple" -> 6.0, "Msft" -> 4.0, "Nvda" -> 3.0)
    val expected = Seq(
      ("AAA", "ETF", "YF", "Apple", Some(6.0)),
      ("AAA", "ETF", "YF", "Msft", Some(4.0)),
      ("AAA", "ETF", "YF", "Nvda", Some(3.0)))
    def rows(df: DataFrame) = df.orderBy("holding_name")
      .select("ticker", "asset_type", "source", "holding_name", "weight")
      .as[(String, String, String, String, Option[Double])].collect().toSeq
    val merged = MergeSink.merge(target, updates, keys)
    assert(rows(merged) == expected)
    assert(merged.filter(col("as_of_date").isNotNull).isEmpty)

    // the bucketed sink takes the same rows through its changed-row probe
    val path = java.nio.file.Files.createTempDirectory("merge_nullkey").toString + "/t"
    MergeSink.upsertParquet(spark, path, target, keys, numBuckets = 4)
    MergeSink.upsertParquet(spark, path, updates, keys)
    assert(rows(MergeSink.readTable(spark, path)) == expected)
  }

  test("upsertParquet: create, re-apply (idempotent), update+insert, atomic swap") {
    val dir = java.nio.file.Files.createTempDirectory("merge_sink").toString
    val path = s"$dir/warehouse"
    val b1 = withHash(Seq(("AAA", 10.0), ("BBB", 20.0)).toDF("ticker", "price"))
    MergeSink.upsertParquet(spark, path, b1, Seq("ticker"))
    assert(MergeSink.readTable(spark, path).count() == 2)

    MergeSink.upsertParquet(spark, path, b1, Seq("ticker")) // replay
    assert(MergeSink.readTable(spark, path).count() == 2)

    val b2 = withHash(Seq(("BBB", 21.0), ("CCC", 30.0)).toDF("ticker", "price"))
    MergeSink.upsertParquet(spark, path, b2, Seq("ticker"))
    val rows = MergeSink.readTable(spark, path).orderBy("ticker")
      .as[(String, Double, String)].collect().toSeq.map(r => (r._1, r._2))
    assert(rows == Seq(("AAA", 10.0), ("BBB", 21.0), ("CCC", 30.0)))
  }

  /** Every regular file under dir (relative path -> (length, mtime)). */
  private def fileStamps(path: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => root.relativize(p).toString ->
        (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis))
      .toMap
    finally s.close()
  }

  /** The parquet part files among [[fileStamps]]. */
  private def dataFiles(path: String): Map[String, (Long, Long)] =
    fileStamps(path).filter { case (f, _) => f.endsWith(".parquet") }

  test("an EMPTY first upsert does not brick the table: dir reads back, " +
      "an empty table is bucket 0 and the first real upsert updates it") {
    val dir = java.nio.file.Files.createTempDirectory("merge_empty").toString
    val path = s"$dir/warehouse"
    val none = withHash(Seq.empty[(String, Double)].toDF("ticker", "price"))
    MergeSink.upsertParquet(spark, path, none, Seq("ticker"))
    // dir exists with schema, zero rows — NOT a fileless unreadable stub
    assert(MergeSink.readTable(spark, path).count() == 0)
    MergeSink.upsertParquet(spark, path, none, Seq("ticker")) // replay empty
    assert(MergeSink.readTable(spark, path).count() == 0)

    val b1 = withHash(Seq(("AAA", 10.0), ("BBB", 20.0)).toDF("ticker", "price"))
    MergeSink.upsertParquet(spark, path, b1, Seq("ticker"))
    assert(MergeSink.readTable(spark, path).orderBy("ticker")
      .as[(String, Double, String)].collect().toSeq.map(r => (r._1, r._2))
      == Seq(("AAA", 10.0), ("BBB", 20.0)))
    // the table is bucketed from its create on (partition dirs present),
    // so every upsert takes the touched-buckets path
    assert(new java.io.File(path).listFiles()
      .exists(_.getName.startsWith("__bucket=")))
    val b2 = withHash(Seq(("BBB", 21.0)).toDF("ticker", "price"))
    MergeSink.upsertParquet(spark, path, b2, Seq("ticker"))
    assert(MergeSink.readTable(spark, path).filter(col("ticker") === "BBB")
      .as[(String, Double, String)].head()._2 == 21.0)
  }

  test("a create publishes through the staged swap: the table dir never " +
      "exists without its meta") {
    val path = java.nio.file.Files.createTempDirectory("merge_create")
      .toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = new org.apache.hadoop.fs.Path(path, "_graft_meta.json")
    val checks = new java.util.concurrent.atomic.AtomicInteger(0)
    val bare = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        checks.incrementAndGet()
        if (fs.exists(new org.apache.hadoop.fs.Path(path)) && !fs.exists(meta))
          bare.add(fs.listStatus(new org.apache.hadoop.fs.Path(path))
            .map(_.getPath.getName).sorted.mkString(", "))
      }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      MergeSink.upsertParquet(spark, path,
        withHash(snapshotRows.toDF("ticker", "price").repartition(4)),
        Seq("ticker"), numBuckets = 8)
      // one marker job, then wait until the listener saw it: the create's
      // task ends were delivered before it
      val marker = s"marker-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.contains(marker))
    } finally sc.removeSparkListener(listener)
    assert(checks.get() >= 4, s"only ${checks.get()} task ends seen")
    assert(bare.isEmpty, s"table dir without its meta at a task end: " +
      bare.asScala.take(3).mkString("; "))
    assert(fs.exists(meta))
    assert(MergeSink.readTable(spark, path).count() == snapshotRows.size)
  }

  test("an upsert into an existing parquet dir without the meta fails " +
      "naming the dir") {
    val path = java.nio.file.Files.createTempDirectory("merge_nometa")
      .toString + "/t"
    withHash(Seq(("AAA", 10.0)).toDF("ticker", "price")).write.parquet(path)
    val e = intercept[IllegalStateException] {
      MergeSink.upsertParquet(spark, path,
        withHash(Seq(("BBB", 20.0)).toDF("ticker", "price")), Seq("ticker"))
    }
    assert(e.getMessage.contains(path), e.getMessage)
    assert(e.getMessage.contains("_graft_meta.json"), e.getMessage)
    // the dir is left as it was
    assert(spark.read.parquet(path).as[(String, Double, String)].collect()
      .map(r => (r._1, r._2)).toSeq == Seq(("AAA", 10.0)))
  }

  // enough keys to populate several buckets
  private val snapshotRows = (0 until 64).map(i => (f"TICK$i%03d", i.toDouble))

  test("bucketed upsert touching 1 key rewrites ONLY that key's bucket dir") {
    val dir = java.nio.file.Files.createTempDirectory("merge_bucket").toString
    val path = s"$dir/warehouse"
    MergeSink.upsertParquet(spark, path,
      withHash(snapshotRows.toDF("ticker", "price")), Seq("ticker"), numBuckets = 8)
    val before = dataFiles(path)
    assert(before.keys.map(_.split("/")(0)).toSet.size > 2) // several buckets

    // single-key update
    MergeSink.upsertParquet(spark, path,
      withHash(Seq(("TICK001", 999.0)).toDF("ticker", "price")), Seq("ticker"))
    val after = dataFiles(path)

    val changedBuckets = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
      .map(_.split("/")(0))
    assert(changedBuckets.size == 1, s"expected 1 rewritten bucket, got $changedBuckets")
    // value actually updated, untouched rows intact
    val rows = MergeSink.readTable(spark, path)
    assert(rows.filter(col("ticker") === "TICK001")
      .select("price").as[Double].head() == 999.0)
    assert(rows.count() == 64)
  }

  /** The file scans of an executed plan, into adaptive stages and cached
    * relations. */
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case i: InMemoryTableScanExec => fileScans(i.relation.cachedPlan)
    case c: CommandResultExec => fileScans(c.commandPhysicalPlan)
    case f: FileSourceScanExec => Seq(f)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }

  test("a one-key upsert into a 32-bucket table scans only the hit " +
       "bucket's files, in its probe and in its merge") {
    val dir = java.nio.file.Files.createTempDirectory("merge_prune").toString
    val path = s"$dir/warehouse"
    MergeSink.upsertParquet(spark, path, hashed(snapshotRows), Seq("ticker"))
    val files = dataFiles(path).keys.toSeq
    val bucketOf = spark.read.parquet(path).filter(col("ticker") === "TICK005")
      .select("__bucket").as[Int].head()
    val hitFiles = files.count(_.startsWith(s"__bucket=$bucketOf/"))
    assert(hitFiles > 0 && hitFiles < files.size)

    // (execution, files) of every scan of the table, as the scan counted them
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val root = new org.apache.hadoop.fs.Path(path).toUri.getPath
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        fileScans(qe.executedPlan)
          .filter(_.relation.location.rootPaths.exists(_.toUri.getPath == root))
          .foreach(f => scanned.add(funcName -> f.metrics("numFiles").value))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      MergeSink.upsertParquet(spark, path, hashed(Seq(("TICK005", 555.0))), Seq("ticker"))
      // execution events arrive on the listener bus after the action returns
      val deadline = System.currentTimeMillis() + 10000
      while (scanned.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      Thread.sleep(200)
    } finally spark.listenerManager.unregister(listener)
    val scans = scanned.asScala.toSeq
    // the probe (a collect) and the merge (the staged write)
    assert(scans.size >= 2, s"scans of the table: $scans")
    assert(scans.forall(_._2 == hitFiles),
      s"every scan should read the $hitFiles file(s) of bucket $bucketOf " +
        s"(of ${files.size}): $scans")
    assert(MergeSink.readTable(spark, path).filter(col("ticker") === "TICK005")
      .select("price").as[Double].head() == 555.0)
  }

  /** Creates `initial` as a table in 8 buckets, re-upserts `upd` over
    * it, and checks the table equals `merge(previous table, upd)`.
    * Returns the path and the file stamps before and after the re-upsert. */
  private def reUpsert(name: String, initial: DataFrame, upd: DataFrame,
                       keys: Seq[String] = Seq("ticker"),
                       hashCol: Option[String] = Some("row_hash"))
      : (String, Map[String, (Long, Long)], Map[String, (Long, Long)]) = {
    val path = java.nio.file.Files.createTempDirectory(name).toString + "/warehouse"
    MergeSink.upsertParquet(spark, path, initial, keys, hashCol, numBuckets = 8)
    val prevDf = MergeSink.readTable(spark, path)
    val previous = spark.createDataFrame(
      java.util.Arrays.asList(prevDf.collect(): _*), prevDf.schema)
    val before = fileStamps(path)
    Thread.sleep(20) // a rewritten file must not share its predecessor's mtime
    MergeSink.upsertParquet(spark, path, upd, keys, hashCol)
    val after = fileStamps(path)
    def canon(df: DataFrame) = df.orderBy(keys.map(col): _*).collect().toSeq
    assert(canon(MergeSink.readTable(spark, path)) ==
      canon(MergeSink.merge(previous, upd, keys, hashCol)))
    (path, before, after)
  }

  private def hashed(rows: Seq[(String, Double)]): DataFrame =
    withHash(rows.toDF("ticker", "price"))

  /** The bucket dirs whose part files differ between two stamp maps. */
  private def changedBuckets(before: Map[String, (Long, Long)],
                             after: Map[String, (Long, Long)]): Set[String] =
    (before.keySet ++ after.keySet)
      .filter(f => before.get(f) != after.get(f)).map(_.split("/")(0))

  test("re-upserting a full snapshot with ONE changed payload rewrites " +
       "exactly that row's bucket; every other part file is left alone") {
    val snapshot = snapshotRows.map {
      case ("TICK017", p) => ("TICK017", p + 0.5)
      case r => r
    }
    val (_, before, after) = reUpsert("merge_changed_only",
      hashed(snapshotRows), hashed(snapshot))
    val changed = changedBuckets(before, after)
    assert(changed.size == 1, s"expected 1 rewritten bucket, got $changed")
    val kept = before.filter { case (f, _) => !changed.contains(f.split("/")(0)) }
    assert(kept.size > 0)
    kept.foreach { case (f, stamp) =>
      assert(after.get(f).contains(stamp), s"$f was rewritten")
    }
  }

  test("re-upserting an IDENTICAL snapshot changes no file and leaves no " +
       "staging, backup, marker or lock behind") {
    val (path, before, after) = reUpsert("merge_replay",
      hashed(snapshotRows), hashed(snapshotRows))
    assert(after == before)
    Seq("__tmp", "__old", "__swap", "__lock").foreach { s =>
      assert(!new java.io.File(path + s).exists(), s"$path$s left behind")
    }
  }

  // a K4 table shaped like stg_daily_nav: natural key, payload and
  // updated_at, no hash column
  private val navKeys = Seq("ticker", "asset_type", "source", "as_of_date")

  private def navSnapshot(stamp: String, prices: Seq[(String, Double)]): DataFrame =
    prices.toDF("ticker", "nav_price")
      .select(col("ticker"), lit("ETF").as("asset_type"), lit("YF").as("source"),
        lit("2024-05-01").cast("date").as("as_of_date"), col("nav_price"),
        lit("USD").as("currency"), lit(stamp).cast("timestamp").as("updated_at"))

  /** A 64-key K4 table stamped day 1, re-upserted with `prices` stamped
    * day 2 (see [[reUpsert]]); returns the table and the file stamps. */
  private def reUpsertNav(name: String, prices: Seq[(String, Double)])
      : (DataFrame, Map[String, (Long, Long)], Map[String, (Long, Long)]) = {
    val (path, before, after) = reUpsert(name,
      navSnapshot("2024-05-01", snapshotRows), navSnapshot("2024-05-02", prices),
      navKeys, hashCol = None)
    (MergeSink.readTable(spark, path), before, after)
  }

  test("K4 (no hash column): re-upserting a snapshot that differs only in " +
       "updated_at changes no file") {
    val (table, before, after) = reUpsertNav("nav_replay", snapshotRows)
    assert(after == before)
    assert(table.filter(col("updated_at") =!= lit("2024-05-01").cast("timestamp"))
      .isEmpty)
  }

  test("K4 (no hash column): ONE changed nav_price rewrites exactly that " +
       "row's bucket; unchanged rows keep their old updated_at") {
    val snapshot = snapshotRows.map {
      case ("TICK017", p) => ("TICK017", p + 0.5)
      case r => r
    }
    val (table, before, after) = reUpsertNav("nav_changed_only", snapshot)
    val changed = changedBuckets(before, after)
    assert(changed.size == 1, s"expected 1 rewritten bucket, got $changed")
    val stamps = table.select(col("ticker"), col("nav_price"),
        col("updated_at").cast("string")).as[(String, Double, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(stamps("TICK017") == ((17.5, "2024-05-02 00:00:00")))
    assert((stamps - "TICK017").values.forall(_._2 == "2024-05-01 00:00:00"))
  }

  test("K4 guard refuses a map column, naming the table and the column") {
    val path = java.nio.file.Files.createTempDirectory("merge_map").toString + "/attrs"
    val withAttrs = Seq("AAA").toDF("ticker").withColumn("attrs", map(lit("k"), lit("v")))
    val e = intercept[IllegalArgumentException](MergeSink.upsertParquet(spark, path,
      withAttrs, Seq("ticker"), hashCol = None))
    assert(e.getMessage.contains(path) && e.getMessage.contains("`attrs`"))
    val m = intercept[IllegalArgumentException](MergeSink.merge(withAttrs, withAttrs,
      Seq("ticker"), hashCol = None))
    assert(m.getMessage.contains("merge target") && m.getMessage.contains("`attrs`"))
  }

  test("recoverSwap heals an interrupted bucket swap (staged dir rolls forward)") {
    val dir = java.nio.file.Files.createTempDirectory("merge_recover").toString
    val path = s"$dir/warehouse"
    MergeSink.upsertParquet(spark, path,
      withHash(Seq(("AAA", 1.0), ("BBB", 2.0)).toDF("ticker", "price")),
      Seq("ticker"), numBuckets = 4)

    // simulate a crash mid-swap: stage a new generation of one bucket dir,
    // move the live dir away, write the marker, and "crash" before renaming
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val bucketDir = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("__bucket=")).head.getName
    val cur = new org.apache.hadoop.fs.Path(path, bucketDir)
    val stg = new org.apache.hadoop.fs.Path(path + "__tmp", bucketDir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path + "__tmp"))
    fs.rename(cur, stg) // staged generation exists, live dir gone
    val m = fs.create(new org.apache.hadoop.fs.Path(path + "__swap"), true)
    m.write(bucketDir.getBytes("UTF-8")); m.close()

    assert(MergeSink.recoverSwap(spark, path)) // heals
    assert(MergeSink.readTable(spark, path).count() == 2) // nothing lost
    assert(!new java.io.File(path + "__swap").exists())
    assert(!new java.io.File(path + "__tmp").exists())
  }

  test("recoverSwap heals an interrupted WHOLE-TABLE swap (root marker sentinel)") {
    // regression: the root swap's subdir is "", which serialized to an
    // EMPTY marker — recovery parsed zero entries and deleted both the
    // backup and the staged generation (total table loss)
    val dir = java.nio.file.Files.createTempDirectory("merge_root_recover").toString
    val path = s"$dir/table"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // stage a new generation and simulate the crash window: live dir
    // parked under __old, staged dir not yet renamed in, marker present
    withHash(Seq(("AAA", 1.0)).toDF("ticker", "price"))
      .write.parquet(path + "__tmp")
    withHash(Seq(("OLD", 9.0)).toDF("ticker", "price"))
      .write.parquet(path + "__old/__root")
    val m = fs.create(new org.apache.hadoop.fs.Path(path + "__swap"), true)
    m.write(".".getBytes("UTF-8")); m.close()

    assert(MergeSink.recoverSwap(spark, path))
    // the staged generation rolled FORWARD — the table exists and is the
    // new data, not lost and not the old generation
    val rows = spark.read.parquet(path).select("ticker").as[String].collect().toSeq
    assert(rows == Seq("AAA"))
    assert(!new java.io.File(path + "__swap").exists())
    assert(!new java.io.File(path + "__old").exists())
    assert(!new java.io.File(path + "__tmp").exists())
  }

  test("writer lock: a second writer is rejected while the first holds the table") {
    val path = java.nio.file.Files.createTempDirectory("locktbl").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df = withHash(Seq(("A", 1.0)).toDF("ticker", "price"))
    MergeSink.withTableLock(fs, path) { _ =>
      val e = intercept[MergeSink.ConcurrentWriteException] {
        MergeSink.upsertParquet(spark, path, df, Seq("ticker"))
      }
      assert(e.getMessage.contains("locked by another writer"))
    }
    // lock released -> the same upsert now succeeds, and releases again
    MergeSink.upsertParquet(spark, path, df, Seq("ticker"))
    assert(MergeSink.readTable(spark, path).count() == 1)
    assert(!new java.io.File(path + "__lock").exists())
  }

  test("writer lock: a stale lock from a dead writer is broken, not honored") {
    val path = java.nio.file.Files.createTempDirectory("staletbl").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(path + "__lock")
    val out = fs.create(lock, false)
    out.write("dead-writer".getBytes("UTF-8")); out.close()
    // age the lock past the stale horizon
    fs.setTimes(lock, System.currentTimeMillis() - 60 * 60 * 1000L, -1)
    MergeSink.upsertParquet(spark, path,
      withHash(Seq(("A", 1.0)).toDF("ticker", "price")), Seq("ticker"))
    assert(MergeSink.readTable(spark, path).count() == 1)
    assert(!new java.io.File(path + "__lock").exists())
  }

  /** Plants a FRESH lock on `path` naming `holder`. */
  private def plantLock(path: String, holder: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path + "__lock"), false)
    out.write(holder.getBytes("UTF-8")); out.close()
  }

  private def thisHost =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .split("@", 2).last

  test("writer lock: a fresh lock whose holder is a dead pid on this host " +
       "is broken at once, not waited out") {
    val path = java.nio.file.Files.createTempDirectory("deadpid").toString + "/t"
    // Int.MaxValue is above any Linux pid_max: no process has that pid
    plantLock(path, s"${Int.MaxValue}@$thisHost/dead-writer")
    MergeSink.upsertParquet(spark, path,
      withHash(Seq(("A", 1.0)).toDF("ticker", "price")), Seq("ticker"))
    assert(MergeSink.readTable(spark, path).count() == 1)
    assert(!new java.io.File(path + "__lock").exists())
  }

  test("writer lock: a fresh lock from another host is honored") {
    val path = java.nio.file.Files.createTempDirectory("otherhost").toString + "/t"
    val holder = s"${Int.MaxValue}@not-$thisHost/other-writer"
    plantLock(path, holder)
    val e = intercept[MergeSink.ConcurrentWriteException] {
      MergeSink.upsertParquet(spark, path,
        withHash(Seq(("A", 1.0)).toDF("ticker", "price")), Seq("ticker"))
    }
    assert(e.getMessage.contains(holder))
    assert(new java.io.File(path + "__lock").exists())
  }

  test("writer lock: heartbeat keeps a slow-but-alive writer's lock fresh " +
       "past the stale horizon") {
    val path = java.nio.file.Files.createTempDirectory("hbtbl").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer A holds with a 400 ms stale horizon and a live heartbeat;
    // writer B probes AFTER that horizon has elapsed — the heartbeat must
    // have re-touched the mtime, so B sees a FRESH lock and is rejected
    MergeSink.withTableLock(fs, path, staleAfterMs = 400L) { _ =>
      Thread.sleep(900L) // overrun the horizon while alive
      intercept[MergeSink.ConcurrentWriteException] {
        MergeSink.withTableLock(fs, path, staleAfterMs = 400L) { _ => () }
      }
    }
    assert(!new java.io.File(path + "__lock").exists())
  }

  test("writer lock: an overrunning writer whose lock was stale-broken " +
       "aborts before its swap — exactly one swap wins") {
    val path = java.nio.file.Files.createTempDirectory("racetbl").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dfB = withHash(Seq(("B", 2.0)).toDF("ticker", "price"))
    // writer A: heartbeat suppressed (simulates a heartbeat outage /
    // pre-fix writer); aging the lock below stands in for A overrunning
    // the real 30-minute horizon mid-merge
    val e = intercept[MergeSink.LockLostException] {
      MergeSink.withTableLock(fs, path,
                              heartbeatMs = Long.MaxValue) { lockA =>
        fs.setTimes(new org.apache.hadoop.fs.Path(path + "__lock"),
                    System.currentTimeMillis() - 60 * 60 * 1000L, -1)
        // writer B judges A stale, breaks the lock, and completes its upsert
        MergeSink.upsertParquet(spark, path, dfB, Seq("ticker"))
        // A now reaches its own swap: the pre-swap ownership re-check must
        // abort it — B's swap already won
        lockA.assertOwned()
      }
    }
    assert(e.getMessage.contains("lost to another writer"))
    // the table is B's generation, intact — A corrupted nothing
    val rows = MergeSink.readTable(spark, path)
      .select("ticker").as[String].collect().toSeq
    assert(rows == Seq("B"))
  }

  test("writer lock: lock failures release the lock (finally path)") {
    val path = java.nio.file.Files.createTempDirectory("failtbl").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[RuntimeException] {
      MergeSink.withTableLock(fs, path) { _ => throw new RuntimeException("boom") }
    }
    assert(!new java.io.File(path + "__lock").exists())
  }

  test("applyStatusLifecycle: aging to inactive, new+named to active") {
    val master = Seq(
      ("T1", "2024-01-01", "active", "Fund One"),   // stale -> inactive
      ("T2", "2024-05-01", "new", "Fund Two"),      // fresh new + name -> active
      ("T3", "2024-05-01", "new", ""),              // no name -> stays new
      ("T4", "2024-05-01", "active", "Fund Four")   // fresh -> unchanged
    ).toDF("ticker", "last_seen", "status", "name")
      .withColumn("last_seen", col("last_seen").cast("date"))
    val out = MergeSink.applyStatusLifecycle(master,
        lit("2024-05-02").cast("date"), inactiveDays = 7)
      .orderBy("ticker").select("status").as[String].collect().toSeq
    assert(out == Seq("inactive", "active", "new", "active"))
  }
}
