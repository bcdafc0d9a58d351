package graft.util

import graft.SparkSpec
import org.apache.spark.sql.types._

/** [[ArtifactIO.readLocal]] must return exactly what a Spark-side
  * `read.schema(...).parquet(path).collect()` returns — it replaces one
  * Spark job per artifact read across every load path (frozen LMs,
  * tokenizers, index metas/centroids), so a divergence here would skew
  * every artifact consumer at once. */
class ArtifactIOSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_artifactio").toString

  test("readLocal == spark.read.collect on a meta-shaped row " +
      "(ints, longs, strings, long array)") {
    val dir = tmp()
    Seq(("tag-1", 3, 8, 64, 12345L, -987654321L, Seq(1L, 7L, 9L)))
      .toDF("model_tag", "scale", "nlist", "dim", "n_vectors", "vec_fp",
        "batch_ids")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val fields = Seq("model_tag" -> StringType, "scale" -> IntegerType,
      "nlist" -> IntegerType, "dim" -> IntegerType,
      "n_vectors" -> LongType, "vec_fp" -> LongType,
      "batch_ids" -> ArrayType(LongType))
    val local = ArtifactIO.readLocal(spark, dir, fields: _*)
    val viaSpark = spark.read.schema(StructType(fields.map { case (n, t) =>
      StructField(n, t) })).parquet(dir).collect().toSeq
    assert(local.length == 1 && viaSpark.length == 1)
    assert(local.head.getString(0) == viaSpark.head.getString(0))
    assert((1 to 3).forall(i => local.head.getInt(i) == viaSpark.head.getInt(i)))
    assert((4 to 5).forall(i => local.head.getLong(i) == viaSpark.head.getLong(i)))
    assert(local.head.getSeq[Long](6) == viaSpark.head.getSeq[Long](6))
  }

  test("readLocal: empty array and null-bearing columns round-trip") {
    val dir = tmp()
    Seq((1L, Seq.empty[Long], Option.empty[String], Option(2.5)),
        (2L, Seq(4L), Option("x"), Option.empty[Double]))
      .toDF("id", "xs", "s", "d")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val rows = ArtifactIO.readLocal(spark, dir, "id" -> LongType,
        "xs" -> ArrayType(LongType), "s" -> StringType, "d" -> DoubleType)
      .sortBy(_.getLong(0))
    assert(rows.length == 2)
    assert(rows(0).getSeq[Long](1) == Seq.empty[Long],
      "empty array must read as empty, not null")
    assert(rows(0).isNullAt(2) && !rows(1).isNullAt(2))
    assert(rows(1).getString(2) == "x")
    assert(rows(0).getDouble(3) == 2.5 && rows(1).isNullAt(3))
  }

  test("readLocal: multi-file and partitioned layouts read every row " +
      "(recursive part-file listing, the bm25_meta_parts shape)") {
    val dir = tmp()
    (1 to 40).map(i => (i.toLong, i % 3)).toDF("v", "batch_id")
      .repartition(4)
      .write.mode("overwrite").partitionBy("batch_id").parquet(dir)
    val rows = ArtifactIO.readLocal(spark, dir, "v" -> LongType)
    assert(rows.map(_.getLong(0)).sorted == (1L to 40L))
  }

  test("readLocal: missing column and physically different type fail " +
      "LOUDLY with the file and field named") {
    val dir = tmp()
    Seq((1, "a")).toDF("n", "s").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val e1 = intercept[IllegalArgumentException] {
      ArtifactIO.readLocal(spark, dir, "missing" -> LongType)
    }
    assert(e1.getMessage.contains("missing"))
    val e2 = intercept[IllegalStateException] {
      ArtifactIO.readLocal(spark, dir, "n" -> LongType) // written int32
    }
    assert(e2.getMessage.contains("'n'"))
  }

  test("localColumns reads the footer's field names (layout detection)") {
    val dir = tmp()
    Seq((7L, 2, "u")).toDF("n_total", "lm_order", "unit").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    assert(ArtifactIO.localColumns(spark, dir).toSet ==
      Set("n_total", "lm_order", "unit"))
  }

  test("footerRowCount == count() on multi-file tables and single files") {
    val dir = tmp()
    (1 to 1234).toDF("v").repartition(5)
      .write.mode("overwrite").parquet(dir)
    assert(ArtifactIO.footerRowCount(spark, dir) == 1234L)
    val one = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(p => p.getFileName.toString.startsWith("part-")
        && p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get().toString
    assert(ArtifactIO.footerRowCount(spark, one) ==
      spark.read.parquet(one).count(),
      "a bare parquet FILE (the testdata layout) must count too")
  }

  /** Counts the lookups of `core-default.xml` made through it: a fresh
    * Hadoop `Configuration` takes the thread's context classloader and
    * asks it for that file when it first parses its defaults. */
  private final class ConfProbeLoader(parent: ClassLoader) extends ClassLoader(parent) {
    val lookups = new java.util.concurrent.atomic.AtomicInteger()
    override def getResource(name: String): java.net.URL = {
      if (name == "core-default.xml") lookups.incrementAndGet()
      super.getResource(name)
    }
  }

  test("footer and row reads build no Hadoop Configuration per file: " +
      "footerRowCount, tableSchema, localColumns, readLocal") {
    val dir = tmp()
    (1 to 80).map(i => (i.toLong, s"s$i", i % 2 == 0)).toDF("v", "s", "even")
      .repartition(8).write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts >= 8, s"expected at least 8 part files, got $parts")
    val t = Thread.currentThread
    val previous = t.getContextClassLoader
    val loader = new ConfProbeLoader(previous)
    t.setContextClassLoader(loader)
    val (rows, schema, columns, local) = try (
      ArtifactIO.footerRowCount(spark, dir),
      ArtifactIO.tableSchema(spark, dir),
      ArtifactIO.localColumns(spark, dir),
      ArtifactIO.readLocal(spark, dir, "v" -> LongType, "s" -> StringType,
        "even" -> BooleanType))
    finally t.setContextClassLoader(previous)
    assert(loader.lookups.get == 0,
      s"${loader.lookups.get} Configurations parsed core-default.xml over $parts files")
    assert(rows == 80L)
    // the schema Spark's writer recorded in the footer, nullability included
    assert(schema == StructType(Seq(StructField("v", LongType, nullable = false),
      StructField("s", StringType), StructField("even", BooleanType, nullable = false))))
    assert(columns == Seq("v", "s", "even"))
    assert(local.map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).sortBy(_._1) ==
      (1 to 80).map(i => (i.toLong, s"s$i", i % 2 == 0)))
  }

  /** A partitioned artifact (`bm25_meta_parts/batch_id=0`) with a crashed
    * writer's leftovers beside it: one task file under
    * `.spark-staging-x/` and one under `_temporary/0/`. Both leftovers
    * carry an extra `junk` column and their own rows, and both sort
    * before `batch_id=0`, so reading either one changes every answer.
    * The root sits below a `.`-named parent: components of the root
    * itself are never filtered. */
  private def metaPartsWithLeftovers(): String = {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(tmp(), ".parent")
    val root = base.resolve("bm25_meta_parts")
    (1 to 3).map(i => (i.toLong, 0)).toDF("v", "batch_id").coalesce(1)
      .write.mode("overwrite").partitionBy("batch_id").parquet(root.toString)
    val junk = base.resolve("junk").toString
    Seq((100L, "x"), (200L, "y")).toDF("v", "junk").coalesce(1)
      .write.mode("overwrite").parquet(junk)
    val junkPart = Files.list(Paths.get(junk))
      .filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
    for (leftover <- Seq(".spark-staging-x", "_temporary/0")) {
      val d = Files.createDirectories(root.resolve(leftover))
      Files.copy(junkPart, d.resolve(junkPart.getFileName))
    }
    root.toString
  }

  test("crash leftovers (.spark-staging-x/, _temporary/0/) beside " +
      "batch_id=0 are not read: footerRowCount, readLocal, localColumns") {
    val root = metaPartsWithLeftovers()
    assert(ArtifactIO.footerRowCount(spark, root) == 3L)
    assert(ArtifactIO.readLocal(spark, root, "v" -> LongType)
      .map(_.getLong(0)).sorted == Seq(1L, 2L, 3L))
    assert(ArtifactIO.localColumns(spark, root) == Seq("v"))
  }

  test("footerRowCount fails LOUDLY, naming the path, on a directory " +
      "with no committed part files") {
    val empty = tmp()
    val e1 = intercept[IllegalArgumentException] {
      ArtifactIO.footerRowCount(spark, empty)
    }
    assert(e1.getMessage.contains(empty))
    // only uncommitted leftovers: still no committed part files
    val root = metaPartsWithLeftovers()
    val committed = new java.io.File(root, "batch_id=0")
    committed.listFiles().foreach(_.delete())
    committed.delete()
    val e2 = intercept[IllegalArgumentException] {
      ArtifactIO.footerRowCount(spark, root)
    }
    assert(e2.getMessage.contains(root))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(!ArtifactIO.hasParquet(fs, new org.apache.hadoop.fs.Path(empty)))
    assert(!ArtifactIO.hasParquet(fs, new org.apache.hadoop.fs.Path(root)))
  }
}
