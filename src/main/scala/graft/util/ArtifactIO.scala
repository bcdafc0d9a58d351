package graft.util

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** DRIVER-LOCAL parquet reads for ENGINE-WRITTEN artifacts (frozen LMs,
  * tokenizers, retrieval-index metas/centroids): every declared schema
  * here mirrors the writer in the same file. The r17 job-count profile
  * (OPTIMIZATION_r17.md, `scaling/r17/qstats_before.txt`) measured one
  * Spark job per artifact read — schema inference was eliminated in r17
  * by explicit schemas, and r18 removes the remaining collect
  * round-trip: these tables are driver-sized by construction (every
  * caller collects them anyway), so they are read in-process via
  * parquet-hadoop, zero Spark jobs. A layout-DETECTING load (loadLm's
  * lm_order probe) keys on [[localColumns]]: the column set is the
  * information, and the footer already holds it.
  *
  * Declared types must match the writer exactly (the reader refuses
  * silent int32→int64 widening), which is itself a guard: a foreign
  * file in an artifact slot fails at read, not as garbage rows.
  *
  * Every read here takes its parquet read options from the session's
  * Hadoop conf ([[openFooter]]). parquet-hadoop's convenience entry
  * points build a fresh `Configuration` per file, which costs more than
  * the footer read itself; these helpers are also the warehouse's
  * footer reads (`DailyPipeline`'s row counts, `MergeSink`'s schema
  * probe, `CorpusPipeline`'s stage reads), so that cost was paid per
  * file on every pipeline run. */
object ArtifactIO {
  private def hadoopConf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  /** A reader of `f`'s footer whose read options come from the session's
    * Hadoop conf. parquet-hadoop's one-argument `ParquetFileReader.open`
    * (and `ParquetReader.builder(support, path)`, which [[readLocal]]
    * avoids the same way) builds its options from a fresh Hadoop
    * `Configuration`, and a fresh one parses `core-default.xml` again by
    * probing every jar on the classpath. [[footerRowCount]] over a
    * 64-file table (4-core host) took ~11–13 ms per file that way and
    * ~1–4 ms per file here. A day's row counts alone open ~200 footers. */
  private def openFooter(conf: Configuration, f: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
      HadoopReadOptions.builder(conf, f).build())

  /** A name Spark's file listing skips, with everything under it
    * (`shouldFilterOut`): a `.`- or `_`-prefixed name, except a `_`-named
    * partition dir (`k=v`). */
  private[graft] def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** All COMMITTED parquet part files under `path` (recursive — covers
    * both flat artifact dirs and partitioned ones like
    * `bm25_meta_parts/batch_id=N`), name-sorted so multi-file reads are
    * deterministic (part file names carry the writer task id, so name
    * order IS the frame's task order). Any entry below `path` whose name
    * starts with `.` or `_` (except `_`-named partition dirs, `k=v`) is
    * skipped along with everything under it — Spark's own listing rule
    * (`shouldFilterOut`), so a crashed write's `_temporary/` or
    * `.spark-staging-*` task files are never read as data. Components of
    * `path` itself are not checked. A `path` that is itself a single
    * parquet FILE (the testdata layout) is returned as-is. */
  private def partFiles(fs: FileSystem, root: Path): Seq[Path] =
    if (fs.getFileStatus(root).isFile) Seq(root)
    else committedParts(fs, root).toSeq.sortBy(_.toString)

  /** The committed part files below `dir`, lazily, in listing order. */
  private def committedParts(fs: FileSystem, dir: Path): Iterator[Path] =
    fs.listStatus(dir).iterator
      .filterNot(s => hidden(s.getPath.getName))
      .flatMap { s =>
        if (s.isDirectory) committedParts(fs, s.getPath)
        else if (s.getPath.getName.startsWith("part-")) Iterator(s.getPath)
        else Iterator.empty
      }

  /** DRIVER-LOCAL read of an ENGINE-WRITTEN artifact table: the same
    * rows `readParquet(...).select(fields).collect()` returns, with ZERO
    * Spark jobs — artifact metas / centroid lists / frozen-LM count
    * tables are driver-sized by construction (every caller collects them
    * anyway), yet each Spark-side read was paying a full job launch +
    * task round-trip to move a handful of rows (the r17/r18 QueryStats
    * profile: lifecycle queries spent most of their wall on exactly
    * these tiny jobs; at cluster scale each is a scheduler barrier and
    * an executor round-trip for driver-bound data). Reads the parquet
    * footers + pages in-process via parquet-hadoop — the Delta-log
    * discipline: an engine reads its own driver-sized metadata directly.
    *
    * Supported field types: int, long, double, boolean, string, and
    * arrays of long/string — the full artifact-schema inventory. A
    * missing column or a physically different type fails LOUDLY with
    * the path and field named (the explicit-schema guard, kept). */
  def readLocal(spark: SparkSession, path: String,
                fields: (String, DataType)*): Seq[Row] = {
    val conf = hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"artifact path $path does not exist")
    val out = ArrayBuffer.empty[Row]
    partFiles(fs, root).foreach { file =>
      // built on an InputFile, the builder takes the file's (the
      // session's) conf, where `builder(support, path)` makes a fresh one
      val reader = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(file, conf)) {
        override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
      }.build()
      try {
        var g = reader.read()
        while (g != null) {
          out += Row.fromSeq(fields.map { case (n, t) =>
            readField(g, n, t, file.toString)
          })
          g = reader.read()
        }
      } finally reader.close()
    }
    out.toSeq
  }

  private def readField(g: Group, name: String, t: DataType,
                        file: String): Any = {
    require(g.getType.containsField(name),
      s"artifact file $file has no column '$name' " +
        s"(columns: ${fieldNames(g).mkString(", ")})")
    if (g.getFieldRepetitionCount(name) == 0) return null
    try t match {
      case IntegerType => g.getInteger(name, 0)
      case LongType    => g.getLong(name, 0)
      case DoubleType  => g.getDouble(name, 0)
      case BooleanType => g.getBoolean(name, 0)
      case StringType  => g.getString(name, 0)
      case ArrayType(et, _) =>
        // Spark's parquet LIST encoding: optional group <name> (LIST)
        // { repeated group list { optional <et> element } } — an empty
        // array is a present outer group with zero `list` repetitions
        val outer = g.getGroup(name, 0)
        val n = outer.getFieldRepetitionCount("list")
        Seq.tabulate(n) { i =>
          val el = outer.getGroup("list", i)
          if (el.getFieldRepetitionCount("element") == 0) null
          else et match {
            case LongType    => el.getLong("element", 0)
            case IntegerType => el.getInteger("element", 0)
            case StringType  => el.getString("element", 0)
            case other => throw new IllegalArgumentException(
              s"ArtifactIO.readLocal: unsupported array element type $other")
          }
        }
      case other => throw new IllegalArgumentException(
        s"ArtifactIO.readLocal: unsupported field type $other")
    } catch {
      case e: IllegalArgumentException if e.getMessage != null &&
          e.getMessage.startsWith("ArtifactIO.readLocal") => throw e
      case e: RuntimeException =>
        throw new IllegalStateException(
          s"artifact file $file column '$name' cannot be read as " +
            s"${t.simpleString} — a foreign file in an artifact slot? " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage})", e)
    }
  }

  private def fieldNames(g: Group): Seq[String] = {
    import scala.jdk.CollectionConverters._
    g.getType.getFields.asScala.map(_.getName).toSeq
  }

  /** The column names of an artifact table, from the parquet FOOTER of
    * its first part file — zero Spark jobs. This is the layout-detection
    * primitive (loadLm's lm_order probe): the column SET is the
    * information that load previously paid a schema-inference job to
    * learn. */
  def localColumns(spark: SparkSession, path: String): Seq[String] = {
    val conf = hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"artifact path $path does not exist")
    val files = partFiles(fs, root)
    require(files.nonEmpty, s"artifact path $path has no parquet part files")
    val r = openFooter(conf, files.head)
    try {
      import scala.jdk.CollectionConverters._
      r.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(_.getName).toSeq
    } finally r.close()
  }

  /** The Spark schema of an engine-written parquet table — what
    * `spark.read.parquet(path).schema` infers, with zero Spark jobs where
    * that inference runs a footer-merge job. The data columns are the
    * schema Spark recorded in the footer of the first committed part file
    * (converted from the parquet schema when a writer recorded none); each
    * `k=v` directory on that file's path adds a partition column after
    * them, an int when `v` is one (`__bucket`), else a string. All the
    * engine's writers give every part file of a table one schema, so one
    * footer stands for the table. A directory with no committed part
    * file fails loudly. */
  def tableSchema(spark: SparkSession, path: String): StructType = {
    val conf = hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"parquet path $path does not exist")
    val file = partFiles(fs, root).headOption.getOrElse(
      throw new IllegalArgumentException(s"parquet path $path has no parquet part files"))
    val r = openFooter(conf, file)
    val data = try {
      val meta = r.getFooter.getFileMetaData
      Option(meta.getKeyValueMetaData.get(SparkSchemaKey))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(conf).convert(meta.getSchema))
    } finally r.close()
    val parts = fs.makeQualified(file).toUri.getPath
      .stripPrefix(fs.makeQualified(root).toUri.getPath).split('/').toSeq.init
      .flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(StructField(k,
          if (v.toIntOption.isDefined) IntegerType else StringType))
        case _ => None
      })
    StructType(data.fields ++ parts)
  }

  /** True iff `p` holds at least one COMMITTED part file at any depth
    * (the [[partFiles]] listing rule) — an empty or half-created dir
    * (crash between mkdir and commit, task files left under
    * `_temporary/`), or a write of zero rows through a partitioned or
    * dynamic-overwrite sink (base dir + `_SUCCESS`, no part file), counts
    * as absent: Spark cannot infer a schema from it. */
  private[graft] def hasParquet(fs: FileSystem, p: Path): Boolean =
    fs.exists(p) && committedParts(fs, p).hasNext

  /** The version discipline of a VERSIONED artifact (the BM25 corpus
    * stats, the IVF dense index): each write lands a complete
    * `$path/v=<n>/` unit whose `metaDir` subdir is written LAST, so a
    * version whose meta holds a part file is complete and any other is an
    * interrupted write. Readers take the newest complete version; a write
    * takes [[nextVersion]] and, once its meta committed, prunes every
    * other version with [[pruneExcept]]. `readMeta` reads and validates
    * one version dir's meta (loud on damage: a readable meta is a
    * completed write). */
  final class Versioned[M](metaDir: String, readMeta: (SparkSession, Path) => M) {

    /** Version dirs under `path`, as (versionNo, dir), in any state. */
    private def versions(spark: SparkSession, path: String): Seq[(Long, Path)] = {
      val root = new Path(path)
      val fs = root.getFileSystem(hadoopConf(spark))
      if (!fs.exists(root)) return Seq.empty
      fs.listStatus(root).toSeq.collect {
        case st if st.isDirectory && st.getPath.getName.matches("v=\\d+") =>
          (st.getPath.getName.drop(2).toLong, st.getPath)
      }
    }

    /** Newest COMPLETE version with its meta, else None. Incomplete
      * higher versions are skipped, never trusted; only the chosen
      * version's meta is read. */
    def latestComplete(spark: SparkSession, path: String): Option[(Long, Path, M)] = {
      val fs = new Path(path).getFileSystem(hadoopConf(spark))
      versions(spark, path).sortBy(-_._1).collectFirst {
        case (n, p) if hasParquet(fs, new Path(p, metaDir)) =>
          (n, p, readMeta(spark, p))
      }
    }

    /** Deletes every version dir but `keep` (-1 keeps none). */
    def pruneExcept(spark: SparkSession, path: String, keep: Long): Unit = {
      val fs = new Path(path).getFileSystem(hadoopConf(spark))
      versions(spark, path).filter(_._1 != keep)
        .foreach { case (_, p) => fs.delete(p, true) }
    }

    /** Recovery, safe to run any time: keeps the newest complete version
      * and prunes interrupted writes and superseded versions (leftovers
      * of a crash mid-prune). Returns the kept version with its meta, so
      * a caller that needs the meta next reads it once. */
    def recoverKeep(spark: SparkSession, path: String): Option[(Long, Path, M)] = {
      val keep = latestComplete(spark, path)
      pruneExcept(spark, path, keep.map(_._1).getOrElse(-1L))
      keep
    }

    /** The version number the next write lands as: one above any
      * existing version dir, complete or not. */
    def nextVersion(spark: SparkSession, path: String): Long =
      versions(spark, path).map(_._1).foldLeft(-1L)(math.max) + 1
  }

  /** The footer key under which Spark's parquet writer records the
    * frame's schema as JSON. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** EXACT row count of a parquet table from its footers — zero Spark
    * jobs, zero data pages read (the row count is block metadata parquet
    * writers record; `spark.sql.parquet.aggregatePushDown` serves
    * unfiltered COUNTs the same way, but flipping that moves every scan
    * to DSv2 planning — this helper applies the same idea ONLY where an
    * unfiltered whole-table count is what's asked). A directory with no
    * committed part files fails LOUDLY (a mispointed path must not read
    * as zero rows). */
  def footerRowCount(spark: SparkSession, path: String): Long = {
    val conf = hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"parquet path $path does not exist")
    val files = partFiles(fs, root)
    require(files.nonEmpty, s"parquet path $path has no parquet part files")
    files.iterator.map { f =>
      val r = openFooter(conf, f)
      try r.getRecordCount finally r.close()
    }.sum
  }
}
