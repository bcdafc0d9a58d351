package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Graft.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (comma-separated names); unset => all queries
    // (the driver's configuration). Unknown names fail fast, like Bench.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val missing = names -- SparkEntry.queries.keySet
      require(missing.isEmpty, s"unknown SPARK_GRAFT_VERIFY_ONLY names: ${missing.mkString(",")}")
    }
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    selected.foreach { case (name, fn) =>
      // a query that throws leaves no dir, never a previous run's output
      // for the compare to pass on
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // The q87-q99 oracles are GENERATED from the corpus-trained BPE merge
    // table: prime it (deterministic; reuses the per-JVM memo the query
    // fns already populated) before the dump below.
    OracleSql.primeBpe(spark, sfDir)
    OracleSql.primePca(spark, sfDir)
    OracleSql.primeUnigram(spark, sfDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
