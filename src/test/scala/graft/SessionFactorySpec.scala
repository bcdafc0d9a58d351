package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `Graft.session` is the engine's only session builder: a second
  * `SparkSession.builder` site drifts from its configuration (ANSI mode,
  * broadcast threshold, nanos-as-long parquet reads, core count). */
class SessionFactorySpec extends AnyFunSuite {

  test("no file under src/main/scala but graft/Graft.scala builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root not found")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString)
        .toList.sorted
      finally walk.close()
    assert(builders == List(Paths.get("graft", "Graft.scala").toString))
  }

  test("the session holds a whole run's codegen classes and trims the status store") {
    val conf = SparkSpec.session.sparkContext.getConf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "256")
    assert(conf.get("spark.ui.retainedJobs") == "10")
    assert(conf.get("spark.ui.retainedStages") == "10")
    assert(conf.get("spark.ui.retainedTasks") == "100")
    assert(conf.get("spark.sql.ui.retainedExecutions") == "10")
    assert(org.apache.spark.sql.internal.SQLConf.get.codegenCacheMaxEntries == 256)
  }

  test("the default core count is SPARK_GRAFT_CPUS, else the available processors") {
    assert(Graft.localCores(Some("6"), available = 4) == 6)
    assert(Graft.localCores(None, available = 4) == 4)
    assert(Graft.localCores(None, available = 1) == 1)
    intercept[NumberFormatException](Graft.localCores(Some("all"), available = 4))
  }
}
