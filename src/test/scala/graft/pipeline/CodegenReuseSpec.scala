package graft.pipeline

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics

/** A pipeline that runs the same plans again must find their generated
  * classes in Spark's codegen cache, not compile them again. One corpus
  * run needs ~190–220 cache entries (Spark keys them by thread context
  * classloader and source, so a class compiled on the driver and in a task
  * takes two); Spark's default cache of 100 evicts every class before its
  * next use, and the second run compiles as many classes as the first. */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (1 to 12).map { i =>
    (i, s"document $i tells a story about river $i and the boats upon it", s"src${i % 3}")
  }.toDF("doc_id", "text", "source")
  private val benchmark = Seq("a held out passage that no document quotes").toDF("text")
  private val cfg = CorpusPipeline.Config(minTokens = 7L, minQuality = 0.25,
    numHashes = 48, bands = 24, shingleN = 2, threshold = 0.6, maxBucketSize = 999,
    spanTokens = 7, decontamTokens = 7, maxXent = 11.5, budgetTokens = 999999L,
    seqLen = 24, shardSize = 3L)

  private def compiled(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def run(): Unit = {
    val out = Files.createTempDirectory("codegen-reuse").toString
    assert(CorpusPipeline.run(spark, docs, benchmark, out, cfg).forall(_.ok))
  }

  test("a second identical corpus run compiles fewer than half the classes of the first") {
    SparkSpec.clearCodegenCache()
    val first = compiled(run())
    val second = compiled(run())
    info(s"compiled classes: first run $first, second run $second")
    // not zero: the cache is four LRU segments, and one may overflow
    assert(second * 2 < first, s"first run compiled $first classes, second $second")
  }
}
