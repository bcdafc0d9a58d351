package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (getOrCreate -> one JVM-wide
  * session, so the suite doesn't pay session startup per spec). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared; JVM exit cleans up
}

object SparkSpec {
  lazy val session: SparkSession =
    Graft.session("graft-test", "local[4]", shufflePartitions = 4)

  /** Empties Spark's generated-class cache, so a spec that counts
    * compilations starts from no class an earlier suite left. A fresh
    * context classloader on the test thread does not do this reliably:
    * the cache keys each class by the compiling thread's loader, and the
    * pooled `broadcast-exchange` threads keep the loader of the thread
    * that created them. A broadcast built on a pooled thread one day and
    * on a thread created under the fresh loader the next compiles its
    * classes again: 4–6 per steady day, seen once the pool held threads
    * of both kinds. */
  def clearCodegenCache(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cacheOf = gen.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(gen)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }
}
