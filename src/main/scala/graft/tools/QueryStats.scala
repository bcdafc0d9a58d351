package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** r17 optimization-round attribution tool (guide §1): run each bench
  * query once through the noop sink and report WHERE the time goes in
  * scheduler terms — Spark job count, stage count, task count, shuffle
  * write bytes, input bytes. At sf0.1 the data is MBs, so a slow query
  * is almost always a many-jobs / many-stages query (each job launch +
  * stage barrier costs ~10-100 ms even on local[32]); the same counters
  * are what scale: every stage is a full barrier and every shuffle a
  * data-proportional exchange at 100 TB.
  *
  * Usage: jrun graft.tools.QueryStats <sfDir> [query...]
  * (defaults: sf0.1, all bench queries). One warm-up pass at sf0.001
  * first so JIT/classload doesn't pollute the counters' wall column.
  */
object QueryStats {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.benchQueries.keys.toSeq.sorted
    val spark = graft.Graft.session("graft-query-stats")
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufW = new AtomicLong
    val input = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          input.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    })

    def execOnce(q: String, d: String): Unit =
      graft.SparkEntry.benchQueries(q)(spark, d)
        .write.format("noop").mode("overwrite").save()

    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != dir)
      names.foreach { q =>
        try execOnce(q, warmDir)
        catch { case e: Throwable =>
          println(s"[warmup] $q FAILED: ${e.getMessage}") }
      }

    println(f"${"query"}%-36s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"shufMB"}%8s ${"inMB"}%8s")
    val rows = names.flatMap { q =>
      spark.catalog.clearCache()
      System.gc()
      jobs.set(0); stages.set(0); tasks.set(0); shufW.set(0L); input.set(0L)
      val t0 = System.nanoTime()
      try {
        execOnce(q, dir)
        val sec = (System.nanoTime() - t0) / 1e9
        // listener bus is async (and private[spark]) — give it a moment
        // to drain before reading counters; a dev tool can afford 200 ms
        Thread.sleep(200)
        val r = (q, sec, jobs.get, stages.get, tasks.get,
          shufW.get / 1e6, input.get / 1e6)
        println(f"${r._1}%-36s ${r._2}%7.2f ${r._3}%5d ${r._4}%7d ${r._5}%6d ${r._6}%8.2f ${r._7}%8.2f")
        Some(r)
      } catch { case e: Throwable =>
        println(s"$q FAILED: ${e.getMessage}"); None }
    }
    println("--- sorted by wall sec ---")
    rows.sortBy(-_._2).foreach { r =>
      println(f"${r._1}%-36s ${r._2}%7.2f ${r._3}%5d ${r._4}%7d ${r._5}%6d ${r._6}%8.2f ${r._7}%8.2f")
    }
    spark.stop()
  }
}
