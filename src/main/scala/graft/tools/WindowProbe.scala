package graft.tools

import org.apache.spark.sql.SparkSession

/** Pinned host-window control probe (r13 verdict "Next round" #6).
  *
  * The bench host is time-shared: r13 burned real effort disentangling a
  * multi-hour external degradation window (untouched control queries read
  * 1.4–6× their prior times while the code under them was unchanged) from
  * real regressions. This probe makes every measurement artifact
  * SELF-REPORT its window quality: two fixed-work probes — a
  * single-thread CPU probe (sha-256 over a constant buffer, fixed
  * iteration count) and an all-cores Spark probe (an xxhash64
  * aggregation over `spark.range`, a fixed row count per core) — run before and
  * after the measured work, and their wall-times are divided by
  * COMMITTED calm-window references measured on this host. A reader then
  * judges the run off the artifact alone:
  * `window_ratio` ≈ 1.0 → calm window, deltas attributable;
  * ≥ ~1.3 → degraded window, treat cross-round deltas as noise.
  * `window_ratio` is read off the cpu and spark legs; the memory leg
  * ([[memProbeSec]]) is reported beside it as `mem_ratio`.
  *
  * The probes deliberately exercise the two contention modes observed:
  * CPU steal (single-thread probe inflates) and scheduler/parallelism
  * pressure (the all-cores probe inflates when other tenants hold cores).
  * Neither touches the code under measurement, parquet inputs, or any
  * caches — same work every run by construction. References are plain
  * committed constants, NOT auto-calibrated: auto-calibration in a
  * degraded window would bless the degradation.
  */
object WindowProbe {

  /** Calm-window reference seconds for [[cpuProbeSec]] /
    * [[sparkProbeSec]] on the build host (median of interleaved calm
    * runs, committed r14) and [[memProbeSec]] (committed r16 — the mem
    * leg could not be measured in the r14 pin window retroactively, so
    * its ref is CROSS-CALIBRATED: the r16 pin window's calm floor read
    * 0.77 on the cpu-leg ratio and 0.42 s on the mem leg, giving
    * 0.42/0.77 ≈ 0.55 so that a given ratio means the same degradation
    * level on every leg). A different host must re-pin these. */
  val RefCpuSec = 0.92
  val RefSparkSec = 0.78
  val RefMemSec = 0.55

  /** Sink for probe results — written so the JIT cannot eliminate the
    * hash loop as dead code. Never read for its value. */
  @volatile private var sink: Long = 0L

  /** Fixed-work single-thread probe: sha-256 over a constant 64 KiB
    * buffer, 16384 rounds (~1 GiB hashed). Pure JVM compute — inflates
    * under CPU steal only. */
  def cpuProbeSec(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](65536)
    java.util.Arrays.fill(buf, 0x5a.toByte)
    val t0 = System.nanoTime()
    var i = 0
    var acc = 0L
    while (i < 16384) {
      val d = md.digest(buf)
      acc ^= d(0)
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed-work all-cores probe: xxhash64-max over 1.25e8 generated rows
    * per range partition, one partition per core (`defaultParallelism`)
    * — saturates every executor thread with pure codegen compute, no
    * I/O, no shuffle beyond the scalar agg. Each core does the same work
    * whatever the core count, so [[RefSparkSec]] (pinned at 32 cores,
    * 4e9 rows) reads ~1 on a calm host of any size; a fixed 32-partition
    * job would run 32/cores waves and read as degraded on a small host.
    * An untimed small run of the same plan first absorbs codegen/JIT (a
    * cold first probe read 8× its steady state — that's compile cost,
    * not window quality). max, not sum: an ANSI-mode long sum of 4e9
    * hashes overflows. */
  def sparkProbeSec(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val parts = spark.sparkContext.defaultParallelism
    def run(rowsPerPart: Long): Unit =
      spark.range(0L, rowsPerPart * parts, 1L, parts)
        .agg(max(xxhash64(org.apache.spark.sql.functions.col("id"))))
        .collect()
    run(312500L) // untimed warm-up: same plan shape, 0.25% of the work
    val t0 = System.nanoTime()
    run(125000000L)
    (System.nanoTime() - t0) / 1e9
  }

  /** 1 GiB src + 1 GiB dst copy buffers (128 Mi longs each — two
    * orders of magnitude past any LLC on this host class), allocated
    * PER PROBE and released with it (r16 ADVICE: a retained lazy val
    * kept 2 GiB of driver heap alive for the whole run of every Bench
    * and tool invocation, an OOM under SPARK_DRIVER_MEM < ~3g);
    * construction faults every page, so the timed passes never measure
    * first-touch cost. A probe call needs ~2 GiB of transient headroom
    * — the 8g default driver heap covers it with margin. */
  private val MemN = 1 << 27
  private val MemThreads = 16
  private def memBufs(): (Array[Long], Array[Long]) = {
    val src = new Array[Long](MemN)
    var i = 0
    while (i < MemN) { src(i) = i * 31L; i += 1 }
    val dst = new Array[Long](MemN)
    System.arraycopy(src, 0, dst, 0, MemN)
    (src, dst)
  }

  /** Fixed-work MEMORY-BOUND probe (r15 verdict #2 — the recorded
    * probe blind spot: the CPU and Spark legs are compute-bound and
    * read "calm" while memory-bound phases ran 10-15% slow). 16
    * threads copy their private slices of the 1 GiB buffer pair, 24
    * passes — ~48 GiB of read+RFO+write bus traffic whose wall-time is
    * the host's AGGREGATE DRAM bandwidth, which co-tenant memory
    * traffic strictly subtracts from: exactly the contention mode the
    * compute legs cannot see. Design measured against two rejected
    * alternatives on this host: a single-thread dependent-load walk
    * (±15% rep spread — noise swallows a 10% signal) and a
    * single-thread stream (tight, but INVERTS under contention:
    * co-tenant activity raises the otherwise idle-clocked uncore, so
    * our stream got FASTER under a 6-thread hog — a saturating
    * multi-thread probe keeps the uncore busy by itself and stays
    * monotone; scaling/r16/memprobe_demo.json holds the measurements).
    * An untimed pass first absorbs JIT warm-up, mirroring
    * [[sparkProbeSec]]'s discipline. */
  def memProbeSec(): Double = {
    val (src, dst) = memBufs()
    val slice = MemN / MemThreads
    def runPasses(passes: Int): Unit = {
      val th = (0 until MemThreads).map { t =>
        val lo = slice * t
        val x = new Thread(() => {
          var p = 0
          while (p < passes) {
            System.arraycopy(src, lo, dst, lo, slice)
            p += 1
          }
        })
        x.start(); x
      }
      th.foreach(_.join())
    }
    runPasses(4) // untimed warm-up: same shape, 1/6 of the work
    val t0 = System.nanoTime()
    runPasses(24)
    sink = dst(MemN - 1)
    (System.nanoTime() - t0) / 1e9
  }

  final case class Sample(cpuSec: Double, sparkSec: Double, memSec: Double) {
    def cpuRatio: Double = cpuSec / RefCpuSec
    def sparkRatio: Double = sparkSec / RefSparkSec
    def memRatio: Double = memSec / RefMemSec
    /** The headline leg: cpu and spark only. The mem leg's reference is
      * aggregate DRAM bandwidth, which differs by host class: on a calm
      * 4-core host it read 2.90–2.96 while cpu read 0.87–0.94, so it is
      * reported beside the headline ([[windowMemRatio]]), not in it. */
    def worst: Double = math.max(cpuRatio, sparkRatio)
    def json: String =
      f"""{"cpu_sec":$cpuSec%.3f,"spark_sec":$sparkSec%.3f,""" +
        f""""mem_sec":$memSec%.3f,"cpu_ratio":$cpuRatio%.2f,""" +
        f""""spark_ratio":$sparkRatio%.2f,"mem_ratio":$memRatio%.2f}"""
  }

  /** One window sample = MIN of two runs per probe: the floor is the
    * window statistic (a calm host reaches it, a loaded one cannot),
    * and min-of-2 halves scheduler jitter without tripling probe cost. */
  def sample(spark: SparkSession): Sample =
    Sample(math.min(cpuProbeSec(), cpuProbeSec()),
      math.min(sparkProbeSec(spark), sparkProbeSec(spark)),
      math.min(memProbeSec(), memProbeSec()))

  /** The worse mem-leg ratio of a (before, after) pair. */
  def windowMemRatio(before: Sample, after: Sample): Double =
    math.max(before.memRatio, after.memRatio)

  /** The (before, after) pair as one JSON object string, with the
    * headline `ratio` = worst of the four cpu and spark ratios — the
    * conservative read (a window that degraded at EITHER end taints
    * cross-run attribution) — and `mem_ratio` beside it. */
  def windowJson(before: Sample, after: Sample): String = {
    val ratio = math.max(before.worst, after.worst)
    val mem = windowMemRatio(before, after)
    f"""{"ratio":$ratio%.2f,"mem_ratio":$mem%.2f,"before":${before.json},"after":${after.json},""" +
      f""""ref_cpu_sec":$RefCpuSec%.2f,"ref_spark_sec":$RefSparkSec%.2f,""" +
      f""""ref_mem_sec":$RefMemSec%.2f}"""
  }

  /** Standalone: print N probe samples (default 5) — check the window
    * BEFORE launching a long sweep, or re-pin the references on a new
    * host. Usage: jrun graft.tools.WindowProbe [reps] */
  def main(args: Array[String]): Unit = {
    val reps = args.lift(0).map(_.toInt).getOrElse(5)
    val spark = graft.Graft.session("graft-window-probe")
    (1 to reps).foreach { i =>
      val s = sample(spark)
      println(s"""{"rep":$i,"sample":${s.json}}""")
    }
    spark.stop()
  }
}
