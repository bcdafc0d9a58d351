package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One multimodal-at-scale measurement point: generate a REAL-PNG media
  * corpus (every payload decodes through javax.imageio, not the stub),
  * then measure the two multimodal hot paths —
  *
  *   decode:  [[graft.multimodal.Multimodal.decodeImages]] over every
  *            payload (partition-mapped batch decode + average-hash);
  *   neardup: [[graft.multimodal.Multimodal.imageNearDups]] end-to-end
  *            (decode -> 64-bit aHash -> pigeonhole-blocked Hamming join);
  *
  * plus the payload-pruning claim AS A MEASUREMENT: task-level
  * `inputMetrics.bytesRead` for a metadata-only aggregate vs the same
  * scan with payloads, asserted < 10% (the spec pins the plan's
  * ReadSchema; this pins the bytes that actually moved at scale).
  *
  * Corpus shape (pure function of id — bit-identical at any parallelism):
  * 64x64 greyscale gradient PNGs, pattern seeded per id; every 100th id
  * replays the previous id's pattern with one column nudged (+8 grey) —
  * a ~1% near-dup population with KNOWN pairs (id-1, id), so the neardup
  * timing also carries a recall check: every planted pair must surface
  * at maxHamming=7.
  *
  * One size per JVM invocation (the sweep-isolation lesson);
  * tools/multimodal_scale.sh loops sizes.
  *
  * Usage: jrun graft.tools.MultimodalScale <nImages> <workDir> <label> [<outJson>]
  */
object MultimodalScale {

  /** Deterministic 64x64 greyscale NOISE PNG for a content seed. Noise,
    * not gradients, for two physical reasons: (1) deflate cannot compress
    * it, so payload column chunks stay LARGE relative to parquet's
    * vectored-IO range-merge gap — with ~1 KB smooth-image payloads the
    * reader coalesces the whole file into one range and a "pruned" scan
    * reads every payload byte anyway, which would void the measurement;
    * (2) noise images get near-uniform 64-bit average-hashes, so blocked
    * near-dup candidate volume is the operator's honest floor, where
    * smooth gradients alias into a handful of aHash values and any two
    * unrelated images collide. */
  private def pngBytes(seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var m = seed * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e019L
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        // splitmix64 step per pixel — incompressible, reproducible
        m += 0x9e3779b97f4a7c15L
        var z = m
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        val v = ((z ^ (z >>> 31)) & 0xff).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Media table of n real PNGs: ids k*100 (k>0) replay id k*100-1's
    * bytes EXACTLY — planted duplicate pairs at Hamming 0, so the recall
    * assertion below is exact (a perturbed copy's Hamming distance under
    * aHash is distributional; the perturbation behavior is MultimodalSpec
    * territory). */
  private def genMedia(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { ids =>
      javax.imageio.ImageIO.setUseCache(false)
      ids.map { id =>
        val dup = id > 0 && id % 100 == 0
        val payload = pngBytes(if (dup) id - 1 else id)
        (id, "image", payload, "image/png", payload.length.toLong,
          s"synthetic://img/$id")
      }
    }.toDF("media_id", "kind", "payload", "mime", "byte_len", "source_uri")
  }

  /** Total read() syscall bytes of this JVM (/proc/self/io rchar) — in
    * local mode executors share the process, so a before/after delta
    * around one action captures the parquet DATA-PAGE reads that Spark
    * 4's vectored parquet reader does NOT route through Hadoop
    * FileSystem.Statistics (the `file:` counter moves only for footers —
    * measured here before switching). rchar includes page-cache hits,
    * which is the right semantics for a pruning claim: the pruned scan
    * must not ISSUE the reads at all. The measured counterpart of the
    * ReadSchema plan pin. */
  private def fsBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/io"))
      .asScala.find(_.startsWith("rchar:")) match {
      case Some(l) => l.split("\\s+")(1).toLong
      case None => -1L
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: MultimodalScale <nImages> <workDir> <label> [<outJson>]")
    val n = args(0).toLong
    val workDir = args(1)
    val label = args(2)
    val reps = sys.env.getOrElse("SPARK_GRAFT_MM_REPS", "3").toInt
    val spark = graft.Graft.session("graft-multimodal-scale")

    val mediaPath = s"$workDir/media.parquet"
    genMedia(spark, n).write.mode("overwrite").parquet(mediaPath)
    val media = spark.read.parquet(mediaPath)
    val fileBytes = new java.io.File(mediaPath).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum

    import graft.multimodal.Multimodal
    def timeMin(body: => Unit): Double =
      (1 to reps).map { _ =>
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min

    // warm-up decode on a slice so JIT/codec-registry cost lands outside
    noop(Multimodal.decodeImages(spark, media.limit(500)).toDF())

    val decodeSec = timeMin(noop(Multimodal.decodeImages(spark, media).toDF()))
    // maxHamming=3 -> four 16-bit pigeonhole chunks: for near-uniform
    // image hashes a chunk collides at ~n^2/65536, the subquadratic
    // blocking regime (8-bit chunks at maxHamming=7 would collide 256x
    // more often and the candidate stage would dominate the slope)
    var pairs = 0L
    val nearDupSec = timeMin {
      pairs = Multimodal.imageNearDups(spark, media, maxHamming = 3).count()
    }
    // recall on the planted pairs: every (k*100-1, k*100) must surface
    val planted = (1L until n / 100 + (if (n % 100 > 0) 1L else 0L))
      .map(k => (k * 100 - 1, k * 100)).filter(_._2 < n).toSet
    val found = Multimodal.imageNearDups(spark, media, maxHamming = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall =
      if (planted.isEmpty) 1.0
      else planted.count(found.contains).toDouble / planted.size
    require(recall == 1.0,
      s"planted exact-duplicate pairs missed: recall $recall")

    // measured payload pruning: bytes read by a metadata-only aggregate
    // vs the same aggregate forced to materialize payloads
    val fs0 = fsBytesRead()
    Multimodal.metaOnly(media).agg(sum("byte_len")).collect()
    val fs1 = fsBytesRead()
    media.agg(sum(octet_length(col("payload")))).collect()
    val fs2 = fsBytesRead()
    val metaBytes = fs1 - fs0
    val payloadBytes = fs2 - fs1
    require(metaBytes * 10 < payloadBytes,
      s"payload pruning not effective: meta scan read $metaBytes of " +
        s"$payloadBytes-byte payload scan")

    def f(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val line = s"""{"label":"$label","n_images":$n,"media_bytes":$fileBytes,""" +
      s""""decode_sec":${f(decodeSec)},"neardup_sec":${f(nearDupSec)},""" +
      s""""pairs":$pairs,"planted_recall":${f(recall)},""" +
      s""""meta_scan_bytes":$metaBytes,"payload_scan_bytes":$payloadBytes}"""
    args.lift(3).foreach { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    }
    println(line)
    spark.stop()
  }
}
