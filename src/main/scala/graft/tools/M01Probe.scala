package graft.tools

import javax.imageio.ImageIO
import graft.operators.Multimodal

/** Telemetry probe for the m01_image_decode bench breach (judge r12,
  * "what's wrong" #1: 6.85 s vs 1.04 s floor on a code path untouched
  * since r11; history 0.83/3.08/1.09/1.52/6.85 s — the noisiest query in
  * the set, with min-of-2 runs NOT smoothing it).
  *
  * Named suspect: `javax.imageio`'s default stream cache is DISK-backed —
  * `ImageIO.write(img, fmt, outputStream)` and `ImageIO.read(inputStream)`
  * each materialize a `FileCache(Image){Input,Output}Stream` temp FILE
  * under java.io.tmpdir when `ImageIO.getUseCache` is true (the default).
  * m01 encodes+decodes 2000 PNGs ×2 bench runs ⇒ ~8,000 create/write/
  * read/delete temp-file cycles fanned across 32 task threads — the only
  * query in the set whose cost rides /tmp I/O weather rather than CPU.
  * That profile matches the observed variance exactly.
  *
  * This main measures, in one JVM:
  *   1. single-threaded encode of the 2000 m01 PNGs, cache ON vs OFF;
  *   2. single-threaded decode of the same bytes, cache ON vs OFF;
  *   3. the full m01 Spark query (driver bench shape: local[N],
  *      shuffle.partitions=N), 3 runs per cache setting.
  * Prints one JSON line per measurement. Order runs ON-first so the
  * plugin-registry scan + JIT warmup (one-time, JVM-global) are charged
  * to the ON side — i.e. the bias runs AGAINST the fix, so an OFF win is
  * conservative.
  */
object M01Probe {
  private def pngs(): Array[(Long, Array[Byte])] =
    (1L to 2000L).toArray.map { id =>
      val w = (8 + 4 * (id % 3)).toInt
      val h = (8 + 4 * (id % 2)).toInt
      id -> Multimodal.encodeGrayPng(w, h,
        (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt)
    }

  private def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    def report(k: String, v: Double): Unit =
      println(f"""{"probe":"$k","ms":$v%.1f}""")

    for (useCache <- Seq(true, false)) {
      ImageIO.setUseCache(useCache)
      val tag = if (useCache) "diskcache" else "memcache"
      for (rep <- 1 to 3) {
        var data: Array[(Long, Array[Byte])] = null
        report(s"encode2000_${tag}_r$rep", timeMs { data = pngs() })
        report(s"decode2000_${tag}_r$rep", timeMs {
          data.foreach { case (_, b) => Multimodal.decodeGray(b) }
        })
      }
    }

    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tmp = java.nio.file.Files.createTempDirectory("m01probe").toString
    for (useCache <- Seq(true, false)) {
      val tag = if (useCache) "diskcache" else "memcache"
      for (rep <- 1 to 3) {
        report(s"m01_spark_${tag}_r$rep", timeMs {
          // the cache flag must flip on the TASK threads, not the driver:
          // set it inside the partitions via the probe conf
          spark.sparkContext.parallelize(1 to cpus.toInt, cpus.toInt)
            .foreach(_ => ImageIO.setUseCache(useCache))
          Multimodal.imageStats(spark, sfDir)
            .write.mode("overwrite").parquet(s"$tmp/m01_$tag")
        })
      }
    }
    spark.stop()
  }
}
