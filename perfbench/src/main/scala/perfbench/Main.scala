package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload and writes its raw
  * measurements as JSON for `run.py`, which turns them into metrics.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <outFile>
  *
  * Every workload runs closed-loop from this one thread, one request in
  * flight at a time, against a `local[4]` session. With tracing on, the
  * measured passes alternate between untraced and traced, so one run
  * yields the per-layer numbers and the tracing overhead on the
  * end-to-end figures.
  */
object Main {
  final case class Op(kind: String, seconds: Double)
  final case class Pass(wallS: Double, ops: Seq[Op])

  /** What one workload hands back: set-up times, timed passes, and how
    * many operations it attempted and how many failed or produced a
    * wrong output. */
  final class Result {
    val setupS = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val tracedPasses = mutable.ArrayBuffer.empty[Pass]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val extra = mutable.LinkedHashMap.empty[String, Any]

    def fail(what: String, n: Long = 1L): Unit = {
      failed += n
      if (failures.size < 50) failures += what
    }
  }

  final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: Path, forceFail: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, data, work, out) = args.take(7)
    val forceFail = args.contains("--force-fail")
    val workDir = Paths.get(work).toAbsolutePath
    Files.createDirectories(workDir)
    val spark = session()
    val ctx = Ctx(spark, seed.toLong, seconds.toDouble, trace == "1", data, workDir, forceFail)
    val res = new Result
    try {
      workload match {
        case "migrate" => Migrate.run(ctx, res)
        case "query_mix" => QueryMix.run(ctx, res)
        case "write_mix" => WriteMix.run(ctx, res)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      if (ctx.trace) {
        res.layer("jvm.gc_s") = JvmStats.gcSeconds
        res.layer("jvm.jit_s") = JvmStats.jitSeconds
        val spans = Trace.allSpans
        Trace.writeSpans(spans, workDir.resolve("spans.jsonl"))
        // self time per span name in the run record, and per layer as
        // metrics: spans are named <layer>[.<detail>]
        val self = Trace.selfSeconds(spans)
        res.extra("self_s") = self
        self.groupBy(_._1.takeWhile(_ != '.')).foreach {
          case (layer, byName) => res.layer(s"self_s.$layer") = byName.values.sum
        }
      }
    } finally spark.stop()
    Files.writeString(Paths.get(out), Json.render(Map(
      "setup_s" -> res.setupS,
      "passes" -> res.passes.map(render),
      "traced_passes" -> res.tracedPasses.map(render),
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "failures" -> res.failures,
      "layer" -> res.layer,
      "extra" -> res.extra,
      "peak_rss_mb" -> JvmStats.peakRssMb)))
  }

  private def render(p: Pass): Map[String, Any] = Map(
    "wall_s" -> p.wallS,
    "ops" -> p.ops.map(o => Map("kind" -> o.kind, "s" -> o.seconds)))

  /** Spark task slots: `local[Cores]`, as many as the benchmark box has. */
  val Cores = 4

  /** Same session settings as the engine's own mains (Verify, Bench). */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir",
        Paths.get(sys.props("java.io.tmpdir"), "spark-warehouse").toUri.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body(i)` for i = 0, 1, ... until `seconds` have passed, at
    * least `min` times. */
  def loopFor(seconds: Double, min: Int)(body: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < min || System.nanoTime() < deadline) { body(i); i += 1 }
  }

  /** Runs the measured loop, each iteration yielding one or more passes.
    * With tracing on, untraced and traced iterations alternate, so what
    * drift the warm-up leaves falls on both sides of the overhead
    * comparison; the probe listens only during traced iterations. */
  def measure(ctx: Ctx, res: Result, min: Int, probe: Option[SparkProbe])(
      passes: Int => Seq[Pass]): Unit =
    if (!ctx.trace) loopFor(ctx.seconds, min) { i => res.passes ++= passes(i) }
    else {
      Trace.reset(); CatalogStats.reset()
      loopFor(ctx.seconds, 2 * min) { i =>
        if (i % 2 == 0) res.passes ++= passes(i)
        else {
          probe.foreach(_.install()); Trace.on = true
          try res.tracedPasses ++= passes(i)
          finally { probe.foreach(_.uninstall()); Trace.on = false }
        }
      }
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile, `q` in (0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally st.close()
    }

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try {
        var files = 0L; var bytes = 0L
        st.filter(Files.isRegularFile(_)).forEach { f => files += 1; bytes += Files.size(f) }
        (files, bytes)
      } finally st.close()
    }
}

object JvmStats {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  /** Peak resident set (VmHWM) of this JVM, MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
