package graft

/** Dev tool: run one named query from SparkEntry.queries with timing and
  * (optionally) the formatted physical plan.
  *   sbt "runMain graft.Run <name> [sfDir] [explain] [repeatN]"
  * `repeatN` (e.g. `repeat3`) times the write N times in ONE session —
  * the warm readings are what compare against bench floors (Bench runs
  * a warm session too; a single cold run is dominated by session+scan
  * setup).
  */
object Run {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val doExplain = args.contains("explain")
    val repeats = args.collectFirst {
      case a if a.startsWith("repeat") => a.stripPrefix("repeat").toInt
    }.getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (doExplain) df.explain("formatted")
    // time a parquet write (same action as Verify/Bench) — under count()
    // Catalyst prunes the columns being measured
    val tmp = java.nio.file.Files.createTempDirectory("graft_run").toString
    var n = 0L
    (1 to repeats).foreach { i =>
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(s"$tmp/$name")
      val secs = (System.nanoTime() - t0) / 1e9
      n = spark.read.parquet(s"$tmp/$name").count()
      println(f"[run] $name: $n rows in $secs%.2f s (write-timed, run $i/$repeats)")
    }
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case _: Throwable => }
    spark.stop()
  }
}
