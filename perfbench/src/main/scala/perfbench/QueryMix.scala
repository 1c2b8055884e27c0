package perfbench

import graft.SparkEntry

/** `query_mix`: a fixed sample of the read-only queries (`SparkEntry.queries`
  * without the w* write rows) over the generated tables, in a seeded
  * order, each result written to parquet the way `graft.Verify` writes
  * it. One untimed pass warms the JVM and Spark's code caches; timed
  * passes follow. The last pass's outputs and the oracle SQL are left in
  * the work directory for the DuckDB comparison in `run.py`. */
object QueryMix {
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Every eighth read-only query in name order: 13 of the 104. */
  def names: Seq[String] =
    SparkEntry.queries.keys.filterNot(_.startsWith("w")).toSeq.sorted.zipWithIndex
      .collect { case (n, i) if i % 8 == 0 => n }

  def family(name: String): String = if (name.startsWith("q")) "queries" else "operators"

  /** Seconds spent inside each query function in traced passes. */
  private val buildS = scala.collection.mutable.HashMap.empty[String, Double]

  def run(ctx: Main.Ctx, res: Main.Result): Unit = {
    import ctx.spark
    val order = new scala.util.Random(ctx.seed).shuffle(names)
    val outDir = ctx.work.resolve("query_out")
    java.nio.file.Files.createDirectories(outDir)

    // set-up: load and count every input table
    (1 to 3).foreach { _ =>
      res.setupS += Main.time(Tables.foreach(t => graft.Tables(spark, ctx.data, t).count()))._2
    }

    val failedNames = scala.collection.mutable.LinkedHashSet.empty[String]
    def runOne(pass: Int, name: String, counted: Boolean): Main.Op = {
      val req = s"p$pass:$name"
      if (Trace.on) spark.sparkContext.setJobGroup(req, req)
      try Trace.request(family(name), req) {
        val t0 = System.nanoTime()
        try {
          val df = Trace.span("query.build")(SparkEntry.queries(name)(spark, ctx.data))
          val built = System.nanoTime()
          Trace.span("query.write") {
            df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(name).toString)
          }
          if (Trace.on) buildS(name) = buildS.getOrElse(name, 0.0) + (built - t0) / 1e9
          if (ctx.forceFail && name == order.head) throw new RuntimeException("forced failure")
        } catch {
          case e: Exception =>
            if (counted) {
              res.fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
              failedNames += name
            }
        }
        Main.Op(name, (System.nanoTime() - t0) / 1e9)
      } finally if (Trace.on) spark.sparkContext.clearJobGroup()
    }

    // warm-up pass: not timed, not counted
    res.extra("warmup_s") = Main.time(order.foreach(runOne(-1, _, counted = false)))._2

    val probe = if (ctx.trace) Some(new SparkProbe(spark)) else None
    Main.measure(ctx, res, min = 2, probe) { pass =>
      val (ops, wall) = Main.time(order.map(n => runOne(pass, n, counted = true)))
      res.attempted += ops.size
      Seq(Main.Pass(wall, ops))
    }
    res.extra("queries") = order
    res.extra("failed_queries") = failedNames.toSeq
    java.nio.file.Files.writeString(outDir.resolve("oracle_sql.json"),
      Json.render(SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))

    probe.foreach { p =>
      val n = math.max(1, res.tracedPasses.size).toDouble
      val reqs = Trace.allRequests
      for (fam <- Seq("queries", "operators")) {
        val rs = reqs.filter(_.kind == fam)
        val aggs = rs.map(r => r -> p.agg(r))
        def put(k: String, v: Double): Unit = res.layer(s"$fam.$k") = v / n
        put("build_s", buildS.filter { case (q, _) => family(q) == fam }.values.sum)
        put("plan_s", aggs.map(_._2.planS).sum)
        put("jobs", aggs.map(_._2.jobs).sum)
        put("stages", aggs.map(_._2.stages).sum)
        put("tasks", aggs.map(_._2.tasks).sum)
        put("stage_s", aggs.map(_._2.stageS).sum)
        put("gap_s", aggs.map { case (r, a) => (r.endMs - r.startMs) / 1e3 - a.stageUnionS }.sum)
        put("task_cpu_s", aggs.map(_._2.cpuS).sum)
        put("shuffle_mb", aggs.map(_._2.shuffleMb).sum)
        put("spill_mb", aggs.map(_._2.spillMb).sum)
      }
    }
  }
}
