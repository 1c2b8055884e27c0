package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-20 optimization probes: time the PHASES of the bench's most
  * expensive queries in isolation (guide §1.4 — noop-sink timings of the
  * computation, not the sink), so optimization effort lands where the
  * seconds are. Dev tool only — not part of the driver contract.
  *
  *   sbt "runMain graft.tools.R20Probe d05 /root/testdata/sf0.1"
  */
object R20Probe {
  private def timed(spark: SparkSession, name: String)(df: => DataFrame): Unit = {
    // two runs, min — same convention as the bench
    val runs = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.sparkContext.setJobDescription(s"probe: $name")
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[probe] $name%-40s ${runs.min}%7.3f s (runs: ${runs.map(r => f"$r%.3f").mkString(", ")})")
  }

  def main(args: Array[String]): Unit = {
    val which = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorFunctions.register(spark)
    which match {
      case "d05" => d05(spark, dir)
      case "d05x" => d05x(spark, dir)
      case "d05y" => d05y(spark, dir)
      case "d05z" => d05z(spark, dir)
      case "stages" => stagesOf(spark, dir, args(2))
      case "wq" =>
        // bench-faithful timing for the write-lifecycle rows: the timed
        // region opens BEFORE the query function is invoked (their work
        // is eager), same as graft.Bench
        val tmp = java.nio.file.Files.createTempDirectory("graft_probe").toString
        args.drop(2).foreach { name =>
          val runs = (1 to 3).map { i =>
            val t0 = System.nanoTime()
            graft.SparkEntry.queries(name)(spark, dir)
              .write.mode("overwrite").parquet(s"$tmp/$name")
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[probe] wq $name%-28s min ${runs.min}%7.3f s (${runs.map(r => f"$r%.3f").mkString(", ")})")
        }
      case "d01" => d01(spark, dir)
      case "p01" => p01(spark, dir)
      case "w24" => w24(spark, dir)
      case "q48" => q48(spark, dir)
      case "w27p" => w27p(spark, dir)
      case "execs" =>
        // per-SQL-execution timing of one query's construction + write:
        // eager operators (p01/d06 checkpoint loops, s02 training, w-row
        // exports) split their wall across many actions — this prints
        // each one so optimization lands on the expensive ones
        val name = args(2)
        val starts = scala.collection.concurrent.TrieMap.empty[Long, (String, Long)]
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onOtherEvent(
              e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
            case s0: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
              starts.update(s0.executionId, (s0.description, s0.time)); ()
            case e2: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
              starts.get(e2.executionId).foreach { case (d, t0) =>
                println(f"[probe] exec ${e2.executionId}%3d ${(e2.time - t0) / 1e3}%8.3f s  ${d.linesIterator.next().take(90)}")
              }
            case _ => ()
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val tmpx = java.nio.file.Files.createTempDirectory("graft_execs").toString
        (1 to 2).foreach { i =>
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, dir)
            .write.mode("overwrite").parquet(s"$tmpx/$name")
          println(f"[probe] $name run $i total ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
        Thread.sleep(2000)
      case "plans" =>
        // batch plan dump: `plans <dir> <outDir> <suffix> <q1> <q2> ...`
        // writes each query's formatted physical plan to
        // <outDir>/<q>_<suffix>.txt in ONE session (the per-query sbt
        // JVM startup otherwise dominates plan capture). The special
        // name `dedup_shingle_subtree` dumps the pre-checkpoint shingle
        // subtree (see `shingleplan`).
        val outDir = java.nio.file.Paths.get(args(2))
        java.nio.file.Files.createDirectories(outDir)
        val suffix = args(3)
        args.drop(4).foreach { name =>
          val df =
            if (name == "dedup_shingle_subtree")
              graft.operators.Dedup.shingled(spark, dir)
            else graft.SparkEntry.queries(name)(spark, dir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(
            outDir.resolve(s"${name}_$suffix.txt"), txt)
          println(s"[probe] plan written: ${name}_$suffix.txt")
        }
      case "shingleplan" =>
        // the d01/d03 spread sits BELOW their localCheckpoint boundary,
        // so the query-level explain can't show it; this dumps the
        // pre-checkpoint shingle subtree's plan (plans/r20 evidence)
        graft.operators.Dedup.shingled(spark, dir).explain("formatted")
      case other => sys.error(s"unknown probe $other")
    }
    spark.stop()
  }

  /** d05 phase breakdown: emb load → srp+banding → bucket pairs →
    * distinct → verify joins + dot. */
  private def d05(s: SparkSession, dir: String): Unit = {
    val e = graft.Tables(s, dir, "embeddings")
      .selectExpr("vec_id", "label", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    timed(s, "d05.1 emb load+norm")(e)
    val bands = 96; val rowsPerBand = 4
    val nbits = bands * rowsPerBand
    val mask = (1L << rowsPerBand) - 1
    val banded = e.select(col("vec_id").as("id"), col("v"))
      .withColumn("sig", expr(s"graft_srp(v, $nbits)"))
      .select(col("id"), posexplode(expr(
        s"""transform(sequence(0, ${bands - 1}), k ->
           | shiftright(element_at(sig, CAST(k * $rowsPerBand DIV 64 AS INT) + 1),
           |            CAST(k * $rowsPerBand % 64 AS INT))
           |  & ${mask}L)""".stripMargin)).as(Seq("band", "bv")))
    timed(s, "d05.2 srp sigs + band explode")(banded)
    val buckets = banded.groupBy("band", "bv")
      .agg(sort_array(collect_list(col("id"))).as("ids"), count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    val rawPairs = buckets
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(col("a"), explode(expr("slice(ids, i + 2, size(ids))")).as("b"))
    timed(s, "d05.3 bucket pairs (pre-distinct)")(rawPairs)
    println(s"[probe] d05 raw pair rows: ${rawPairs.count()}")
    val cand = rawPairs.distinct()
    timed(s, "d05.4 pairs + distinct")(cand)
    println(s"[probe] d05 candidate pairs: ${cand.count()}")
    val full = cand
      .join(e.select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na")), "a")
      .join(e.select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb")), "b")
      .withColumn("craw", expr("graft_dot(va, vb)") / (col("na") * col("nb")))
      .filter(col("craw") >= 0.46)
      .select(col("a"), col("b"), round(col("craw"), 4).as("c"))
      .orderBy("a", "b")
    timed(s, "d05.5 full (verify end-to-end)")(full)
  }

  /** d05 distinct variants: where do the 5.5 s go, and what removes them. */
  private def d05x(s: SparkSession, dir: String): Unit = {
    val e = graft.Tables(s, dir, "embeddings")
      .selectExpr("vec_id AS id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    val bands = 96; val rowsPerBand = 4
    val nbits = bands * rowsPerBand
    val mask = (1L << rowsPerBand) - 1
    def bandedOf(df: DataFrame) = df
      .withColumn("sig", expr(s"graft_srp(v, $nbits)"))
      .select(col("id"), posexplode(expr(
        s"""transform(sequence(0, ${bands - 1}), k ->
           | shiftright(element_at(sig, CAST(k * $rowsPerBand DIV 64 AS INT) + 1),
           |            CAST(k * $rowsPerBand % 64 AS INT))
           |  & ${mask}L)""".stripMargin)).as(Seq("band", "bv")))
    val banded = bandedOf(e).localCheckpoint()
    def pairsOf(b: DataFrame) = b.groupBy("band", "bv")
      .agg(sort_array(collect_list(col("id"))).as("ids"), count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(col("a"), explode(expr("slice(ids, i + 2, size(ids))")).as("b"))
    timed(s, "d05x.0 pairs no distinct (ckpt banded)")(pairsOf(banded))
    timed(s, "d05x.1 distinct as-is")(pairsOf(banded).distinct())
    timed(s, "d05x.2 groupBy(a,b) agg-less")(
      pairsOf(banded).groupBy("a", "b").agg(lit(1)).select("a", "b"))
    timed(s, "d05x.3 packed-long distinct")(
      pairsOf(banded).select((col("a") * 1000000 + col("b")).as("p"))
        .distinct().select((col("p") / 1000000).cast("long").as("a"),
          pmod(col("p"), lit(1000000)).as("b")))
    locally {
      val old = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "128")
      timed(s, "d05x.4 distinct @128 parts")(pairsOf(banded).distinct())
      s.conf.set("spark.sql.shuffle.partitions", old)
    }
    // first-band-win: carry each id's full band-value array into the
    // bucket; a pair is emitted ONLY from its lowest colliding band —
    // exactly-once generation, no distinct needed.
    val bandedSig = e
      .withColumn("sig", expr(s"graft_srp(v, $nbits)"))
      .withColumn("bvs", expr(
        s"""transform(sequence(0, ${bands - 1}), k ->
           | shiftright(element_at(sig, CAST(k * $rowsPerBand DIV 64 AS INT) + 1),
           |            CAST(k * $rowsPerBand % 64 AS INT))
           |  & ${mask}L)""".stripMargin))
      .select(col("id"), col("bvs"),
        posexplode(col("bvs")).as(Seq("band", "bv")))
    val fbPairs = bandedSig.groupBy("band", "bv")
      .agg(sort_array(collect_list(struct(col("id"), col("bvs")))).as("xs"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("band"), col("xs"), posexplode(col("xs")).as(Seq("i", "x")))
      .select(col("band"), col("x.id").as("a"), col("x.bvs").as("abvs"),
        explode(expr("slice(xs, i + 2, size(xs))")).as("y"))
      .filter(expr(
        """NOT EXISTS(sequence(0, band - 1),
          |  j -> abvs[j] = y.bvs[j])""".stripMargin))
      .select(col("a"), col("y.id").as("b"))
    timed(s, "d05x.5 first-band-win (no distinct)")(fbPairs)
    println(s"[probe] d05x.5 pair count: ${fbPairs.count()} (want 1984891)")
  }

  /** Synthetic calibration: what does a 12.5M-row distinct cost on this
    * box, independent of the d05 plan? */
  private def d05y(s: SparkSession, dir: String): Unit = {
    // 12.5M rows, ~2M distinct (a, b) pairs with a 6.3x duplication factor,
    // spread like d05's: copies of a pair land in different partitions
    val n = 12500000L
    val base = s.range(0, n, 1, 32)
      .select((pmod(expr("xxhash64(id)"), lit(2000000)) ).as("k"))
      .select((col("k") / 1000).cast("long").as("a"), pmod(col("k"), lit(1000)).as("b"))
    timed(s, "d05y.0 synthetic gen only")(base)
    timed(s, "d05y.1 synthetic distinct 12.5M")(base.distinct())
    // and a half-size one to see linearity
    val half = s.range(0, n / 2, 1, 32)
      .select((pmod(expr("xxhash64(id)"), lit(2000000)) ).as("k"))
      .select((col("k") / 1000).cast("long").as("a"), pmod(col("k"), lit(1000)).as("b"))
    timed(s, "d05y.2 synthetic distinct 6.25M")(half.distinct())
    // executed-plan shape of the real distinct
    val e = graft.Tables(s, dir, "embeddings")
      .selectExpr("vec_id AS id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    val cand = graft.operators.Similarity.srpCandidates(
      e, bands = 96, rowsPerBand = 4)
    cand.write.format("noop").mode("overwrite").save()
    println("[probe] === real srpCandidates executed plan ===")
    println(cand.queryExecution.executedPlan.toString.take(6000))
  }

  /** Stage-level timing of the real d05 candidate distinct. */
  private def d05z(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.scheduler._
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Long, Long)]()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        stages.put(si.stageId, (si.name.take(60), dur,
          si.taskMetrics.executorRunTime, si.numTasks))
      }
    })
    val e = graft.Tables(s, dir, "embeddings")
      .selectExpr("vec_id AS id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    val cand = graft.operators.Similarity.srpCandidates(
      e, bands = 96, rowsPerBand = 4)
    // warm once
    cand.write.format("noop").mode("overwrite").save()
    stages.clear()
    val t0 = System.nanoTime()
    cand.write.format("noop").mode("overwrite").save()
    println(f"[probe] d05z srpCandidates total ${(System.nanoTime() - t0) / 1e9}%.3f s")
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sortBy(_._1).foreach { case (id, (n, wall, run, tasks)) =>
      println(f"[probe]   stage $id%3d wall=${wall / 1e3}%7.3f s cpuSum=${run / 1e3}%8.3f s tasks=$tasks%3d  $n")
    }
    println("[probe] === final executed plan ===")
    println(cand.queryExecution.executedPlan.toString.take(9000))
  }

  /** Generic stage profile of one declared query: warm once, run once
    * with a stage listener, print stages sorted by wall time. */
  private def stagesOf(s: SparkSession, dir: String, name: String): Unit = {
    import org.apache.spark.scheduler._
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Long, Long)]()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        stages.put(si.stageId, (si.name.take(50), dur,
          si.taskMetrics.executorRunTime, si.numTasks))
      }
    })
    val tmp = java.nio.file.Files.createTempDirectory("graft_probe").toString
    val df = graft.SparkEntry.queries(name)(s, dir)
    df.write.mode("overwrite").parquet(s"$tmp/w")   // warm
    stages.clear()
    val t0 = System.nanoTime()
    val df2 = graft.SparkEntry.queries(name)(s, dir)
    df2.write.mode("overwrite").parquet(s"$tmp/t")
    println(f"[probe] $name warm total ${(System.nanoTime() - t0) / 1e9}%.3f s; stages by wall:")
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sortBy(-_._2._2).take(14).foreach { case (id, (n, wall, run, tasks)) =>
      println(f"[probe]   stage $id%3d wall=${wall / 1e3}%7.3f s cpuSum=${run / 1e3}%8.3f s tasks=$tasks%3d  $n")
    }
  }

  /** d01 phase breakdown: shingles → df agg → prefix window → self-join →
    * verify. */
  private def d01(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val tau = 0.8
    val sh = graft.operators.Dedup.shingled(s, dir).localCheckpoint()
    timed(s, "d01.1 shingle+hash (checkpointed)")(sh)
    val ex = sh.selectExpr("doc_id", "size(sh) AS sz", "explode(sh) AS s")
    timed(s, "d01.2 explode")(ex)
    val df = ex.groupBy("s").agg(count(lit(1)).as("df"))
    timed(s, "d01.3 df agg")(df)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefix = ex.join(df, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * tau) + 1)
      .filter(col("df") >= 2)
      .select("doc_id", "s")
    timed(s, "d01.4 prefix (join df + window)")(prefix)
    val cand = prefix.as("x")
      .join(prefix.as("y"), col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    timed(s, "d01.5 prefix self-join + distinct")(cand)
    println(s"[probe] d01 candidates: ${cand.count()}")
    timed(s, "d01.6 full d01")(graft.operators.Dedup.ngramJaccard(s, dir))
  }

  /** p01 phase breakdown via its public composition points. */
  private def p01(s: SparkSession, dir: String): Unit = {
    val docs = graft.Tables(s, dir, "documents")
    timed(s, "p01.a survivors-shaped prefix") {
      val training = docs.filter(col("doc_id") % 10 =!= 7)
      val bench = graft.operators.Dedup.gramsOf(docs.filter(col("doc_id") % 10 === 7))
        .select("g").distinct()
      val clean = graft.operators.TextOps.repetitionKeepOf(training)
        .filter(col("keep")).drop("keep")
      clean.join(
        graft.operators.Dedup.contaminationOf(clean, bench).select("doc_id"),
        Seq("doc_id"), "left_anti")
    }
    timed(s, "p01.full")(graft.operators.Pipeline.trainingPipeline(s, dir))
  }

  /** w24-shaped export phases: spark parquet write vs the stats read-back
    * pass vs manifest writing. */
  private def w24(s: SparkSession, dir: String): Unit = {
    val t = s.sql(
      s"""SELECT CAST(l_orderkey AS BIGINT) AS k,
         |       CAST(l_quantity AS BIGINT) AS qty, l_returnflag AS rf
         |FROM parquet.`$dir/lineitem.parquet`""".stripMargin)
    (1 to 2).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-probe-w24").toString
      val t0 = System.nanoTime()
      graft.catalog.IcebergExport.writeTable(s, t, s"$tmp/t",
        partitionBy = Seq("rf"))
      val t1 = System.nanoTime()
      println(f"[probe] w24 writeTable (partitioned) run $i: ${(t1 - t0) / 1e9}%.3f s")
      graft.sources.TempCatalog.deleteRecursively(tmp)
    }
    (1 to 2).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory("graft-probe-w24b").toString
      val t0 = System.nanoTime()
      t.write.partitionBy("rf").parquet(s"$tmp/data")
      val t1 = System.nanoTime()
      println(f"[probe] w24 bare spark write run $i: ${(t1 - t0) / 1e9}%.3f s")
      val readSchema = t.schema
      val perFile = s.read.schema(readSchema).parquet(s"$tmp/data")
        .groupBy(input_file_name().as("_file"))
        .agg(count(lit(1)).as("_cnt"), min(col("k")), max(col("k")),
          min(col("qty")), max(col("qty")))
        .collect()
      val t2 = System.nanoTime()
      println(f"[probe] w24 stats read-back run $i: ${(t2 - t1) / 1e9}%.3f s (${perFile.length} files)")
      graft.sources.TempCatalog.deleteRecursively(tmp)
    }
  }

  /** w27 phase timers: export, two scoped deletes, register, the three
    * aggregate faces, final collect. */
  private def w27p(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] w27p $name%-26s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    (1 to 2).foreach { round =>
      println(s"[probe] === w27p round $round ===")
      graft.sources.TempCatalog.withTempHandles(s, "graft-w27p") { (cat, hc) =>
        import graft.catalog.{CatalogIO, IcebergExport, TableRef}
        val tmp = java.nio.file.Files.createTempDirectory("graft-w27p-ice").toString
        try {
          val tdf = s.sql(
            s"""SELECT CAST(l_orderkey AS BIGINT) AS k,
               |       CAST(l_quantity AS BIGINT) AS qty, l_returnflag AS rf
               |FROM parquet.`$dir/lineitem.parquet`""".stripMargin)
          val meta1 = t("writeTable")(IcebergExport.writeTable(s, tdf, s"$tmp/t",
            partitionBy = Seq("rf")))
          val meta2 = t("appendDeletes N")(IcebergExport.appendDeletes(s, meta1,
            equality = Some(tdf.filter(col("k") % 7 === 0)
              .select(col("k")).distinct()),
            equalityPartition = Some(Seq("N"))))
          val meta3 = t("appendDeletes A")(IcebergExport.appendDeletes(s, meta2,
            equality = Some(tdf.filter(col("k") % 11 === 0)
              .select(col("k")).distinct()),
            equalityPartition = Some(Seq("A"))))
          t("ns+register") {
            s.sql(s"CREATE NAMESPACE $cat.db")
            hc.registerTable(TableRef.parse("db.scoped_mor"), meta3)
          }
          val q1 = t("plan sqlFace")(s.sql(
            s"""SELECT 'all' AS phase, rf, COUNT(*) AS cnt,
               |       SUM(k) AS k_sum, SUM(qty) AS qty_sum
               |FROM $cat.db.scoped_mor GROUP BY rf""".stripMargin))
          val q2 = t("plan pruned")(s.sql(
            s"""SELECT 'flt' AS phase, rf, COUNT(*) AS cnt,
               |       SUM(k) AS k_sum, SUM(qty) AS qty_sum
               |FROM $cat.db.scoped_mor WHERE rf = 'N' GROUP BY rf""".stripMargin))
          val q3 = t("plan dfFace")(CatalogIO.scanMetadataLocation(s, meta3)
            .groupBy(col("rf"))
            .agg(org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.lit(1)).as("cnt"),
              org.apache.spark.sql.functions.sum(col("k")).as("k_sum"),
              org.apache.spark.sql.functions.sum(col("qty")).as("qty_sum"))
            .select(org.apache.spark.sql.functions.lit("df").as("phase"),
              col("rf"), col("cnt"), col("k_sum"), col("qty_sum")))
          t("collect all three")(
            q1.unionByName(q2).unionByName(q3).collect())
        } finally graft.sources.TempCatalog.deleteRecursively(tmp)
      }
    }
  }

  private def q48(s: SparkSession, dir: String): Unit = {
    timed(s, "q48 full")(graft.queries.Relational.q48(s, dir))
    val li = graft.Tables(s, dir, "lineitem")
    timed(s, "q48 bare scan qty/price/rf")(
      li.select("l_returnflag", "l_quantity", "l_extendedprice"))
    timed(s, "q48 double sums")(
      li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("double")).as("sx"),
          sum(col("l_extendedprice").cast("double")).as("sy")))
  }
}
