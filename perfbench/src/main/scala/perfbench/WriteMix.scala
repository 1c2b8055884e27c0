package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.catalog.{CatalogIO, HadoopFsCatalog, TableRef}
import graft.sources.{MergeOps, TempCatalog}

/** `write_mix`: writes beside reads on one table. Set-up builds a keyed
  * lineitem table from the generated parquet in a `TempCatalog`
  * warehouse (CTAS). Each pass starts from a fresh copy and runs
  * `Rounds` rounds of four steps: INSERT a batch of new rows, a
  * merge-on-read delete of `Keys` live keys
  * (`MergeOps.deleteMatchedMergeOnRead`), a copy-on-write `MERGE INTO`
  * updating `Keys` other live keys, and a grouped-aggregate read. Delete
  * files and versions pile up over the rounds. The benchmark keeps its
  * own model of the live rows, and every read must equal the aggregate
  * the model implies. */
object WriteMix {
  val Rounds = 5
  val WarmRounds = 2
  val Batch = 1000
  val Keys = 150
  val Steps = Seq("append", "delete", "merge", "read")

  private val Flags = Array("A", "N", "R")

  /** The live rows as the benchmark's own bookkeeping sees them:
    * key → (l_returnflag, l_quantity). */
  final class Model(val rows: mutable.LinkedHashMap[Long, (String, Long)]) {
    def expected: Map[String, (Long, Long, Long)] =
      rows.toSeq.groupBy(_._2._1).map { case (f, rs) =>
        f -> (rs.size.toLong, rs.map(_._1).sum, rs.map(_._2._2).sum)
      }
  }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType)))

  private val Select =
    """CAST(row_number() OVER (ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber,
      |  l_extendedprice, l_shipdate, l_quantity) - 1 AS BIGINT) AS k,
      |l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
      |l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate""".stripMargin

  def run(ctx: Main.Ctx, res: Main.Result): Unit = {
    val spark = ctx.spark
    val src = s"parquet.`${ctx.data}/lineitem.parquet`"
    TempCatalog.withTempHandles(spark, "perfbench-write") { (cat, hc) =>
      val wh = Paths.get(java.net.URI.create(
        new org.apache.hadoop.fs.Path(spark.conf.get(s"spark.sql.catalog.$cat.warehouse"))
          .makeQualified(java.net.URI.create("file:///"), null).toUri.toString))
      spark.sql(s"CREATE NAMESPACE $cat.db")
      // set-up: build the keyed table from the generated parquet
      (0 until 3).foreach { i =>
        res.setupS += Main.time(
          spark.sql(s"CREATE TABLE $cat.db.base$i USING parquet AS SELECT $Select FROM $src"))._2
      }
      val baseModel = {
        val m = mutable.LinkedHashMap.empty[Long, (String, Long)]
        spark.table(s"$cat.db.base2").select("k", "l_returnflag", "l_quantity").collect()
          .foreach(r => m(r.getLong(0)) = (r.getString(1), r.getDouble(2).toLong))
        new Model(m)
      }

      val rnd = new scala.util.Random(ctx.seed)
      val probe = if (ctx.trace) Some(new SparkProbe(spark)) else None
      val stats = new Stats
      // warm-up episode: not timed, not counted
      episode(ctx, cat, hc, wh, "warm", new Model(baseModel.rows.clone()), rnd, null, stats,
        WarmRounds)
      // one pass per round: a burst of load on the box then moves the
      // median round, not every figure of the run
      Main.measure(ctx, res, min = 1, probe) { i =>
        episode(ctx, cat, hc, wh, s"e$i", new Model(baseModel.rows.clone()),
          rnd, res, stats, Rounds).grouped(Steps.size)
          .map(ops => Main.Pass(ops.map(_.seconds).sum, ops)).toSeq
      }
      probe.foreach(p => stats.report(res, p, math.max(1, res.tracedPasses.size)))
    }
  }

  /** Per-step counters gathered while tracing, summed over episodes. */
  final class Stats {
    val filesWritten = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val bytesWritten = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val changedBytes = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var filesScanned = 0L
    var bytesScanned = 0L
    var scanLiveBytes = 0L
    var dataFiles = 0L
    var deleteFiles = 0L
    var metadataBytes = 0L
    var commits = 0L
    var spaceAmp = 0.0
    var episodes = 0

    def report(res: Main.Result, p: SparkProbe, passes: Int): Unit = {
      val reqs = Trace.allRequests
      for (step <- Steps) {
        val rs = reqs.filter(_.kind == s"write.$step")
        val aggs = rs.map(r => r -> p.agg(r))
        val prefix = s"sources.$step"
        res.layer(s"$prefix.jobs") = aggs.map(_._2.jobs).sum.toDouble / passes
        res.layer(s"$prefix.stage_s") = aggs.map(_._2.stageS).sum / passes
        res.layer(s"$prefix.gap_s") =
          aggs.map { case (r, a) => (r.endMs - r.startMs) / 1e3 - a.stageUnionS }.sum / passes
        if (step == "read") {
          res.layer(s"$prefix.files_scanned") = filesScanned.toDouble / passes
          res.layer(s"$prefix.mb_scanned") = bytesScanned / 1e6 / passes
          res.layer(s"$prefix.scan_amp") =
            if (scanLiveBytes == 0) 0.0 else bytesScanned.toDouble / scanLiveBytes
        } else {
          res.layer(s"$prefix.files_written") = filesWritten(step).toDouble / passes
          res.layer(s"$prefix.mb_written") = bytesWritten(step) / 1e6 / passes
          res.layer(s"$prefix.write_amp") =
            if (changedBytes(step) == 0) 0.0 else bytesWritten(step).toDouble / changedBytes(step)
        }
      }
      val n = math.max(1, episodes).toDouble
      res.layer("sources.table.data_files") = dataFiles / n
      res.layer("sources.table.delete_files") = deleteFiles / n
      res.layer("sources.table.space_amp") = spaceAmp / n
      res.layer("catalog.commit.metadata_kb") =
        if (commits == 0) 0.0 else metadataBytes / 1e3 / commits
    }
  }

  private def episode(ctx: Main.Ctx, cat: String, hc: HadoopFsCatalog, wh: Path, tag: String,
      model: Model, rnd: scala.util.Random, res: Main.Result, stats: Stats,
      rounds: Int): Seq[Main.Op] = {
    val spark = ctx.spark
    val table = s"$cat.db.$tag"
    val ref = TableRef.parse(s"db.$tag")
    val tableDir = wh.resolve("db").resolve(tag)
    spark.sql(s"CREATE TABLE $table USING parquet AS SELECT * FROM $cat.db.base2")
    var nextKey = model.rows.keys.max + 1
    val ops = mutable.ArrayBuffer.empty[Main.Op]
    val scratch = ctx.work.resolve("write_scratch")
    val traced = Trace.on

    def step(kind: String, round: Int)(body: => Unit): Unit = {
      val req = s"$tag:r$round:$kind"
      val before = if (traced) listFiles(tableDir) else Map.empty[String, Long]
      if (traced) spark.sparkContext.setJobGroup(req, req)
      val t0 = System.nanoTime()
      try Trace.request(s"write.$kind", req)(body)
      catch { case e: Exception =>
        if (res != null) res.fail(s"$req: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally if (traced) spark.sparkContext.clearJobGroup()
      ops += Main.Op(kind, (System.nanoTime() - t0) / 1e9)
      if (res != null) res.attempted += 1
      if (traced && kind != "read") {
        val added = listFiles(tableDir) -- before.keys
        stats.filesWritten(kind) += added.size
        stats.bytesWritten(kind) += added.values.sum
      }
    }
    def parquetBytes(df: DataFrame): Long = {
      val out = scratch.resolve(s"sz${System.nanoTime()}")
      df.coalesce(1).write.parquet(out.toString)
      val b = Main.dirBytes(out)._2
      Main.rmTree(out)
      b
    }

    (0 until rounds).foreach { round =>
      // 1. append a batch of new rows
      val batch = (0 until Batch).map { _ =>
        val k = nextKey; nextKey += 1
        val flag = Flags(rnd.nextInt(3))
        val qty = 1 + rnd.nextInt(50)
        model.rows(k) = (flag, qty.toLong)
        Row(k, rnd.nextInt(150000).toLong, rnd.nextInt(20000).toLong, rnd.nextInt(1000).toLong,
          1 + rnd.nextInt(7), qty.toDouble, math.round(rnd.nextDouble() * 10400000 + 90000) / 100.0,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, flag, if (rnd.nextBoolean()) "F" else "O",
          new java.sql.Timestamp(788918400000L + rnd.nextInt(2500) * 86400000L))
      }
      val batchDf = spark.createDataFrame(spark.sparkContext.parallelize(batch, 1), schema)
      batchDf.createOrReplaceTempView("perfbench_batch")
      if (traced) stats.changedBytes("append") += parquetBytes(batchDf)
      step("append", round) { spark.sql(s"INSERT INTO $table SELECT * FROM perfbench_batch") }

      // 2. merge-on-read delete of Keys live keys
      val live = model.rows.keys.toIndexedSeq
      val delKeys = rnd.shuffle(live).take(Keys)
      delKeys.foreach(model.rows.remove)
      val delDf = spark.createDataFrame(spark.sparkContext.parallelize(delKeys.map(Row(_)), 1),
        StructType(Seq(StructField("k", LongType))))
      if (traced) stats.changedBytes("delete") +=
        parquetBytes(spark.table(table).join(delDf, "k"))
      step("delete", round) { MergeOps.deleteMatchedMergeOnRead(spark, hc, ref, delDf, Seq("k")) }

      // 3. copy-on-write MERGE INTO updating Keys other live keys
      val updKeys = rnd.shuffle(model.rows.keys.toIndexedSeq).take(Keys)
      val upd = updKeys.map { k =>
        val flag = Flags(rnd.nextInt(3)); val qty = 1 + rnd.nextInt(50)
        model.rows(k) = (flag, qty.toLong)
        Row(k, flag, qty.toDouble)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(upd, 1), StructType(Seq(
        StructField("k", LongType), StructField("l_returnflag", StringType),
        StructField("l_quantity", DoubleType)))).createOrReplaceTempView("perfbench_upd")
      if (traced) stats.changedBytes("merge") +=
        parquetBytes(spark.table(table).join(spark.table("perfbench_upd").select("k"), "k"))
      step("merge", round) {
        spark.sql(
          s"""MERGE INTO $table t USING perfbench_upd s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET t.l_returnflag = s.l_returnflag,
             |  t.l_quantity = s.l_quantity""".stripMargin)
      }

      // 4. grouped-aggregate read, checked against the model
      var got: Map[String, (Long, Long, Long)] = Map.empty
      step("read", round) {
        got = spark.sql(
          s"""SELECT l_returnflag, count(*), sum(k), sum(CAST(l_quantity AS BIGINT))
             |FROM $table GROUP BY l_returnflag""".stripMargin)
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      }
      val want = model.expected
      if (res != null && (got != want || (ctx.forceFail && round == 0)))
        res.fail(s"$tag round $round read: got $got, want $want".take(300))
      if (traced) {
        val (data, deletes, bytes) = liveFiles(hc, ref)
        stats.filesScanned += data + deletes
        stats.bytesScanned += bytes
      }
    }

    if (traced) {
      val (data, deletes, _) = liveFiles(hc, ref)
      stats.dataFiles += data
      stats.deleteFiles += deletes
      val liveBytes = parquetBytes(spark.table(table))
      stats.scanLiveBytes += liveBytes * rounds
      stats.spaceAmp += Main.dirBytes(tableDir)._2.toDouble / liveBytes
      val md = listFiles(tableDir.resolve("metadata"))
      stats.metadataBytes += md.values.sum
      stats.commits += md.keys.count(_.endsWith(".metadata.json"))
      stats.episodes += 1
    }
    spark.sql(s"DROP TABLE $table")
    ops.toSeq
  }

  /** Live data files, live delete files, and their bytes: what a full
    * read of the table opens. */
  private def liveFiles(hc: HadoopFsCatalog, ref: TableRef): (Long, Long, Long) = {
    val layout = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    val base = new org.apache.hadoop.fs.Path(layout.dataLocation)
    val data = layout.dataFiles.getOrElse(Nil)
    val paths = (data ++ layout.deleteFiles.map(_.path)).map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      if (p.isAbsolute) p else new org.apache.hadoop.fs.Path(base, f)
    }
    val conf = new org.apache.hadoop.conf.Configuration()
    val bytes = paths.map(p => p.getFileSystem(conf).getFileStatus(p).getLen).sum
    (data.size.toLong, layout.deleteFiles.size.toLong, bytes)
  }

  private def listFiles(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val st = Files.walk(dir)
      try {
        val m = mutable.HashMap.empty[String, Long]
        st.filter(Files.isRegularFile(_)).forEach(f => m(f.toString) = Files.size(f))
        m.toMap
      } finally st.close()
    }
}
