package graft.catalog

import java.nio.file.Files

import graft.TestSpark
import graft.sources.{GroupPartition, MergeOps, TempCatalog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Every layout reads the same on every face (the pointer contract):
  * for each route [[graft.sources.ReadRoute.of]] serves, the DataFrame
  * face (`CatalogIO.readTable`), the SQL face (`spark.table`) and
  * `VERSION AS OF <current>` return the same rows, and the SQL face
  * plans the route's own scan with the route's columnar verdict. Where the DataFrame face is routed too,
  * both faces plan the SAME scan class; plain parquet/ORC layouts and
  * the parquet merge-on-read / rename join path stay V1 on purpose
  * (`FileSourceScanExec`). */
class RouteParitySpec extends AnyFunSuite {
  import RouteParitySpec.Route

  private lazy val spark = TestSpark.spark
  private def conf = spark.sessionState.newHadoopConf()

  private val ref = TableRef.parse("db.t")
  private def rows(n: Int, from: Int = 0): DataFrame =
    spark.range(from, from + n).selectExpr("id AS k",
      "CAST(id % 7 AS STRING) AS s").repartition(2)

  private def engine(hc: HadoopFsCatalog, df: DataFrame,
      bucketBy: Option[(Int, Seq[String])] = None): String = {
    CatalogIO.createTable(spark, hc, ref, df, bucketBy = bucketBy)
    hc.listTableVersions(ref).last.toString
  }

  private def iceberg(hc: HadoopFsCatalog, meta: String): String = {
    hc.registerTable(ref, meta)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(CatalogIO.readMetadataText(meta, conf))
      .path("current-snapshot-id").asLong.toString
  }

  private def icebergDir(): String =
    s"${Files.createTempDirectory("graft-route").toString}/t"

  private def eqDeletes(meta: String): String = {
    import spark.implicits._
    IcebergExport.appendDeletes(spark, meta,
      equality = Some(Seq(1L, 2L, 3L).toDF("k")))
  }

  private val routes = Seq(
    // the plain stack: a layout whose stats the pruning switch ignores
    Route("plain", "ParquetScan", columnar = true, dataFrameV1 = true,
      (_, hc) => engine(hc, rows(40)), Map("spark.graft.stats.pruning" -> "false")),
    Route("stats-pruned", "StatsPrunedScan", columnar = true,
      dataFrameV1 = true, (_, hc) => engine(hc, rows(40))),
    Route("bucketed", "BucketedScan", columnar = true, dataFrameV1 = true,
      (_, hc) => engine(hc, rows(40), bucketBy = Some((4, Seq("k"))))),
    Route("mor-parquet", "MorScan", columnar = true, dataFrameV1 = true,
      { (_, hc) =>
      engine(hc, rows(40))
      import spark.implicits._
      MergeOps.deleteMatchedMergeOnRead(spark, hc, ref,
        Seq(1L, 2L, 3L).toDF("k"), Seq("k"))
      hc.listTableVersions(ref).last.toString
    }),
    Route("mor-orc", "MorScan", columnar = true, dataFrameV1 = false,
      (_, hc) => iceberg(hc, eqDeletes(IcebergExport.writeTable(spark, rows(40),
        icebergDir(), fileFormat = "orc")))),
    Route("mor-avro", "AvroMorScan", columnar = false, dataFrameV1 = false,
      (_, hc) => iceberg(hc, eqDeletes(IcebergExport.writeTable(spark, rows(40),
        icebergDir(), fileFormat = "avro")))),
    Route("mor-mixed", "MixedScan", columnar = true, dataFrameV1 = false,
      { (_, hc) =>
      val base = IcebergExport.writeTable(spark, rows(40), icebergDir(),
        fileFormat = "orc")
      iceberg(hc, eqDeletes(
        IcebergExport.appendSnapshot(spark, rows(10, 100), base)))
    }),
    // identity-partitioned export: the files lack `s`, which serves as
    // a per-file constant fill
    Route("fills", "FillScan", columnar = true, dataFrameV1 = false,
      (_, hc) => iceberg(hc, IcebergExport.writeTable(spark, rows(40), icebergDir(),
        partitionBy = Seq("s")))),
    Route("epochs", "EpochScan", columnar = true, dataFrameV1 = true,
      { (cat, hc) =>
      engine(hc, rows(40))
      renameAndAppend(cat, hc)
    }),
    Route("epoch-mor", "EpochScan", columnar = true, dataFrameV1 = true,
      { (cat, hc) =>
      engine(hc, rows(40))
      renameAndAppend(cat, hc)
      import spark.implicits._
      MergeOps.deleteMatchedMergeOnRead(spark, hc, ref,
        Seq(1L, 2L, 101L).toDF("k"), Seq("k"))
      hc.listTableVersions(ref).last.toString
    }, epochInner = Some("MorFilePartition")),
    // a row-only avro group demotes the whole mixed scan to rows
    Route("mixed-avro", "MixedScan", columnar = false, dataFrameV1 = false,
      { (_, hc) =>
        val base = IcebergExport.writeTable(spark, rows(40), icebergDir())
        iceberg(hc, IcebergExport.appendSnapshot(spark, rows(10, 100), base,
          fileFormat = "avro"))
      }),
    Route("uuid", "UuidScan", columnar = false, dataFrameV1 = false,
      (_, hc) => iceberg(hc, UuidSpec.writeTable(conf, icebergDir(),
        """{"id": 1, "name": "u", "required": false, "type": "uuid"}"""))),
    Route("lineage", "AvroScan", columnar = false, dataFrameV1 = false,
      (_, hc) => iceberg(hc, IcebergExport.writeTable(spark, rows(40), icebergDir(),
        fileFormat = "avro", formatVersion = 3))))

  private def renameAndAppend(cat: String, hc: HadoopFsCatalog): String = {
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN s TO s2")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (100, 'x'), (101, 'y')")
    hc.listTableVersions(ref).last.toString
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.toSeq.map {
        case a: Array[Byte] => a.mkString(",")
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted

  private def batchScanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(s"no DSv2 scan in ${df.queryExecution.sparkPlan}"))

  /** The partition classes a grouped composite's groups plan. */
  private def groupInnerOf(df: DataFrame): Set[String] =
    batchScanOf(df).scan.toBatch.planInputPartitions().map {
      case g: GroupPartition => g.inner.getClass.getSimpleName
      case other => fail(s"not a grouped partition: $other")
    }.toSet

  private def scanOf(df: DataFrame): String =
    df.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec => b.scan.getClass.getSimpleName
      case _: FileSourceScanExec => "FileSourceScanExec"
    }.getOrElse(fail(s"no scan in ${df.queryExecution.sparkPlan}"))

  routes.foreach { r =>
    test(s"route parity: ${r.name} reads the same on the DataFrame face, " +
        "the SQL face and VERSION AS OF the current state") {
      r.confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try TempCatalog.withTempHandles(spark, "graft-route") { (cat, hc) =>
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
        val version = r.build(cat, hc)
        val dfFace = CatalogIO.readTable(spark, hc, ref)
        val sqlFace = spark.table(s"$cat.db.t")
        val history = spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF $version")
        val expected = sorted(sqlFace)
        assert(expected.nonEmpty, s"${r.name}: empty fixture")
        assert(sorted(dfFace) == expected, s"${r.name}: DataFrame face")
        assert(sorted(history) == expected, s"${r.name}: VERSION AS OF $version")
        assert(scanOf(sqlFace) == r.sqlScan, s"${r.name}: SQL face scan")
        assert(scanOf(history) == r.sqlScan, s"${r.name}: VERSION AS OF scan")
        assert(batchScanOf(sqlFace).supportsColumnar == r.columnar,
          s"${r.name}: SQL face columnar")
        assert(batchScanOf(history).supportsColumnar == r.columnar,
          s"${r.name}: VERSION AS OF columnar")
        r.epochInner.foreach(p => assert(groupInnerOf(sqlFace) == Set(p),
          s"${r.name}: every epoch plans $p"))
        val dfScan = scanOf(dfFace)
        if (r.dataFrameV1) assert(dfScan == "FileSourceScanExec",
          s"${r.name}: the DataFrame face stays V1")
        else assert(dfScan == r.sqlScan, s"${r.name}: both faces plan one scan")
      } finally r.confs.keys.foreach(spark.conf.unset)
    }
  }
}

object RouteParitySpec {
  /** One route fixture: builds its table as `db.t` in the temp catalog
    * and returns the `VERSION AS OF` literal of its current state;
    * `columnar` is the SQL face's expected `supportsColumnar`;
    * `epochInner`, when set, the partition class every rename epoch
    * plans; `confs` hold for the whole case. */
  private final case class Route(name: String, sqlScan: String,
      columnar: Boolean, dataFrameV1: Boolean,
      build: (String, HadoopFsCatalog) => String,
      confs: Map[String, String] = Map.empty,
      epochInner: Option[String] = None)
}
