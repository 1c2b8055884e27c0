package graft.catalog

import java.nio.file.Files

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Export statistics: the footer fast path either decodes EVERY file or
  * the whole export falls back to the read-back scan — one file the
  * decode cannot use (a bound past its exactness edge, or bytes that
  * are not a parquet footer at all) stops the remaining decodes, and
  * the exported stats are exactly the scan path's. */
class ExportStatsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fixture(poisonRow: Option[Long]): (Path, org.apache.spark.sql.types.StructType) = {
    val dir = Files.createTempDirectory("graft-export-stats").toString + "/d"
    val long = "x" * 2000
    val df = spark.range(0, 600).selectExpr("id AS k",
      poisonRow.fold("CAST(id AS STRING) AS s")(p =>
        s"CASE WHEN id = $p THEN '$long' ELSE CAST(id AS STRING) END AS s"))
      .repartitionByRange(6, org.apache.spark.sql.functions.col("k"))
    df.write.parquet(dir)
    (new Path(dir), df.schema)
  }

  private def fieldIds(schema: org.apache.spark.sql.types.StructType) =
    schema.fields.toSeq.zipWithIndex.map { case (f, i) => (f, i + 1) }

  test("footer stats equal the scan path's when every footer decodes") {
    val (dataDir, schema) = fixture(None)
    val fs = dataDir.getFileSystem(spark.sessionState.newHadoopConf())
    val ids = fieldIds(schema)
    val footer = IcebergExport.footerExportStats(spark, fs, dataDir, ids)
    val scanned = IcebergExport.scanExportStats(spark, fs, schema, ids, ids,
      dataDir, "parquet", Nil)
    assert(scanned.size == 6)
    assert(footer.contains(scanned))
  }

  test("one undecodable footer among several files: the export falls " +
      "back and its stats equal the scan path's") {
    val (dataDir, schema) = fixture(Some(250L))
    val fs = dataDir.getFileSystem(spark.sessionState.newHadoopConf())
    val ids = fieldIds(schema)
    assert(IcebergExport.footerExportStats(spark, fs, dataDir, ids).isEmpty,
      "a 2000-byte string bound must defeat the footer path")
    val exported = IcebergExport.exportStats(spark, fs, schema, ids, ids,
      dataDir, "parquet", Nil)
    val scanned = IcebergExport.scanExportStats(spark, fs, schema, ids, ids,
      dataDir, "parquet", Nil)
    assert(scanned.size == 6)
    assert(exported == scanned)
  }

  test("a file that is not parquet at all: the footer path answers None " +
      "instead of throwing") {
    val (dataDir, schema) = fixture(None)
    val fs = dataDir.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new Path(dataDir, "part-corrupt.parquet"))
    try out.write("not a parquet footer".getBytes("UTF-8")) finally out.close()
    assert(IcebergExport.footerExportStats(spark, fs, dataDir,
      fieldIds(schema)).isEmpty)
  }
}
