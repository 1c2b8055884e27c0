package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.CatalogIO.TableLayout

/** Name-mapping schema evolution through the DSv2 front door (round 9):
  * when a table's metadata carries un-materialized column renames,
  * [[GraftSparkCatalog.loadTable]] serves a [[GraftEpochTable]] whose
  * scans read each data file with the PHYSICAL column names its
  * manifest seq implies and serve the rows under the current names.
  *
  * The trick that keeps this cheap: a rename changes a column's NAME,
  * never its position or type, so every epoch's row layout is
  * position-identical to the current schema — rows (and whole columnar
  * batches) pass through untouched. The only per-epoch work is at PLAN
  * time: the pruned schema and the pushed filters are translated into
  * the epoch's physical names, one scan is built per epoch over that
  * epoch's manifest slice (the stock file scan, or the merge-on-read
  * scan while deletes are live), and the grouped composite
  * ([[GroupedScan]]) concatenates their partitions. Pushdown,
  * vectorized reading, and codegen are all Spark's own; at 100 TB a
  * rename stays a metadata-only commit and the scan stays one pass.
  *
  * Epoch count is bounded by the number of RENAME commits since the
  * last compaction (typically 1-2); compaction rewrites everything
  * under the current names and collapses the table back to a single
  * stock scan. */
final class GraftEpochTable(spark: SparkSession, tableName: String,
    layout: TableLayout, hadoopOpts: Map[String, String]) extends Table
  with SupportsRead {

  private val currentSchema: StructType = StructType.fromDDL(
    layout.schemaDdl.getOrElse(throw new IllegalStateException(
      s"renamed table $tableName has no recorded schema")))

  /** (current→physical lowercase name map, that epoch's segment-
    * relative files). Live deletes need the per-file seqs: they gate
    * which delete files apply to which data file. */
  private val epochs: Seq[(Map[String, String], Seq[String])] = {
    val files = layout.dataFiles.getOrElse(throw new IllegalStateException(
      s"renamed table $tableName has no file manifest"))
    val seqs = layout.dataFileSeqs.getOrElse(
      if (layout.deleteFiles.isEmpty) Seq.fill(files.size)(0)
      else throw new IllegalStateException(
        s"renamed merge-on-read table $tableName has no per-file seqs"))
    files.zip(seqs)
      .groupBy { case (_, s) => layout.physicalNamesAt(s) }
      .toSeq.sortBy(_._2.head._1)
      .map { case (m, fs) =>
        (m.map { case (k, v) => k.toLowerCase -> v }, fs.map(_._1))
      }
  }

  /** One table per epoch over that epoch's slice, under that epoch's
    * physical schema (current schema, names substituted — positions
    * and types identical; partition columns never rename, refused at
    * ALTER, so they keep their current names):
    *  - no live deletes: the file table ([[ReadRoute.fileTable]] —
    *    parquet/ORC manifest-planned when sizes allow, avro through the
    *    sync-split decoder, which resolves record fields BY NAME);
    *  - live deletes (renames + deletes composed, round 20): the
    *    merge-on-read table over the epoch SUB-LAYOUT — this epoch's
    *    files with their deletes and seqs in lockstep, the physical
    *    schema, no rename state — so the inner wrapper sees a plain
    *    delete-live table in physical name space. Sound because engine
    *    tables put renames and deletes in ONE seq space (commit
    *    versions: `physicalNamesAt` and the `fileSeq < deleteSeq` gate
    *    slice the same axis), and because ALTER RENAME refuses while
    *    deletes live, so every delete file's key columns carry CURRENT
    *    names, which the wrapper translates through the epoch's map
    *    (`keyNameMap`). Positional deletes and DVs are name-free and
    *    apply untranslated; eq-overflow spills per epoch over its
    *    sub-layout; avro epochs ride the counting-read avro MOR;
    *  - MIXED epochs: the per-epoch mixed composite, which picks the
    *    file or merge-on-read table per format group itself; formats
    *    dispatch per file inside it, names per epoch out here. */
  private val epochTables: Seq[(Map[String, String], Table with SupportsRead)] =
    epochs.map { case (m, rels) =>
      val physSchema = GroupedScan.renameSchema(currentSchema, m)
      val name = s"$tableName@epoch"
      val subLayout = layout.retainDataFiles(rels.toSet)
        .copy(schemaDdl = Some(physSchema.toDDL), renameOps = Nil)
      def files = ReadRoute.fileTable(name, layout, hadoopOpts,
        schema = Some(physSchema), files = Some(rels))
      val table: Table with SupportsRead =
        if (layout.dataFormat == "mixed")
          new GraftMixedFormatTable(spark, name, subLayout, hadoopOpts,
            keyNameMap = m)
        else if (layout.deleteFiles.isEmpty) files
        else if (layout.dataFormat == "avro")
          new GraftAvroMorTable(spark, name, subLayout, hadoopOpts,
            keyNameMap = m)
        else new GraftMorTable(files, subLayout, hadoopOpts, keyNameMap = m)
      (m, table)
    }

  override def name(): String = tableName
  override def schema(): StructType = currentSchema
  override def properties(): util.Map[String, String] = util.Collections.emptyMap()
  override def partitioning(): Array[Transform] = Array.empty
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  /** Epoch 0's physical → current column names: the scan serves epoch
    * 0's read schema under the current names. */
  private val currentNameOf: Map[String, String] = {
    val m = epochs.headOption.fold(Map.empty[String, String])(_._1)
    currentSchema.fields.flatMap(f =>
      m.get(f.name.toLowerCase).map(_ -> f.name)).toMap
  }

  // every filter is reported unhandled (re-evaluated above, over
  // current-named rows); the per-epoch pushdown still prunes
  // partitions, row groups, and pages
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FanOutScanBuilder(epochTables.map { case (m, t) =>
      (m, GroupedScan.pushDown(t.newScanBuilder(options), tableName))
    }, (scans, buildCounts) => new EpochScan(scans, currentNameOf)(buildCounts))
}

/** Concatenates the per-epoch scans. Rows and columnar batches pass
  * through untouched (position-identical layouts); readSchema maps
  * epoch 0's (pruned, physically-named) schema back to current names. */
private final class EpochScan(scans: Seq[Scan],
    currentNameOf: Map[String, String])(buildCounts: Seq[Option[(Int, Int)]])
  extends GroupedScan(scans.map(Some(_)))(buildCounts) {

  private val out: StructType = StructType(scans.head.readSchema().fields.map(f =>
    f.copy(name = currentNameOf.getOrElse(f.name, f.name))))

  override def readSchema(): StructType = out
  override def description(): String =
    s"graft-epochs(${scans.size}: ${scans.head.description()})"
}
