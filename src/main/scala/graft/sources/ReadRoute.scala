package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.orc.OrcTable
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.CatalogIO.TableLayout

/** The one read router: which DSv2 table serves a [[TableLayout]].
  *
  * Every face that reads a layout through DSv2 asks here — the SQL face
  * ([[GraftSparkCatalog]]'s `loadTable`, current and `VERSION AS OF`),
  * the DataFrame face ([[graft.catalog.CatalogIO]]'s non-V1 shapes,
  * planned through [[org.apache.spark.sql.GraftFrames]]), and the
  * composite tables, whose per-group / per-epoch tables come from
  * [[fileTable]]. The read kill-switches are read here and nowhere
  * else. */
object ReadRoute {

  private def switchOn(key: String): Boolean =
    SparkSession.active.conf.getOption(key).forall(_ == "true")

  /** `spark.graft.manifest.planning` (default on): plan file tables from
    * the manifest's recorded sizes ([[ManifestFileIndex]] — zero
    * listing calls) instead of Spark's listing-backed tables. */
  def manifestPlanning: Boolean = switchOn("spark.graft.manifest.planning")

  /** `spark.graft.stats.pruning` (default on): manifest-stats file
    * skipping ([[StatsPruning]], the avro envelope test). */
  def statsPruning: Boolean = switchOn("spark.graft.stats.pruning")

  /** `spark.graft.ndv.enabled` (default on): NDV sketches feed CBO. */
  def ndvEnabled: Boolean = switchOn("spark.graft.ndv.enabled")

  /** `spark.graft.mor.maxDeleteTuples` (default 4,000,000): the delete
    * tuple count a merge-on-read read broadcasts or holds on the driver;
    * past it the DSv2 scans degrade or refuse and the join faces
    * shuffle. */
  def maxDeleteTuples(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.mor.maxDeleteTuples")
      .map(_.toLong).getOrElse(4000000L)

  /** The only place a base file table is built: `files` (segment-
    * relative, default all) of `layout`, read as `format` (default the
    * layout's) under `schema` (default the recorded one). Avro files get
    * the engine's sync-split [[GraftAvroTable]]; parquet/ORC get the
    * manifest-planned table when planning is on and sizes are complete,
    * else Spark's listing `ParquetTable`/`OrcTable` — with `basePath`
    * unless the layout suppresses it. */
  def fileTable(name: String, layout: TableLayout, opts: Map[String, String],
      schema: Option[StructType] = None, files: Option[Seq[String]] = None,
      format: Option[String] = None): Table with SupportsRead = {
    val spark = SparkSession.active
    val fmt = format.getOrElse(layout.dataFormat)
    val readSchema = schema.orElse(layout.schemaDdl.map(StructType.fromDDL))
    val keep: String => Boolean = files.fold((_: String) => true)(_.toSet)
    def absOf(rel: String): String = new Path(layout.dataLocation, rel).toString
    fmt match {
      case "avro" =>
        // the complete-sizes contract: a -1 entry would make a slice's
        // pastSync fire immediately — silent row loss
        val sizes = layout.dataFileSizes.filter(_.forall(_ >= 0))
          .getOrElse(throw new IllegalStateException(
            s"avro table $name has no complete file-size manifest"))
        val sized = layout.dataFiles.getOrElse(Nil).zip(sizes)
          .collect { case (rel, n) if keep(rel) => absOf(rel) -> n }
        val stats =
          if (!statsPruning) Map.empty[String, String]
          else layout.dataFiles.getOrElse(Nil)
            .zip(layout.dataFileStats.getOrElse(Nil))
            .collect { case (rel, s) if s.nonEmpty && keep(rel) => absOf(rel) -> s }
            .toMap
        val s = readSchema.getOrElse(throw new IllegalStateException(
          s"avro table $name has no recorded schema"))
        new GraftAvroTable(spark, name,
          StructType(s.fields.map(_.copy(nullable = true))), sized, stats, opts)
      case "parquet" | "orc" =>
        val manifest =
          if (!manifestPlanning) None
          else ManifestFileIndex.tableFor(name, spark, opts, layout,
            schemaOverride = schema, fileSubset = files, formatOverride = format)
        manifest.getOrElse {
          val paths = files.map(_.map(absOf))
            .orElse(layout.absoluteDataFiles).getOrElse(Seq(layout.dataLocation))
          val basePath =
            if (layout.dataFiles.exists(_.nonEmpty) && !layout.suppressBasePath)
              Map("basePath" -> layout.dataLocation)
            else Map.empty[String, String]
          val o = new CaseInsensitiveStringMap((opts ++ basePath).asJava)
          if (fmt == "orc")
            OrcTable(name, spark, o, paths, readSchema, classOf[OrcFileFormat])
          else
            ParquetTable(name, spark, o, paths, readSchema, classOf[ParquetFileFormat])
        }
      case other => throw new IllegalStateException(
        s"$name: no file table serves $other data files")
    }
  }

  /** The only routing tree. Order matters: the uuid conversion seam
    * wraps everything below it (uuid + fills with no deletes rides the
    * fill route, whose groups wrap themselves in the seam); rename
    * epochs come next because every other route would mis-serve
    * pre-rename files' names (the epoch table applies live deletes per
    * epoch); then live deletes, because a scan must APPLY them (and the
    * MOR wrappers inject fills below their probes); then fills, the
    * mixed and avro formats, and the plain parquet/ORC stack. `serve`
    * decorates the read table before the v3 lineage wrap (the catalog's
    * write face). */
  def of(name: String, layout: TableLayout, opts: Map[String, String],
      serve: Table with SupportsRead => Table with SupportsRead = identity)
      : Table with SupportsRead = {
    val spark = SparkSession.active
    val read: Table with SupportsRead =
      if (layout.uuidColumns.nonEmpty &&
          (layout.deleteFiles.nonEmpty || !layout.hasFills))
        new GraftUuidTable(spark, name, layout, opts)
      // fills never coexist with renames (layout invariant); avro and
      // mixed epochs dispatch per format inside
      else if (layout.renameOps.nonEmpty &&
          (layout.deleteFiles.nonEmpty || layout.dataFiles.exists(_.nonEmpty) ||
            layout.dataFormat == "avro" || layout.dataFormat == "mixed"))
        new GraftEpochTable(spark, name, layout, opts)
      else if (layout.deleteFiles.nonEmpty) {
        if (layout.dataFormat == "mixed")
          new GraftMixedFormatTable(spark, name, layout, opts)
        else if (layout.dataFormat == "avro")
          new GraftAvroMorTable(spark, name, layout, opts)
        // correctness over SPJ: compaction materializes the deletes
        // away and restores the bucketed route
        else new GraftMorTable(fileTable(name, layout, opts), layout, opts)
      }
      // the fill table groups files by (fill set, format), so mixed and
      // avro fill layouts ride it too
      else if (layout.hasFills) new GraftFillTable(spark, name, layout, opts)
      else if (layout.dataFormat == "mixed")
        new GraftMixedFormatTable(spark, name, layout, opts)
      else if (layout.dataFormat == "avro") fileTable(name, layout, opts)
      else layout.numBuckets match {
        // flat bucketed layouts report a bucket transform (storage-
        // partitioned joins); directory-partitioned ones mix partition
        // dirs and bucket ids in a file group, so they take the plain
        // stack. The bucketed route skips only manifest-answered
        // aggregates, which the plain StatsPrunedTable serves.
        case Some(n) if layout.partitionColumns.isEmpty =>
          new GraftBucketedTable(fileTable(name, layout, opts), n,
            layout.bucketColumns, statsByPath(layout))
        case _ =>
          val base = fileTable(name, layout, opts)
          val stats = statsByPath(layout)
          if (stats.isEmpty) base
          else new StatsPrunedTable(base, stats,
            layout.dataFiles.map(_.size).getOrElse(-1), ndvByPath(layout))
      }
    val served = serve(read)
    // v3 lineage columns (`_row_id`, `_last_updated_sequence_number`)
    // are snapshot-scoped metadata columns; queries not naming them
    // plan through `served` unchanged
    if (layout.dataFileLineage.isDefined)
      new GraftLineageTable(served, spark, name, layout, opts)
    else served
  }

  /** [[fileTable]] for one group of files, with the group's manifest
    * stats skipping files. Aggregates are never answered from one
    * group's manifest slice (`totalDataFiles = -1`); avro groups prune
    * inside their own builder. */
  def groupTable(name: String, layout: TableLayout, opts: Map[String, String],
      schema: StructType, files: Seq[String], format: String)
      : Table with SupportsRead = {
    val table = fileTable(name, layout, opts, Some(schema), Some(files),
      Some(format))
    val stats = if (format == "avro") Map.empty[String, String]
      else statsByPath(layout, Some(files))
    if (stats.isEmpty) table
    else new StatsPrunedTable(table, stats, totalDataFiles = -1)
  }

  /** Non-empty per-file manifest stats of `files` (default all) keyed by
    * URI path, the spelling [[StatsPrunedTable]] and
    * [[GraftBucketedTable]] compare; empty when pruning is off. */
  private def statsByPath(layout: TableLayout,
      files: Option[Seq[String]] = None): Map[String, String] =
    if (!statsPruning) Map.empty
    else perFile(layout, layout.dataFileStats, files)

  /** Per-file NDV sketches keyed by URI path; empty when off. */
  private def ndvByPath(layout: TableLayout): Map[String, String] =
    if (!ndvEnabled) Map.empty
    else perFile(layout, layout.dataFileNdv, None)

  private def perFile(layout: TableLayout, values: Option[Seq[String]],
      files: Option[Seq[String]]): Map[String, String] = {
    val keep: String => Boolean = files.fold((_: String) => true)(_.toSet)
    layout.dataFiles.zip(values).toSeq.flatMap { case (fs, vs) => fs.zip(vs) }
      .collect { case (rel, v) if v.nonEmpty && keep(rel) =>
        new Path(layout.dataLocation, rel).toUri.getPath -> v }
      .toMap
  }
}
