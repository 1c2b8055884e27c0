package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The grouped composite: one table read as the union of per-group
  * scans (rename epochs, file formats, fill sets, a micro-batch's
  * (format, fill set) groups). Each group plans through its own stock
  * scan; the composite tags every planned partition with its group
  * index ([[GroupPartition]]), and one factory ([[GroupReaderFactory]])
  * sends each partition back to its group's factory. */
private[graft] final case class GroupPartition(group: Int,
    inner: InputPartition) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Dispatches each [[GroupPartition]] to its group's factory.
  * `columnar` is the scan's one verdict: Spark refuses a scan whose
  * partitions mix row-based and columnar readers, so the composite is
  * columnar only when every planned partition's own factory vectorizes
  * (e.g. parquet + ORC groups); one row-only group (avro, the uuid
  * conversion) demotes the whole scan to rows, which every group's
  * factory also serves. */
private[graft] final class GroupReaderFactory(
    groups: Array[PartitionReaderFactory], columnar: Boolean)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val g = p.asInstanceOf[GroupPartition]
    groups(g.group).createReader(g.inner)
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val g = p.asInstanceOf[GroupPartition]
    groups(g.group).createColumnarReader(g.inner)
  }

  override def supportColumnarReads(p: InputPartition): Boolean = columnar
}

private[graft] object GroupReaderFactory {
  /** Tags each group's planned partitions with the group's index and
    * builds the dispatching factory with its columnar verdict. A group
    * that plans no partitions may carry a null factory. */
  def plan(groups: Seq[(Array[InputPartition], PartitionReaderFactory)])
      : (Array[InputPartition], GroupReaderFactory) = {
    val parts = groups.zipWithIndex.flatMap { case ((ps, _), i) =>
      ps.map(p => GroupPartition(i, p): InputPartition)
    }.toArray
    val columnar = groups.forall { case (ps, f) =>
      ps.forall(f.supportColumnarReads) }
    (parts, new GroupReaderFactory(groups.map(_._2).toArray, columnar))
  }
}

/** The concatenating scan over per-group scans. `groups` holds each
  * group's built scan, `None` for a group proven empty at plan time
  * (it plans no partitions); `buildCounts` the pruning telemetry each
  * group recorded at BUILD time (the avro builder). Planning records
  * ONE aggregated (skipped, total) for the whole table: each group's
  * plan-time count (stats-pruned file scans), else its build-time one,
  * plus [[prunedFiles]] for every empty group. The second parameter
  * list keeps scan equality (exchange reuse) on the scans alone.
  * Subclasses supply the read schema and description, and may wrap a
  * group's factory. */
private[sources] abstract class GroupedScan(groups: Seq[Option[Scan]])(
    buildCounts: Seq[Option[(Int, Int)]]) extends Scan with Batch {

  /** Files of an empty group, counted as skipped. */
  protected def prunedFiles(group: Int): Int = 0

  /** The reader factory serving `group`'s partitions. */
  protected def groupFactory(group: Int, scan: Scan): PartitionReaderFactory =
    scan.toBatch.createReaderFactory()

  override def toBatch: Batch = this
  // the factory answers one verdict for every partition
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.PARTITION_DEFINED

  /** What scan equality compares, besides the class. */
  protected def identity: Any = groups

  override def equals(other: Any): Boolean = other match {
    case g: GroupedScan => g.getClass == getClass && g.identity == identity
    case _ => false
  }
  override def hashCode(): Int = identity.hashCode()

  private lazy val planned: (Array[InputPartition], GroupReaderFactory) = {
    val perGroup = groups.zipWithIndex.map {
      case (Some(s), i) =>
        val (ps, c) = StatsPruning.collectPlanned(
          s.toBatch.planInputPartitions())
        ((ps, groupFactory(i, s)), c.orElse(buildCounts(i)))
      case (None, i) =>
        ((Array.empty[InputPartition], null), Some((prunedFiles(i), prunedFiles(i))))
    }
    val counted = perGroup.flatMap(_._2)
    if (counted.nonEmpty)
      StatsPruning.recordPlan(counted.map(_._1).sum, counted.map(_._2).sum,
        description())
    GroupReaderFactory.plan(perGroup.map(_._1))
  }

  override def planInputPartitions(): Array[InputPartition] = planned._1
  override def createReaderFactory(): PartitionReaderFactory = planned._2
}

private[sources] object GroupedScan {
  /** A builder taking column pruning and catalyst filter pushdown — the
    * seam every group's builder offers. */
  type PushDownBuilder = ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters

  def pushDown(b: ScanBuilder, table: String): PushDownBuilder = b match {
    case p: SupportsPushDownRequiredColumns with SupportsPushDownCatalystFilters => p
    case other => throw new IllegalStateException(
      s"$table: a group builder needs column pruning and filter pushdown, " +
        s"got ${other.getClass.getName}")
  }

  /** `s` with each field renamed through `names` (current → physical,
    * lowercase keys). */
  def renameSchema(s: StructType, names: Map[String, String]): StructType =
    StructType(s.fields.map(f =>
      f.copy(name = names.getOrElse(f.name.toLowerCase, f.name))))
}

/** Fans pruning and filter pushdown out to every group's builder,
  * translated through the group's current → physical name map
  * (lowercase keys; empty where files carry the current names). Every
  * filter is reported back unhandled, so Spark re-checks them above the
  * union (each group may push a different subset — parquet pushes
  * row-group predicates, avro nothing). `scanOf` receives the groups'
  * scans and their build-time telemetry. */
private[sources] final class FanOutScanBuilder(
    builders: Seq[(Map[String, String], GroupedScan.PushDownBuilder)],
    scanOf: (Seq[Scan], Seq[Option[(Int, Int)]]) => Scan)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownCatalystFilters {

  private def renameExpr(e: Expression, m: Map[String, String]): Expression =
    e.transform {
      case a: AttributeReference if m.contains(a.name.toLowerCase) =>
        a.withName(m(a.name.toLowerCase))
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    builders.foreach { case (m, b) =>
      b.pruneColumns(GroupedScan.renameSchema(requiredSchema, m)) }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    builders.foreach { case (m, b) => b.pushFilters(filters.map(renameExpr(_, m))) }
    filters
  }

  override def pushedFilters: Array[Predicate] =
    builders.headOption.map(_._2.pushedFilters).getOrElse(Array.empty)

  // the avro builder records its pruning telemetry at BUILD time; a
  // thread-local frame captures it per group for the scan to aggregate
  override def build(): Scan = {
    val built = builders.map { case (_, b) => StatsPruning.collectPlanned(b.build()) }
    scanOf(built.map(_._1), built.map(_._2))
  }
}
