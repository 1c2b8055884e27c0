package graft.catalog

import scala.collection.mutable
import scala.util.control.NonFatal
import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

/** The migration engine — same three public operations as the reference
  * library API (SURVEY §3.3; reference CatalogMigrator.java):
  *
  *   - [[getMatchingTableIdentifiers]]: recursive namespace scan →
  *     table-listing flatMap (tolerant of empty-namespace failures) →
  *     regex filter → first-seen-order dedup.
  *   - [[registerTable]]: per-table effectful map with fail-soft
  *     semantics — register, then optionally delete at source; every
  *     failure lands in the tri-list result, never as an exception.
  *   - [[result]]: freeze the tri-list; clears namespace memoization but
  *     NOT the accumulated outcomes (reference CatalogMigrator.java:174-177).
  *
  * Where the reference loops one thread over the work-list
  * (BaseRegisterCommand.java:158-169), [[registerTables]] distributes it:
  * the work-list becomes a Dataset, registration runs in `mapPartitions`
  * with per-partition catalog clients, and outcomes come back as data in
  * input order. Namespace creation stays idempotent (create + swallow
  * AlreadyExists, CatalogMigrator.java:186-192) so concurrent partitions
  * never conflict.
  */
final class CatalogMigrator(
    val sourceConfig: CatalogConfig,
    val targetConfig: CatalogConfig,
    val deleteEntriesFromSourceCatalog: Boolean,
    val enableStacktrace: Boolean = false) {

  import CatalogMigrator._

  private var sourceBuilt = false
  private var targetBuilt = false
  private[catalog] lazy val sourceCatalog: Catalog = {
    val c = CatalogFactory.build(sourceConfig); sourceBuilt = true; c
  }
  private[catalog] lazy val targetCatalog: Catalog = {
    val c = CatalogFactory.build(targetConfig); targetBuilt = true; c
  }

  // Guard on the lazy sourceCatalog (built anyway for listing/registration)
  // rather than a throwaway instance that would never be closed. When the
  // guard rejects, the caller never receives an instance to close(), so
  // close the just-built client before throwing.
  if (deleteEntriesFromSourceCatalog && sourceCatalog.dropDestroysData) {
    sourceCatalog.close()
    throw new UnsupportedOperationException(
      "Source catalog is a Hadoop catalog and it doesn't support deleting the table entries " +
        "just from the catalog. Please configure `deleteEntriesFromSourceCatalog` as `false`")
  }

  /** Close whichever driver-side catalog clients were actually built.
    * Executor-side clients (registerTables' mapPartitions) close
    * themselves per partition. */
  def close(): Unit = {
    if (sourceBuilt) sourceCatalog.close()
    if (targetBuilt) targetCatalog.close()
  }

  private val registered = mutable.ListBuffer.empty[TableRef]
  private val failedToRegister = mutable.ListBuffer.empty[TableRef]
  private val failedToDelete = mutable.ListBuffer.empty[TableRef]
  private val processedNamespaces = mutable.HashSet.empty[Namespace]

  /** R1–R5: namespace DFS → listTables flatMap → regex filter → ordered
    * dedup. Driver-side: catalog RPCs are not distributable, and the
    * namespace tree is metadata-sized. */
  def getMatchingTableIdentifiers(identifierRegex: Option[String]): Seq[TableRef] = {
    log.info("Collecting all the namespaces from source catalog...")
    val namespaces = mutable.LinkedHashSet.empty[Namespace]
    collectNamespaces(sourceCatalog, Namespace.empty, namespaces)

    val matches: TableRef => Boolean = identifierRegex match {
      case None =>
        log.info("Collecting all the tables from all the namespaces of source catalog...")
        _ => true
      case Some(re) =>
        log.info("Collecting all the tables from all the namespaces of source catalog" +
          s" which matches the regex pattern:$re")
        val p = new Regex(re).pattern
        ref => p.matcher(ref.toString).matches()
    }

    val out = mutable.LinkedHashSet.empty[TableRef]
    namespaces.foreach { ns =>
      val tables =
        try sourceCatalog.listTables(ns).filter(matches)
        catch {
          case e @ (_: IllegalArgumentException | _: NoSuchNamespaceException)
              if ns.isEmpty =>
            // some catalogs don't support the empty namespace
            log.warn(s"Failed to identify tables from empty namespace : ${e.getMessage}")
            Seq.empty
        }
      out ++= tables
    }
    out.toSeq
  }

  /** Serial single-table registration (reference API parity). */
  def registerTable(ref: TableRef): this.type = {
    require(ref != null, "Identifier is null")
    applyOutcome(ref,
      attempt(sourceCatalog, targetCatalog, processedNamespaces, ref,
        deleteEntriesFromSourceCatalog, enableStacktrace, 0L))
    this
  }

  /** Distributed registration of a work-list: `mapPartitions` with
    * per-partition catalog clients; outcomes are rows, input order is
    * preserved via an explicit sequence column (first-seen-order reports,
    * R5). */
  def registerTables(spark: SparkSession, refs: Seq[TableRef]): this.type = {
    if (refs.isEmpty) return this
    import spark.implicits._
    val srcCfg = sourceConfig
    val tgtCfg = targetConfig
    val delete = deleteEntriesFromSourceCatalog
    val stacktrace = enableStacktrace
    val parallelism = math.min(spark.sparkContext.defaultParallelism, refs.size)
    val outcomes = spark
      .createDataset(refs.zipWithIndex.map { case (r, i) => (r.toString, i.toLong) })
      .repartition(parallelism)
      .mapPartitions(it => registerPartition(srcCfg, tgtCfg, it.toVector,
        delete, stacktrace).iterator)
      .collect()
      .sortBy(_.seq)
    outcomes.foreach(o => applyOutcome(TableRef.parse(o.identifier), o))
    this
  }

  def result(): MigrationResult = {
    processedNamespaces.clear()
    MigrationResult(registered.toSeq, failedToRegister.toSeq, failedToDelete.toSeq)
  }

  private def applyOutcome(ref: TableRef, o: MigrationOutcome): Unit = {
    if (o.registered) registered += ref else failedToRegister += ref
    if (o.deleteFailed) failedToDelete += ref
  }
}

object CatalogMigrator {
  private val log = LoggerFactory.getLogger(classOf[CatalogMigrator])

  /** R1: DFS over the namespace tree, cycle-safe via the visited set. */
  private[catalog] def collectNamespaces(cat: Catalog, ns: Namespace,
      visited: mutable.LinkedHashSet[Namespace]): Unit = {
    if (!visited.add(ns)) return
    val children =
      try cat.listNamespaces(ns)
      catch {
        case _: NoSuchNamespaceException if ns.isEmpty => Seq.empty
      }
    children.foreach(collectNamespaces(cat, _, visited))
  }

  /** R9–R11: ensure namespaces → load pointer → register → optional
    * delete-at-source. Pure outcome row; never throws. */
  private[catalog] def attempt(src: Catalog, tgt: Catalog,
      processed: mutable.Set[Namespace], ref: TableRef,
      delete: Boolean, stacktrace: Boolean, seq: Long): MigrationOutcome = {
    val (isRegistered, error) =
      try {
        ensureNamespaces(tgt, processed, ref.namespace)
        val location = src.loadTableMetadataLocation(ref)
        tgt.registerTable(ref, location)
        log.info(s"Successfully registered the table $ref")
        (true, None)
      } catch {
        case e: Exception =>
          if (stacktrace) log.error(s"Unable to register the table $ref", e)
          else log.error(s"Unable to register the table $ref : ${e.getMessage}")
          (false, Option(e.getMessage))
      }

    var deleteFailed = false
    if (isRegistered && delete) {
      try {
        if (!src.dropTable(ref)) deleteFailed = true
      } catch {
        case e: Exception =>
          deleteFailed = true
          if (stacktrace) log.error(s"Failed to delete the table after migration $ref", e)
          else log.error(s"Failed to delete the table after migration $ref : ${e.getMessage}")
      }
    }
    MigrationOutcome(ref.toString, seq, isRegistered, deleteFailed, error)
  }

  /** One partition of [[CatalogMigrator.registerTables]]: build both
    * clients, attempt every table, close whatever was built. A client
    * that cannot be built fails the partition's tables SOFT — one
    * failed-to-register row each, the reference's fail-soft contract —
    * instead of killing the job; a close failure is logged, never
    * thrown (every outcome has already committed). */
  private[catalog] def registerPartition(srcCfg: CatalogConfig,
      tgtCfg: CatalogConfig, work: Seq[(String, Long)], delete: Boolean,
      stacktrace: Boolean): Seq[MigrationOutcome] = {
    var src: Option[Catalog] = None
    var tgt: Option[Catalog] = None
    try {
      src = Some(CatalogFactory.build(srcCfg))
      tgt = Some(CatalogFactory.build(tgtCfg))
      val processed = mutable.HashSet.empty[Namespace]
      work.map { case (id, seq) =>
        attempt(src.get, tgt.get, processed, TableRef.parse(id), delete,
          stacktrace, seq)
      }
    } catch {
      case NonFatal(e) if tgt.isEmpty =>
        val which = if (src.isEmpty) srcCfg.name else tgtCfg.name
        if (stacktrace) log.error(s"Unable to build the catalog client $which", e)
        else log.error(s"Unable to build the catalog client $which : ${e.getMessage}")
        work.map { case (id, seq) =>
          MigrationOutcome(id, seq, registered = false, deleteFailed = false,
            Option(e.getMessage))
        }
    } finally {
      (src ++ tgt).foreach { c =>
        try c.close()
        catch { case NonFatal(e) => log.warn(s"Failed to close a catalog client: $e") }
      }
    }
  }

  /** R9: create every namespace prefix, memoized, AlreadyExists swallowed
    * (forced create avoids an exists-check RPC per level). */
  private[catalog] def ensureNamespaces(tgt: Catalog,
      processed: mutable.Set[Namespace], ns: Namespace): Unit = {
    if (ns.isEmpty || processed.contains(ns)) return
    ns.prefixes.foreach { prefix =>
      if (processed.add(prefix)) {
        try tgt.createNamespace(prefix)
        catch {
          case e: AlreadyExistsException =>
            log.debug(s"${e.getMessage}. Ignoring the error as forcefully creating " +
              "the namespace even if it exists to avoid namespaceExists() check.")
        }
      }
    }
  }
}
