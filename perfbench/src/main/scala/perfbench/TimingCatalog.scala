package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import graft.catalog._

/** Timing decorator over any catalog, loaded through the `custom`
  * catalog type: `impl=perfbench.TimingCatalog` plus `inner-type=<type>`
  * and the inner catalog's own properties. Every [[Catalog]] method
  * forwards to the inner catalog and rethrows its exceptions unchanged,
  * so AlreadyExists handling and the migrate-from-hadoop guard behave
  * exactly as without the decorator. Each call's latency lands in
  * [[CatalogStats]] under (inner type, operation), and as a
  * `catalog.<type>.<op>` span of the request it serves.
  */
final class TimingCatalog(cfg: CatalogConfig) extends Catalog {
  private val backend = cfg.properties.getOrElse("inner-type",
    throw new IllegalArgumentException(s"Catalog ${cfg.name}: timing catalog needs 'inner-type'"))
  private val inner: Catalog = timed("build") {
    CatalogFactory.build(CatalogConfig(backend, cfg.name,
      cfg.properties - "inner-type" - "impl" - "inner-impl" ++
        cfg.properties.get("inner-impl").map("impl" -> _), cfg.hadoopConf))
  }

  private def timed[T](op: String)(f: => T): T =
    Trace.span(s"catalog.$backend.$op") {
      val t0 = System.nanoTime()
      try { val r = f; CatalogStats.add(backend, op, System.nanoTime() - t0, failed = false); r }
      catch { case e: Throwable =>
        CatalogStats.add(backend, op, System.nanoTime() - t0, failed = true); throw e
      }
    }

  override def name: String = inner.name
  override def listNamespaces(parent: Namespace): Seq[Namespace] =
    timed("list")(inner.listNamespaces(parent))
  override def namespaceExists(ns: Namespace): Boolean =
    timed("exists")(inner.namespaceExists(ns))
  override def createNamespace(ns: Namespace): Unit =
    timed("create_ns")(inner.createNamespace(ns))
  override def listTables(ns: Namespace): Seq[TableRef] =
    timed("list")(inner.listTables(ns))
  override def tableExists(ref: TableRef): Boolean =
    timed("exists")(inner.tableExists(ref))
  override def loadTableMetadataLocation(ref: TableRef): String =
    timed("load")(inner.loadTableMetadataLocation(ref))
  override def registerTable(ref: TableRef, metadataLocation: String): Unit =
    timed("register")(inner.registerTable(ref, metadataLocation))
  override def dropTable(ref: TableRef): Boolean =
    timed("drop")(inner.dropTable(ref))
  override def dropDestroysData: Boolean = inner.dropDestroysData
  override def close(): Unit = inner.close()
}

/** Per (backend, operation) call latencies and failure counts, shared by
  * every [[TimingCatalog]] in the JVM (calling and task threads). */
object CatalogStats {
  final case class Call(ns: Long, failed: Boolean)
  private val calls = new ConcurrentHashMap[(String, String), ConcurrentLinkedQueue[Call]]()

  def add(backend: String, op: String, ns: Long, failed: Boolean): Unit =
    calls.computeIfAbsent((backend, op), _ => new ConcurrentLinkedQueue[Call]())
      .add(Call(ns, failed))

  def snapshot: Map[(String, String), Seq[Call]] =
    calls.asScala.map { case (k, q) => k -> q.asScala.toSeq }.toMap

  def reset(): Unit = calls.clear()
}
