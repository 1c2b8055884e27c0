package perfbench

import java.nio.file.Files

import graft.catalog._
import graft.cli.CatalogMigrationCLI

/** Self-test of the timing decorator: it overrides every [[Catalog]]
  * method, answers exactly as the catalog it wraps, rethrows the wrapped
  * catalog's exceptions as the same instances, and keeps the
  * migrate-from-hadoop guard firing. Prints one line per check and exits
  * non-zero if any fails.
  *
  *   java -cp <classpath> perfbench.SelfTest <scratchDir>
  */
object SelfTest {
  /** A catalog whose every call throws one shared exception instance. */
  final class Throwing(cfg: CatalogConfig) extends Catalog {
    def name: String = cfg.name
    private def boom = throw Throwing.error
    def listNamespaces(parent: Namespace): Seq[Namespace] = boom
    def namespaceExists(ns: Namespace): Boolean = boom
    def createNamespace(ns: Namespace): Unit = boom
    def listTables(ns: Namespace): Seq[TableRef] = boom
    def tableExists(ref: TableRef): Boolean = boom
    def loadTableMetadataLocation(ref: TableRef): String = boom
    def registerTable(ref: TableRef, metadataLocation: String): Unit = boom
    def dropTable(ref: TableRef): Boolean = boom
  }
  object Throwing { val error = new AlreadyExistsException("shared instance") }

  private var failures = 0
  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $what")
    if (!ok) failures += 1
  }

  private def timing(inner: String, props: Map[String, String]): Catalog =
    CatalogFactory.build(CatalogConfig("custom", "timed",
      props ++ Map("impl" -> classOf[TimingCatalog].getName, "inner-type" -> inner)))

  private def outcome[T](f: => T): Either[(Class[_], String), T] =
    try Right(f) catch { case e: Exception => Left((e.getClass, e.getMessage)) }

  def main(args: Array[String]): Unit = {
    val dir = Files.createDirectories(java.nio.file.Paths.get(args(0)).toAbsolutePath)

    val overridden = classOf[TimingCatalog].getDeclaredMethods
      .map(m => (m.getName, m.getParameterTypes.toSeq)).toSet
    val missing = classOf[Catalog].getMethods.toSeq
      .filter(m => !java.lang.reflect.Modifier.isStatic(m.getModifiers) &&
        (m.getDeclaringClass == classOf[Catalog] || m.getName == "close"))
      .filterNot(m => overridden((m.getName, m.getParameterTypes.toSeq)))
      .map(_.getName)
    check(s"decorator overrides every Catalog method (missing: ${missing.mkString(",")})",
      missing.isEmpty)

    // the same call sequence on a plain and a decorated hadoop catalog
    def script(c: Catalog): Seq[Any] = {
      val ns = Namespace(Vector("a", "b"))
      val ref = TableRef(ns, "t")
      Seq(outcome(c.createNamespace(ns)), outcome(c.createNamespace(ns)),
        outcome(c.namespaceExists(ns)), outcome(c.listNamespaces(Namespace(Vector("a")))),
        outcome(c.registerTable(ref, "file:/x/v1.metadata.json")),
        outcome(c.registerTable(ref, "file:/x/v2.metadata.json")),
        outcome(c.tableExists(ref)), outcome(c.listTables(ns)),
        outcome(c.loadTableMetadataLocation(ref)),
        outcome(c.loadTableMetadataLocation(TableRef(ns, "missing"))),
        outcome(c.dropTable(ref)), outcome(c.dropTable(ref)),
        outcome(c.listTables(Namespace(Vector("nope")))), c.dropDestroysData)
    }
    for (typ <- Seq("hadoop", "nessie")) {
      val key = if (typ == "hadoop") "warehouse" else "store"
      val plain = CatalogFactory.build(CatalogConfig(typ, "plain",
        Map(key -> dir.resolve(s"$typ-plain").toString)))
      val timed = timing(typ, Map(key -> dir.resolve(s"$typ-timed").toString))
      val (a, b) = (script(plain), script(timed))
      check(s"$typ: decorated answers and exceptions equal the plain catalog's", a == b)
      plain.close(); timed.close()
    }
    val creates = CatalogStats.snapshot.getOrElse(("hadoop", "create_ns"), Nil)
    check(s"calls are timed, AlreadyExists counted as a failed create_ns (${creates.map(_.failed)})",
      creates.size == 2 && creates.count(_.failed) == 1)

    val thrower = timing("custom", Map("inner-impl" -> classOf[Throwing].getName))
    val same = Seq[Catalog => Any](_.listNamespaces(Namespace.empty),
      _.createNamespace(Namespace(Vector("x"))), _.registerTable(TableRef.parse("x.t"), "l"),
      _.dropTable(TableRef.parse("x.t")), _.loadTableMetadataLocation(TableRef.parse("x.t")))
      .forall(f => try { f(thrower); false } catch { case e: Throwable => e eq Throwing.error })
    check("exceptions are rethrown as the very same instance", same)

    // the CLI's migrate-from-hadoop guard fires through the decorator
    def migrateFromHadoop(source: Seq[String]): (Int, Seq[String]) = {
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      val code = CatalogMigrationCLI.run(Seq("migrate") ++ source ++ Seq(
        "--target-catalog-type", "nessie", "--target-catalog-properties",
        s"store=${dir.resolve("guard-target")}", "--output-dir", dir.resolve("guard").toString,
        "--disable-safety-prompts"), () => "yes", lines += _)
      (code, lines.filter(_.contains("Hadoop catalog")).toSeq)
    }
    val wh = dir.resolve("guard-wh").toUri.toString
    val plainGuard = migrateFromHadoop(Seq("--source-catalog-type", "hadoop",
      "--source-catalog-properties", s"warehouse=$wh"))
    val timedGuard = migrateFromHadoop(Seq("--source-catalog-type", "custom",
      "--source-custom-catalog-impl", classOf[TimingCatalog].getName,
      "--source-catalog-properties", s"inner-type=hadoop,warehouse=$wh"))
    check(s"migrate-from-hadoop guard fires through the decorator ($plainGuard / $timedGuard)",
      plainGuard._1 == 1 && plainGuard._2.nonEmpty && plainGuard == timedGuard)

    println(s"== ${if (failures == 0) "all checks passed" else s"$failures checks failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
