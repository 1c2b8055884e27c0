package graft.catalog

import java.nio.file.Files

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Ports the reference's test-scenario matrix (SURVEY §5;
  * AbstractTestCatalogMigrator.java): full / selective / error paths /
  * volume / nested namespaces / ordering, over memory and hadoop catalogs.
  */
class MigratorSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def uid(): String = java.util.UUID.randomUUID().toString.take(8)

  private def memCfg(singleLevel: Boolean = false): CatalogConfig = {
    val n = s"mem-${uid()}"
    CatalogConfig("memory", n,
      if (singleLevel) Map("single-level" -> "true") else Map.empty)
  }

  private def hadoopCfg(): CatalogConfig = {
    val dir = Files.createTempDirectory("graft-wh").toString
    CatalogConfig("hadoop", s"hadoop-${uid()}", Map("warehouse" -> dir))
  }

  /** The canonical 4 tables (AbstractTest.java:114-121) with real data in
    * a hadoop staging warehouse, entries registered in `cfg`'s catalog. */
  private def seedCanonical(cfg: CatalogConfig): Map[TableRef, String] = {
    val stage = new HadoopFsCatalog(s"stage-${uid()}",
      Files.createTempDirectory("graft-stage").toString)
    val cat = CatalogFactory.build(cfg)
    Seq("foo", "bar", "db1").foreach(ns => cat.createNamespace(Namespace.of(ns)))
    val refs = Seq("foo.tbl1", "foo.tbl2", "bar.tbl3", "bar.tbl4").map(TableRef.parse)
    import spark.implicits._
    refs.zipWithIndex.map { case (ref, i) =>
      val df = (1L to 5L).map(x => x * (i + 1)).toDF("id")
      val loc = CatalogIO.createTable(spark, stage, ref, df)
      cat.registerTable(ref, loc)
      ref -> loc
    }.toMap
  }

  test("full migrate: all registered, source entries deleted, data readable via target") {
    val (srcCfg, tgtCfg) = (memCfg(), memCfg())
    seedCanonical(srcCfg)
    val src = CatalogFactory.build(srcCfg)
    val sourceRows = CatalogIO.readTable(spark, src, TableRef.parse("foo.tbl1"))
      .collect().map(_.getLong(0)).sorted.toSeq

    val m = new CatalogMigrator(srcCfg, tgtCfg, deleteEntriesFromSourceCatalog = true)
    val ids = m.getMatchingTableIdentifiers(None)
    assert(ids.map(_.toString).toSet ==
      Set("foo.tbl1", "foo.tbl2", "bar.tbl3", "bar.tbl4"))
    m.registerTables(spark, ids)
    val r = m.result()
    assert(r.registeredTableIdentifiers.size == 4)
    assert(r.failedToRegisterTableIdentifiers.isEmpty)
    assert(r.failedToDeleteTableIdentifiers.isEmpty)

    val tgt = CatalogFactory.build(tgtCfg)
    assert(!src.tableExists(TableRef.parse("foo.tbl1")))
    assert(tgt.tableExists(TableRef.parse("foo.tbl1")))
    val targetRows = CatalogIO.readTable(spark, tgt, TableRef.parse("foo.tbl1"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(targetRows == sourceRows)
  }

  test("selective migration by regex (reference :143-172)") {
    val (srcCfg, tgtCfg) = (memCfg(), memCfg())
    seedCanonical(srcCfg)
    val m = new CatalogMigrator(srcCfg, tgtCfg, deleteEntriesFromSourceCatalog = false)
    val ids = m.getMatchingTableIdentifiers(Some("^foo\\..*"))
    assert(ids.map(_.toString) == Seq("foo.tbl1", "foo.tbl2"))
    m.registerTables(spark, ids)
    assert(m.result().registeredTableIdentifiers.map(_.toString) ==
      Seq("foo.tbl1", "foo.tbl2"))
  }

  test("double-register lands in failedToRegister (AlreadyExists, :174-197)") {
    val (srcCfg, tgtCfg) = (memCfg(), memCfg())
    seedCanonical(srcCfg)
    val ref = TableRef.parse("foo.tbl1")
    new CatalogMigrator(srcCfg, tgtCfg, false).registerTable(ref)
    val m2 = new CatalogMigrator(srcCfg, tgtCfg, false)
    m2.registerTable(ref)
    val r = m2.result()
    assert(r.registeredTableIdentifiers.isEmpty)
    assert(r.failedToRegisterTableIdentifiers == Seq(ref))
  }

  test("partial failure: missing table fails, rest succeed (:199-227)") {
    val (srcCfg, tgtCfg) = (memCfg(), memCfg())
    seedCanonical(srcCfg)
    val refs = Seq("foo.tbl1", "dummy.tbl3", "bar.tbl3").map(TableRef.parse)
    val m = new CatalogMigrator(srcCfg, tgtCfg, false)
    m.registerTables(spark, refs)
    val r = m.result()
    assert(r.registeredTableIdentifiers.map(_.toString) == Seq("foo.tbl1", "bar.tbl3"))
    assert(r.failedToRegisterTableIdentifiers.map(_.toString) == Seq("dummy.tbl3"))
  }

  test("244-table volume, distributed, order preserved (:229-248)") {
    val (srcCfg, tgtCfg) = (memCfg(), memCfg())
    val src = CatalogFactory.build(srcCfg)
    src.createNamespace(Namespace.of("foo"))
    val refs = (0 until 244).map(i => TableRef.parse(s"foo.tblx$i"))
    refs.foreach(r => src.registerTable(r, s"file:///fake/meta/$r/v1.metadata.json"))
    val m = new CatalogMigrator(srcCfg, tgtCfg, deleteEntriesFromSourceCatalog = true)
    m.registerTables(spark, refs)
    val r = m.result()
    assert(r.registeredTableIdentifiers.size == 244)
    assert(r.registeredTableIdentifiers == refs) // first-seen order kept
    assert(r.failedToDeleteTableIdentifiers.isEmpty)
    val tgt = CatalogFactory.build(tgtCfg)
    assert(tgt.loadTableMetadataLocation(TableRef.parse("foo.tblx243")) ==
      "file:///fake/meta/foo.tblx243/v1.metadata.json")
    assert(refs.forall(r => !src.tableExists(r)))
  }

  test("nested namespaces created level-by-level on target (:272-289, ITHadoopToNessie)") {
    val (srcCfg, tgtCfg) = (memCfg(), memCfg())
    val src = CatalogFactory.build(srcCfg)
    Seq("a", "a.b", "a.b.c", "a.b.c.d", "a.b.c.d.e")
      .foreach(n => src.createNamespace(Namespace.parse(n)))
    val ref = TableRef.parse("a.b.c.d.e.tblz")
    src.registerTable(ref, "file:///fake/nested/v1.metadata.json")
    val m = new CatalogMigrator(srcCfg, tgtCfg, false)
    m.registerTables(spark, m.getMatchingTableIdentifiers(None))
    assert(m.result().registeredTableIdentifiers == Seq(ref))
    val tgt = CatalogFactory.build(tgtCfg)
    Seq("a", "a.b", "a.b.c", "a.b.c.d", "a.b.c.d.e")
      .foreach(n => assert(tgt.namespaceExists(Namespace.parse(n)), n))
  }

  test("hadoop source + delete is rejected (guard :75-78)") {
    val e = intercept[UnsupportedOperationException] {
      new CatalogMigrator(hadoopCfg(), memCfg(), deleteEntriesFromSourceCatalog = true)
    }
    assert(e.getMessage.contains("Hadoop catalog"))
    assert(e.getMessage.contains("deleteEntriesFromSourceCatalog"))
  }

  test("hadoop -> memory register works; hadoop empty namespace not listable") {
    val (srcCfg, tgtCfg) = (hadoopCfg(), memCfg())
    val src = CatalogFactory.build(srcCfg).asInstanceOf[HadoopFsCatalog]
    src.createNamespace(Namespace.of("foo"))
    import spark.implicits._
    val loc = CatalogIO.createTable(spark, src, TableRef.parse("foo.tbl1"),
      Seq(1L, 2L, 3L).toDF("id"))
    val m = new CatalogMigrator(srcCfg, tgtCfg, false)
    val ids = m.getMatchingTableIdentifiers(None)
    assert(ids.map(_.toString) == Seq("foo.tbl1"))
    m.registerTables(spark, ids)
    assert(m.result().registeredTableIdentifiers.size == 1)
    val tgt = CatalogFactory.build(tgtCfg)
    assert(tgt.loadTableMetadataLocation(TableRef.parse("foo.tbl1")) == loc)
    assert(CatalogIO.readTable(spark, tgt, TableRef.parse("foo.tbl1")).count() == 3)
  }

  test("single-level (Hive-like) target rejects multi-part namespace (ITHadoopToHive :49-66)") {
    val (srcCfg, tgtCfg) = (memCfg(), memCfg(singleLevel = true))
    val src = CatalogFactory.build(srcCfg)
    Seq("a", "a.b", "a.b.c").foreach(n => src.createNamespace(Namespace.parse(n)))
    src.registerTable(TableRef.parse("a.b.c.tblz"), "file:///fake/v1.metadata.json")
    src.createNamespace(Namespace.of("flat"))
    src.registerTable(TableRef.parse("flat.ok"), "file:///fake/v2.metadata.json")
    val m = new CatalogMigrator(srcCfg, tgtCfg, false)
    m.registerTables(spark, m.getMatchingTableIdentifiers(None))
    val r = m.result()
    assert(r.registeredTableIdentifiers.map(_.toString) == Seq("flat.ok"))
    assert(r.failedToRegisterTableIdentifiers.map(_.toString) == Seq("a.b.c.tblz"))
  }

  test("result() accumulates across calls but resets namespace memoization (:174-177)") {
    val (srcCfg, tgtCfg) = (memCfg(), memCfg())
    seedCanonical(srcCfg)
    val m = new CatalogMigrator(srcCfg, tgtCfg, false)
    m.registerTable(TableRef.parse("foo.tbl1"))
    assert(m.result().registeredTableIdentifiers.size == 1)
    m.registerTable(TableRef.parse("foo.tbl2"))
    assert(m.result().registeredTableIdentifiers.size == 2) // accumulated
  }

  test("TableRef parsing: last-dot split, namespace-less tables") {
    assert(TableRef.parse("a.b.c.t") == TableRef(Namespace.of("a", "b", "c"), "t"))
    assert(TableRef.parse("t") == TableRef(Namespace.empty, "t"))
    assert(TableRef.parse("a.b.c.t").toString == "a.b.c.t")
    assert(Namespace.parse("a.b.c").prefixes.map(_.toString) == Seq("a", "a.b", "a.b.c"))
  }

  test("a target client that cannot be built inside the task fails soft: " +
      "every table lands in failedToRegister and the call returns") {
    val srcCfg = memCfg()
    seedCanonical(srcCfg)
    // the custom seam loads the class on the executor, so the build
    // throws inside the task (registerTables never builds the target
    // outside it)
    val tgtCfg = CatalogConfig("custom", s"broken-${uid()}",
      Map("impl" -> "graft.catalog.NoSuchCatalogImpl"))
    val m = new CatalogMigrator(srcCfg, tgtCfg,
      deleteEntriesFromSourceCatalog = true)
    val ids = m.getMatchingTableIdentifiers(None)
    assert(ids.size == 4)
    m.registerTables(spark, ids)
    val r = m.result()
    assert(r.registeredTableIdentifiers.isEmpty)
    assert(r.failedToRegisterTableIdentifiers.map(_.toString).toSet ==
      ids.map(_.toString).toSet)
    assert(r.failedToDeleteTableIdentifiers.isEmpty)
    // nothing registered, so nothing was dropped at the source
    val src = CatalogFactory.build(srcCfg)
    assert(ids.forall(src.tableExists))
    m.close()
  }
}
