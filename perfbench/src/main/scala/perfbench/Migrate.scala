package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.catalog._
import graft.cli.CatalogMigrationCLI

/** `migrate`: the migrator's own traffic. Set-up seeds `Tables` table
  * pointers into a Hadoop warehouse over a 10×10 two-level namespace
  * tree, each pointing at a small seeded metadata file, and starts a
  * Derby-backed jdbc store behind an in-process REST catalog server.
  * Each pass then runs two CLI commands through
  * `CatalogMigrationCLI.run`: `register` hadoop → nessie (a fresh file
  * commit log), and `migrate` that nessie → rest (a fresh jdbc catalog
  * name behind a fresh server). No data bytes move. */
object Migrate {
  val Tables = 120

  final case class Seeded(ref: TableRef, location: String)

  final class Fixture(val dir: Path, val tables: Seq[Seeded], val derbyUri: String)

  /** Seeded names, namespace assignment and metadata locations. */
  def tables(seed: Long, dir: Path): Seq[Seeded] = {
    val rnd = new scala.util.Random(seed)
    val names = mutable.LinkedHashSet.empty[TableRef]
    while (names.size < Tables) {
      val ns = Namespace(Vector(s"ns${rnd.nextInt(10)}", s"sub${rnd.nextInt(10)}"))
      names += TableRef(ns, f"t${rnd.nextInt(1 << 24)}%06x")
    }
    names.toSeq.map { ref =>
      val uuid = new java.util.UUID(rnd.nextLong(), rnd.nextLong())
      Seeded(ref, dir.resolve("meta").resolve(uuid.toString)
        .resolve(f"metadata/${rnd.nextInt(100)}%05d-$uuid.metadata.json").toUri.toString)
    }
  }

  /** Writes the metadata files and the source warehouse, and initialises
    * the jdbc store and a REST server over it. */
  def setUp(seed: Long, dir: Path): Fixture = {
    val seeded = tables(seed, dir)
    seeded.foreach { s =>
      val p = java.nio.file.Paths.get(java.net.URI.create(s.location))
      Files.createDirectories(p.getParent)
      Files.writeString(p,
        s"""{"format-version":2,"table-uuid":"${p.getParent.getParent.getFileName}",""" +
          s""""location":"${p.getParent.getParent.toUri}","last-updated-ms":0,""" +
          """"current-snapshot-id":-1,"snapshots":[]}""")
    }
    val hadoop = new HadoopFsCatalog("seed", dir.resolve("warehouse").toUri.toString)
    seeded.foreach(s => hadoop.registerTable(s.ref, s.location))
    hadoop.close()
    val derbyUri = s"jdbc:derby:${dir.resolve("derby")};create=true"
    val jdbc = new JdbcCatalog("setup", derbyUri)
    val server = new RestCatalogServer(jdbc)
    try new RestCatalog("setup", server.uri).listNamespaces(Namespace.empty)
    finally { server.close(); jdbc.close() }
    new Fixture(dir, seeded, derbyUri)
  }

  def run(ctx: Main.Ctx, res: Main.Result): Unit = {
    import ctx.spark
    val fx = (0 until 3).map { i =>
      val (f, s) = Main.time(setUp(ctx.seed, ctx.work.resolve(s"setup$i")))
      res.setupS += s
      f
    }.last
    // warm-up pass over half the tables: not timed, not counted
    // (register leaves the source unchanged, so the fixture stays whole)
    cycle(ctx, fx.tables.take(Tables / 2), fx, "warmup", null)

    val probe = if (ctx.trace) Some(new SparkProbe(spark)) else None
    val cli = mutable.ArrayBuffer.empty[(String, CliTimes)]
    Main.measure(ctx, res, min = 3, probe) { i =>
      val times = cycle(ctx, fx.tables, fx, s"c$i", res)
      if (Trace.on) cli ++= times
      val ops = times.map { case (cmd, t) => Main.Op(cmd, t.totalS) }
      Seq(Main.Pass(ops.map(_.seconds).sum, ops))
    }

    if (ctx.trace) traced(res, cli.toSeq, math.max(1, res.tracedPasses.size))
  }

  /** Nanosecond marks of one CLI command, from its start, the
    * "Started …" and "Finished …" log lines, and its return. */
  final case class CliTimes(req: String, start: Long, started: Long, finished: Long, end: Long) {
    def totalS: Double = (end - start) / 1e9
  }

  private def cycle(ctx: Main.Ctx, tables: Seq[Seeded], fx: Fixture, tag: String,
      res: Main.Result): Seq[(String, CliTimes)] = {
    val dir = ctx.work.resolve(tag)
    val nessieStore = dir.resolve("nessie").toString
    val jdbc = new JdbcCatalog(s"rest_$tag", fx.derbyUri)
    val server = new RestCatalogServer(jdbc)
    try {
      val hadoopWh = fx.dir.resolve("warehouse").toUri.toString
      val (regCode, regT) = command(ctx, s"$tag:register", Seq("register") ++
        catalog("source", "hadoop", s"warehouse=$hadoopWh") ++
        catalog("target", "nessie", s"store=$nessieStore") ++
        identifiers(tables, fx, dir) ++
        Seq("--output-dir", dir.resolve("register").toString))
      val (migCode, migT) = command(ctx, s"$tag:migrate", Seq("migrate") ++
        catalog("source", "nessie", s"store=$nessieStore") ++
        catalog("target", "rest", s"uri=${server.uri}") ++
        Seq("--output-dir", dir.resolve("migrate").toString))
      if (res != null) check(ctx, res, tables, dir, nessieStore, jdbc, regCode, migCode)
      Seq("register" -> regT, "migrate" -> migT)
    } finally { server.close(); jdbc.close() }
  }

  /** The full fixture is migrated by namespace walk; the warm-up's subset
    * is named explicitly. */
  private def identifiers(tables: Seq[Seeded], fx: Fixture, dir: Path): Seq[String] =
    if (tables.size == fx.tables.size) Nil
    else {
      Files.createDirectories(dir)
      val f = dir.resolve("ids.txt")
      Files.writeString(f, tables.map(_.ref.toString).mkString("\n"))
      Seq("--identifiers-from-file", f.toString)
    }

  private def catalog(side: String, typ: String, props: String): Seq[String] =
    if (Trace.on)
      Seq(s"--$side-catalog-type", "custom",
        s"--$side-custom-catalog-impl", classOf[TimingCatalog].getName,
        s"--$side-catalog-properties", s"inner-type=$typ,$props")
    else Seq(s"--$side-catalog-type", typ, s"--$side-catalog-properties", props)

  private def command(ctx: Main.Ctx, req: String, args: Seq[String]): (Int, CliTimes) = {
    val sc = ctx.spark.sparkContext
    var started = 0L; var finished = 0L
    val out: String => Unit = line => {
      if (line.startsWith("Started ")) started = System.nanoTime()
      else if (line.startsWith("Finished ")) finished = System.nanoTime()
    }
    if (Trace.on) sc.setJobGroup(req, req)
    try {
      val t0 = System.nanoTime()
      val code = Trace.request("cli", req) {
        CatalogMigrationCLI.run(args :+ "--disable-safety-prompts", () => "yes", out)
      }
      val t1 = System.nanoTime()
      val t = CliTimes(req, t0, if (started == 0L) t1 else started,
        if (finished == 0L) t1 else finished, t1)
      Trace.record("cli.identify", req, t.start, t.started)
      Trace.record("cli.chunks", req, t.started, t.finished)
      Trace.record("cli.report", req, t.finished, t.end)
      (code, t)
    } finally if (Trace.on) sc.clearJobGroup()
  }

  private def lines(p: Path): Seq[String] =
    if (!Files.exists(p)) Nil
    else scala.io.Source.fromFile(p.toFile).getLines().map(_.trim).filter(_.nonEmpty).toSeq

  /** Both commands exit 0, their failed-identifier files are empty, every
    * target pointer equals its seeded location, and the nessie source is
    * empty after `migrate`. Each table moved counts as one operation per
    * command. */
  private def check(ctx: Main.Ctx, res: Main.Result, tables: Seq[Seeded], dir: Path,
      nessieStore: String, target: Catalog, regCode: Int, migCode: Int): Unit = {
    res.attempted += 2L * tables.size
    val bad = mutable.LinkedHashSet.empty[String]
    for (cmd <- Seq("register", "migrate"); f <- Seq(MigrationReport.FailedIdentifiersFile,
        MigrationReport.FailedToDeleteFile))
      lines(dir.resolve(cmd).resolve(f)).foreach(id => bad += s"$cmd:$id")
    tables.foreach { s =>
      val got = try target.loadTableMetadataLocation(s.ref) catch { case e: Exception => e.toString }
      if (got != s.location) bad += s"migrate:${s.ref}"
    }
    val nessie = new NessieCatalog("check", nessieStore)
    try {
      val left = mutable.LinkedHashSet.empty[Namespace]
      def walk(ns: Namespace): Unit = nessie.listNamespaces(ns).foreach { c => left += c; walk(c) }
      walk(Namespace.empty)
      left.foreach(ns => nessie.listTables(ns).foreach(t => bad += s"migrate:$t left at source"))
    } finally nessie.close()
    if (ctx.forceFail) bad += "forced failure"
    bad.foreach(b => res.fail(b))
    if ((regCode != 0 || migCode != 0) && bad.isEmpty)
      res.fail(s"exit codes register=$regCode migrate=$migCode", tables.size.toLong)
  }

  private val Pairs = Seq(
    "hadoop" -> Seq("list", "load", "build"),
    "nessie" -> Seq("build", "create_ns", "register", "list", "load", "drop"),
    "rest" -> Seq("build", "create_ns", "register"))

  private def traced(res: Main.Result, cli: Seq[(String, CliTimes)],
      passes: Int): Unit = {
    val spans = Trace.allSpans
    for (cmd <- Seq("register", "migrate")) {
      val ts = cli.filter(_._1 == cmd).map(_._2)
      val n = math.max(1, ts.size).toDouble
      val jobSpans = spans.filter(s => s.name == "spark.job" && ts.exists(_.req == s.req))
      res.layer(s"cli.$cmd.identify_s") = ts.map(t => (t.started - t.start) / 1e9).sum / n
      res.layer(s"cli.$cmd.report_s") = ts.map(t => (t.end - t.finished) / 1e9).sum / n
      res.layer(s"cli.$cmd.jobs") = jobSpans.size / n
      res.layer(s"cli.$cmd.job_s") = jobSpans.map(_.durNs).sum / 1e9 / n
      val catalogNs = spans.filter(s => s.name.startsWith("catalog.") &&
        ts.exists(_.req == s.req)).map(_.durNs).sum
      val wallNs = ts.map(t => t.end - t.start).sum
      res.layer(s"catalog.$cmd.busy_frac") =
        if (wallNs == 0) 0.0 else catalogNs.toDouble / (wallNs.toDouble * Main.Cores)
    }
    val stats = CatalogStats.snapshot
    for ((b, ops) <- Pairs; op <- ops) {
      val calls = stats.getOrElse((b, op), Nil)
      val ms = calls.map(_.ns / 1e6)
      res.layer(s"catalog.$b.$op.calls") = calls.size.toDouble / passes
      res.layer(s"catalog.$b.$op.p50_ms") = Main.median(ms)
      res.layer(s"catalog.$b.$op.p99_ms") = Main.pct(ms, 0.99)
      res.layer(s"catalog.$b.$op.fails") = calls.count(_.failed).toDouble / passes
    }
    for (b <- Seq("nessie", "rest")) {
      val calls = stats.getOrElse((b, "create_ns"), Nil)
      res.layer(s"catalog.$b.create_ns.useful_ratio") =
        if (calls.isEmpty) 0.0 else calls.count(!_.failed).toDouble / calls.size
    }
  }
}
