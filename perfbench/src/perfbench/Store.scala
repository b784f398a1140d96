package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Queries
import graft.model.Statements
import graft.model.Statements.PropSpec
import graft.operators.{Adjacency, EntityQuery, Fpx, Xref}
import graft.sources.{FpxStore, StatementStore, XrefStore}

/** The `store` workload: serving reads and upsert ingest against one
  * `StatementStore`, the way `graft.Cli` drives it (`ingest`, `pop`,
  * `query`, `optimize --full`, `xref`).
  *
  * The store is built in setup from `Queries.statements`,
  * `Queries.graphStatements` and orders unpivoted as `Payment` entities
  * with `payer` edges. Each pass then runs two rounds of upserts, pops,
  * canonical-id lookups, entity queries (filters, search, order and
  * slice, reverse lookups, adjacency) and stats or aggregate queries,
  * and ends with `optimize --full` and one xref pass, so files pile up
  * between compactions the way they do in use. The seed draws the ids,
  * values and op order. Every answer is compared with the [[Model]],
  * which applies the same upserts and pops to the same statements
  * without the store.
  */
final class Store(run: Runner, warehouse: String, seed: Long) {
  private val spark: SparkSession = run.spark
  import spark.implicits._

  val table = "stmts"
  // bucket count of all three tables, sized to the store: 64 (the
  // default, sized for large stores) would make every file tiny
  private val Buckets = 8
  private def fpxTable(t: String) = s"${t}_fpx"
  private def xrefTable(t: String) = s"${t}_xref"

  private var model: Model = _
  private var schema: StructType = _
  private var rows: Array[Row] = _
  private var customers: IndexedSeq[String] = _
  private var entities: IndexedSeq[String] = _
  private val popped = mutable.ArrayBuffer[String]()
  private var nextCustomer = 0L
  var ingestedStatements = 0L

  private val baseSeen = Timestamp.valueOf("2024-06-01 00:00:00")
  val disk = new Disk(run, warehouse)

  /** The statements the store is built from: `Queries.statements`,
    * `Queries.graphStatements` and a third of the orders as payments
    * (enough reverse-lookup and aggregate work, at a store whose build
    * fits the run budget).
    */
  def statements(dataDir: String): DataFrame = {
    // graphStatements stamps last_seen with the current time; a fixed
    // stamp keeps the inputs the same from run to run
    val graph = Queries.graphStatements(spark, dataDir)
      .withColumn("last_seen", lit(baseSeen))
    val payments = Statements.unpivot(
      spark.read.parquet(s"$dataDir/orders.parquet").filter($"o_orderkey" % 3 === 0),
      concat(lit("payment-"), $"o_orderkey"),
      schema = "Payment", dataset = "tpch_payments",
      Seq(
        PropSpec("amount", "number", $"o_totalprice"),
        PropSpec("date", "date", date_format($"o_orderdate", "yyyy-MM-dd")),
        PropSpec("status", "string", $"o_orderstatus"),
        PropSpec("priority", "string", $"o_orderpriority"),
        PropSpec("payer", "entity", concat(lit("customer-"), $"o_custkey"))),
      firstSeen = $"o_orderdate",
      lastSeen = lit(baseSeen))
    Queries.statements(spark, dataDir).unionAll(graph).unionAll(payments)
  }

  /** Load the statements once, so the store and the model receive
    * identical rows.
    */
  def prepare(path: String): Unit = {
    val all = spark.read.parquet(path)
    schema = all.schema
    rows = all.collect()
    customers = rows.iterator.filter(r => r.getAs[String]("dataset") == "tpch_customers")
      .map(_.getAs[String]("entity_id")).toSeq.distinct.sorted.toIndexedSeq
    entities = rows.iterator.map(_.getAs[String]("canonical_id")).toSeq.distinct.sorted
      .toIndexedSeq
    nextCustomer = 10000000L
  }

  /** Build a store from the prepared statements: the timed set-up step. */
  def build(name: String): Unit = {
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    StatementStore.append(df, name, Buckets)
    FpxStore.append(Fpx.fromStatements(df), fpxTable(name), Buckets)
  }

  def drop(name: String): Unit =
    Seq(name, fpxTable(name)).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  /** The reference model of the live store, and the file listing that
    * later writes are counted against.
    */
  def startModel(): Unit = {
    model = new Model(rows.map(Stmt(_)))
    disk.scan()
    disk.reset()
  }

  def liveStatements: Long = model.size.toLong

  private def rowText(r: Row): String = r.toSeq.map(Runner.fmt).mkString("\t")

  private def same(got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else Some(s"got ${got.take(3).mkString(" / ")} (${got.size} rows), " +
      s"want ${want.take(3).mkString(" / ")} (${want.size} rows)")

  private def collectRows(df: DataFrame): Seq[String] = {
    val rs = df.collect().toSeq.map(rowText)
    run.addRows(rs.size)
    rs
  }

  private def finalStatements: DataFrame = StatementStore.readFinal(spark, table)

  def lookup(id: String): Unit =
    run.op("lookup", id)(Statements.assemble(
        finalStatements.filter(col("canonical_id") === id), seenRange = true))(
      collectRows(_).sorted)(same(_, model.lookup(id)))

  private def entityQuery(q: Q): EntityQuery = {
    var e = EntityQuery(finalStatements).dataset(q.dataset)
    q.schema.foreach(s => e = e.schema(s))
    q.wheres.foreach { case (p, op, vs) => e = e.where(p, op, vs: _*) }
    q.reverse.foreach(r => e = e.reverse(r))
    q.search.foreach(s => e = e.search(s))
    q.order.foreach { case (p, desc) => e = e.orderByProp(p, desc) }
    if (q.lim >= 0 || q.off > 0) e = e.slice(q.off, q.lim)
    e
  }

  def query(label: String, q: Q): Unit =
    run.op("query", label)(entityQuery(q).entities())(collectRows)(
      same(_, model.entities(q)))

  def stats(label: String, q: Q): Unit =
    run.op("query", label)(entityQuery(q).stats())(collectRows(_).sorted)(
      same(_, model.stats(q)))

  def sum(label: String, q: Q, prop: String, by: String): Unit =
    run.op("query", label)(entityQuery(q).aggregateProp("sum", prop, Some(by)))(
      collectRows(_).sorted)(same(_, model.sum(q, prop, by)))

  def adjacent(nation: String): Unit =
    run.op("query", s"adjacent:$nation")(
      Adjacency.adjacent(finalStatements.filter(col("dataset") === "tpch_graph"), "Nation")
        .filter(col("entity_id") === nation))(collectRows(_).sorted)(
      same(_, model.adjacent("tpch_graph", "Nation", nation)))

  private def money(r: Random): String =
    java.math.BigDecimal.valueOf(r.nextInt(1000000).toLong, 2).toPlainString

  /** An upsert batch: every statement of some live customers again with
    * a newer last_seen (a few with a changed balance), plus new
    * customers. Made with `Statements.unpivot`, as a user's upstream
    * job would, and handed to the store as rows.
    */
  private def batch(r: Random, round: Int, refreshed: Seq[String]): Array[Row] = {
    val latest = model.statements.filter(s =>
      s.dataset == "tpch_customers" && refreshed.contains(s.entityId))
      .groupBy(s => (s.entityId, s.prop))
      .map { case (k, ss) => k -> ss.maxBy(s => (s.lastSeen.getTime, s.value)).value }
    val old = refreshed.map { e =>
      def v(p: String) = latest.getOrElse((e, p), null)
      val bal = if (r.nextInt(4) == 0) money(r) else v("acctbal")
      (e.stripPrefix("customer-"), v("name"), v("mktsegment"), v("nationkey"), bal)
    }
    val fresh = (0 until 10).map { _ =>
      nextCustomer += 1
      (nextCustomer.toString, f"Customer#$nextCustomer%09d",
        Seq("BUILDING", "AUTOMOBILE", "MACHINERY")(r.nextInt(3)),
        r.nextInt(25).toString, money(r))
    }
    val seen = new Timestamp(Timestamp.valueOf("2025-01-01 00:00:00").getTime +
      round * 3600000L)
    val src = (old ++ fresh).toDF("k", "name", "mktsegment", "nationkey", "acctbal")
    Statements.unpivot(src, concat(lit("customer-"), $"k"),
      schema = "Customer", dataset = "tpch_customers",
      Seq(
        PropSpec("name", "name", $"name", original = Some(upper($"name")),
          lang = Some(lit("en"))),
        PropSpec("mktsegment", "string", $"mktsegment"),
        PropSpec("nationkey", "number", $"nationkey"),
        PropSpec("acctbal", "number", $"acctbal")),
      target = lit(true), external = lit(false),
      firstSeen = to_timestamp(lit("2024-01-01 00:00:00")),
      lastSeen = lit(seen)).collect()
  }

  /** `Cli ingest`: the statement append and the fpx append. */
  def append(stmts: Array[Row], round: Int): Unit =
    run.op("append", s"round$round")(
      spark.createDataFrame(java.util.Arrays.asList(stmts: _*), schema)) { df =>
      run.timed("store.append")(StatementStore.append(df, table, Buckets))
      run.timed("fpx.append")(FpxStore.append(Fpx.fromStatements(df), fpxTable(table), Buckets))
    } { _ =>
      disk.scan()
      stmts.foreach(r => model.upsert(Stmt(r)))
      ingestedStatements += stmts.length
      None
    }

  def pop(entity: String): Unit =
    run.op("pop", entity)(entity)(e => run.timed("store.pop")(
      StatementStore.pop(spark, table, e, Buckets).collect().toSeq.map(Stmt(_).text).sorted)) {
      got =>
        disk.scan()
        popped += entity
        same(got, model.pop(entity).map(_.text).sorted)
    }

  /** `Cli optimize --full`, then the compaction checks: FINAL content
    * unchanged and no superseded or deleted row left behind.
    */
  def optimize(round: Int): Unit = {
    run.op("compact", s"round$round")(()) { _ =>
      run.timed("fpx.compact")(FpxStore.compact(spark, fpxTable(table), Buckets))
      if (spark.catalog.tableExists(xrefTable(table)))
        run.timed("xref.compact")(XrefStore.compact(spark, xrefTable(table), Buckets))
      run.timed("store.compact")(StatementStore.compact(spark, table, Buckets))
    } { _ => disk.scan(); None }
    val (wantHash, wantRows) = model.contentHash
    run.verify("compact keeps the FINAL content") {
      val (h, n) = finalStatements.rdd.map(r => (Runner.hash(Stmt(r).text), 1L))
        .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      h == wantHash && n == wantRows
    }
    run.verify("compact leaves raw rows == FINAL rows") {
      StatementStore.read(spark, table).count() == wantRows
    }
  }

  /** `Cli xref`: blocks from the stored fpx table, enriched candidate
    * rows appended to the xref store.
    */
  def xref(round: Int): Unit = {
    run.op("xref", s"round$round")(run.timed("xref.block")(
      Xref.candidates(FpxStore.blocks(spark, fpxTable(table)),
        Xref.entityAttrs(finalStatements), ts = lit(round.toLong))))(
      c => run.timed("xref.append")(XrefStore.append(c, xrefTable(table), Buckets))) { _ =>
      disk.scan()
      None
    }
    run.verify("xref store has candidates") {
      XrefStore.readLatest(spark, xrefTable(table)).limit(1).count() == 1
    }
  }

  private val segments = Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
  private val words = Seq("large", "small", "blue", "red", "green", "hot", "cold", "ring",
    "bolt", "screw", "nut", "plate", "rod", "tube", "wire", "gear")

  private def liveCustomer(r: Random): String = {
    var c = customers(r.nextInt(customers.size))
    while (popped.contains(c)) c = customers(r.nextInt(customers.size))
    c
  }

  /** The read ops of round `i`: three lookups, two entity queries and
    * one stats or aggregate query (half, a third and a sixth of the
    * reads). The query kinds take turns over the two rounds of a pass,
    * so every seed runs the same kinds; the seed draws their
    * parameters and the lookup ids.
    */
  private def reads(r: Random, i: Int, refreshed: Seq[String]): Seq[() => Unit] = {
    val lookups = Seq(refreshed.head,
      if (popped.nonEmpty) popped(r.nextInt(popped.size)) else liveCustomer(r),
      entities(r.nextInt(entities.size)))
      .map(id => () => lookup(id))
    def oneQuery(kind: Int): () => Unit = kind match {
      case 0 =>
        val seg = segments(r.nextInt(5)); val n = r.nextInt(25).toString
        val desc = r.nextBoolean()
        () => query(s"segment:$seg:$n", Q("tpch_customers", Some("Customer"),
          Seq(("mktsegment", "eq", Seq(seg)), ("nationkey", "eq", Seq(n))),
          order = Some(("acctbal", desc)), lim = 10))
      case 1 =>
        val w = words(r.nextInt(words.size)); val off = r.nextInt(20)
        () => query(s"search:$w", Q("tpch_parts", Some("Part"), search = Some(w),
          off = off, lim = 20))
      case 2 =>
        val c = liveCustomer(r)
        val st = Seq("O", "P", "F").filter(_ => r.nextBoolean())
        () => query(s"payments:$c", Q("tpch_payments", Some("Payment"),
          Seq(("status", "in", if (st.isEmpty) Seq("F") else st)),
          reverse = Some(c), order = Some(("date", true)), lim = 5))
      case _ =>
        val n = s"nation-${r.nextInt(25)}"
        () => adjacent(n)
    }
    val analytic: () => Unit =
      if (i % 2 == 0) {
        val seg = segments(r.nextInt(5))
        () => stats(s"stats:$seg", Q("tpch_customers",
          wheres = Seq(("mktsegment", "eq", Seq(seg)))))
      } else {
        val c = liveCustomer(r)
        () => sum(s"spend:$c", Q("tpch_payments", Some("Payment"), reverse = Some(c)),
          "amount", "status")
      }
    lookups ++ Seq(oneQuery(i % 2 * 2), oneQuery(i % 2 * 2 + 1), analytic)
  }

  /** One pass: two rounds, each an upsert batch followed by its reads
    * and one pop in a seed-drawn order; the second round ends with
    * `optimize --full` and an xref pass.
    */
  def pass(p: Int): Unit = Seq(2 * p, 2 * p + 1).foreach { i =>
    val r = new Random(seed * 1000003L + i)
    val refreshed = Seq.fill(20)(liveCustomer(r)).distinct
    append(run.untraced(batch(r, i, refreshed)), i)
    val victim = liveCustomer(r)
    r.shuffle(reads(r, i, refreshed) :+ (() => pop(victim))).foreach(_())
    if (i % 2 == 1) {
      optimize(i)
      xref(i)
    }
  }
}

/** Files the store has written, found by listing the warehouse after
  * each write op: new paths count as written, so stage tables and
  * rewrites count as well as appends.
  */
final class Disk(run: Runner, root: String) {
  import java.nio.file.{Files, Paths}
  import scala.jdk.CollectionConverters._

  private val seen = mutable.HashSet[String]()
  var filesWritten = 0L
  var bytesWritten = 0L

  private def listing(): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def scan(): Unit = {
    val fresh = listing().filter { case (f, _) => !seen.contains(f) }
    filesWritten += fresh.size
    bytesWritten += fresh.values.sum
    run.tracer.bump("store.files_written", fresh.size)
    run.tracer.bump("store.bytes_written", fresh.values.sum)
    seen ++= fresh.keys
  }

  def reset(): Unit = { filesWritten = 0; bytesWritten = 0 }

  /** Data files, and their bytes, under the warehouse now. */
  def live: (Long, Long) = {
    val data = listing().filter { case (f, _) =>
      val n = Paths.get(f).getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }
    (data.size.toLong, data.values.sum)
  }
}
