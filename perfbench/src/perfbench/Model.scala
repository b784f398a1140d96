package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Row

/** One statement row, by the store's column names. */
final case class Stmt(
    id: String, entityId: String, canonicalId: String, prop: String,
    propType: String, schema: String, value: String, originalValue: String,
    dataset: String, lang: String, target: Boolean, external: Boolean,
    firstSeen: Timestamp, lastSeen: Timestamp) {

  def key: (String, String, String, String, String) =
    (canonicalId, entityId, prop, value, id)

  /** Canonical text of the whole row, for content hashes. */
  def text: String = Seq(id, entityId, canonicalId, prop, propType, schema,
    value, originalValue, dataset, lang, target, external, firstSeen,
    lastSeen).map(Runner.fmt).mkString("\t")
}

object Stmt {
  def apply(r: Row): Stmt = Stmt(
    r.getAs[String]("id"), r.getAs[String]("entity_id"),
    r.getAs[String]("canonical_id"), r.getAs[String]("prop"),
    r.getAs[String]("prop_type"), r.getAs[String]("schema"),
    r.getAs[String]("value"), r.getAs[String]("original_value"),
    r.getAs[String]("dataset"), r.getAs[String]("lang"),
    r.getAs[Boolean]("target"), r.getAs[Boolean]("external"),
    r.getAs[Timestamp]("first_seen"), r.getAs[Timestamp]("last_seen"))
}

/** An entity query as the benchmark issues it: the same description
  * builds the `graft.operators.EntityQuery` and the reference answer.
  */
final case class Q(
    dataset: String,
    schema: Option[String] = None,
    wheres: Seq[(String, String, Seq[String])] = Nil,
    reverse: Option[String] = None,
    search: Option[String] = None,
    order: Option[(String, Boolean)] = None,
    off: Int = 0,
    lim: Int = -1)

/** The reference store: the FINAL statement set kept in plain Scala
  * collections, and the answers a correct store gives for each op.
  * It shares no code with graft.
  */
final class Model(initial: Iterable[Stmt]) {
  private val live = mutable.HashMap[(String, String, String, String, String), Stmt]()
  initial.foreach(upsert)

  def size: Int = live.size
  def statements: Iterable[Stmt] = live.values

  /** ReplacingMergeTree semantics: the newest last_seen wins per key. */
  def upsert(s: Stmt): Unit = live.get(s.key) match {
    case Some(old) if old.lastSeen.after(s.lastSeen) => ()
    case _ => live(s.key) = s
  }

  /** Remove and return an entity's statements. */
  def pop(entityId: String): Seq[Stmt] = {
    val gone = live.values.filter(_.entityId == entityId).toSeq
    gone.foreach(s => live.remove(s.key))
    gone
  }

  /** Sum of row hashes and row count of the FINAL content. */
  def contentHash: (Long, Long) =
    (live.values.iterator.map(s => Runner.hash(s.text)).sum, live.size.toLong)

  private def assembled(ss: Iterable[Stmt], seenRange: Boolean): Seq[String] =
    ss.groupBy(s => (s.canonicalId, s.schema, s.dataset)).toSeq.map {
      case ((c, sch, ds), g) =>
        val entity = g.toSeq.map(s => s"${s.prop}=${s.value}").sorted.mkString("|")
        val base = Seq(c, sch, ds, entity, g.size.toString)
        val seen =
          if (!seenRange) Nil
          else Seq(
            g.flatMap(s => Option(s.firstSeen)).minOption.map(_.toString).getOrElse("null"),
            g.map(_.lastSeen).max.toString)
        (base ++ seen).mkString("\t")
    }

  /** `Statements.assemble(readFinal where canonical_id = c, seenRange)`. */
  def lookup(canonicalId: String): Seq[String] =
    assembled(live.values.filter(_.canonicalId == canonicalId), seenRange = true).sorted

  private def cmp(op: String, v: String, vs: Seq[String]): Boolean = op match {
    case "eq" => v == vs.head
    case "in" => vs.contains(v)
  }

  private def base(q: Q): Iterable[Stmt] =
    live.values.filter(s => s.dataset == q.dataset && q.schema.forall(_ == s.schema))

  /** Selected canonical ids with their order key. */
  private def selected(q: Q): Map[String, Option[String]] =
    base(q).groupBy(_.canonicalId).collect {
      case (c, ss) if q.wheres.forall { case (p, op, vs) =>
            ss.exists(s => s.prop == p && cmp(op, s.value, vs)) } &&
          q.search.forall(n => ss.exists(_.value.toLowerCase.contains(n.toLowerCase))) &&
          q.reverse.forall(id => ss.exists(s => s.propType == "entity" && s.value == id)) =>
        c -> q.order.flatMap { case (p, _) => ss.filter(_.prop == p).map(_.value).minOption }
    }

  /** `EntityQuery.entities()`, in its output order. */
  def entities(q: Q): Seq[String] = {
    val sel = selected(q)
    val rows = assembled(base(q).filter(s => sel.contains(s.canonicalId)), seenRange = false)
      .map(r => (r.takeWhile(_ != '\t'), r))
    val ordered = q.order match {
      case Some((_, desc)) =>
        // asc puts nulls first, desc puts them last (Spark's defaults)
        val byKey = rows.sortBy(_._1)
        val keyed = byKey.map { case (c, r) => (sel(c), c, r) }
        val (nulls, vals) = keyed.partition(_._1.isEmpty)
        val sortedVals =
          if (desc) vals.sortWith((a, b) => a._1.get > b._1.get ||
            (a._1.get == b._1.get && a._2 < b._2))
          else vals.sortWith((a, b) => a._1.get < b._1.get ||
            (a._1.get == b._1.get && a._2 < b._2))
        (if (desc) sortedVals ++ nulls else nulls ++ sortedVals).map(_._3)
      case None => rows.sortBy(_._1).map(_._2)
    }
    val afterOff = ordered.drop(q.off)
    if (q.lim >= 0) afterOff.take(q.lim) else afterOff
  }

  private def selectedStatements(q: Q): Iterable[Stmt] = {
    val sel = selected(q)
    base(q).filter(s => sel.contains(s.canonicalId))
  }

  /** `EntityQuery.stats()`, sorted. */
  def stats(q: Q): Seq[String] =
    selectedStatements(q).groupBy(s => (s.dataset, s.schema)).toSeq.map {
      case ((ds, sch), g) =>
        Seq(ds, sch, g.map(_.canonicalId).toSet.size.toString, g.size.toString)
          .mkString("\t")
    }.sorted

  /** `EntityQuery.aggregateProp("sum", prop, Some(groupBy))`, sorted. */
  def sum(q: Q, prop: String, groupBy: String): Seq[String] = {
    val ss = selectedStatements(q).toSeq
    val vals = ss.filter(_.prop == prop).map(s =>
      (s.canonicalId, s.value.toDoubleOption))
    val groups = ss.filter(_.prop == groupBy).groupBy(_.canonicalId)
    val joined = vals.flatMap { case (c, v) =>
      groups.getOrElse(c, Nil).map(g => (g.value, v))
    }
    joined.groupBy(_._1).toSeq.map { case (g, rows) =>
      val vs = rows.flatMap(_._2)
      val total = if (vs.isEmpty) null else vs.map(v => math.round(v * 100)).sum / 100.0
      s"$g\t${Runner.fmt(total)}"
    }.sorted
  }

  /** `Adjacency.adjacent(dataset's statements, schema)` for one entity. */
  def adjacent(dataset: String, schema: String, entityId: String): Seq[String] = {
    val ss = live.values.filter(_.dataset == dataset)
    val targets = ss.filter(_.schema == schema).map(_.entityId).toSet
    val edges = ss.filter(_.propType == "entity")
    val out = edges.filter(e => targets(e.entityId))
      .map(e => Seq(e.entityId, e.prop, e.value, "out"))
    val in = edges.filter(e => targets(e.value))
      .map(e => Seq(e.value, e.prop, e.entityId, "in"))
    (out ++ in).filter(_.head == entityId).map(_.mkString("\t")).toSeq.sorted
  }
}
