package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * where / whereDocument filters, with two evaluators over one clause
 * AST: a Catalyst predicate ([[compile]]) for the DataFrame path and a
 * row test over a decoded (metadata, content) pair ([[eval]]) for the
 * packed index scan.
 *
 * Semantics pinned to the reference:
 *  - `where`: metadata equality on every entry, implicit AND
 *    (query.go:133-141). A missing key behaves as Go's zero value "" —
 *    so `where = {k: ""}` matches docs WITHOUT key k (query.go:136-138);
 *    null metadata reads as empty. Plain `element_at` would yield NULL
 *    (never equal), hence the coalesce.
 *  - `whereDocument`: only `$contains` / `$not_contains`, case-sensitive
 *    substring on content (null content reads as ""), implicit AND
 *    (query.go:14,144-160). Unknown operators are rejected up front
 *    (collection.go:513-518).
 */
object Filters {

  val ContainsOp = "$contains"
  val NotContainsOp = "$not_contains"
  private val validOps = Set(ContainsOp, NotContainsOp)

  /** Error parity: query path says "unsupported operator"
    * (collection.go:513-518), delete path says "unsupported whereDocument
    * operator" (collection.go:348-352). */
  def validateWhereDocument(
      whereDocument: Map[String, String],
      message: String = "unsupported operator"): Unit =
    whereDocument.keys.foreach { op =>
      if (!validOps.contains(op)) throw new IllegalArgumentException(message)
    }

  /** The flat maps as one validated clause: every `where` entry, then
    * every `whereDocument` entry, ANDed — so [[eval]] runs the cheap
    * metadata equalities before any substring search. */
  def clause(where: Map[String, String], whereDocument: Map[String, String]): Clause = {
    validateWhereDocument(whereDocument)
    val c = And(where.toSeq.map { case (k, v) => MetaEq(k, v) } ++ whereDocument.toSeq.map {
      case (ContainsOp, v) => ContentContains(v)
      case (_, v)          => ContentNotContains(v)
    })
    validate(c)
    c
  }

  def metadataPredicate(where: Map[String, String]): Column = compile(clause(where, Map.empty))

  def contentPredicate(whereDocument: Map[String, String]): Column =
    compile(clause(Map.empty, whereDocument))

  def predicate(where: Map[String, String], whereDocument: Map[String, String]): Column =
    compile(clause(where, whereDocument))

  // ------------------------------------------------------------------
  // $and / $or combinators — the reference's roadmap extension
  // (README.md:179-180, not implemented there). The flat maps lower into
  // the same AST, so both evaluators read one set of leaves.
  // ------------------------------------------------------------------

  sealed trait Clause
  /** metadata[key] == value (missing key ⇒ ""). */
  case class MetaEq(key: String, value: String) extends Clause
  /** content contains the substring (case-sensitive). */
  case class ContentContains(s: String) extends Clause
  /** content does NOT contain the substring. */
  case class ContentNotContains(s: String) extends Clause
  case class And(clauses: Seq[Clause]) extends Clause
  case class Or(clauses: Seq[Clause]) extends Clause
  case class Not(clause: Clause) extends Clause

  /** Reject null keys and values up front: lit(null) nulls the whole
    * fold and the filter silently returns ZERO rows — in the Go
    * reference this state is unrepresentable (map[string]string cannot
    * hold nil), so loud rejection is the faithful port of "cannot
    * happen", not a behavior change. */
  private def validate(clause: Clause): Unit = clause match {
    case MetaEq(k, v) if k == null || v == null =>
      throw new IllegalArgumentException("where keys and values must be non-null")
    case ContentContains(null) | ContentNotContains(null) =>
      throw new IllegalArgumentException("whereDocument values must be non-null")
    case And(cs) => cs.foreach(validate)
    case Or(cs) => cs.foreach(validate)
    case Not(c) => validate(c)
    case _ =>
  }

  /** The clause as one Catalyst predicate over `metadata` and `content`. */
  def compile(clause: Clause): Column = { validate(clause); toColumn(clause) }

  private def toColumn(clause: Clause): Column = clause match {
    case MetaEq(k, v) => coalesce(element_at(col("metadata"), lit(k)), lit("")) === lit(v)
    case ContentContains(s) => coalesce(col("content"), lit("")).contains(s)
    case ContentNotContains(s) => !coalesce(col("content"), lit("")).contains(s)
    case And(cs) => cs.map(toColumn).foldLeft(lit(true))(_ && _)
    case Or(cs) => if (cs.isEmpty) lit(false) else cs.map(toColumn).reduce(_ || _)
    case Not(c) => !toColumn(c)
  }

  /** A test of one decoded row: its metadata and its content. */
  type RowTest = (Map[String, String], String) => Boolean

  /** The clause as a test of one decoded row — the leaves of
    * [[compile]], read the same way: a missing key, a null value or null
    * metadata is "", null content is "". Built once per query; the
    * leaves of an `$and`/`$or` run in their given order. */
  def eval(clause: Clause): RowTest = { validate(clause); toTest(clause) }

  private def toTest(clause: Clause): RowTest = clause match {
    case MetaEq(k, v) => (m, _) => v == metaValue(m, k)
    case ContentContains(s) => (_, c) => (if (c == null) "" else c).contains(s)
    case ContentNotContains(s) => (_, c) => !(if (c == null) "" else c).contains(s)
    case And(cs) =>
      val ts = cs.map(toTest).toArray
      (m, c) => ts.forall(_(m, c))
    case Or(cs) =>
      val ts = cs.map(toTest).toArray
      (m, c) => ts.exists(_(m, c))
    case Not(c) =>
      val t = toTest(c)
      (m, content) => !t(m, content)
  }

  private def metaValue(m: Map[String, String], k: String): String = {
    val v = if (m == null) null else m.getOrElse(k, null)
    if (v == null) "" else v
  }
}
