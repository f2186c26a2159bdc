package graft.sources

import org.apache.spark.sql.connector.expressions.{Expression => VExpression, Literal => VLiteral, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate

/** The top-level column a V2 reference names (nested ones never push). */
private[sources] object V2Column {
  def unapply(e: VExpression): Option[String] = e match {
    case ref: NamedReference if ref.fieldNames.length == 1 =>
      Some(ref.fieldNames()(0))
    case _ => None
  }
}

/** A V2 binary comparison of one column with one literal, read column
  * first as (op, column, literal) — the leaf every graft DSv2 compiler
  * pushes ([[PgCompiler]], [[MongoWireSource.filterToBson]],
  * [[RangeScanBuilder]]). `5 < a` reads as `a > 5`. `<>` is Spark's V2
  * form of `NOT(a = v)`, three-valued like `=`.
  */
private[sources] object V2Comparison {
  private val mirrored = Map("=" -> "=", "<>" -> "<>", "<=>" -> "<=>",
    "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  def unapply(p: Predicate): Option[(String, NamedReference, VLiteral[_])] =
    (mirrored.get(p.name), p.children.toSeq) match {
      case (Some(_), Seq(c: NamedReference, v: VLiteral[_])) => Some((p.name, c, v))
      case (Some(m), Seq(v: VLiteral[_], c: NamedReference)) => Some((m, c, v))
      case _ => None
    }
}
