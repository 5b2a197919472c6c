package graft.plans

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet,
  LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.types.DataType

/** Conjunct→range-bounds extraction for the snapshot-manifest pruning
  * optimizer rule ([[SnapshotPruneRule]]).
  *
  * Walks a Filter condition's AND-conjuncts and collects, per
  * referenced column, the tightest-first `[lo?, hi?]` bound implied by
  * direct `attr <op> literal` / `literal <op> attr` comparisons. Open
  * bounds are treated as closed (conservative: pruning keeps a
  * possibly-extra file, never drops a needed one); multiple bounds on
  * one side keep the first seen — any single conjunct's bound is a
  * correct prune. OR branches, casts, and function-wrapped attributes
  * are deliberately NOT matched: a bound the extractor cannot prove is
  * a bound it must not prune on.
  */
object FilterBounds {

  /** Literal's Catalyst-internal value (UTF8String, epoch micros, …)
    * converted to the external JVM form (String, java.sql.Timestamp /
    * Instant, …) callers compare against metadata. */
  private def external(v: Any, dt: DataType): Any =
    CatalystTypeConverters.createToScalaConverter(dt)(v)

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  /** Per-column `(lo?, hi?)` bounds from `cond`'s conjuncts, insertion
    * ordered. `interesting` filters collection to the columns the
    * caller has metadata for. */
  def boundsOf(cond: Expression, interesting: String => Boolean)
      : Seq[(String, Option[Any], Option[Any])] = {
    val bounds = scala.collection.mutable.LinkedHashMap
      .empty[String, (Option[Any], Option[Any])]
    def add(name: String, lo: Option[Any], hi: Option[Any]): Unit =
      if (interesting(name)) {
        val (l0, h0) = bounds.getOrElse(name, (None, None))
        bounds(name) = (l0.orElse(lo), h0.orElse(hi))
      }
    conjuncts(cond).foreach {
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        add(a.name, Some(external(v, dt)), None)
      case GreaterThan(a: AttributeReference, Literal(v, dt)) =>
        add(a.name, Some(external(v, dt)), None)
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        add(a.name, None, Some(external(v, dt)))
      case LessThan(a: AttributeReference, Literal(v, dt)) =>
        add(a.name, None, Some(external(v, dt)))
      case EqualTo(a: AttributeReference, Literal(v, dt)) =>
        add(a.name, Some(external(v, dt)), Some(external(v, dt)))
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        add(a.name, None, Some(external(v, dt)))
      case GreaterThan(Literal(v, dt), a: AttributeReference) =>
        add(a.name, None, Some(external(v, dt)))
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        add(a.name, Some(external(v, dt)), None)
      case LessThan(Literal(v, dt), a: AttributeReference) =>
        add(a.name, Some(external(v, dt)), None)
      case EqualTo(Literal(v, dt), a: AttributeReference) =>
        add(a.name, Some(external(v, dt)), Some(external(v, dt)))
      case _ => ()
    }
    bounds.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }
  }

  /** Per-column IN-list values from `cond`'s conjuncts: `attr IN
    * (lit, …)` and the optimizer's `InSet` form (In converts to InSet
    * past `spark.sql.optimizer.inSetConversionThreshold`, so both
    * shapes reach optimizer rules). Only all-literal lists qualify —
    * any non-literal element skips the conjunct (a value the extractor
    * cannot prove is a value it must not prune on). NULL elements are
    * dropped: `x IN (…, NULL)` matches a row only when x equals a
    * NON-null element (otherwise the predicate is null → filtered), so
    * pruning on the non-null values is exact; a list with ONLY null
    * elements is skipped entirely (conservative). Values convert to
    * the external JVM form, like [[boundsOf]]. First qualifying list
    * per column wins (any single conjunct's list is a correct prune). */
  def inListsOf(cond: Expression, interesting: String => Boolean)
      : Seq[(String, Seq[Any])] = {
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[Any]]
    def add(name: String, vs: Seq[Any]): Unit = {
      val nonNull = vs.filter(_ != null)
      if (nonNull.nonEmpty && !out.contains(name)) out(name) = nonNull
    }
    conjuncts(cond).foreach {
      case In(a: AttributeReference, list)
          if interesting(a.name) && list.nonEmpty &&
            list.forall(_.isInstanceOf[Literal]) =>
        add(a.name, list.map { case Literal(v, dt) => external(v, dt) })
      case InSet(a: AttributeReference, hset)
          if interesting(a.name) && hset.nonEmpty =>
        // InSet holds Catalyst-internal values of the child's type
        add(a.name, hset.toSeq.map(v => external(v, a.dataType)))
      case _ => ()
    }
    out.toSeq
  }
}
