package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, ResolvedHint}

import graft.functions.{SimHash64, TextHash}
import graft.functions.BloomExprs.BloomMightContain
import graft.functions.CountMinExprs.CmEstimate
import graft.functions.TextExprs.{MinHashBands, WordShingles}
import graft.functions.VectorExprs.{ArrayDot, LshBuckets}

/** Catalyst extension entry point (`spark.sql.extensions=graft.GraftExtensions`).
  *
  * Three injections:
  *
  *  1. The engine's custom codegen expressions as session functions —
  *     unlike `createOrReplaceTempFunction` (per-session-state, lost on
  *     `newSession()`), extension-injected functions are rebuilt into
  *     every session state derived from the session, so `spark.sql(
  *     "SELECT simhash64(text) ...")` works in any session of a
  *     cluster deployment that sets the conf, with zero imperative
  *     registration.
  *
  *  2. An opt-in analysis check (`spark.graft.failOnCartesian=true`)
  *     that rejects cartesian joins at ANALYSIS time, before any job
  *     runs. At 100 TB an accidental unkeyed join is a cluster-killer
  *     that default Spark happily executes (`spark.sql.crossJoin
  *     .enabled` defaults to true since 3.0); the guard turns it into
  *     an immediate, explainable failure. Joins with an explicit
  *     `broadcast()` hint on either side are exempt — a deliberate
  *     broadcast cross join against a tiny frame (the engine's own
  *     ANN query-vector pattern) is bounded by definition.
  *
  *  3. An opt-in optimizer rule (`spark.graft.snapshotPruning=true`):
  *     filtered `Snapshots.read` plans skip files by the per-file
  *     stats recorded in the commit manifests —
  *     [[graft.plans.SnapshotPruneRule]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functionBuilders.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo(classOf[GraftExtensions].getName, name),
          builder))
    }
    ext.injectCheckRule { session => plan =>
      if (session.conf.get("spark.graft.failOnCartesian", "false").toBoolean)
        GraftExtensions.assertNoCartesian(plan)
    }
    // 3. Opt-in snapshot-manifest file pruning
    //    (spark.graft.snapshotPruning=true): Filter(range-pred) over a
    //    Snapshots.read() file list skips files by the per-file stats
    //    recorded at commit time — see graft.plans.SnapshotPruneRule.
    ext.injectOptimizerRule(session =>
      graft.plans.SnapshotPruneRule(session))
  }
}

object GraftExtensions {

  /** Thrown by the cartesian guard; analysis-time, no job launched. */
  final class CartesianDisallowedException(msg: String)
      extends RuntimeException(msg)

  private def asInt(e: Expression): Int =
    e.eval(null).asInstanceOf[Number].intValue()

  /** The single source of truth for name → Expression builders; the
    * imperative path (GraftFunctions.register / per-module register)
    * installs the same constructors as temp functions. */
  val functionBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> ((exprs: Seq[Expression]) => SimHash64(exprs.head)),
    "text_hash" -> ((exprs: Seq[Expression]) => TextHash(exprs.head)),
    "array_dot" -> ((exprs: Seq[Expression]) => ArrayDot(exprs(0), exprs(1))),
    "lsh_buckets" -> ((exprs: Seq[Expression]) =>
      LshBuckets(exprs(0), asInt(exprs(1)), asInt(exprs(2)))),
    "word_shingles" -> ((exprs: Seq[Expression]) =>
      WordShingles(exprs(0), asInt(exprs(1)))),
    "minhash_bands" -> ((exprs: Seq[Expression]) =>
      MinHashBands(exprs(0), asInt(exprs(1)), asInt(exprs(2)))),
    "bloom_might_contain" -> ((exprs: Seq[Expression]) =>
      BloomMightContain(exprs(0), exprs(1), asInt(exprs(2)))),
    "cm_estimate" -> ((exprs: Seq[Expression]) =>
      CmEstimate(exprs(0), exprs(1), asInt(exprs(2)), asInt(exprs(3))))) ++
    graft.functions.TopKAgg.builders

  /** Reject join nodes with no condition (Cross, or Inner without ON)
    * unless either side carries a broadcast-style hint. Runs on the
    * analyzed plan, where user hints are still `ResolvedHint` children
    * (EliminateResolvedHint folds them into JoinHint only at optimizer
    * start). */
  def assertNoCartesian(plan: LogicalPlan): Unit =
    plan.foreach { node =>
      node match {
        case j @ Join(left, right, joinType, cond, hint) =>
          val cartesian =
            joinType == Cross || (joinType == Inner && cond.isEmpty)
          // Only a hint in THIS join's own input lineage exempts it:
          // walk down the unary chain (Project/Filter/SubqueryAlias/
          // Limit/... the user may stack above a broadcast() call). A
          // unary walk can never cross ANOTHER join — Join has two
          // children and stops the recursion — which is exactly the
          // bypass the old subtree-wide collectFirst allowed (a
          // broadcast on an unrelated inner join exempting an
          // unconditioned top-level one).
          @annotation.tailrec
          def hinted(p: LogicalPlan): Boolean = p match {
            case _: ResolvedHint => true
            case _: Join => false
            case u if u.children.size == 1 => hinted(u.children.head)
            case _ => false
          }
          val exempt = hinted(left) || hinted(right) ||
            hint.leftHint.isDefined || hint.rightHint.isDefined
          if (cartesian && !exempt)
            throw new CartesianDisallowedException(
              "Cartesian join rejected by spark.graft.failOnCartesian: " +
                s"$joinType join with ${cond.fold("no condition")(_.sql)}. " +
                "Add a join condition, or broadcast() a deliberately tiny side.")
        case _ => ()
      }
      // foreach does not descend into subquery expressions — a
      // cartesian inside IN (...) / EXISTS (...) must not slip through
      node.subqueries.foreach(assertNoCartesian)
    }
}
