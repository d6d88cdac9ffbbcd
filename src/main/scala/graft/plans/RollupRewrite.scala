package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Transparent CONTINUOUS-AGGREGATE query rewrite — the TimescaleDB
  * "materialized rollup read path" (public pattern: real-time/continuous
  * aggregates; also Druid/Pinot rollup-aware querying): a logical
  * `Aggregate` over the RAW events relation whose grouping is exactly
  * (user_id, date_trunc(tier, ts)) for a tier with a registered store
  * ('minute' / 'hour' / 'day') and whose aggregate functions are
  * derivable from that store's (cnt, vsum) columns is rewritten to
  * RE-AGGREGATE THE STORED ROLLUP instead — an event-sized scan+shuffle
  * becomes a bucket-sized one, transparently to the query author. At
  * 100 TB this is the difference between touching the raw corpus and
  * touching ~1/3600 (hour tier) or ~1/86400 (day tier) of it for every
  * bucket-aligned dashboard query.
  *
  * Correctness contract (all enforced or documented):
  *  - each stored rollup must be COMPLETE for the raw table (the refresh
  *    loop's invariant, q68; for a half-fresh store use
  *    [[graft.pipeline.Rollup.realtimeRead]] instead, q81);
  *  - a store may hold MULTIPLE partial rows per (user, bucket)
  *    (incremental refresh appends): the rewrite re-aggregates with
  *    `sum`, never assumes one row per bucket;
  *  - count(*) ↦ coalesce(sum(cnt), 0) (non-nullable, like count);
  *    sum(cast(value as decimal(12,2))) ↦ cast(sum(vsum), original type)
  *    — decimal arithmetic, so the rewrite is EXACT, not approximate;
  *    avg(cast(value as decimal)) ↦ sum(vsum) / sum(cnt) rebuilt with
  *    Average's own internal operand types, bit-identical (see mapOutput);
  *  - a `WHERE` filter between the aggregate and the raw scan is
  *    rewritten too, when its predicate is deterministic and references
  *    ONLY the `user_id` grouping key: selecting grouping keys commutes
  *    with grouping, so the predicate is pushed onto the store's own
  *    user_id column (bucket-sized filter instead of event-sized). A
  *    predicate touching `ts`, `value` or any other raw column
  *    disqualifies the rewrite — those columns do not survive rollup;
  *  - output attribute ids are preserved, so parent operators (and the
  *    analyzed schema) are untouched;
  *  - anything it cannot prove rewritable (extra grouping keys, other
  *    aggregate functions, a truncation with no registered tier, a
  *    value-column predicate) is left alone.
  *
  * Use: [[RollupRewrite.servedFrom]] (hour tier) /
  * [[RollupRewrite.servedFromTiers]] (any subset of minute/hour/day)
  * apply the rule to ONE query's optimized plan; no session-global
  * optimizer state is touched.
  */
final class RollupRewriteRule(
    rawPathContains: String,
    tiers: Map[String, LogicalPlan]) extends Rule[LogicalPlan] {

  /** One registered tier's resolved store columns. */
  private final case class Store(
      plan: LogicalPlan,
      user: Attribute,
      bucket: Attribute,
      cnt: Attribute,
      vsum: Attribute,
      vmin: Option[Attribute],
      vmax: Option[Attribute]) {
    val vsumScale: Option[Int] = vsum.dataType match {
      case d: DecimalType => Some(d.scale)
      case _ => None
    }
  }

  private val stores: Map[String, Store] = tiers.map { case (fmt, p) =>
    def req(n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"$fmt rollup store lacks required column $n"))
    fmt.toLowerCase -> Store(p, req("user_id"), req("bucket_start"),
      req("cnt"), req("vsum"),
      p.output.find(_.name == "vmin"), p.output.find(_.name == "vmax"))
  }

  private def isRawScan(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.exists(_.toString.contains(rawPathContains))
      case _ => false
    }
    case _ => false
  }

  /** The tier name when `e` is date_trunc(<registered tier>, ts) on the
    * BARE ts attribute (modulo the ntz→tz cast Spark inserts):
    * date_trunc(t, ts + INTERVAL …) or any derived expression must NOT
    * be served from bucket_start. */
  private def truncTier(e: Expression): Option[String] = e match {
    case TruncTimestamp(StringLiteral(fmt), ts, _)
        if stores.contains(fmt.toLowerCase) =>
      ts match {
        case a: AttributeReference if a.name == "ts" => Some(fmt.toLowerCase)
        case Cast(a: AttributeReference, _: org.apache.spark.sql.types.TimestampType, _, _)
          if a.name == "ts" => Some(fmt.toLowerCase)
        case _ => None
      }
    case _ => None
  }

  private object StringLiteral {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(s, _: org.apache.spark.sql.types.StringType) =>
        Option(s).map(_.toString)
      case _ => None
    }
  }

  /** Unwraps the plan under the pulled-out-grouping Project down to the
    * raw relation, collecting at most one deterministic Filter and
    * skipping attribute-only (column-pruning) Projects. Anything else —
    * a computed column, a second filter layer the optimizer failed to
    * merge, a join — disqualifies the rewrite. */
  private object RawUnder {
    def unapply(p: LogicalPlan): Option[(Option[Expression], LogicalPlan)] =
      p match {
        case rel if isRawScan(rel) => Some((None, rel))
        case Filter(cond, inner) if cond.deterministic =>
          unapply(inner) match {
            case Some((None, rel)) => Some((Some(cond), rel))
            case _ => None
          }
        case Project(ps, inner) if ps.forall(_.isInstanceOf[AttributeReference]) =>
          unapply(inner)
        case _ => None
      }
  }

  private def sumOf(attr: Attribute): Expression =
    AggregateExpression(Sum(attr), Complete, isDistinct = false)

  /** Map one output column of the original aggregate onto the rollup, or
    * None if it isn't derivable. `truncId` is the exprId of the pulled-out
    * trunc grouping expression (see [[apply]]). */
  private def mapOutput(st: Store, ne: NamedExpression,
      truncId: ExprId): Option[NamedExpression] =
    ne match {
      case a: AttributeReference if a.name == "user_id" =>
        Some(Alias(st.user, a.name)(exprId = a.exprId))
      case a: AttributeReference if a.exprId == truncId =>
        Some(Alias(st.bucket, a.name)(exprId = a.exprId))
      case Alias(a: AttributeReference, name) if a.exprId == truncId =>
        Some(Alias(st.bucket, name)(exprId = ne.exprId))
      // count(NULL) is always 0 — only a NON-null literal is row count
      case Alias(AggregateExpression(Count(Seq(Literal(v, _))), _, false, _, _), name)
          if v != null =>
        Some(Alias(Coalesce(Seq(sumOf(st.cnt), Literal(0L, LongType))), name)(
          exprId = ne.exprId))
      case Alias(ae @ AggregateExpression(Sum(se, _), _, false, _, _), name) =>
        se match {
          // the cast SCALE must match the store's (per-row rounding at a
          // different scale is NOT recoverable from vsum: rounding to 0
          // decimals then summing ≠ summing 2-decimal partials then
          // rounding); precision only bounds overflow, so any >= works
          case Cast(v: AttributeReference, dt: DecimalType, _, _)
              if v.name == "value" && st.vsumScale.contains(dt.scale) =>
            Some(Alias(Cast(sumOf(st.vsum), ae.dataType), name)(exprId = ne.exprId))
          case _ => None
        }
      // avg(cast(value as decimal(s-scale))) ↦ sum(vsum) / sum(cnt),
      // rebuilt to mirror Average's OWN decimal evaluation exactly: Spark
      // evaluates a decimal Average as Divide(sum: DECIMAL(p+10, s),
      // count cast DECIMAL(20,0)) cast to DECIMAL(p+4, s+4) — we feed that
      // same division the SAME operand types and (exact-decimal) values,
      // so every rounding step is bit-identical to the raw-scan answer.
      // The store's re-aggregated totals are exact (decimal sums), hence
      // the rewrite serves avg EXACTLY, not approximately — the
      // TimescaleDB finalized-aggregate read for mean.
      case Alias(ae @ AggregateExpression(Average(se, _), _, false, _, _), name) =>
        se match {
          case Cast(v: AttributeReference, dt: DecimalType, _, _)
              if v.name == "value" && st.vsumScale.contains(dt.scale) =>
            // DecimalType.bounded / LongDecimal are private[sql]; these are
            // their public definitions (sum type = p+10 capped at 38; count
            // cast = DECIMAL(20,0))
            val sumT = DecimalType(math.min(dt.precision + 10, 38), dt.scale)
            val divided = Divide(
              Cast(sumOf(st.vsum), sumT),
              Cast(Coalesce(Seq(sumOf(st.cnt), Literal(0L, LongType))),
                DecimalType(20, 0)))
            Some(Alias(Cast(divided, ae.dataType), name)(exprId = ne.exprId))
          case _ => None
        }
      case Alias(AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate.Min(v: AttributeReference),
          _, false, _, _), name) if v.name == "value" && st.vmin.isDefined =>
        Some(Alias(AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate.Min(st.vmin.get),
          Complete, isDistinct = false), name)(exprId = ne.exprId))
      case Alias(AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate.Max(v: AttributeReference),
          _, false, _, _), name) if v.name == "value" && st.vmax.isDefined =>
        Some(Alias(AggregateExpression(
          org.apache.spark.sql.catalyst.expressions.aggregate.Max(st.vmax.get),
          Complete, isDistinct = false), name)(exprId = ne.exprId))
      case _ => None
    }

  /** By the time user rules run, Catalyst has pulled complex grouping
    * expressions into a child Project (`PullOutGroupingExpressions`), so
    * the shape to match is
    *   Aggregate([user_id, g], out,
    *     Project([…attrs…, trunc AS g], [Filter] [Project] Raw)).
    * The top Project may only carry pass-through attributes besides the
    * trunc alias; below it, one deterministic user_id-only Filter and
    * attribute-only pruning Projects are allowed (the filter moves onto
    * the store) — anything else disqualifies the rewrite. */
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupExprs, aggExprs, Project(plist, RawUnder((cond, _))), _)
        if groupExprs.size == 2 &&
          cond.forall(c => c.references.nonEmpty &&
            c.references.forall(_.name == "user_id")) =>
      val truncAlias = plist.collectFirst {
        case al @ Alias(t, _) if truncTier(t).isDefined => al
      }
      val tier = truncAlias.flatMap(al => truncTier(al.child))
      val cleanProject = plist.forall {
        case _: AttributeReference => true
        case al: Alias => truncAlias.exists(_.exprId == al.exprId)
        case _ => false
      }
      val groupsMatch = truncAlias.exists { ta =>
        groupExprs.exists {
          case a: AttributeReference => a.name == "user_id"
          case _ => false
        } &&
        groupExprs.exists {
          case a: AttributeReference => a.exprId == ta.exprId
          case _ => false
        }
      }
      tier.map(stores) match {
        case Some(st) if truncAlias.isDefined && cleanProject && groupsMatch =>
          val mapped = aggExprs.map(mapOutput(st, _, truncAlias.get.exprId))
          if (mapped.forall(_.isDefined)) {
            // the user_id-only predicate commutes with grouping: re-anchor
            // it on the store's own user_id column (bucket-sized filter)
            val child = cond match {
              case Some(c) => Filter(c.transform {
                case a: AttributeReference if a.name == "user_id" => st.user
              }, st.plan)
              case None => st.plan
            }
            Aggregate(Seq(st.user, st.bucket), mapped.map(_.get), child)
          } else agg
        case _ => agg
      }
  }
}

/** Per-query application of [[RollupRewriteRule]]. */
object RollupRewrite {

  private def checked(tier: String, rollup: DataFrame): LogicalPlan = {
    val analyzed = rollup.queryExecution.analyzed
    val out = analyzed.output.map(_.name).toSet
    require(Set("user_id", "bucket_start", "cnt", "vsum").subsetOf(out),
      s"$tier rollup must expose user_id/bucket_start/cnt/vsum, got $out")
    analyzed
  }

  /** Apply the rewrite to ONE query without touching session-global
    * optimizer state: builds the rule for `stored`, applies it to `q`'s
    * optimized plan, fails loudly if it does not fire, and returns the
    * rewritten frame (q98/q100's shape). */
  def servedFrom(
      spark: SparkSession,
      rawPathContains: String,
      stored: DataFrame,
      q: DataFrame): DataFrame =
    servedFromTiers(spark, rawPathContains, Map("hour" -> stored), q)

  /** [[servedFrom]] with any subset of minute/hour/day tier stores. */
  def servedFromTiers(
      spark: SparkSession,
      rawPathContains: String,
      tiers: Map[String, DataFrame],
      q: DataFrame): DataFrame = {
    val rule = new RollupRewriteRule(rawPathContains,
      tiers.map { case (t, df) => t.toLowerCase -> checked(t, df) })
    val rewritten = rule(q.queryExecution.optimizedPlan)
    require(rewritten ne q.queryExecution.optimizedPlan,
      "the continuous-aggregate rewrite must fire for this query shape")
    org.apache.spark.sql.graft.Bridge.ofRows(spark, rewritten)
  }
}
