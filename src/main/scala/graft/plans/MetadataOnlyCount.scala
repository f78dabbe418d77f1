package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal,
  NamedExpression, Not}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

import graft.functions.DvHidden
import graft.load.CommittedScan

/** An unfiltered `count(*)` over a committed table answered from the
  * commit log, with no Spark job: `Aggregate([], [count(1)])` becomes a
  * one-row [[LocalRelation]] holding Σ file rows − Σ hidden rows. Every
  * writer records each data file's exact footer row count in its
  * manifest (`#zc`), [[ManifestFileIndex]] carries those counts, and
  * the deletion-vector filter's [[DvHidden]] index says which rows of
  * each file are hidden. Spark's `OptimizeMetadataOnlyQuery` and Delta's
  * `OptimizeMetadataOnlyDeltaQuery` make the same move.
  *
  * It answers only when every aggregate is a plain `count` of a
  * non-null literal (`count(*)`, `count(1)`, `Dataset.count`) with no
  * grouping key, and the subtree is built from `Union`, `Project`, the
  * DV filter `NOT graft_dv_hidden(…)` and scans of a
  * [[ManifestFileIndex]] — none of which drops a row the counts do not
  * account for. Anything else keeps the scan: any other filter (a
  * user's predicate, a zone-pruned relation's row filter), `count(col)`,
  * DISTINCT, a FILTER clause, a grouping key, or any file without a
  * recorded count (a manifest written before every writer recorded
  * one).
  *
  * Installed with [[ZonePrune]] by the same [[ZonePrune.register]], on
  * `experimental.extraOptimizations`: it runs after the main optimizer,
  * when column pruning has already reduced the count's input to these
  * nodes. */
object MetadataOnlyCount extends Rule[LogicalPlan] {
  private type DvIndex = Map[String, (Array[Long], Array[Long])]

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case a: Aggregate if a.groupingExpressions.isEmpty &&
        a.aggregateExpressions.nonEmpty &&
        a.aggregateExpressions.forall(isCountStar) =>
      liveRows(a.child, None) match {
        case Some(n) => LocalRelation(a.output,
          Seq(InternalRow.fromSeq(a.aggregateExpressions.map(_ => n))))
        case None => a
      }
  }

  private def isCountStar(e: NamedExpression): Boolean = e match {
    case Alias(ae: AggregateExpression, _) =>
      !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
        case Count(Seq(Literal(v, _))) => v != null
        case _ => false
      })
    case _ => false
  }

  /** The rows `p` returns, from metadata alone; `dv` is the DV filter
    * applying to the scans below. `None` = cannot answer, scan. */
  private def liveRows(p: LogicalPlan, dv: Option[DvIndex]): Option[Long] =
    p match {
      case u: Union =>
        u.children.foldLeft(Option(0L))((acc, c) =>
          acc.flatMap(n => liveRows(c, dv).map(n + _)))
      case Project(_, c) => liveRows(c, dv)
      case Filter(Not(d: DvHidden), c) if dv.isEmpty =>
        liveRows(c, Some(d.index))
      case lr: LogicalRelation if !lr.isStreaming => lr.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case m: ManifestFileIndex => m.liveRows(path =>
            dv.flatMap(_.get(CommittedScan.norm(path.toUri.toString))))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
}
