package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Command, V2WriteCommand}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.datasources.noop.NoopDataSource
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** AQE query-stage preparation rule: a small query runs as one task.
  *
  * When a query's whole input fits in one advisory partition
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`: 1 MB on a local
  * master, Spark's 64 MB on a cluster), size-first AQE coalescing
  * already reduces every shuffle of it to one reducer, but each shuffle
  * still costs a map stage, a Spark job and an AQE re-plan between the
  * stages, and a global ORDER BY one more job that samples its input
  * for range bounds. This rule plans that outcome up front: every
  * `ENSURE_REQUIREMENTS` shuffle over a multi-partition input becomes a
  * `CoalesceExec(1)`, and one whose input is already a single partition
  * is dropped. `CoalesceExec(1)` reports `SinglePartition`, which meets
  * every distribution above it, so the shuffles above the first one
  * drop out too: the routed plan has no exchange and runs as one stage,
  * one job and one task.
  *
  * The price is the map side: the scan, filters, partial aggregates and
  * explodes below the coalesce run in that one task, not one task per
  * file split. The size gate bounds it to one advisory partition of
  * input (1 MB local, 64 MB on a cluster). On an empty input Spark's
  * coalesce still yields one empty partition, so a global aggregate
  * keeps its one row. Spark sets, not adds, a DSv2 reader's custom
  * metrics on its task's copy, so a connector whose readers report
  * per-split counts shows only the last split of a coalesced scan;
  * `sources.GraftLogSource`'s readers report the task's running total.
  *
  * Input size is the file bytes of the plan's file scans, the row bytes
  * of local relations and the runtime bytes of its materialized query
  * stages; a leaf of unknown size (an RDD scan, a cached relation, a
  * DSv2 scan without statistics) makes it unbounded.
  *
  * The rule applies only where nobody can observe the partition layout:
  *  - no joins, so no co-partitioning with a bucketed or
  *    hash-partitioned side has to stay consistent;
  *  - every expression deterministic (no `spark_partition_id`,
  *    `monotonically_increasing_id`, `rand`, `input_file_name`, or
  *    order-sensitive aggregates such as `collect_list`);
  *  - no object operators (`mapPartitions` and friends), no sampling
  *    and no limit, whose results depend on which partition a row
  *    lands in;
  *  - AQE partition coalescing is on, and AQE may change the final
  *    stage's partitioning (`applyFinalStageShuffleOptimizations`;
  *    Spark turns it off while it plans a cached relation, whose
  *    partitioning later queries plan against);
  *  - the result goes to the client or to the `noop` sink, never to a
  *    file, a table or a streaming write. V2 write nodes sit outside
  *    the AQE plan, so the sink is read from the running execution's
  *    `QueryExecution`; without one (a plan prepared outside any
  *    execution, e.g. by `explain`) the plan is left unchanged.
  *
  * Setting the advisory size to 1 byte turns the route off for every
  * non-empty input. */
case class SmallQueryRoute(session: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (SmallQueryRoute.accepts(plan, SQLConf.get) &&
        SmallQueryRoute.resultUnobserved(session)) SmallQueryRoute.singlePartition(plan)
    else plan
}

object SmallQueryRoute {

  /** Every guard but the sink: the plan is small, join-free and blind
    * to its partition layout. */
  def accepts(plan: SparkPlan, conf: SQLConf): Boolean =
    conf.coalesceShufflePartitionsEnabled &&
      conf.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS) &&
      nodes(plan).forall(layoutBlind) &&
      inputBytes(plan).exists(_ <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  private def layoutBlind(p: SparkPlan): Boolean = p match {
    case _: BaseJoinExec | _: ObjectProducerExec | _: ObjectConsumerExec |
         _: SampleExec | _: LimitExec => false
    case _ => p.expressions.forall(_.deterministic)
  }

  /** The plan's operators, including those inside query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case _ => p.children.flatMap(nodes)
  })

  private def inputBytes(p: SparkPlan): Option[BigInt] = p match {
    case s: QueryStageExec if s.isMaterialized => Some(s.getRuntimeStatistics.sizeInBytes)
    case s: QueryStageExec => inputBytes(s.plan)
    case r: ReusedExchangeExec => inputBytes(r.child)
    case f: FileSourceScanExec => Some(BigInt(f.relation.location.sizeInBytes))
    case l: LocalTableScanExec => Some(EstimationUtils.getSizePerRow(l.output) * l.rows.size)
    case b: BatchScanExec => b.scan match {
      case s: SupportsReportStatistics =>
        val n = s.estimateStatistics().sizeInBytes()
        if (n.isPresent) Some(BigInt(n.getAsLong)) else None
      case _ => None
    }
    case _ if p.children.isEmpty => None
    case _ => p.children.map(inputBytes).foldLeft(Option(BigInt(0))) {
      case (Some(a), Some(b)) => Some(a + b)
      case _ => None
    }
  }

  private lazy val noopTable =
    new NoopDataSource().getTable(CaseInsensitiveStringMap.empty())

  /** The running execution answers the client or writes to `noop`. */
  private def resultUnobserved(session: SparkSession): Boolean =
    Option(session.sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY))
      .flatMap(id => Option(SQLExecution.getQueryExecution(id.toLong)))
      .exists(qe => qe.logical match {
        case w: V2WriteCommand => w.table match {
          case r: DataSourceV2Relation => r.table eq noopTable
          case _ => false
        }
        case l => !l.isStreaming && !l.exists(_.isInstanceOf[Command])
      })

  private def singlePartition(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s: ShuffleExchangeExec if s.shuffleOrigin == ENSURE_REQUIREMENTS =>
      if (s.child.outputPartitioning.numPartitions == 1) s.child
      else CoalesceExec(1, s.child)
  }
}
