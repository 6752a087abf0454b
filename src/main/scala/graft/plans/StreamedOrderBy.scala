package graft

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CollectLimitExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a root ORDER BY whose rows the
  * wire streams sorts a small input in one range partition.
  *
  * A global sort plans `rangepartitioning(o, n)` with AQE's initial
  * partition count (1024). For n > 1, `RangePartitioner` first runs a
  * sampling job over the sort's whole input, which computes that input
  * once more before the shuffle does. With n = 1 there is no sampling
  * job, the map stage writes one partition, and the result job sorts
  * and streams it.
  *
  * Only a small input gets one partition: at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB), the
  * largest shuffle that AQE, slicing for parallelism across the
  * session's cores, coalesces into one partition anyway. A larger input
  * keeps its n partitions: AQE coalesces them into slices that
  * `executeToIterator` sorts and streams one job at a time, so the first
  * row waits for one slice's sort, not the whole input's (BENCH_NOTES,
  * "Root ORDER BY A/B": one partition for a sorted 600k-row stream cut
  * its latency but delayed its first row).
  *
  * Fires only inside [[StreamedOrderBy.streaming]], which the wire's one
  * execution entry point (`ColumnBridge.toLocalInternalIterator`) wraps
  * around building and running the plan, as does `EXPLAIN`, so that it
  * shows the plan the wire runs. AQE builds the initial plan
  * and every re-plan on that thread, and runs this rule on each, so the
  * size is re-estimated once child stages have run. `collect()`, writes
  * and checkpoints keep their n partitions: there they run as one
  * parallel job.
  *
  * Looks through order- and partition-preserving nodes above the sort
  * (a projection, a root limit or offset) and changes only the
  * exchange's partition count.
  */
object StreamedOrderBy extends Rule[SparkPlan] {

  private val active = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** `body` with the rule switched on for this thread. */
  def streaming[T](body: => T): T = {
    val outer = active.get
    active.set(true)
    try body finally active.set(outer)
  }

  override def apply(plan: SparkPlan): SparkPlan =
    if (active.get) onePartition(plan) else plan

  private def onePartition(plan: SparkPlan): SparkPlan = plan match {
    case p @ (_: ProjectExec | _: CollectLimitExec) =>
      p.withNewChildren(Seq(onePartition(p.children.head)))
    case s @ SortExec(_, true, e @ ShuffleExchangeExec(
        r @ RangePartitioning(_, n), _, ENSURE_REQUIREMENTS, _), _)
        if n > 1 && small(e.child) =>
      val one = e.copy(outputPartitioning = r.copy(numPartitions = 1))
      one.copyTagsFrom(e)
      s.withNewChildren(Seq(one))
    case _ => plan
  }

  /** The sort's input is estimated at most one coalesced partition:
    * Spark's size estimate or, when lower, the bytes the plan reads.
    * Without column statistics a join's estimate is the product of its
    * sides, while what the plan reads does not see that a projection
    * narrows the rows. */
  private def small(input: SparkPlan): Boolean = {
    val read = readBytes(input)
    val size = input.logicalLink.map(_.stats.sizeInBytes.min(read)).getOrElse(read)
    size <= SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
  }

  /** Bytes the plan reads: a materialized shuffle's runtime size, a
    * leaf's size estimate, and what any other stage reads below it. A
    * broadcast's runtime size is its hash table's, which for a small
    * table is several times the rows it holds (about 1 MB for 190 KB).
    * A leaf with no estimate counts as unbounded. */
  private def readBytes(p: SparkPlan): BigInt = p match {
    case s: ShuffleQueryStageExec =>
      s.computeStats().map(_.sizeInBytes).getOrElse(readBytes(s.plan))
    case s: QueryStageExec => readBytes(s.plan)
    case r: ReusedExchangeExec => readBytes(r.child)
    case l if l.children.isEmpty =>
      l.logicalLink.map(_.stats.sizeInBytes).getOrElse(BigInt(Long.MaxValue))
    case _ => p.children.map(readBytes).sum
  }
}
