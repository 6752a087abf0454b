package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkRuntimeException
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DoubleType, LongType, StringType, StructType}

/** Bridge into `private[sql]` Spark internals needed by graft's native
  * Catalyst expressions (Column↔Expression conversion, the
  * AbstractDataType input-type contract), by the wire server's result
  * encoder and COPY FROM STDIN, and by the shared table plans. Lives
  * under the org.apache.spark.sql namespace for access; contains no
  * graft logic beyond scoping [[graft.StreamedOrderBy]] to the wire's
  * execution.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Null-propagating concat built directly on catalyst — internal
    * operators must use THIS, not `functions.concat`: Spark 4 resolves
    * `functions.*` through the session registry by name, and graft
    * re-registers `concat` with DuckDB's NULL-skipping stringify
    * semantics (DuckVocab10). */
  def rawConcat(cols: Column*): Column =
    column(org.apache.spark.sql.catalyst.expressions.Concat(
      cols.map(expression)))
  val arrayBinaryInput: Seq[AbstractDataType] = Seq(ArrayType, ArrayType)

  /** The error `raise_error(message)` throws. */
  def userError(message: String): RuntimeException =
    new SparkRuntimeException("USER_RAISED_EXCEPTION", Map("errorMessage" -> message))
  val stringBinaryInput: Seq[AbstractDataType] = Seq(StringType, StringType)
  val stringUnaryInput: Seq[AbstractDataType] = Seq(StringType)
  val longBinaryInput: Seq[AbstractDataType] = Seq(LongType, LongType)
  val doubleQuadInput: Seq[AbstractDataType] =
    Seq(DoubleType, DoubleType, DoubleType, DoubleType)

  /** What `Dataset.toLocalIterator` runs, minus its `Row` deserializer.
    * The plan is built and run with [[graft.StreamedOrderBy]] on: a root
    * ORDER BY sorts in one partition, which is all the iterator's
    * one-partition-per-job pull can use. */
  def toLocalInternalIterator(qe: QueryExecution): Iterator[InternalRow] =
    graft.StreamedOrderBy.streaming {
      SQLExecution.withNewExecutionId(qe, Some("toLocalIterator")) {
        QueryExecution.withInternalError("""The "toLocalIterator" action failed.""") {
          qe.executedPlan.resetMetrics()
          qe.executedPlan.executeToIterator()
        }
      }
    }

  /** `SparkSession.sql`, split in two: `parse` runs the session's parser
    * under the tracker's PARSING phase, and `ofRows` analyzes the plan
    * (running it when it is a command) under the same tracker. */
  def parse(session: SparkSession, sql: String,
      tracker: QueryPlanningTracker): LogicalPlan = {
    val s = session.asInstanceOf[classic.SparkSession]
    s.withActive(tracker.measurePhase(QueryPlanningTracker.PARSING)(
      s.sessionState.sqlParser.parsePlan(sql)))
  }
  def ofRows(session: SparkSession, plan: LogicalPlan,
      tracker: QueryPlanningTracker = new QueryPlanningTracker): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan, tracker)

  /** An analyzed `plan` as a DataFrame of `session`, so that one plan
    * serves many sessions without being analyzed again. Each caller
    * gets its own root: a Dataset records itself on its root node, and
    * the shared plan must not collect those records from every
    * connection's thread. */
  def ofPlan(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      Project(plan.output, plan))

  /** `rows`, already of `schema`'s types, as a one-partition DataFrame
    * whose plan knows its size. Not a `LocalRelation`: that holds the
    * rows in the plan, and each analyzer rule that transforms
    * expressions without tree-pattern pruning walks every row (about
    * 60 ms per analysis of 20k rows on a 4-core x86 host). */
  def rowsFrame(session: SparkSession, schema: StructType,
      rows: Seq[InternalRow], sizeInBytes: Long): DataFrame = {
    val s = session.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, LogicalRDD(DataTypeUtils.toAttributes(schema),
      s.sparkContext.parallelize(rows, 1))(s, Some(Statistics(sizeInBytes))))
  }
}
