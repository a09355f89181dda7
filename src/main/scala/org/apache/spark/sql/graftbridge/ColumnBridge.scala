package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/**
 * Spark 4.x removed the public `new Column(expr)` constructor (Column moved
 * to sql-api, backed by ColumnNode). The supported internal route is
 * `org.apache.spark.sql.classic.ExpressionUtils`, which is `private[sql]`,
 * so this one-file bridge lives under the org.apache.spark.sql package —
 * the same approach used by spark-connectors in the wild.
 */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A call of the static method `method` of the Scala object `kernels`
    * on `args` — see [[GraftKernel]]. */
  def kernel(name: String, kernels: AnyRef, method: String, inputTypes: Seq[AbstractDataType],
             result: DataType, args: Seq[Expression]): Expression =
    GraftKernel(name, kernels.getClass, method, inputTypes, result, args)

  /**
   * The block-manager-resident RDD behind a localCheckpoint'ed Dataset.
   * Iterative algorithms (graft.cluster.ConnectedComponents) unpersist the
   * previous round's blocks explicitly — waiting for the async
   * ContextCleaner lets checkpoint blocks pile up across iterations and
   * shows up as irregular multi-second GC stalls.
   */
  def checkpointedRdd(df: org.apache.spark.sql.Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /**
   * Re-bind a (typically localCheckpoint'ed) Dataset to another session of
   * the SAME SparkContext, wrapping its physical RDD without re-executing or
   * copying. Iterative algorithms use this to run their convergence loop on
   * a cloned `spark.newSession()` whose SQL conf they can tune freely
   * (shuffle partitions, AQE) without mutating the caller's session —
   * `conf.set` on a shared session leaks into any query planned concurrently.
   */
  def rebindToSession(session: org.apache.spark.sql.SparkSession,
                      df: org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.DataFrame =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema)
}

/**
 * One call of a graft kernel, e.g. `jaro_winkler(a, b)`: a static method of
 * a kernel object (`graft.functions.StringSimKernels.jaroWinklerU`). Its
 * children are the call's arguments, typed strictly by `ExpectsInputTypes`
 * (a wrong-typed argument fails analysis naming the function; no implicit
 * casts). The optimizer replaces it by Catalyst's own `StaticInvoke`, which
 * codegen emits as one static call inside whole-stage codegen; a NULL
 * argument yields NULL.
 */
private[sql] case class GraftKernel(name: String, kernels: Class[_], method: String,
    inputTypes: Seq[AbstractDataType], result: DataType, children: Seq[Expression])
  extends RuntimeReplaceable with ExpectsInputTypes {
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = Iterator(children)
  override lazy val replacement: Expression =
    StaticInvoke(kernels, result, method, children, propagateNull = true, returnNullable = false)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): GraftKernel =
    copy(children = c)
}
