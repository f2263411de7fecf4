package graft.io

import org.apache.spark.SparkException
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DataType
import scala.collection.mutable

/** Batch- and request-sized values held on the driver: collected in one
  * job under one budget, and matched against in a plan whose generated
  * code does not change with the values.
  *
  * `limit(n + 1).collect()` scans one partition first and then scales up,
  * one job per round, and a limit inside generated code names its counter
  * afresh in every plan, so each call compiles a new class; [[rows]] and
  * [[values]] run one job over every partition, each task stopping at
  * `max + 1` rows outside the generated code, and the driver fails the
  * job as soon as the results it has taken pass `max` in total. A
  * broadcast of a local frame is a job of its own, and `isin` over ten
  * values or fewer inlines them into the generated code; [[isIn]] is one
  * set-valued predicate instead.
  */
object Local {

  /** The rows of `df`, failing with `remedy` when there are more than
    * `max` of them.
    */
  def rows(df: DataFrame, max: Int)(remedy: => String): Array[Row] =
    atMost(df, max).getOrElse(throw new IllegalArgumentException(s"requirement failed: $remedy"))

  /** The rows of `df`, or None when there are more than `max` of them
    * (the job stops as soon as it has shipped more).
    */
  def atMost(df: DataFrame, max: Int): Option[Array[Row]] = {
    val out = mutable.ArrayBuffer.empty[InternalRow]
    Option.when(ship[InternalRow](df, max)(identity, out ++= _, out.size)) {
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      out.iterator.map(r => toRow(r).asInstanceOf[Row]).toArray
    }
  }

  /** The distinct values of `df`'s first column (nulls dropped), as
    * Scala values, failing with `remedy` when there are more than `max`
    * of them. Each task ships its own distinct values, so a value many
    * rows repeat counts once.
    */
  def values(df: DataFrame, max: Int)(remedy: => String): Set[Any] = {
    val dt = df.schema.head.dataType
    val out = mutable.HashSet.empty[Any]
    require(ship[Any](df.select(df.columns.head), max)(
      _.filterNot(_.isNullAt(0)).map(_.get(0, dt)).distinct, out ++= _, out.size), remedy)
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    out.iterator.map(toScala).toSet
  }

  /** One job over `df`: each task ships at most `max + 1` of `perTask`'s
    * values, `take` folds each task's values into the driver's copy as the
    * task finishes, and the job stops once `held` passes `max` (false);
    * results that arrive after that are dropped, so the driver never
    * holds more than the budget plus one task's share.
    */
  private def ship[T: scala.reflect.ClassTag](df: DataFrame, max: Int)(
      perTask: Iterator[InternalRow] => Iterator[T],
      take: Array[T] => Unit, held: => Int): Boolean = {
    val qe = df.queryExecution
    val overBudget = new IllegalArgumentException(s"more than $max rows")
    var over = false
    try SQLExecution.withNewExecutionId(qe, Some("Local.rows")) {
      val rdd = qe.toRdd
      rdd.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => perTask(it.map(_.copy())).take(max + 1).toArray,
        (_: Int, shipped: Array[T]) => if (!over) {
          take(shipped)
          over = held > max
          if (over) throw overBudget
        })
      true
    } catch {
      case e: SparkException if e.getCause eq overBudget => false
    }
  }

  /** `c` is one of `values` (Scala values of type `dt`, as [[rows]] and
    * [[values]] return them); null `values` never match. One `InSet`
    * whatever the count: generated code holds the set as one reference.
    */
  def isIn(c: Column, dt: DataType, values: Iterable[Any]): Column = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    ColumnBridge.column(InSet(ColumnBridge.expression(c.cast(dt)),
      values.iterator.filter(_ != null).map(toCatalyst).toSet))
  }
}
