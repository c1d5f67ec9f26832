package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression,
  GenericInternalRow, LeafExpression, UnaryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType}

/** A driver-built catalyst value shipped as a Spark broadcast variable, the
  * same on every row — a model-sized constant (an IVF cell set) read once
  * per executor, where a literal would ship with every task and a
  * broadcast one-row relation would cost a `BroadcastExchange` job to
  * collect what the driver already holds. */
case class BroadcastValue(value: Broadcast[Any], dataType: DataType)
    extends LeafExpression with CodegenFallback {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value.value
  override def prettyName: String = "broadcast_value"
}

object BroadcastValue {
  /** `v` (a catalyst value of type `t`) as a broadcast constant column. */
  def column(spark: SparkSession, v: Any, t: DataType): Column =
    ColumnBridge.column(BroadcastValue(
      spark.sparkContext.broadcast(unsafe(v, t)), t))

  /** `v` in Spark's binary row format, the form a scan or a broadcast
    * exchange hands an expression: a driver-built value holds boxed
    * elements, which a per-row vector kernel would unbox on every read. */
  private[functions] def unsafe(v: Any, t: DataType): Any =
    UnsafeProjection.create(Array(t)).apply(new GenericInternalRow(Array(v)))
      .copy().get(0, t)
}

/** Per row, the rows of a driver-held table whose key equals `key`, as an
  * array of structs (null when none match) — see [[BroadcastLookup.join]]. */
case class BroadcastLookup(key: Expression,
    table: Broadcast[Map[Any, ArrayData]], dataType: DataType)
    extends UnaryExpression with CodegenFallback {
  override def child: Expression = key
  override def nullable: Boolean = true
  override protected def nullSafeEval(k: Any): Any =
    table.value.getOrElse(k, null)
  override protected def withNewChildInternal(c: Expression): BroadcastLookup =
    copy(key = c)
  override def prettyName: String = "broadcast_lookup"
}

object BroadcastLookup {
  /** The build side of a broadcast hash join that already lives on the
    * driver: `table` (a projection over a local relation, so collecting it
    * evaluates its expressions on the driver and runs no job) grouped by
    * `keyCol` and shipped as a Spark broadcast variable; per row of the
    * probing frame, `key`'s matching rows of `table` (its other columns,
    * in order). Explode the column for the joined rows. A
    * `BroadcastExchange` over the same local relation would run a job to
    * collect rows the driver already holds. `key` must have `keyCol`'s
    * type. */
  def join(table: DataFrame, keyCol: String, key: Column): Column = {
    val rows = table.select(col(keyCol),
      struct(table.columns.filterNot(_ == keyCol).map(col).toIndexedSeq: _*))
    val Seq(keyType, rowType) = rows.schema.map(_.dataType)
    val toKey = CatalystTypeConverters.createToCatalystConverter(keyType)
    val toRow = CatalystTypeConverters.createToCatalystConverter(rowType)
    val t = ArrayType(rowType, containsNull = false)
    val byKey: Map[Any, ArrayData] = rows.collect().toSeq
      .groupBy(r => toKey(r.get(0)))
      .map { case (k, rs) => k -> BroadcastValue.unsafe(
        new GenericArrayData(rs.map(r => toRow(r.get(1)))), t)
        .asInstanceOf[ArrayData] }
    ColumnBridge.column(BroadcastLookup(ColumnBridge.expression(key),
      table.sparkSession.sparkContext.broadcast(byKey), t))
  }
}
