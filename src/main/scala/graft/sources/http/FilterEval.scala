package graft.sources.http

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Best-effort evaluation of V1 pushdown filters against cached snapshot
  * rows (beyond reference parity — the reference pushes nothing,
  * ref: HttpLookupTableSource.scala:25-26). The source accepts simple
  * comparisons on top-level atomic columns and applies them while
  * iterating the snapshot, shrinking the frame that feeds the broadcast
  * join; ALL filters stay residual so Spark re-applies exact SQL
  * semantics — this evaluator only has to never drop a row SQL would
  * keep (null comparisons evaluate to "keep", matching that contract).
  */
object FilterEval {

  def supported(schema: StructType, f: Filter): Boolean = f match {
    case And(l, r)                => supported(schema, l) && supported(schema, r)
    case Or(l, r)                 => supported(schema, l) && supported(schema, r)
    case Not(c)                   => supported(schema, c)
    case EqualTo(a, _)            => atomic(schema, a)
    case In(a, _)                 => atomic(schema, a)
    case IsNull(a)                => has(schema, a)
    case IsNotNull(a)             => has(schema, a)
    case GreaterThan(a, _)        => atomic(schema, a)
    case GreaterThanOrEqual(a, _) => atomic(schema, a)
    case LessThan(a, _)           => atomic(schema, a)
    case LessThanOrEqual(a, _)    => atomic(schema, a)
    case _                        => false
  }

  private def has(schema: StructType, a: String): Boolean =
    !a.contains(".") && schema.fieldNames.contains(a)

  private def atomic(schema: StructType, a: String): Boolean =
    has(schema, a) && (schema(a).dataType match {
      case IntegerType | LongType | DoubleType | FloatType | StringType |
           BooleanType => true
      case _ => false
    })

  /** The rows of one snapshot that pass every pushed filter: what a scan
    * of it emits, on an executor or in a driver-side broadcast build. */
  def prefilter(rows: Array[InternalRow], pushed: Array[Filter],
                schema: StructType): Array[InternalRow] =
    if (pushed.isEmpty) rows
    else rows.filter(r => pushed.forall(eval(_, r, schema)))

  /** True iff the row passes; never false for a row SQL would keep (null
    * atoms yield false here, and SQL can't yield TRUE on them either, so
    * every composition that is false here is not-TRUE in SQL). */
  def eval(f: Filter, row: InternalRow, schema: StructType): Boolean = f match {
    case And(l, r)                => eval(l, row, schema) && eval(r, row, schema)
    case Or(l, r)                 => eval(l, row, schema) || eval(r, row, schema)
    case Not(c)                   => !eval(c, row, schema)
    case EqualTo(a, v)            => cmp(a, v, row, schema).contains(0)
    case In(a, vs)                => vs.exists(v => cmp(a, v, row, schema).contains(0))
    case IsNull(a)                => idx(schema, a).forall(row.isNullAt)
    case IsNotNull(a)             => idx(schema, a).forall(i => !row.isNullAt(i))
    case GreaterThan(a, v)        => cmp(a, v, row, schema).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(a, v, row, schema).exists(_ >= 0)
    case LessThan(a, v)           => cmp(a, v, row, schema).exists(_ < 0)
    case LessThanOrEqual(a, v)    => cmp(a, v, row, schema).exists(_ <= 0)
    case _                        => true // unknown filter: keep, Spark decides
  }

  private def idx(schema: StructType, a: String): Option[Int] =
    if (schema.fieldNames.contains(a)) Some(schema.fieldIndex(a)) else None

  /** sign(rowValue compare literal) in SQL order; None when the row value
    * is null or the attribute is absent from the (pruned) schema. SQL
    * order, not Java's: -0.0 equals 0.0 and NaN equals NaN (above every
    * other value), and strings order by UTF-8 bytes, not UTF-16 units. */
  private def cmp(attr: String, value: Any, row: InternalRow,
                  schema: StructType): Option[Int] = {
    idx(schema, attr).flatMap { i =>
      if (row.isNullAt(i) || value == null) None
      else schema(i).dataType match {
        case IntegerType => Some(java.lang.Integer.compare(row.getInt(i),
          value.asInstanceOf[Number].intValue))
        case LongType    => Some(java.lang.Long.compare(row.getLong(i),
          value.asInstanceOf[Number].longValue))
        case DoubleType  => Some(SQLOrderingUtil.compareDoubles(row.getDouble(i),
          value.asInstanceOf[Number].doubleValue))
        case FloatType   => Some(SQLOrderingUtil.compareFloats(row.getFloat(i),
          value.asInstanceOf[Number].floatValue))
        case StringType  => Some(row.getUTF8String(i).compareTo(
          UTF8String.fromString(value.toString)))
        case BooleanType => Some(java.lang.Boolean.compare(row.getBoolean(i),
          value.asInstanceOf[Boolean]))
        case _           => None
      }
    }
  }
}
