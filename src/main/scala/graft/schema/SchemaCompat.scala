package graft.schema

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Schema-evolution operators (SURVEY.md §2.5, E1/E2).
  *
  * The reference delegates to Confluent's `StorageSchemaCompatibility`:
  * compatibility check at `TopicPartitionWriter.java:136-137,217` and
  * projection at `TopicPartitionWriter.java:228`; mode semantics documented
  * at `README.md:127-141` (NONE: roll files on any change; BACKWARD/FULL:
  * project old records up to the latest schema; FORWARD: project down to
  * the oldest).
  *
  * Here both operators are pure functions over `StructType` + Catalyst
  * `Column` expressions — `project` compiles to a `select` of
  * cast/coalesce/default-fill columns, so it runs inside whole-stage
  * codegen with zero per-row interpretation (unlike the reference's
  * per-record `SchemaProjector.project`).
  */
object SchemaCompat {

  sealed trait Mode {
    /** E1: does `incoming` require rotating files currently written with
      * `current`? (`shouldChangeSchema` analog.)
      */
    def shouldChangeSchema(current: StructType, incoming: StructType): Boolean =
      this match {
        case None_ => current != incoming
        // BACKWARD/FULL keep writing with the latest schema: change only
        // when the incoming schema is NEWER (a superset here); an old
        // (subset) schema is projected up instead.
        case Backward | Full => !isProjectable(incoming, current)
        // FORWARD writes with the oldest schema: change only when the
        // incoming schema can no longer be projected down to it.
        case Forward => !isProjectable(incoming, current) && !isProjectable(current, incoming)
      }
  }
  /** `NONE` (underscore avoids clashing with scala.None). */
  case object None_ extends Mode
  case object Backward extends Mode
  case object Forward extends Mode
  case object Full extends Mode

  /** Can a record of schema `from` be projected onto `to`? Every field of
    * `from` must exist in `to` with a cast-compatible type (fields of `to`
    * missing in `from` are filled with defaults/null — the Connect
    * SchemaProjector rule for optional/defaulted fields).
    */
  def isProjectable(from: StructType, to: StructType): Boolean =
    from.fields.forall { f =>
      to.fields.find(_.name == f.name).exists(t => castCompatible(f.dataType, t.dataType))
    }

  private def castCompatible(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (a: NumericType, b: NumericType) => widens(a, b)
    case (a: StructType, b: StructType) => isProjectable(a, b)
    case (ArrayType(a, _), ArrayType(b, _)) => castCompatible(a, b)
    case (MapType(ak, av, _), MapType(bk, bv, _)) =>
      castCompatible(ak, bk) && castCompatible(av, bv)
    case _ => false
  }

  private val numericOrder: Seq[DataType] =
    Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  private def widens(a: DataType, b: DataType): Boolean =
    numericOrder.indexOf(a) >= 0 && numericOrder.indexOf(b) >= 0 &&
      numericOrder.indexOf(a) <= numericOrder.indexOf(b)

  /** E2: project `df` onto `target`: drop unknown columns, cast widening
    * columns, fill missing columns with the field's default (from metadata
    * key "default") or null — all as Catalyst expressions.
    */
  def project(df: DataFrame, target: StructType): DataFrame =
    df.select(projectFields(df.schema, target)(col): _*)

  /** E2's per-field rule for a record of schema `from` whose field `name`
    * reads as `field(name)`: each `target` field is the present field cast
    * to its type, else its default, else a typed null.
    */
  def projectFields(from: StructType, target: StructType)(field: String => Column): Seq[Column] = {
    val present = from.fieldNames.toSet
    target.fields.toSeq.map { f =>
      (if (present.contains(f.name)) field(f.name).cast(f.dataType) else defaultFor(f)).as(f.name)
    }
  }

  private def defaultFor(f: StructField): Column = {
    if (f.metadata.contains("default")) {
      f.dataType match {
        case StringType => lit(f.metadata.getString("default"))
        case LongType | IntegerType | ShortType | ByteType =>
          lit(f.metadata.getLong("default")).cast(f.dataType)
        case DoubleType | FloatType =>
          lit(f.metadata.getDouble("default")).cast(f.dataType)
        case BooleanType => lit(f.metadata.getBoolean("default"))
        case _ => lit(null).cast(f.dataType)
      }
    } else lit(null).cast(f.dataType)
  }
}
