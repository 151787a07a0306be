package graft.serde

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.types._

/** `proto_encode_<message>(field, …)` → binary: the message's wire bytes
  * ([[ProtoWire.encode]]) from its fields, which [[ProtoEncode.apply]]
  * packs into one struct. NULL when any field is NULL. `doGenCode` is one
  * static call into [[ProtoWire]], so the encode stays inside whole-stage
  * codegen. */
case class ProtoEncode(msg: ProtoWire.Message, child: Expression) extends UnaryExpression {
  override def prettyName: String = s"proto_encode_${msg.name}"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // Field by field the kind's type, names and nullability aside.
    case s: StructType if DataType.equalsStructurally(s, msg.schema, ignoreNullability = true) =>
      TypeCheckResult.TypeCheckSuccess
    case s: StructType =>
      ProtoEncode.mismatch(prettyName, msg.schema.map(_.dataType), s.map(_.dataType))
    case t => ProtoEncode.mismatch(prettyName, msg.schema.map(_.dataType), Seq(t))
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(row: Any): Any =
    ProtoWire.encode(msg, row.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("protoMsg", msg)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      byte[] ${ev.value} = ${c.isNull} ? null : graft.serde.ProtoWire.encode($m, ${c.value});
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ProtoEncode {
  /** `proto_encode_<msg.name>(args)`: one argument per field, in order. */
  def apply(msg: ProtoWire.Message, args: Seq[Expression]): ProtoEncode = {
    if (args.size != msg.fields.size) throw new IllegalArgumentException(
      s"proto_encode_${msg.name} expects (${msg.fields.map(_.name).mkString(", ")}), " +
        s"got ${args.size} args")
    ProtoEncode(msg, CreateNamedStruct(msg.fields.zip(args).flatMap {
      case (f, a) => Seq(Literal(f.name), a)
    }))
  }

  private[serde] def mismatch(name: String, expected: Seq[DataType],
                              actual: Seq[DataType]): TypeCheckResult =
    TypeCheckResult.TypeCheckFailure(
      s"$name expects (${expected.map(_.simpleString).mkString(", ")}), " +
        s"got (${actual.map(_.simpleString).mkString(", ")})")
}

/** `proto_decode_<message>(binary)` → the message's struct
  * ([[ProtoWire.decode]]), one static call into [[ProtoWire]] under
  * codegen. */
case class ProtoDecode(msg: ProtoWire.Message, child: Expression) extends UnaryExpression {
  override def prettyName: String = s"proto_decode_${msg.name}"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else ProtoEncode.mismatch(prettyName, Seq(BinaryType), Seq(child.dataType))
  override def dataType: DataType = msg.schema
  override def nullSafeEval(bytes: Any): Any =
    ProtoWire.decode(msg, bytes.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("protoMsg", msg)
    defineCodeGen(ctx, ev, b => s"graft.serde.ProtoWire.decode($m, $b)")
  }
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
