package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, DataType}

/** One fused kernel call: `VectorOps.<method>(children…, constants…[, flag])`.
  *
  * Every fused function is one static method in [[VectorOps]]; this node
  * binds it to Catalyst through Spark's own `StaticInvoke`, which gives
  * the call both the interpreted path and the whole-stage-codegen path.
  * In generated code it is a single static call per row inside the
  * stage's loop, so a scan→minhash→explode pipeline is one generated loop
  * — the Spark analog of the reference's fused "interops" kernel
  * (BlazingSQL engine/src/Interpreter/interpreter_cpp.cu), which
  * compiles an expression tree into one GPU kernel.
  *
  * The string form is `name(children…, constants…)`: PlanMemo keys memos
  * on plan text, so two calls that differ in one constant must print
  * differently. Array constants print as JVM object identities, so they
  * key by instance.
  *
  * @param name the SQL name, also the pretty name: an unaliased call is
  *   the column `name(children)`
  * @param method the [[VectorOps]] method called
  * @param constants Int/Long parameters, typed exactly as the method
  *   declares them (the interpreted path finds the method by argument
  *   class: an Int passed as a Long is "method not found"), and
  *   double[]/float[] model state, which reaches generated code as a
  *   reference object
  * @param propagateNull a null column yields null without a call; false
  *   for the struct kernels that take a null text themselves
  * @param returnNullable the method may itself return null (boxed result)
  * @param flag the trailing Boolean some methods take, read from the first
  *   child's element type: true for `flag._1`, false for `flag._2`
  * @param inputType the first child's type, if checked at analysis
  *   (nullability aside)
  */
case class Kernel(
    name: String,
    method: String,
    dataType: DataType,
    children: Seq[Expression],
    constants: Seq[Any] = Nil,
    propagateNull: Boolean = true,
    returnNullable: Boolean = false,
    flag: Option[(DataType, DataType)] = None,
    inputType: Option[DataType] = None)
    extends Expression {

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = (children ++ constants).iterator
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullable: Boolean =
    (propagateNull && children.exists(_.nullable)) || returnNullable

  override def checkInputDataTypes(): TypeCheckResult = inputType match {
    case Some(t) if !DataType.equalsStructurally(children.head.dataType, t,
        ignoreNullability = true) => TypeCheckResult.TypeCheckFailure(
      s"$name needs ${t.simpleString}, got ${children.head.dataType.simpleString}")
    case _ => TypeCheckResult.TypeCheckSuccess
  }

  // built on first use, after the children resolve (the flag reads their
  // type); transient, so each deserialized copy builds its own
  @transient private lazy val invoke: StaticInvoke = {
    val flagArg = flag.map { case (t, f) =>
      children.head.dataType match {
        case ArrayType(`t`, _) => true
        case ArrayType(`f`, _) => false
        case other => throw new IllegalArgumentException(
          s"$name expects array<${t.simpleString}|${f.simpleString}>, got $other")
      }
    }
    val args = (constants ++ flagArg).map {
      case v @ (_: Int | _: Long | _: Boolean) => Literal(v)
      case obj => Literal.fromObject(obj)
    }
    StaticInvoke(VectorOps.getClass, dataType, method, children ++ args,
      propagateNull = propagateNull, returnNullable = returnNullable)
  }

  override def eval(input: InternalRow): Any = invoke.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    invoke.genCode(ctx)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}
