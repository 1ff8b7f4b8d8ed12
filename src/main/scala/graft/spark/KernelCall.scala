package graft.spark

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** Which kernel results mean SQL NULL: the kernels return sentinels, not
  * nulls, so each function declares how its sentinel reads. */
sealed trait NullIf
object NullIf {
  /** Never NULL on non-null inputs. */
  case object Never extends NullIf
  /** 0 is NULL (cells, edges and vertexes: 0 is no valid index). */
  case object Zero extends NullIf
  /** A negative result is NULL (distances, positions, digits). */
  case object Negative extends NullIf
  /** A null reference is NULL (kernels that build a struct or nothing). */
  case object NullRef extends NullIf
}

/** Every SQL function that is one static kernel call on its arguments'
  * values. `kernel` names the method, e.g. "graft.h3.H3.cellToParent":
  * generated code calls it directly (JIT-inlinable), and interpreted eval
  * invokes the same method, resolved once by reflection from the children's
  * Java classes, so the two modes cannot drift. A null argument gives NULL;
  * then `nullIf` reads the kernel's sentinel. */
case class KernelCall(name: String, kernel: String, children: Seq[Expression],
                      dataType: DataType, nullIf: NullIf = NullIf.Never)
    extends Expression {
  override def nullable: Boolean = nullIf != NullIf.Never || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = name
  override def toString: String = s"$name(${children.mkString(", ")})"

  @transient private lazy val method: Method = {
    val dot = kernel.lastIndexOf('.')
    Class.forName(kernel.substring(0, dot)).getMethod(kernel.substring(dot + 1),
      children.map(c => CodeGenerator.javaClass(c.dataType)): _*)
  }

  override def eval(input: InternalRow): Any = {
    val args = children.map(_.eval(input).asInstanceOf[AnyRef])
    if (args.contains(null)) return null
    val r = try method.invoke(null, args: _*) catch {
      case e: InvocationTargetException if e.getCause != null => throw e.getCause
    }
    nullIf match {
      case NullIf.Zero if r.asInstanceOf[Number].longValue == 0L => null
      case NullIf.Negative if r.asInstanceOf[Number].longValue < 0L => null
      case _ => r
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val argCode = args.map(_.code).mkString("\n")
    val call = s"$kernel(${args.map(_.value).mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    if (!nullable)
      ev.copy(code = code"""
        $argCode
        $javaType ${ev.value} = $call;""", isNull = FalseLiteral)
    else {
      val anyNull = children.zip(args).collect { case (c, a) if c.nullable => a.isNull.toString }
      val sentinel = nullIf match {
        case NullIf.Never => ""
        case NullIf.Zero => s"${ev.isNull} = ${ev.value} == 0;"
        case NullIf.Negative => s"${ev.isNull} = ${ev.value} < 0;"
        case NullIf.NullRef => s"${ev.isNull} = ${ev.value} == null;"
      }
      ev.copy(code = code"""
        $argCode
        boolean ${ev.isNull} = ${if (anyNull.isEmpty) "false" else anyNull.mkString(" || ")};
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (!${ev.isNull}) {
          ${ev.value} = $call;
          $sentinel
        }""")
    }
  }

  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

/** The registration path both SQL function families (H3 and ops) share. */
object SqlFunctions {
  type Builder = Seq[Expression] => Expression
  type Coerce = Expression => Expression

  // Input coercions (Catalyst elides a redundant cast).
  private def to(t: DataType): Coerce = e => if (e.dataType == t) e else Cast(e, t)
  val lng: Coerce = to(LongType)
  val int: Coerce = to(IntegerType)
  val dbl: Coerce = to(DoubleType)
  val str: Coerce = to(StringType)
  val lngArr: Coerce = e => e.dataType match {
    case ArrayType(LongType, _) => e
    case _ => Cast(e, ArrayType(LongType))
  }
  val asIs: Coerce = identity

  // Result types: kernels never return null elements or fields.
  def arr(t: DataType): DataType = ArrayType(t, containsNull = false)
  def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  /** A registry entry: `build` gets the arguments coerced by `args`, after a
    * count check that names the function. */
  def fn(name: String, args: Coerce*)(build: Builder): (String, Builder) =
    name -> { es =>
      if (es.length != args.length)
        throw new IllegalArgumentException(
          s"$name takes ${args.length} argument(s), got ${es.length}")
      build(es.zip(args).map { case (e, c) => c(e) })
    }

  /** An entry that is one static kernel call (see [[KernelCall]]). */
  def kernel(name: String, kernel: String, dataType: DataType, nullIf: NullIf = NullIf.Never)(
      args: Coerce*): (String, Builder) =
    fn(name, args: _*)(KernelCall(name, kernel, _, dataType, nullIf))

  /** Installs `entries` into the session's function registry, once per
    * session. The once is a session-conf `marker`, not functionExists: the
    * registry is pre-seeded with every Spark built-in, so an existence check
    * would silently skip our kernel on a name collision (losing
    * createOrReplace semantics). One createOrReplace per session keeps
    * replace semantics without the per-call WARN spam. */
  def register(spark: SparkSession, marker: String, entries: Seq[(String, Builder)]): Unit =
    if (spark.conf.getOption(marker).isEmpty) {
      val registry = spark.sessionState.functionRegistry
      entries.foreach { case (name, builder) =>
        registry.createOrReplaceTempFunction(name, builder, "built-in")
      }
      spark.conf.set(marker, "true")
    }
}
