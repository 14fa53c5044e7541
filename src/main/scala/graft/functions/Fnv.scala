package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 32-bit hash with the sign bit masked off — the reference engine's
  * shuffle partition hash (`ihash`, reference `src/mr/worker.go:25-29`;
  * applied as `ihash(key) % nReduce` at `src/mr/worker.go:90`).
  *
  * Implemented as a native Catalyst `Expression` with code generation so it
  * participates in whole-stage codegen (no UDF serialization / boxing on the
  * hot path). Logically Spark's own Murmur3 hash partitioning is equivalent
  * (SURVEY §1.3 — partition layout never affects query results);
  * `MapReduce.run` buckets by this hash so its reduce output has the
  * reference's `mr-out-<r>` layout.
  */
object Fnv1a32 {
  final val OffsetBasis: Int = 0x811c9dc5
  final val Prime: Int = 16777619

  /** Matches Go's hash/fnv 32a Sum32, masked to non-negative. */
  def hash(bytes: Array[Byte]): Int = {
    var h = OffsetBasis
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xff)
      h *= Prime
      i += 1
    }
    h & 0x7fffffff
  }
}

case class Fnv1a32Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "fnv1a32"

  override def nullSafeEval(input: Any): Any =
    Fnv1a32.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fnv1a32.hash(($c).getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Fnv1a32Expr =
    copy(child = newChild)
}
