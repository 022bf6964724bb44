package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Poisson-bootstrap weight vector: all `reps` Poisson(1) weights
  * for one row id in a single tight JVM loop.
  *
  * The composable form ([[graft.ops.Analytics.poissonBootstrapCi]] before
  * round 13) inlined `2·reps` aggregate columns, each containing a full
  * `md5 → substring → conv → 8×when` subtree. At reps=64 that is a
  * 128-aggregate, ~64-md5-subtree plan: ~7.9 s at sf0.1 on 100 k rows —
  * nearly all of it Catalyst analysis + codegen on the giant tree, and
  * the 129-field aggregate falls out of whole-stage codegen entirely.
  * This expression computes the IDENTICAL weights (bit-for-bit) in one
  * generated call per row, so the plan shrinks to one projection and a
  * tiny (g, r) hash aggregate.
  *
  * Weight law (must match the DuckDB oracle of q163 exactly): draw r
  * reads the unsigned big-endian 32-bit word `r mod 4` of
  * `md5("boot|" + r div 4 + "|" + id)` — i.e. hex chars
  * [8·(r mod 4)+1, 8] parsed base-16, exactly Spark's
  * `conv(substring(md5(...), 8*(r%4)+1, 8), 16, 10)` — and the weight is
  * `#{k : h ≥ t_k}` over [[graft.ops.Analytics.PoissonCdf32]] (the
  * Poisson(1) CDF scaled to 2³², capped at 8; P(w > 8) < 10⁻⁶).
  */
case class BootstrapWeights(child: Expression, reps: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(reps >= 4 && reps % 4 == 0,
    s"reps must be >= 4 and a multiple of 4 (4 draws per md5), got $reps")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bootstrap_weights"
  override def inputTypes = Seq(StringType)

  // one MessageDigest per thread — safe under concurrent task threads
  // sharing a deserialized expression (the SimhashDigest discipline)
  @transient private lazy val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val thresholds: Array[Long] =
    graft.ops.Analytics.PoissonCdf32.toArray

  /** Public: invoked from generated code via an object reference. */
  def compute(id: UTF8String): GenericArrayData = {
    val md = mdLocal.get()
    val idBytes = id.getBytes
    val out = new Array[Long](reps)
    var b = 0
    while (b < reps / 4) {
      md.reset()
      md.update(("boot|" + b + "|").getBytes(StandardCharsets.UTF_8))
      md.update(idBytes)
      val d = md.digest()
      var j = 0
      while (j < 4) {
        val h = ((d(4 * j) & 0xffL) << 24) | ((d(4 * j + 1) & 0xffL) << 16) |
          ((d(4 * j + 2) & 0xffL) << 8) | (d(4 * j + 3) & 0xffL)
        var w = 0L
        var k = 0
        while (k < 8) {
          if (h >= thresholds(k)) w += 1
          k += 1
        }
        out(4 * b + j) = w
        j += 1
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bootstrapWeights", this,
      classOf[BootstrapWeights].getName)
    nullSafeCodeGen(ctx, ev, input => s"${ev.value} = $self.compute($input);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BootstrapExpressions {
  /** Column-level weight vector over a string id column. */
  def bootstrapWeights(id: Column, reps: Int): Column =
    column(BootstrapWeights(expression(id), reps))
}
