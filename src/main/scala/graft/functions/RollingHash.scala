package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash over a string's bytes:
  *   h = 0;  h = (h * 31 + byte) mod 1_000_000_007
  *
  * Document fingerprinting primitive (the rolling-hash variant of
  * text_fingerprint) as a native Catalyst expression WITH codegen — the
  * preferred extension path when built-ins can't express an op
  * (a byte-loop hash is not expressible as a Column combinator without
  * exploding the string). A Scala UDF would box every row and block
  * whole-stage codegen; this generates a tight Java loop inline.
  *
  * The same arithmetic is reproducible in ANSI SQL (see the oracle in
  * TextQueries.text_rolling_hash), which keeps even the custom-
  * expression path hash-verifiable against DuckDB.
  */
final case class RollingHash(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_hash expects STRING, got ${child.dataType.catalogString}")
  }
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * 31L + ($bytes[$i] & 0xffL)) % 1000000007L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  val Mod: Long = 1000000007L

  def hash(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 31L + (bytes(i) & 0xffL)) % Mod
      i += 1
    }
    h
  }
}

/** Function registration: via SparkSessionExtensions (the library's
  * extension entry point — `spark.sql.extensions=graft.functions.GraftExtensions`)
  * or imperatively with `GraftFunctions.register(spark)`. Both install
  * exactly `GraftFunctions.descriptors`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsofJoinOptimizations)
    // opt-in: rewrites interval-overlap theta-joins to the binned
    // equi-join (spark.graft.intervalJoin.enabled=true to activate)
    ext.injectOptimizerRule(_ => graft.plans.IntervalJoinRewrite)
  }
}

object GraftFunctions {
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private[functions] val rollingHashDescriptor: Descriptor = (
    FunctionIdentifier("rolling_hash"),
    new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        s"rolling_hash expects exactly 1 argument, got ${children.size}")
      RollingHash(children.head)
    })

  /** Every SQL function the engine ships. No name may shadow a Spark
    * built-in: the extension path would override the built-in while
    * `register` would skip it, so the same SQL would run different code
    * per session (`GraftExtensionsSpec` checks the list against
    * `FunctionRegistry.builtin`). */
  val descriptors: Seq[Descriptor] = Seq(
    rollingHashDescriptor, VecDot.descriptor, MinHashSig.descriptor,
    TrigramStats.descriptor, SimHash32.descriptor, VecL2Sq.descriptor,
    HilbertIndex2.descriptor, HilbertIndex3.descriptor,
    WinnowAnchors.descriptor)

  /** Idempotent imperative registration for sessions built without the
    * extension (tests, Verify, Bench). */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (ident, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(ident)) {
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
      }
    }
}
