package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.graft.PlanBridge

/** Verifies the `spark.sql.extensions=graft.functions.GraftExtensions`
  * entry point actually wires everything the library ships — the specs
  * elsewhere exercise the imperative registration path, so a function or
  * strategy missing from the extension class would otherwise only
  * surface in a user's cluster config. */
class GraftExtensionsSpec extends SparkSpec {

  private def applied: SparkSessionExtensions = {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    ext
  }

  private val names = GraftFunctions.descriptors.map(_._1.funcName)

  test("the extension injects exactly GraftFunctions.descriptors") {
    assert(names.distinct.size == names.size, names.toString)
    assert(names.toSet == Set("rolling_hash", "vec_dot", "minhash_sig",
      "trigram_stats", "simhash32", "vec_l2sq", "hilbert2", "hilbert3",
      "winnow_anchors"))
    assert(PlanBridge.injectedFunctions(applied).keySet == names.toSet)
  }

  test("no engine function shadows a Spark built-in") {
    // a shadowed name resolves to the extension's class on one path and
    // to Spark's on the other (register skips names that exist)
    val shadowed = GraftFunctions.descriptors.map(_._1)
      .filter(FunctionRegistry.builtin.functionExists)
    assert(shadowed.isEmpty, s"names Spark already defines: $shadowed")
  }

  test("register and the extension resolve every name to the same class") {
    GraftFunctions.register(spark)
    val injected = PlanBridge.injectedFunctions(applied)
    GraftFunctions.descriptors.foreach { case (ident, _, _) =>
      val registered = spark.sessionState.functionRegistry.lookupFunction(ident)
        .map(_.getClassName)
      assert(registered == injected.get(ident.funcName), ident.funcName)
    }
  }

  test("the as-of planner strategy registers through the extension") {
    val strategies = PlanBridge.injectedStrategies(applied, spark)
    assert(strategies.exists(_ eq graft.plans.AsofJoinStrategy), strategies.toString)
  }

  test("the as-of optimizer rule registers through the extension") {
    val rules = PlanBridge.injectedOptimizerRules(applied, spark)
    assert(rules.exists(_ eq graft.plans.AsofJoinOptimizations), rules.toString)
  }
}
