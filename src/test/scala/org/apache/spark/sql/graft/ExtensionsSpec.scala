package org.apache.spark.sql.graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal

/** The `SparkSessionExtensions` injection path must carry the same
  * parameter semantics as `GraftFunctions.register` — a user configuring
  * `spark.sql.extensions` instead of calling register() gets
  * honored-or-error int parameters, never a silently-dropped argument.
  * (Lives in the shim package: registerFunctions is private[sql].) */
class ExtensionsSpec extends AnyFunSuite {

  private def injectedRegistry(): FunctionRegistry = {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = FunctionRegistry.builtin.clone()
    ext.registerFunctions(reg)
    reg
  }

  test("all seven functions are injected") {
    val reg = injectedRegistry()
    Seq("graft_fnv64", "graft_simhash64", "graft_minhash", "graft_wordgrams",
      "graft_lsh_buckets", "graft_winnow", "graft_dot").foreach { n =>
      assert(reg.functionExists(FunctionIdentifier(n)), n)
    }
  }

  test("the precondition-carrying functions are not injected") {
    val reg = injectedRegistry()
    Seq("graft_sorted_intersect", "graft_capped_set").foreach { n =>
      assert(!reg.functionExists(FunctionIdentifier(n)), n)
    }
  }

  test("extension-injected graft_minhash honors k and rejects a non-foldable k") {
    val reg = injectedRegistry()
    val builder = reg.lookupFunctionBuilder(FunctionIdentifier("graft_minhash")).get
    val arr = Literal.create(Seq("x"),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    assert(builder(Seq(arr, Literal(64))).asInstanceOf[MinHashSignature].k === 64)
    assert(builder(Seq(arr)).asInstanceOf[MinHashSignature].k === 128)
    val nonFoldable = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "k", org.apache.spark.sql.types.IntegerType)()
    intercept[IllegalArgumentException] { builder(Seq(arr, nonFoldable)) }
  }

  test("extension-injected graft_dot requires exactly two arguments") {
    val reg = injectedRegistry()
    val builder = reg.lookupFunctionBuilder(FunctionIdentifier("graft_dot")).get
    val a = Literal.create(Seq(1.0),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    assert(builder(Seq(a, a)).isInstanceOf[ArrayDotProduct])
    intercept[IllegalArgumentException] { builder(Seq(a)) }
  }
}
