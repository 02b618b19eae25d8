package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

/** What `spark.sql.extensions=...GraftExtensions` installs, read off a fresh
  * `SparkSessionExtensions` (this package reaches its `private[sql]`
  * builders): the same functions as `GraftFunctions.register`, and no
  * optimizer rule. */
class GraftExtensionsInjectionSpec extends AnyFunSuite {

  private lazy val ext = {
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
    e
  }

  test("GraftExtensions injects exactly the functions register installs") {
    val injected = ext.registerFunctions(new SimpleFunctionRegistry)
      .listFunction().map(_.funcName).toSet
    val spark = graft.SparkTestBase.session
    GraftFunctions.register(spark)
    val registered = GraftFunctions.functions.map(_._1.funcName).toSet
    assert(registered.forall(spark.catalog.functionExists))
    assert(injected == registered)
    assert(Set("bpe_encode", "hindex_long", "gram_matrix_long").subsetOf(injected))
    assert(injected.size == 9)
  }

  test("GraftExtensions injects no optimizer rule") {
    assert(ext.buildOptimizerRules(graft.SparkTestBase.session).isEmpty)
  }
}
