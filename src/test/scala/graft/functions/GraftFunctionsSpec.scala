package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The native functions exist on a session by construction: no spec calls
  * [[GraftFunctions.register]] except the fallback case below, which runs
  * on its own `newSession()` (SessionSetupGuardSpec pins that). */
class GraftFunctionsSpec extends AnyFunSuite with SparkSpec {

  private val names = GraftFunctions.functions.map(_._1.funcName)

  test("the shared session resolves every entry of the function table") {
    assert(names.size == names.distinct.size, s"duplicate names in $names")
    val missing = names.filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not resolvable on the shared session: $missing")
    val dot = spark.sql("SELECT vec_dot(array(1d, 2d), array(3d, 4d))").head().getDouble(0)
    assert(dot == 11.0)
  }

  test("no entry of the function table shadows a Spark built-in") {
    val builtin = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
    val clashes = GraftFunctions.functions.map(_._1).filter(builtin.functionExists)
    assert(clashes.isEmpty, s"replace Spark built-ins: $clashes")
  }

  test("a newSession() has every function without a register call") {
    val child = spark.newSession()
    assert(names.filterNot(child.catalog.functionExists).isEmpty)
    assert(child.sql("SELECT qsk_n(qsk_sketch(x)) FROM VALUES (1L), (2L) AS t(x)")
      .head().getLong(0) == 2L)
  }

  test("register is idempotent and brings back a dropped function") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val id = GraftFunctions.functions.find(_._1.funcName == "minhash_sig").get._1
    GraftFunctions.register(s)
    assert(registry.listFunction().count(_ == id) == 1)
    assert(registry.dropFunction(id))
    assert(!s.catalog.functionExists("minhash_sig"))
    GraftFunctions.register(s)
    GraftFunctions.register(s)
    assert(registry.listFunction().count(_ == id) == 1)
    assert(names.filterNot(s.catalog.functionExists).isEmpty)
    val sig = s.sql("SELECT minhash_sig(array('a b', 'b c'), 3)").head().getSeq[String](0)
    assert(sig.size == 3)
  }
}
