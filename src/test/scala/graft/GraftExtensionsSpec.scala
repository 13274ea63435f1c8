package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions path: a session built with
  * `spark.sql.extensions=graft.GraftExtensions` resolves every native
  * function from pure SQL with no runtime register calls. */
class GraftExtensionsSpec extends AnyFunSuite with SparkSpec {

  /** Run `f` on a session whose only graft registration is the
    * extension. It reuses the shared SparkContext with a new
    * SessionState (`spark.sql.extensions=graft.GraftExtensions` is the
    * conf-file equivalent, but it's a static conf — on a shared test
    * context only the programmatic injection point can apply). */
  private def withExtensionSession[A](f: SparkSession => A): A = {
    val orig = spark // ensure the shared context exists
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne orig)
      f(s2)
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("an extension-only session resolves every runtime-registered name") {
    import graft.functions.{HashFunctions, PqFunctions, VectorFunctions}
    val plain = spark.newSession()
    val registry = plain.sessionState.functionRegistry
    val builtin = registry.listFunction().toSet
    HashFunctions.register(plain)
    VectorFunctions.register(plain)
    PqFunctions.register(plain)
    val runtime = registry.listFunction().toSet -- builtin
    assert(runtime.size >= 20, s"runtime registered only $runtime")
    withExtensionSession { s2 =>
      val missing = runtime.filterNot(s2.sessionState.functionRegistry.functionExists)
      assert(missing.isEmpty,
        s"registered at runtime but unknown to the extension: ${missing.mkString(", ")}")
    }
  }

  test("a conf-extended session resolves graft functions from pure SQL") {
    withExtensionSession { s2 =>
      val dot = s2.sql(
        "SELECT vec_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
          "array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)))").head().getDouble(0)
      assert(dot == 11.0)
      val h = s2.sql("SELECT str_hash_p('hello')").head().getLong(0)
      assert(h == graft.functions.HashKernels.strHashP(
        org.apache.spark.unsafe.types.UTF8String.fromString("hello")))
      val toks = s2.sql("SELECT tokenize_words('A b-C')").head().getSeq[String](0)
      assert(toks == Seq("a", "b", "c"))
      assert(s2.sql("SELECT sorted_intersect_count(array(1L,2L,3L), array(2L,3L,9L))")
        .head().getInt(0) == 2)
      // bloom probe: a sketch with key 7's bits set accepts 7
      val bloomLit = {
        val bits = new Array[Byte](64)
        graft.functions.HashKernels.bloomSet(bits, 7L, 3)
        "X'" + bits.map(b => f"$b%02x").mkString + "'"
      }
      assert(s2.sql(s"SELECT bloom_might_contain($bloomLit, 7L, 3)").head().getBoolean(0))
      assert(!s2.sql(s"SELECT bloom_might_contain($bloomLit, 8L, 3)").head().getBoolean(0))
      val grams = s2.sql("SELECT word_ngrams('a b c', 2)").head().getSeq[String](0)
      assert(grams == Seq("a b", "b c"))
      // DESCRIBE FUNCTION works (ExpressionInfo wired)
      val desc = s2.sql("DESCRIBE FUNCTION vec_dot").collect().mkString
      assert(desc.contains("vec_dot"))
      // (no negative check against the shared session: other suites
      // legitimately register the same functions on it at runtime)
    }
  }
}
