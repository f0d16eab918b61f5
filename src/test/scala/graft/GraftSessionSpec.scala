package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** `tune()` must APPEND GraftExtensions to extensions the caller already
  * configured, not overwrite them — spark.sql.extensions is a
  * comma-separated list and last-write-wins would silently drop the
  * caller's classes (builder-only cases: no session is created). And
  * `requireExtensions` must refuse a session the extensions did not
  * build. */
class GraftSessionSpec extends SparkSpec {

  private def extensionsOf(b: SparkSession.Builder): String =
    GraftSqlBridge.builderOption(b, "spark.sql.extensions").getOrElse("")

  test("tune() preserves caller-configured extensions by appending") {
    val b = SparkSession.builder()
      .config("spark.sql.extensions", "com.example.CallerExtensions")
    GraftSession.tune(b)
    assert(extensionsOf(b) ===
      "com.example.CallerExtensions," + GraftSession.ExtensionsClass)
  }

  test("tune() sets GraftExtensions alone when nothing was configured") {
    val b = SparkSession.builder()
    GraftSession.tune(b)
    assert(extensionsOf(b) === GraftSession.ExtensionsClass)
  }

  test("tune() is idempotent: no duplicate GraftExtensions entry") {
    val b = SparkSession.builder()
      .config("spark.sql.extensions",
        s"com.example.CallerExtensions,${GraftSession.ExtensionsClass}")
    GraftSession.tune(b)
    GraftSession.tune(b)
    assert(extensionsOf(b) ===
      "com.example.CallerExtensions," + GraftSession.ExtensionsClass)
  }

  test("requireExtensions passes a tuned session and names tune when a function is missing") {
    GraftSession.requireExtensions(spark)
    val bare = GraftSqlBridge.cloneSession(spark)
    bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier("float_dot"))
    val e = intercept[IllegalArgumentException](GraftSession.requireExtensions(bare))
    assert(e.getMessage.contains("float_dot"), e.getMessage)
    assert(e.getMessage.contains("GraftSession.tune"), e.getMessage)
  }
}
