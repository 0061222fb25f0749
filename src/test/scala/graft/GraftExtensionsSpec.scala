package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.internal.StaticSQLConf
import graft.core.GraftExtensions

/** What `GraftExtensions.register` fixes beyond functions and rules:
  * the size of Spark's JVM-wide codegen cache. */
class GraftExtensionsSpec extends SparkSpec {

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated query set larger than Spark's default codegen cache " +
      "compiles its generated code once per JVM") {
    // 160 plans whose generated source differs only in a literal:
    // more distinct classes than Spark's default 100-entry cache holds
    val plans = (0 until 160).map(i =>
      spark.range(10).selectExpr(s"id + $i AS v", s"id * ${i + 1} AS w"))
    def pass(): (Long, Seq[Seq[Row]]) = {
      val c0 = compiles
      val rows = plans.map(_.collect().toSeq)
      (compiles - c0, rows)
    }
    val (first, rows1) = pass()
    val (second, rows2) = pass()
    assert(first >= 160, "each plan compiles its own class the first time")
    assert(second === 0L, "the second pass finds every class in the cache")
    assert(rows2 === rows1)
    assert(rows1(7) === (0 until 10).map(i => Row(i + 7L, i * 8L)))
  }

  test("the cache size is a user's setting when there is one, else " +
      "CodegenCacheEntries") {
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    val user = spark.newSession()
    user.sessionState.conf.setConfString(key, "321")
    assert(GraftExtensions.CodegenCacheEntries != 321)
    assert(GraftExtensions.cacheSize(user.sessionState.conf) === "321")
    val plain = spark.newSession()
    assert(GraftExtensions.cacheSize(plain.sessionState.conf) ===
      GraftExtensions.CodegenCacheEntries.toString)
  }

  test("register writes no session's conf and keeps the active session") {
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    val active = SparkSession.getActiveSession
    val plain = spark.newSession()
    GraftExtensions.register(plain)
    assert(!plain.sessionState.conf.contains(key))
    assert(SparkSession.getActiveSession === active)
  }
}
