package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.apache.spark.sql.types.IntegerType
import graft.functions.{GeohashExpr, MinhashBandsExpr, PortableStrHashExpr, PqEncodeExpr, SimhashPackExpr, SpanHashesExpr, TokenHashesExpr, VectorSumAgg, ZOrderInterleave}

/** Engine extension point: registers graft's native Catalyst
  * expressions. Two paths:
  *
  *  - `spark.sql.extensions=graft.core.GraftExtensions` at session
  *    build (the standard SparkSessionExtensions hook), or
  *  - `GraftExtensions.register(spark)` on an existing session (used by
  *    Verify/Bench/tests, whose sessions the harness builds for us).
  *
  * Catalyst sees the registered function like any built-in: it
  * constant-folds literal calls, participates in whole-stage codegen,
  * and needs no UDF boxing.
  *
  * Both paths also fix the size of Spark's JVM-wide codegen cache
  * ([[GraftExtensions.sizeCodegenCache]]), so a query that runs again
  * reuses its compiled classes instead of compiling them again. The
  * size is a static SQL conf (`spark.sql.codegen.cache.maxEntries`):
  * `spark.conf.set` rejects it, and `CodeGenerator`'s static
  * initializer reads it once, from the conf of whichever thread
  * compiles first. So it has to be in place before the JVM's first
  * compile; setting it afterwards changes what the conf reports, never
  * the cache.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.zorderDescriptor)
    ext.injectFunction(GraftExtensions.geohashDescriptor)
    ext.injectFunction(GraftExtensions.simhashDescriptor)
    ext.injectFunction(GraftExtensions.minhashDescriptor)
    ext.injectFunction(GraftExtensions.vectorSumDescriptor)
    ext.injectFunction(GraftExtensions.pqEncodeDescriptor)
    ext.injectFunction(GraftExtensions.spanHashesDescriptor)
    ext.injectFunction(GraftExtensions.strHashDescriptor)
    ext.injectFunction(GraftExtensions.tokenHashesDescriptor)
    // the rule builder runs when a session first optimizes a plan,
    // before that plan's code is generated
    ext.injectOptimizerRule { session =>
      GraftExtensions.sizeCodegenCache(session)
      graft.plans.IdempotentStringOps
    }
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBinning)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {
  private val zorderDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("zorder_interleave"),
    new ExpressionInfo(classOf[ZOrderInterleave].getName, "zorder_interleave"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        "zorder_interleave(a, b) takes exactly two arguments")
      ZOrderInterleave(children.head, children(1))
    })

  private val geohashDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("geohash"),
    new ExpressionInfo(classOf[GeohashExpr].getName, "geohash"),
    (children: Seq[Expression]) => {
      require(children.size == 3,
        "geohash(lat, lon, precision) takes exactly three arguments")
      // withCasts: coerce numeric args (int literals, FLOAT/DECIMAL
      // columns) to the (DOUBLE, DOUBLE, INT) signature, as the
      // analyzer did for the pre-round-4 UDF form
      GeohashExpr.withCasts(children.head, children(1), children(2))
    })

  private val simhashDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash_pack"),
    new ExpressionInfo(classOf[SimhashPackExpr].getName, "simhash_pack"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        "simhash_pack(token_hashes) takes exactly one argument")
      SimhashPackExpr(children.head)
    })

  private val minhashDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_bands"),
    new ExpressionInfo(classOf[MinhashBandsExpr].getName, "minhash_bands"),
    (children: Seq[Expression]) => {
      require(children.size == 3,
        "minhash_bands(shingles, perms, bands) takes exactly three arguments")
      def intLit(e: Expression, name: String): Int = e match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"minhash_bands: $name must be an INT literal, got $other")
      }
      MinhashBandsExpr(children.head,
        intLit(children(1), "perms"), intLit(children(2), "bands"))
    })

  private val vectorSumDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vector_sum"),
    new ExpressionInfo(classOf[VectorSumAgg].getName, "vector_sum"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        "vector_sum(vec) takes exactly one argument")
      // the registry expects the bare aggregate function; the analyzer
      // wraps it in AggregateExpression like any built-in aggregate.
      // withCasts lifts float/decimal element types to double, as the
      // implicit-cast trait would for a built-in.
      VectorSumAgg.withCasts(children.head)
    })

  private val pqEncodeDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("pq_encode"),
    new ExpressionInfo(classOf[PqEncodeExpr].getName, "pq_encode"),
    (children: Seq[Expression]) => {
      require(children.size == 4,
        "pq_encode(vec, cents, m, sub) takes exactly four arguments")
      def intLit(e: Expression, name: String): Int = e match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"pq_encode: $name must be an INT literal, got $other")
      }
      PqEncodeExpr(children.head, children(1),
        intLit(children(2), "m"), intLit(children(3), "sub"))
    })

  private val spanHashesDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("span_hashes"),
    new ExpressionInfo(classOf[SpanHashesExpr].getName, "span_hashes"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        "span_hashes(token_hashes, w) takes exactly two arguments")
      val w = children(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"span_hashes: w must be an INT literal, got $other")
      }
      SpanHashesExpr(children.head, w)
    })

  private val strHashDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("portable_str_hash"),
    new ExpressionInfo(classOf[PortableStrHashExpr].getName, "portable_str_hash"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        "portable_str_hash(str) takes exactly one argument")
      PortableStrHashExpr(children.head)
    })

  private val tokenHashesDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("token_hashes"),
    new ExpressionInfo(classOf[TokenHashesExpr].getName, "token_hashes"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        "token_hashes(toks) takes exactly one argument")
      TokenHashesExpr(children.head)
    })

  /** Entries of Spark's codegen cache (Spark's default: 100). Distinct
    * generated classes, measured with the cache unbounded on a 4-core
    * host: 240 over a whole `analytics` benchmark run (setup, warm-up
    * and two timed rounds of its 16-query mix; at 100 entries each
    * round compiled ~210 classes, missing on every lookup); 144 over a
    * `stream_tail` run (~3 new per round); 2,523 over one `graft.Bench`
    * pass at sf0.01, at most 60 new in any one query's first run. So
    * 1000 holds either benchmark run four times over and any query's
    * repeat; a whole Bench pass still cycles through it. */
  val CodegenCacheEntries = 1000

  /** The codegen cache size for a session with conf `conf`: the value
    * it already carries when a user set one, else
    * [[CodegenCacheEntries]]. */
  private[graft] def cacheSize(conf: SQLConf): String = {
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    if (conf.contains(key)) conf.getConfString(key)
    else CodegenCacheEntries.toString
  }

  /** Fixes the size of Spark's JVM-wide codegen cache at
    * [[cacheSize]] of `spark`'s conf. `CodeGenerator` is forced to
    * initialize here, on this thread, while `SQLConf.get` returns a bare
    * conf that carries the size, so the size holds whichever thread
    * would have compiled first, and no session's conf claims a size
    * that is not in effect. Once `CodeGenerator` has initialized, a call
    * changes nothing and costs one empty conf object. Only the bytecode
    * compiled for identical generated source is reused: every query
    * still plans and executes. */
  private[graft] def sizeCodegenCache(spark: SparkSession): Unit = {
    val sized = new SQLConf
    sized.setConfString(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      cacheSize(spark.sessionState.conf))
    // the first touch of CodeGenerator runs its static initializer
    SQLConf.withExistingConf(sized)(CodeGenerator.compileTime)
  }

  def register(spark: SparkSession): Unit = {
    sizeCodegenCache(spark)
    // optimizer rules can't be injected into a built session through
    // SparkSessionExtensions; extraOptimizations is the sanctioned
    // post-hoc hook (idempotent: guard against double-registration)
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.IdempotentStringOps))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.IdempotentStringOps
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.RangeJoinBinning))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.RangeJoinBinning
    // planner strategies take the same post-hoc path as optimizer rules
    if (!spark.experimental.extraStrategies
        .contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    spark.sessionState.functionRegistry.registerFunction(
      zorderDescriptor._1, zorderDescriptor._2, zorderDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      geohashDescriptor._1, geohashDescriptor._2, geohashDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      simhashDescriptor._1, simhashDescriptor._2, simhashDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      minhashDescriptor._1, minhashDescriptor._2, minhashDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      vectorSumDescriptor._1, vectorSumDescriptor._2, vectorSumDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      pqEncodeDescriptor._1, pqEncodeDescriptor._2, pqEncodeDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      spanHashesDescriptor._1, spanHashesDescriptor._2,
      spanHashesDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      strHashDescriptor._1, strHashDescriptor._2, strHashDescriptor._3)
    spark.sessionState.functionRegistry.registerFunction(
      tokenHashesDescriptor._1, tokenHashesDescriptor._2,
      tokenHashesDescriptor._3)
  }
}
