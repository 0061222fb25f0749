package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ⇄ Expression converters (Spark 4
  * moved `Column.apply(Expression)` behind `classic.ExpressionUtils`).
  * Living under `org.apache.spark.sql` is the standard extension-library
  * pattern for exposing native Catalyst expressions through the public
  * Column API without a function-registry round-trip. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fully-converted Catalyst tree for `c`. [[expression]] returns a
    * lazy `ColumnNodeExpression` wrapper in Spark 4 (fine inside a plan,
    * where the analyzer unwraps it) — but driver-side METADATA
    * evaluators like `graft.plans.DirStats` pattern-match on the real
    * Catalyst nodes (`LessThanOrEqual`, `Literal`, …), so they need the
    * eager conversion the analyzer would have done. */
  def catalystExpression(c: Column): Expression = expression(c) match {
    case org.apache.spark.sql.classic.ColumnNodeExpression(node) =>
      org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(node)
    case e => e
  }

  /** The schema `spark.read.parquet` would infer from one parquet file:
    * Spark's own footer-to-schema step (`readSchemaFromFooter`, the
    * serialized Spark schema when the writer left one, else the
    * session's physical-type conversion), run on the driver over a
    * footer read here — where inference through `spark.read` launches
    * a Spark job per read to open the same footer. */
  def parquetFileSchema(spark: org.apache.spark.sql.SparkSession,
      file: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val path = new org.apache.hadoop.fs.Path(file)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path,
        state.newHadoopConf()))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(path, footer),
      new ParquetToSparkSchemaConverter(state.conf))
  }

  /** Build a DataFrame over a custom LogicalPlan (`Dataset.ofRows` is
    * `private[sql]`) — the constructor for whole-operator extensions
    * like `graft.plans.AsOfJoinPlan`. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-root a BATCH DataFrame as a streaming-flagged frame — what a
    * DSv1 streaming `Source.getBatch` must return (`MicroBatchExecution`
    * asserts `isStreaming`; `internalCreateDataFrame` is the
    * `private[sql]` constructor Spark's own v1 sources use for this).
    * The batch plan compiles to its RDD with full Catalyst treatment
    * (pushdown, pruning, codegen) and enters the streaming plan as one
    * opaque streaming leaf. That opacity is deliberate, not just
    * convenient: a snapshot batch can contain JOINS (merge-on-read
    * anti-joins) — splicing its leaves into the streaming plan flagged
    * streaming would misclassify them as stream-stream joins. No
    * defensive row copy: RDD[InternalRow] carries Spark's standard
    * reuse contract (operators that buffer, copy). */
  def streamingFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    classic.sparkSession.internalCreateDataFrame(
      classic.queryExecution.toRdd, classic.schema, isStreaming = true)
  }

  /** The optimizer rules a SparkSessionExtensions instance would hand a
    * session being built (`buildOptimizerRules` is `private[sql]`) —
    * lets the spec verify the `injectOptimizerRule` wiring itself, not
    * only the post-hoc extraOptimizations path. */
  def builtOptimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
      session: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(session)
}
