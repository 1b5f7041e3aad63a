package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** The engine's native expressions as Columns.
  *
  * Engine code builds them with the typed constructors: each wraps the
  * expression's case class around its children's Catalyst expressions
  * (the [[org.apache.spark.sql.graftbridge.ColumnBridge]] path
  * [[graft.ext.LangId]] uses), so it works on any session, needs
  * nothing installed and leaves the session's function registry as it
  * was. The analyzed plan, the `prettyName` in explain output and the
  * generated code are those of the SQL name.
  *
  * [[register]] is only for callers that write the `graft_*` names in
  * SQL strings. It is idempotent: a session whose registry already
  * holds every name is left as it is. */
object GraftFunctions {
  /** `graft_vector_dot(a, b)`: [[VectorDot]]. */
  def vectorDot(a: Column, b: Column): Column = column(VectorDot(expression(a), expression(b)))

  /** `graft_vector_sqdist(a, b)`: [[VectorSqDist]]. */
  def vectorSqDist(a: Column, b: Column): Column = column(VectorSqDist(expression(a), expression(b)))

  /** `graft_nfc(s)`: [[NfcNormalize]]. */
  def nfc(s: Column): Column = column(NfcNormalize(expression(s)))

  /** `graft_nfkc(s)`: [[NfkcNormalize]]. */
  def nfkc(s: Column): Column = column(NfkcNormalize(expression(s)))

  /** `graft_rolling_hash(s)`: [[RollingHash]]. */
  def rollingHash(s: Column): Column = column(RollingHash(expression(s)))

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_rolling_hash" -> (exprs => RollingHash(exprs.head)),
    "graft_vector_dot" -> (exprs => VectorDot(exprs(0), exprs(1))),
    "graft_vector_sqdist" -> (exprs => VectorSqDist(exprs(0), exprs(1))),
    "graft_nfc" -> (exprs => NfcNormalize(exprs.head)),
    "graft_nfkc" -> (exprs => NfkcNormalize(exprs.head)))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!builders.forall { case (name, _) => registry.functionExists(FunctionIdentifier(name)) })
      builders.foreach { case (name, build) =>
        registry.createOrReplaceTempFunction(name, build, "scala_udf")
      }
  }
}
