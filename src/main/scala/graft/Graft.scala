package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.Internals

import graft.functions.{CosineSimilarity, DotProduct, HtmlLinks, HtmlMainText, HtmlText, RepetitionProfile, RollingHash, SimHash64, UnicodeNormalize}
import graft.plans.{DynamicFilterRule, DynamicFilterStrategy}

/** Runtime installation of the graft extensions into an existing session.
  *
  * Sessions built by the caller can use
  * `.withExtensions(new graft.plans.GraftExtensions)`; for sessions we don't
  * construct (the driver's Verify/Bench sessions), the same rule + strategy
  * are injected through the public `spark.experimental` hooks. Idempotent.
  */
object Graft {
  def install(spark: SparkSession): Unit = synchronized {
    val exp = Internals.classicSession(spark).experimental
    if (!exp.extraOptimizations.contains(DynamicFilterRule))
      exp.extraOptimizations = exp.extraOptimizations :+ DynamicFilterRule
    if (!exp.extraStrategies.contains(DynamicFilterStrategy))
      exp.extraStrategies = exp.extraStrategies :+ DynamicFilterStrategy
    registerFunctions(spark)
  }

  /** Expose the custom codegen expressions to `spark.sql` text (the
    * reference registers its UDFs into the session context the same way —
    * `parameterized_statement.rs:30-49`): a SQL user gets the native
    * expressions, not a UDF shim. Idempotent: a name whose registered
    * builder is already this table's is left alone, so a repeated install
    * neither re-registers nor logs a replacement.
    */
  private def registerFunctions(spark: SparkSession): Unit = {
    val reg = Internals.classicSession(spark).sessionState.functionRegistry
    sqlFunctions.foreach { f =>
      if (!reg.lookupFunctionBuilder(FunctionIdentifier(f.name)).exists(_ eq f.builder))
        reg.createOrReplaceTempFunction(f.name, f.builder, "internal")
    }
  }

  /** One SQL-callable graft expression: its name, its expression class and
    * an arity-checked builder.
    */
  private[graft] final case class SqlFunction(
      name: String, clazz: Class[_], builder: Seq[Expression] => Expression)

  private def unary(name: String, clazz: Class[_])(b: Expression => Expression) =
    SqlFunction(name, clazz, {
      case Seq(x) => b(x)
      case args => throw new IllegalArgumentException(
        s"$name expects 1 argument, got ${args.length}")
    })

  private def binary(name: String, clazz: Class[_])(b: (Expression, Expression) => Expression) =
    SqlFunction(name, clazz, {
      case Seq(x, y) => b(x, y)
      case args => throw new IllegalArgumentException(
        s"$name expects 2 arguments, got ${args.length}")
    })

  /** The function table both registrars read: [[registerFunctions]] for an
    * existing session and [[graft.plans.GraftExtensions]] for a session
    * built with `.withExtensions`.
    */
  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    binary("cosine_similarity", classOf[CosineSimilarity])(CosineSimilarity(_, _)),
    binary("dot_product", classOf[DotProduct])(DotProduct(_, _)),
    unary("simhash64", classOf[SimHash64])(SimHash64(_)),
    unary("rolling_hash", classOf[RollingHash])(RollingHash(_)),
    unary("html_text", classOf[HtmlText])(HtmlText(_)),
    unary("html_main_text", classOf[HtmlMainText])(e => HtmlMainText(e)),
    unary("html_links", classOf[HtmlLinks])(HtmlLinks(_)),
    // DuckDB's name for the same NFC form — SQL text ports both ways
    unary("nfc_normalize", classOf[UnicodeNormalize])(UnicodeNormalize(_, "NFC")),
    unary("nfkc_normalize", classOf[UnicodeNormalize])(UnicodeNormalize(_, "NFKC")),
    // second arg must be a literal int (the gram size is a plan-time shape);
    // the fallbacks are SPLIT so two-arguments-but-wrong-type reports the
    // type constraint, not a bogus "got 2 argument(s)" arity complaint
    SqlFunction("repetition_profile", classOf[RepetitionProfile], {
      case Seq(x, Literal(n: Int, _)) => RepetitionProfile(x, n)
      case Seq(_, other) => throw new IllegalArgumentException(
        "repetition_profile expects a LITERAL INT gram size as its second " +
          s"argument (a plan-time shape), got ${other.sql}")
      case args => throw new IllegalArgumentException(
        "repetition_profile expects 2 arguments (tokens array, literal int n), " +
          s"got ${args.length}")
    }))
}
