package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, DateAdd, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Range}
import org.apache.spark.sql.types.{DateType, IntegerType}

/** `graft_day_span(start, stop)` — a TABLE-VALUED function producing one
  * row per calendar day in the inclusive span, the calendar spine every
  * gap-filling report joins against (the reference's users lean on
  * BigQuery's GENERATE_DATE_ARRAY for this; DuckDB spells it
  * generate_series).
  *
  * The tier here is (b)+ on the custom-operator ladder: not a scalar
  * Expression but a LOGICAL-PLAN builder registered in the session's
  * TableFunctionRegistry (and cluster-wide via
  * [[graft.GraftExtensions]]), so it composes with the analyzer like
  * `range(...)` does. The plan it emits is `Project(date_add(start, id),
  * Range(0, n))` — Spark's distributed Range leaf, NOT a driver-built
  * LocalRelation — so a century-long span parallelizes like any other
  * scan and whole-stage codegen fuses the projection. Arguments must be
  * foldable (they parameterize the plan itself, exactly like range()'s).
  */
object DaySpanTvf {

  val Name = "graft_day_span"

  private def foldToDays(e: Expression, side: String): Int = {
    // timestamp-typed bounds need a zone for the date cast; the engine
    // pins UTC sessions, so fold in UTC (date/string bounds ignore it)
    val cast = Cast(e, DateType, Some("UTC"))
    if (!e.foldable) throw new IllegalArgumentException(
      s"$Name: $side bound must be a foldable date expression, got $e")
    val v = cast.eval(null)
    if (v == null) throw new IllegalArgumentException(
      s"$Name: $side bound does not parse as a date: $e")
    v.asInstanceOf[Int]
  }

  /** Seq[Expression] => LogicalPlan builder, the TableFunctionRegistry
    * contract. Emits Project(day, Range(0, days)).
    */
  def build(exprs: Seq[Expression]): LogicalPlan = {
    if (exprs.length != 2) throw new IllegalArgumentException(
      s"$Name(start DATE, stop DATE) takes exactly 2 arguments, got ${exprs.length}")
    val lo = foldToDays(exprs(0), "start")
    val hi = foldToDays(exprs(1), "stop")
    if (hi < lo) throw new IllegalArgumentException(
      s"$Name: stop is before start ($hi < $lo days since epoch)")
    val span = hi - lo + 1
    val range = Range(0L, span.toLong, 1L, None)
    Project(Seq(Alias(
      DateAdd(Literal(lo, DateType), Cast(range.output.head, IntegerType)),
      "day")()), range)
  }

  /** (identifier, info, builder) — installed by
    * [[graft.GraftSession.install]] and [[graft.GraftExtensions]]'s
    * injectTableFunction.
    */
  private[graft] def description: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(Name),
      new ExpressionInfo("graft.functions", Name),
      build _)
}
