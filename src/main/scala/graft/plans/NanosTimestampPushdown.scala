package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Custom optimizer rule restoring parquet filter pushdown for
  * nanosecond-encoded event-time columns.
  *
  * Problem: sources whose event time is parquet TIMESTAMP(NANOS) are read as
  * raw longs (the nanos-as-long read conf [[graft.GraftSession.install]]
  * sets) and rescaled with `timestamp_micros(ts div 1000)`. Every
  * watermark predicate then compares a *computed* column, so nothing
  * reaches the scan — `PushedFilters: []` — and a 100 TB incremental
  * extract degrades to a full-table read.
  *
  * Fix: `floor-div by 1000` then `micros→timestamp` is monotone, so a
  * comparison against a timestamp literal is equivalent to a long comparison
  * on the raw nanos attribute:
  *
  *   trunc(ts/1000) >= L  ⇔  ts >= 1000·L        (L > 0, trunc = floor here)
  *   trunc(ts/1000) <  L  ⇔  ts <  1000·L
  *   trunc(ts/1000) >  L  ⇔  ts >= 1000·(L+1)
  *   trunc(ts/1000) <= L  ⇔  ts <  1000·(L+1)
  *
  * The rewritten predicate is a plain attribute-vs-literal comparison, which
  * FileSourceStrategy happily pushes into the parquet scan (row-group
  * min/max skipping). Rewrites are restricted to positive literals, where
  * truncating and flooring division agree for every raw value ≥ −999.
  *
  * Installed by [[graft.GraftSession.install]] (which [[graft.Tables.load]]
  * calls), so it works on any caller-provided session — no
  * SparkSessionExtensions wiring needed at the driver.
  */
object NanosTimestampPushdown extends Rule[LogicalPlan] {

  /** Matches `timestamp_micros(raw div 1000)` over a long attribute. */
  private object NanosAsTimestamp {
    def unapply(e: Expression): Option[Attribute] = e match {
      case MicrosToTimestamp(IntegralDivide(a: Attribute, IntegerLiteral1000(), _))
          if a.dataType == LongType => Some(a)
      case _ => None
    }
  }

  private object IntegerLiteral1000 {
    def unapply(e: Expression): Boolean = e match {
      case Literal(1000L, LongType) => true
      case Cast(Literal(1000, _), LongType, _, _) => true
      case _ => false
    }
  }

  private object TsLiteralMicros {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(us: Long, TimestampType) if us > 0 && us < Long.MaxValue / 1000 => Some(us)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      f.copy(condition = cond.transformUp {
        case GreaterThanOrEqual(NanosAsTimestamp(raw), TsLiteralMicros(us)) =>
          GreaterThanOrEqual(raw, Literal(us * 1000L, LongType))
        case LessThan(NanosAsTimestamp(raw), TsLiteralMicros(us)) =>
          LessThan(raw, Literal(us * 1000L, LongType))
        case GreaterThan(NanosAsTimestamp(raw), TsLiteralMicros(us)) =>
          GreaterThanOrEqual(raw, Literal((us + 1) * 1000L, LongType))
        case LessThanOrEqual(NanosAsTimestamp(raw), TsLiteralMicros(us)) =>
          LessThan(raw, Literal((us + 1) * 1000L, LongType))
        // mirrored literal-first forms
        case GreaterThanOrEqual(TsLiteralMicros(us), NanosAsTimestamp(raw)) =>
          LessThan(raw, Literal((us + 1) * 1000L, LongType))
        case LessThan(TsLiteralMicros(us), NanosAsTimestamp(raw)) =>
          GreaterThanOrEqual(raw, Literal((us + 1) * 1000L, LongType))
        case GreaterThan(TsLiteralMicros(us), NanosAsTimestamp(raw)) =>
          LessThan(raw, Literal(us * 1000L, LongType))
        case LessThanOrEqual(TsLiteralMicros(us), NanosAsTimestamp(raw)) =>
          GreaterThanOrEqual(raw, Literal(us * 1000L, LongType))
      })
  }
}
