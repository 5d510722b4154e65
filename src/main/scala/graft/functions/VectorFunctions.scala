package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Columnar vector math over `array<float>` embedding columns — all
  * higher-order built-ins (`zip_with`/`aggregate`/`transform`), no UDFs, so
  * similarity scans stay inside whole-stage codegen and scale linearly.
  *
  * Cross-engine note: float sums are order-sensitive in the last ulp, so
  * every oracle-checked consumer emits `round(cosine, 6)` — identical
  * across engines except within ~1e-10 of a rounding boundary.
  */
object VectorFunctions {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (s, v) => s + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))
}
