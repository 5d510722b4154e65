package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}

/** SQL surface for bloom-filter probes.
  *
  * Spark ships a codegen'd probe expression (`BloomFilterMightContain`,
  * the one its own runtime row-level filtering injects) but does not
  * expose it in the public function registry — it is only reachable
  * through the optimizer rule. Registering it directly lets a pipeline
  * author apply the semi-join-reduction pattern EXPLICITLY: build a
  * sketch of the small side (public `DataFrameStatFunctions.bloomFilter`,
  * a distributed treeAggregate), ship the few KBs to the driver, and fold
  * it into the big side's scan predicate as a foldable literal. Both
  * halves use the same `org.apache.spark.util.sketch.BloomFilter` binary
  * format, so build and probe stay format-compatible across Spark
  * versions by construction.
  */
object NativeBloom {

  /** `graft_bloom_contains(bloomBinary, longValue)`, installed by
    * [[graft.GraftSession.install]]. The bloom argument must be foldable
    * (a literal or something constant-folded from literals, e.g.
    * `unbase64('…')`) — the expression deserializes it once per task, not
    * per row.
    */
  private[graft] def builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_bloom_contains" -> (exprs => BloomFilterMightContain(exprs(0), exprs(1))))
}
