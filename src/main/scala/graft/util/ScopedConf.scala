package graft.util

import org.apache.spark.sql.SparkSession

/** Session-conf overrides scoped to one block of work — the only place in
  * the engine that puts a session conf back.
  */
object ScopedConf {

  /** Run `body` with each of `confs` set on `spark`'s session conf, then
    * restore what each key held before: its previous value, or no value
    * at all if the session had none. The overrides are SESSION-WIDE while
    * the body runs: any other query planned or run on the same session in
    * that time sees them, so an operator that uses this is exclusive on
    * its session (ROADMAP item 3).
    */
  def withConfs[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val explicit = conf.getAll
    val before = confs.map { case (k, _) => k -> explicit.get(k) }
    confs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
