package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (see /root/repo/TESTDATA.md).
  *
  * All engine code reads sources through here so the physical layout
  * (single parquet file per table locally; partitioned directories on a
  * real cluster) is a one-place concern.
  */
object Tables {
  // Corpus tables are immutable inputs, so the (dir, name) → DataFrame plan
  // is memoized per session: every load otherwise re-runs file listing +
  // footer schema inference on the driver (~100 ms each), which dominates
  // short queries and at cluster scale hammers the object store with
  // redundant LIST/HEAD calls — a catalog caches listings for the same
  // reason. The memoized plan pins the file listing at first load: files
  // added to a (dir, name) later are invisible to that session — fine for
  // this corpus contract, wrong for a landing zone (use the streaming
  // source for those). The cached DataFrames strongly reference their
  // session, so retirement relies on SessionMemo's stopped-context sweep.
  private val cache = new graft.util.SessionMemo[(String, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.getOrElseUpdate(spark, (dir, name))(doLoad(spark, dir, name))

  private def doLoad(spark: SparkSession, dir: String, name: String): DataFrame = {
    // install sets the ingest-edge read confs (nanos as long, no NTZ
    // inference) and the nanos pushdown rule this rescale relies on
    GraftSession.install(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val rescaled =
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df
    normalizeNtz(rescaled)
  }

  /** Belt-and-braces for sources loaded outside the conf's reach (e.g. a
    * schema inferred before the conf was set): cast any remaining
    * TIMESTAMP_NTZ to TimestampType — including NTZ nested inside
    * struct/array/map columns (a struct→struct cast rewrites just the
    * changed leaves). The session TZ is pinned UTC, so the cast is the
    * identity on the underlying micros.
    */
  private[graft] def normalizeNtz(df: DataFrame): DataFrame = {
    def deNtz(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
      dt match {
        case TimestampNTZType => TimestampType
        case s: org.apache.spark.sql.types.StructType =>
          org.apache.spark.sql.types.StructType(
            s.fields.map(f => f.copy(dataType = deNtz(f.dataType))))
        case a: org.apache.spark.sql.types.ArrayType => a.copy(elementType = deNtz(a.elementType))
        case m: org.apache.spark.sql.types.MapType =>
          m.copy(keyType = deNtz(m.keyType), valueType = deNtz(m.valueType))
        case other => other
      }
    val changed = df.schema.fields.collect {
      case f if deNtz(f.dataType) != f.dataType => f.name -> deNtz(f.dataType)
    }
    if (changed.isEmpty) df
    else changed.foldLeft(df) { case (d, (name, t)) => d.withColumn(name, col(name).cast(t)) }
  }
}
