package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftSqlBridge

import graft.SparkEntry

/** Per-query fixed cost at tiny data: a stride sample of the registry by
  * position in the sorted query names, cycled in a seeded order. Set-up
  * runs each sampled query once, writing its result for the DuckDB oracle
  * check and recording its row count; every op must count the same rows.
  */
final class RegistryMicro(spark: SparkSession, seed: Long, tracer: Tracer, data: String)
    extends Workload(spark, seed, tracer) {
  val Stride = 60
  val tailP = 0.9
  val sample: Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.indices.filter(_ % Stride == 0).map(names)
  }
  private val rng = new Random(seed)
  private var dumpDir: String = _
  private val expectedRows = mutable.Map.empty[String, Long]
  private val failedQueries = mutable.Set.empty[String]
  private var cycle: List[String] = Nil

  def dumps: String = dumpDir

  /** Builds, writes for the oracle check, and counts each sampled query. */
  def prepare(dir: String): Unit = {
    dumpDir = s"$dir/registry"
    Files.createDirectories(Paths.get(dumpDir))
    sample.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, data)
        df.coalesce(1).write.parquet(s"$dumpDir/$name")
        GraftSqlBridge.releaseLocalCheckpoint(df)
        expectedRows(name) = spark.read.parquet(s"$dumpDir/$name").count()
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] warm $name failed: ${e.getMessage}")
        failedQueries += name
      } finally spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql.view.filterKeys(sample.toSet).toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"), json)
  }

  /** Untimed cycles after set-up: per-query latency keeps falling for a
    * few cycles while the JIT catches up.
    */
  val WarmCycles = 4

  def warm(): Unit = runUntimed(WarmCycles * sample.size)

  override def atBoundary: Boolean = cycle.isEmpty

  def next(): Option[() => OpOut] = {
    if (cycle.isEmpty) cycle = rng.shuffle(sample.toList)
    val name = cycle.head
    cycle = cycle.tail
    Some { () =>
      val fn = SparkEntry.queries(name)
      val df = tracer.span("ops.build")(fn(spark, data))
      val n = tracer.span("ops.action")(df.count())
      tracer.span("ops.release") {
        GraftSqlBridge.releaseLocalCheckpoint(df)
        spark.catalog.clearCache()
      }
      OpOut(name, expectedRows.get(name).contains(n), n)
    }
  }

  def gate(): Seq[String] = failedQueries.toSeq.sorted
  def inputSizes: Seq[(String, Long)] = Seq(
    "queries_sampled" -> sample.size.toLong,
    "queries_registered" -> SparkEntry.queries.size.toLong,
    "fixture_bytes" -> Main.destFootprint(Seq(data))._1)
  def destDirs: Seq[String] = Nil
}
