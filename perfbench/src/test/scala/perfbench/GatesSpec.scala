package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{FsMetaStore, MessageFrontEnd}
import graft.model.EtlStatus

/** Each gate passes on what the engine wrote and fails once the
  * destination or status log is corrupted.
  */
class GatesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = Session.start(2)
  private val tracer = new Tracer(None)

  private val created = scala.collection.mutable.ArrayBuffer.empty[String]

  override def afterAll(): Unit = {
    spark.stop()
    created.foreach(Main.deleteTree)
  }

  private def tmp(prefix: String) = {
    val d = Files.createTempDirectory(prefix).toString
    created += d
    d
  }

  private def parquetFiles(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") && !p.getFileName.toString.startsWith("."))
      .toSeq.sortBy(_.toString)

  /** Replaces `file` with its rows after `f`. */
  private def rewrite(file: Path)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val out = tmp("perfbench_rewrite_")
    f(spark.read.parquet(file.toString)).coalesce(1).write.mode(SaveMode.Overwrite).parquet(out)
    Files.copy(parquetFiles(out).head, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
  }

  private def duplicate(file: Path): Path = {
    val copy = file.resolveSibling("dup-" + file.getFileName)
    Files.copy(file, copy)
    copy
  }

  test("Parity multiset, watermark and status gates (etl_trickle)") {
    val w = new Trickle(spark, 11, tracer)
    w.prepare(tmp("perfbench_trickle_"))
    (0 until 4).foreach(_ => assert(w.next().get().ok))
    assert(w.gate().isEmpty)

    val f = parquetFiles(w.destDirs.head).head
    val copy = duplicate(f)
    assert(w.gate().nonEmpty, "a duplicated destination file must fail the multiset gate")
    Files.delete(copy)
    Files.deleteIfExists(copy.resolveSibling(s".${copy.getFileName}.crc"))
    assert(w.gate().isEmpty)

    Files.move(f, f.resolveSibling(".hidden-" + f.getFileName))
    assert(w.gate().nonEmpty, "a missing destination file must fail the multiset gate")
    Files.move(f.resolveSibling(".hidden-" + f.getFileName), f)
    assert(w.gate().isEmpty)

    new FsMetaStore(w.metaRoot)(spark).appendStatus(100000L,
      EtlStatus(1, Inputs.project(1), EtlStatus.Success, Some(Inputs.ts(Inputs.T0 + 1))))
    assert(w.gate() == Seq("1"), "an extra SUCCESS row must fail the status gate")
  }

  test("nested checksum gate (etl_backfill)") {
    val w = new Backfill(spark, 12, tracer)
    w.prepare(tmp("perfbench_backfill_"))
    assert(w.next().get().ok)
    assert(w.gate().isEmpty)
    val f = parquetFiles(w.destDirs.head).head
    rewrite(f)(_.withColumn("usage", col("usage").withField("amount", col("usage.amount") + 1)))
    assert(w.gate().nonEmpty, "a changed nested value must fail the checksum gate")
  }

  test("Exact no-duplicate gate and quarantine count (etl_replay)") {
    val w = new Replay(spark, 13, tracer)
    w.prepare(tmp("perfbench_replay_"))
    w.warm()
    w.startTimed()
    assert(w.quarantined == w.inputSizes.toMap.apply("malformed"))
    (0 until 3).foreach(_ => assert(w.next().get().ok))
    assert(w.gate().isEmpty)
    duplicate(parquetFiles(w.destDirs.head).head)
    assert(w.gate().nonEmpty, "duplicated rows must fail the Exact gate")
  }

  test("every malformed envelope kind is quarantined; a valid one is not") {
    import spark.implicits._
    val bodies = (0 until 5).map(Inputs.malformedEnvelope(_, 7)) :+ Inputs.envelope(3, Inputs.T0, 1)
    val codes = MessageFrontEnd.decode(bodies.toDF("raw")).select("status_code").as[Int].collect().toSeq
    assert(codes.init.forall(_ != MessageFrontEnd.StatusOk))
    assert(codes.last == MessageFrontEnd.StatusOk)
  }

  test("the MetaStore wrapper leaves the same status log as the bare store") {
    import spark.implicits._
    def drive(store: graft.etl.MetaStore): Seq[(Long, Int, String, String)] = {
      store.putConfigs(Seq(graft.model.ClientBillingConfig(1, "p1", "d", "t", None, None, None)))
      (1 to 3).foreach { i =>
        store.appendStatus(store.nextStatusSeq, EtlStatus(1, "p1", EtlStatus.InProgress, Some(Inputs.ts(Inputs.T0 + i))))
        store.appendStatus(store.nextStatusSeq, EtlStatus(1, "p1", EtlStatus.Success, Some(Inputs.ts(Inputs.T0 + i))))
      }
      assert(store.lastSuccessWatermark(1, "p1").contains(Inputs.ts(Inputs.T0 + 3)))
      assert(store.configFor(1).map(_.projectid).contains("p1"))
      store.statusLog.select(col("seq"), col("org_id"), col("status"),
          col("end_date_time").cast("string"))
        .as[(Long, Int, String, String)].collect().toSeq.sortBy(_._1)
    }
    val traced = new Tracer(None)
    traced.enabled = true
    val bare = drive(new FsMetaStore(tmp("perfbench_meta_"))(spark))
    val wrapped = drive(new TimedMetaStore(new FsMetaStore(tmp("perfbench_meta_"))(spark), traced))
    assert(bare == wrapped)
    assert(traced.spans.map(_.name).toSet ==
      Set("MetaStore.putConfigs", "MetaStore.nextStatusSeq", "MetaStore.appendStatus",
        "MetaStore.lastSuccessWatermark", "MetaStore.configFor", "MetaStore.statusLog"))
  }
}
