package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{JdbcMetaStore, MetaStore}
import graft.model.{ClientBillingConfig, EtlStatus, StepStatus}

/** Control-table semantics: S9/S10 whitelisted UPDATEs, S8 append log, S4
  * checkpoint read (SURVEY §7.4 items 3/5) — the SAME battery against both
  * backends: the versioned-parquet FS store and the real-JDBC (embedded
  * Derby) store, so backend choice can never change control-plane
  * behavior.
  */
class MetaStoreSpec extends AnyFunSuite {
  import SparkTestBase._

  private implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  private val backends: Seq[(String, () => MetaStore)] = Seq(
    "fs" -> (() => MetaStore(tmpDir("meta_spec_"))),
    "jdbc" -> (() => new JdbcMetaStore(s"jdbc:derby:${tmpDir("meta_jdbc_")}/db;create=true")))

  private def forEachBackend(body: (String, () => MetaStore) => Unit): Unit =
    backends.foreach { case (name, fresh) => body(name, fresh) }

  test("config update honors the reference's column whitelist (both backends)") {
    forEachBackend { (name, fresh) =>
      val m = fresh()
      m.putConfigs(Seq(ClientBillingConfig(1, "p1", "bd", "t", None, None, None)))
      // non-whitelisted keys must be ignored (billing_etl_db.py:126-129)
      assert(m.updateConfig(1, "p1", Map("projectid" -> "EVIL", "billingdataset" -> "EVIL")) == 0,
        name)
      assert(m.configFor(1).get.projectid == "p1", name)
      assert(m.updateConfig(1, "p1",
        Map("pulsebillingdataset" -> "ds9", "pulsetableid" -> "tb9", "projectid" -> "EVIL")) == 1,
        name)
      val c = m.configFor(1).get
      assert(c.pulsebillingdataset.contains("ds9") && c.pulsetableid.contains("tb9"), name)
      assert(c.projectid == "p1", name)
    }
  }

  test("updates report rows_affected, 0 on no match (both backends)") {
    forEachBackend { (name, fresh) =>
      val m = fresh()
      m.putSteps(Seq(StepStatus(3, 1, step_completed = false)))
      assert(m.updateStepCompleted(3, 999, completed = true) == 0, name)
      assert(m.updateStepCompleted(3, 1, completed = true) == 1, name)
      assert(m.steps.collect().head.step_completed, name)
    }
  }

  test("repeated updates are last-writer-wins and never duplicate rows (both backends)") {
    forEachBackend { (name, fresh) =>
      val m = fresh()
      m.putConfigs(Seq(ClientBillingConfig(1, "p1", "bd", "t", None, None, None)))
      (1 to 5).foreach(i => m.updateConfig(1, "p1", Map("pulsetableid" -> s"v$i")))
      assert(m.configFor(1).get.pulsetableid.contains("v5"), name)
      assert(m.configs.count() == 1, s"$name: overwrites must not duplicate rows")
    }
  }

  test("checkpoint read: None before any SUCCESS, filters by key and status (both backends)") {
    forEachBackend { (name, fresh) =>
      val m = fresh()
      assert(m.lastSuccessWatermark(1, "p1").isEmpty, name)
      val t1 = utcTs("2024-01-10 00:00:00")
      val t2 = utcTs("2024-01-12 00:00:00")
      m.appendStatus(1, EtlStatus(1, "p1", EtlStatus.InProgress, Some(t2)))
      assert(m.lastSuccessWatermark(1, "p1").isEmpty, s"$name: IN_PROGRESS must not count")
      m.appendStatus(2, EtlStatus(1, "p1", EtlStatus.Success, Some(t1)))
      m.appendStatus(3, EtlStatus(2, "p2", EtlStatus.Success, Some(t2)))
      assert(m.lastSuccessWatermark(1, "p1").contains(t1), s"$name: other keys must not leak")
      m.appendStatus(4, EtlStatus(1, "p1", EtlStatus.Success, Some(t2)))
      assert(m.lastSuccessWatermark(1, "p1").contains(t2), s"$name: latest SUCCESS wins")
      assert(m.nextStatusSeq == 5L, name)
    }
  }

  test("control plane is storage-agnostic: works through an explicit file: URI") {
    // An explicit-scheme URI is how every non-local root (hdfs://, s3a://)
    // arrives; java.nio.Paths.get("file:///...") mangles it into a relative
    // path, so this round-trips only if the pointer/probe logic goes through
    // the Hadoop FileSystem API (the bug class round 2 found in EtlJob).
    val m = MetaStore("file://" + tmpDir("meta_uri_spec_"))
    m.putConfigs(Seq(ClientBillingConfig(1, "p1", "bd", "t", None, None, None)))
    assert(m.updateConfig(1, "p1", Map("pulsetableid" -> "tb9")) == 1)
    assert(m.configFor(1).get.pulsetableid.contains("tb9"))
    assert(m.lastSuccessWatermark(1, "p1").isEmpty, "empty status log reads as empty, not a crash")
    val t1 = utcTs("2024-01-10 00:00:00")
    m.appendStatus(1, EtlStatus(1, "p1", EtlStatus.Success, Some(t1)))
    assert(m.lastSuccessWatermark(1, "p1").contains(t1))
    assert(m.nextStatusSeq == 2L)
  }

  test("FS status log: a second instance's appends are visible through the driver cache") {
    // the driver-side status mirror must never go stale against a foreign
    // appender: visibility comes from the per-read FS listing, and rows of
    // unseen files are fetched in one batched read
    val root = tmpDir("meta_xinst_")
    val a = MetaStore(s"$root/meta")
    val b = MetaStore(s"$root/meta")
    val t1 = utcTs("2024-01-10 00:00:00")
    val t2 = utcTs("2024-01-12 00:00:00")
    a.appendStatus(1, EtlStatus(1, "p1", EtlStatus.Success, Some(t1)))
    // B has never read the log: must discover A's file
    assert(b.lastSuccessWatermark(1, "p1").contains(t1))
    assert(b.nextStatusSeq == 2L)
    b.appendStatus(2, EtlStatus(1, "p1", EtlStatus.Success, Some(t2)))
    // A's cache is warm from its own append: must still pick up B's file
    assert(a.lastSuccessWatermark(1, "p1").contains(t2))
    assert(a.nextStatusSeq == 3L)
    // and the Spark-side DataFrame view agrees with the driver mirror
    assert(a.statusLog.count() == 2)
  }

  test("FS status log: a crashed appender's staged file and its checksum are never read") {
    // appendStatus writes a hidden `.part-*.parquet.tmp` (and the local
    // FS's `..part-*.parquet.tmp.crc`), then renames it into the log; an
    // appender that dies between the two leaves both behind. The leftover
    // here is a real status file whose row (seq 99, a later SUCCESS) would
    // move both the next seq and the watermark if any reader picked it up.
    import java.nio.file.{Files, Paths}
    val root = tmpDir("meta_crash_")
    val warm = MetaStore(s"$root/meta")
    val t1 = utcTs("2024-01-10 00:00:00")
    warm.appendStatus(1, EtlStatus(1, "p1", EtlStatus.InProgress, Some(t1)))
    warm.appendStatus(2, EtlStatus(1, "p1", EtlStatus.Success, Some(t1)))

    val other = tmpDir("meta_crash_src_")
    MetaStore(other).appendStatus(99,
      EtlStatus(1, "p1", EtlStatus.Success, Some(utcTs("2024-01-19 00:00:00"))))
    val srcDir = Paths.get(other, "status", "data")
    val committed = srcDir.toFile.list().filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(committed.length == 1)
    val name = committed.head
    val logDir = Paths.get(root, "meta", "status", "data")
    Files.copy(srcDir.resolve(name), logDir.resolve(s".$name.tmp"))
    Files.copy(srcDir.resolve(s".$name.crc"), logDir.resolve(s"..$name.tmp.crc"))

    Seq("warm" -> warm, "fresh" -> MetaStore(s"$root/meta")).foreach { case (tag, m) =>
      assert(m.lastSuccessWatermark(1, "p1").contains(t1), tag)
      assert(m.nextStatusSeq == 3L, tag)
      assert(m.statusLog.count() == 2, tag)
    }
  }

  test("two racing same-org sagas: last-writer-wins, never torn, never duplicated (both backends)") {
    // SURVEY §7.4 #3 — the reference just races (billing_etl_db.py:12-43 has
    // no locking); the engine's contract is last-writer-wins DETERMINISM:
    // every observable snapshot is some writer's COMPLETE update (the two
    // whitelisted fields always carry the same tag), the final state is one
    // writer's LAST update, rows never duplicate, and the disjoint-seq
    // status appends all land. Each writer drives its own store instance
    // over the same storage — the two-jobs-one-org shape.
    val envs: Seq[(String, () => MetaStore)] = Seq(
      { val root = tmpDir("meta_race_"); ("fs", () => MetaStore(root)) },
      { val url = s"jdbc:derby:${tmpDir("meta_race_jdbc_")}/db;create=true"
        ("jdbc", () => new JdbcMetaStore(url)) })
    envs.foreach { case (name, make) =>
      val seed = make()
      seed.putConfigs(Seq(ClientBillingConfig(1, "p1", "bd", "t", None, None, None)))
      seed.putSteps(Seq(StepStatus(3, 1, step_completed = false)))
      val n = 10
      val barrier = new java.util.concurrent.CyclicBarrier(3)
      def saga(m: MetaStore, tag: String, seqBase: Long): Unit = {
        barrier.await()
        (1 to n).foreach { i =>
          m.updateConfig(1, "p1", Map(
            "pulsebillingdataset" -> s"ds_${tag}_$i", "pulsetableid" -> s"tb_${tag}_$i"))
          m.updateStepCompleted(3, 1, completed = i % 2 == 0)
          m.appendStatus(seqBase + i,
            EtlStatus(1, "p1", EtlStatus.Success, Some(utcTs("2024-01-10 00:00:00"))))
        }
      }
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fa = Future(saga(make(), "a", 0L))
      val fb = Future(saga(make(), "b", n.toLong))
      val reader = Future {
        val m = make()
        barrier.await()
        (1 to 50).foreach { _ =>
          val c = m.configFor(1).get
          val ds = c.pulsebillingdataset.getOrElse("bd")
          val tb = c.pulsetableid.getOrElse("t")
          assert((ds == "bd" && tb == "t") ||
            ds.stripPrefix("ds_") == tb.stripPrefix("tb_"),
            s"$name: torn snapshot observed: $ds / $tb")
        }
      }
      Await.result(Future.sequence(Seq(fa, fb, reader)), Duration(180, "seconds"))
      val fin = make() // fresh instance: no cache, reads storage as a new job would
      assert(fin.configs.count() == 1, s"$name: racing overwrites must not duplicate rows")
      val c = fin.configFor(1).get
      val expected: Set[(Option[String], Option[String])] = Set(
        (Some(s"ds_a_$n"), Some(s"tb_a_$n")), (Some(s"ds_b_$n"), Some(s"tb_b_$n")))
      assert(expected.contains((c.pulsebillingdataset, c.pulsetableid)),
        s"$name: final state must be one writer's LAST complete update, got " +
          s"${c.pulsebillingdataset}/${c.pulsetableid}")
      assert(fin.steps.count() == 1, s"$name: step table must not duplicate")
      val seqs = fin.statusLog.select("seq").collect().map(_.getLong(0)).sorted
      assert(seqs.toSeq == (1L to 2L * n).toSeq,
        s"$name: all ${2 * n} concurrent status appends must land exactly once")
    }
  }

  test("JDBC store survives reopen: state lives in the database, not the object") {
    val dir = tmpDir("meta_jdbc_reopen_")
    val url = s"jdbc:derby:$dir/db;create=true"
    val m1 = new JdbcMetaStore(url)
    m1.putConfigs(Seq(ClientBillingConfig(1, "p1", "bd", "t", None, None, None)))
    m1.appendStatus(1, EtlStatus(1, "p1", EtlStatus.Success, Some(utcTs("2024-01-10 00:00:00"))))
    val m2 = new JdbcMetaStore(url)
    assert(m2.configFor(1).get.billingdataset == "bd")
    assert(m2.nextStatusSeq == 2L)
    assert(m2.lastSuccessWatermark(1, "p1").contains(utcTs("2024-01-10 00:00:00")))
  }
}
