package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.etl.MetaStore
import graft.model.{ClientBillingConfig, EtlStatus, StepStatus}

/** Delegating [[MetaStore]] that opens a `MetaStore.<call>` span around
  * each control-plane call, including the ones `EtlJob.run` and
  * `CatalogOps.provision` make internally. Behaviour is the inner store's.
  */
final class TimedMetaStore(inner: MetaStore, tracer: Tracer) extends MetaStore {
  private def t[A](call: String)(f: => A): A = tracer.span(s"MetaStore.$call")(f)

  override def putConfigs(rows: Seq[ClientBillingConfig]): Unit = t("putConfigs")(inner.putConfigs(rows))
  override def configs: Dataset[ClientBillingConfig] = t("configs")(inner.configs)
  override def updateConfig(orgId: Int, projectId: String, fields: Map[String, String]): Long =
    t("updateConfig")(inner.updateConfig(orgId, projectId, fields))
  override def configFor(orgId: Int): Option[ClientBillingConfig] =
    t("configFor")(inner.configFor(orgId))
  override def putSteps(rows: Seq[StepStatus]): Unit = t("putSteps")(inner.putSteps(rows))
  override def steps: Dataset[StepStatus] = t("steps")(inner.steps)
  override def updateStepCompleted(stepId: Int, orgId: Int, completed: Boolean): Long =
    t("updateStepCompleted")(inner.updateStepCompleted(stepId, orgId, completed))
  override def appendStatus(seq: Long, s: EtlStatus): Unit = t("appendStatus")(inner.appendStatus(seq, s))
  override def statusLog: DataFrame = t("statusLog")(inner.statusLog)
  override def lastSuccessWatermark(orgId: Int, projectId: String): Option[Timestamp] =
    t("lastSuccessWatermark")(inner.lastSuccessWatermark(orgId, projectId))
  override def nextStatusSeq: Long = t("nextStatusSeq")(inner.nextStatusSeq)
}
