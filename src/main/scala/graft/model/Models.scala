package graft.model

import java.sql.Timestamp

/** Typed models of the reference's control-plane records.
  *
  * Field names deliberately keep the reference's (lowercase, unconventional)
  * spellings so the Spark column names match the MySQL columns they stand in
  * for (reference: core/database/billing_etl_db.py:47, :66-72, :96-98).
  */

/** Pub/Sub job payload (reference: core/models/billing_etl_model.py:19-20). */
case class EtlJobMessage(org_id: Int)

/** Per-org source/destination config row
  * (reference: core/database/billing_etl_db.py:63-89 SELECT list).
  */
case class ClientBillingConfig(
    org_id: Int,
    projectid: String,
    billingdataset: String,
    tableid: String,
    pulsebillingdataset: Option[String],
    pulsetableid: Option[String],
    customerserviceaccountid: Option[String])

/** Append-only job-status row (reference: core/database/billing_etl_db.py:12-43).
  * `end_date_time` is the persisted watermark; nullable to mirror the
  * None-dropping INSERT (billing_etl_db.py:29).
  */
case class EtlStatus(
    org_id: Int,
    project_id: String,
    status: String,
    end_date_time: Option[Timestamp])

object EtlStatus {
  // Exact enum strings (reference: README.md:192; billing_etl.py:174,:194,:212).
  val InProgress = "IN_PROGRESS"
  val Success = "SUCCESS"
  val Failed = "FAILED"
  val values: Set[String] = Set(InProgress, Success, Failed)
}

/** Onboarding step tracker row (reference: core/database/billing_etl_db.py:91-120). */
case class StepStatus(stepid: Int, org_id: Int, step_completed: Boolean)

/** Engine error channel — replaces the reference's `(result, error)` tuple
  * convention (reference: core/database/database_class.py:44-47).
  */
sealed trait EngineError { def message: String }
object EngineError {
  final case class MissingConfig(orgId: Int) extends EngineError {
    def message = s"no billing_alerts_setting row for org_id=$orgId"
  }
  final case class ProvisioningFailed(detail: String) extends EngineError {
    def message = s"provisioning saga failed: $detail"
  }
  final case class ExtractionFailed(detail: String) extends EngineError {
    def message = s"extraction failed: $detail"
  }
  final case class CredentialDenied(orgId: Int, serviceAccount: String) extends EngineError {
    def message = s"credential denied for org_id=$orgId sa=$serviceAccount"
  }
}
