package graft.etl

import java.sql.{Connection, DriverManager, PreparedStatement, ResultSet, SQLException, Timestamp}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.{ClientBillingConfig, EtlStatus, StepStatus}

/** JDBC backend of the control plane — the shape the reference actually
  * runs (MySQL: core/database/database_class.py:26-47,
  * billing_etl_db.py:12-162), with the reference's own table names.
  *
  * Every call is plain JDBC on the driver, one prepared statement each,
  * as the reference answers each control-plane question with one MySQL
  * statement:
  *   - **point reads** (config lookup, top-1 watermark, next seq) are one
  *     SELECT each; the whole-table reads (`configs`, `steps`,
  *     `statusLog`) SELECT every row and hand them to the rest of the
  *     engine as local Datasets, so every consumer (saga read-back,
  *     status queries) stays backend-agnostic. Control tables are tiny
  *     (rows scale with tenants, not data).
  *   - **appends** (S8 status log) are one INSERT.
  *   - **updates** (S9/S10) are genuine SQL UPDATEs with `rows_affected`
  *     from `executeUpdate` — exactly the reference's cursor `.rowcount`
  *     contract. Unlike the FS backend's whole-file rewrite, no table
  *     rewrite happens at all.
  *   - **replace-whole-table** (the `put*` fixture path) is a DELETE plus a
  *     batched INSERT in one transaction, so a reader sees the old rows or
  *     the new ones, never an empty table.
  *
  * Tests run it on embedded Derby (`jdbc:derby:<dir>;create=true` — in
  * the Spark distribution's classpath already, since Hive metastores use
  * it); the DDL and statements are deliberately vanilla ANSI
  * (INT/BIGINT/VARCHAR/TIMESTAMP/BOOLEAN) so the same class points at
  * MySQL/Postgres by swapping url + driver.
  *
  * Identifier case: tables are created UNQUOTED, so the database folds
  * names to its canonical case (upper, for Derby); the statements name
  * columns unquoted too and read results by position.
  */
final class JdbcMetaStore(
    url: String,
    driver: String = "org.apache.derby.jdbc.EmbeddedDriver")
    (implicit spark: SparkSession) extends MetaStore {
  import spark.implicits._

  private val ConfigTable = "billing_alerts_setting"
  private val StepperTable = "user_stepper_form_step_status"
  private val StatusTable = "billing_etl_status"

  // in the case classes' field order, so a row's productIterator binds them
  private val ConfigCols = Seq("org_id", "projectid", "billingdataset", "tableid",
    "pulsebillingdataset", "pulsetableid", "customerserviceaccountid")
  private val StepperCols = Seq("stepid", "org_id", "step_completed")

  private def withConnection[A](f: Connection => A): A = {
    Class.forName(driver)
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Binds `params` in order; None binds SQL NULL (the driver takes the
    * parameter's type from the statement).
    */
  private def bind(ps: PreparedStatement, params: Seq[Any]): Unit =
    params.zipWithIndex.foreach { case (v, i) =>
      ps.setObject(i + 1, v match { case o: Option[_] => o.getOrElse(null); case x => x })
    }

  private def prepared[A](c: Connection, sql: String, params: Any*)(run: PreparedStatement => A): A = {
    val ps = c.prepareStatement(sql)
    try { bind(ps, params); run(ps) } finally ps.close()
  }

  private def query[A](sql: String, params: Any*)(row: ResultSet => A): Seq[A] =
    withConnection(c => prepared(c, sql, params: _*) { ps =>
      val rs = ps.executeQuery()
      try Iterator.continually(rs).takeWhile(_.next()).map(row).toList finally rs.close()
    })

  private def update(sql: String, params: Any*): Long =
    withConnection(c => prepared(c, sql, params: _*)(_.executeUpdate().toLong))

  /** Create-if-absent: Derby has no IF NOT EXISTS, so an existing table is
    * recognized by SQLState X0Y32 (MySQL/Postgres would use IF NOT EXISTS
    * DDL instead).
    */
  private def ensureTable(ddl: String): Unit = withConnection { c =>
    val st = c.createStatement()
    try st.executeUpdate(ddl)
    catch { case e: SQLException if e.getSQLState == "X0Y32" => () }
    finally st.close()
  }

  ensureTable(s"""CREATE TABLE $ConfigTable (
    org_id INT NOT NULL, projectid VARCHAR(256) NOT NULL,
    billingdataset VARCHAR(256), tableid VARCHAR(256),
    pulsebillingdataset VARCHAR(256), pulsetableid VARCHAR(256),
    customerserviceaccountid VARCHAR(256))""")
  ensureTable(s"""CREATE TABLE $StepperTable (
    stepid INT NOT NULL, org_id INT NOT NULL, step_completed BOOLEAN NOT NULL)""")
  ensureTable(s"""CREATE TABLE $StatusTable (
    seq BIGINT NOT NULL, org_id INT NOT NULL, project_id VARCHAR(256) NOT NULL,
    status VARCHAR(32) NOT NULL, end_date_time TIMESTAMP)""")

  /** Replace-whole-table fixture path: DELETE + batched INSERT, committed
    * together. `rows` hold the values in `cols` order.
    */
  private def replaceTable(table: String, cols: Seq[String], rows: Seq[Seq[Any]]): Unit =
    withConnection { c =>
      c.setAutoCommit(false)
      try {
        prepared(c, s"DELETE FROM $table")(_.executeUpdate())
        val marks = cols.map(_ => "?").mkString(", ")
        prepared(c, s"INSERT INTO $table (${cols.mkString(", ")}) VALUES ($marks)") { ps =>
          rows.foreach { r => bind(ps, r); ps.addBatch() }
          ps.executeBatch()
        }
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
    }

  private def configRow(rs: ResultSet) = ClientBillingConfig(rs.getInt(1), rs.getString(2),
    rs.getString(3), rs.getString(4), Option(rs.getString(5)), Option(rs.getString(6)),
    Option(rs.getString(7)))

  private val SelectConfig = s"SELECT ${ConfigCols.mkString(", ")} FROM $ConfigTable"

  override def putConfigs(rows: Seq[ClientBillingConfig]): Unit =
    replaceTable(ConfigTable, ConfigCols, rows.map(_.productIterator.toSeq))

  override def configs: Dataset[ClientBillingConfig] = query(SelectConfig)(configRow).toDS()

  override def configFor(orgId: Int): Option[ClientBillingConfig] =
    query(s"$SelectConfig WHERE org_id = ?", orgId)(configRow).headOption

  override def updateConfig(orgId: Int, projectId: String,
                            fields: Map[String, String]): Long = {
    // whitelist first (billing_etl_db.py:126-129): only vetted column
    // names ever reach the SQL text; values are bound as parameters
    val allowed = fields.view.filterKeys(MetaStore.UpdatableConfigColumns)
      .toMap.toSeq.sortBy(_._1)
    if (allowed.isEmpty) return 0L
    val sets = allowed.map { case (k, _) => s"$k = ?" }.mkString(", ")
    update(s"UPDATE $ConfigTable SET $sets WHERE org_id = ? AND projectid = ?",
      allowed.map(_._2) ++ Seq(orgId, projectId): _*)
  }

  override def putSteps(rows: Seq[StepStatus]): Unit =
    replaceTable(StepperTable, StepperCols, rows.map(_.productIterator.toSeq))

  override def steps: Dataset[StepStatus] =
    query(s"SELECT ${StepperCols.mkString(", ")} FROM $StepperTable")(rs =>
      StepStatus(rs.getInt(1), rs.getInt(2), rs.getBoolean(3))).toDS()

  override def updateStepCompleted(stepId: Int, orgId: Int, completed: Boolean): Long =
    update(s"UPDATE $StepperTable SET step_completed = ? WHERE stepid = ? AND org_id = ?",
      completed, stepId, orgId)

  override def appendStatus(seq: Long, s: EtlStatus): Unit =
    update(s"INSERT INTO $StatusTable (${MetaStore.StatusCols.mkString(", ")}) VALUES (?, ?, ?, ?, ?)",
      seq, s.org_id, s.project_id, s.status, s.end_date_time)

  override def statusLog: DataFrame =
    query(s"SELECT ${MetaStore.StatusCols.mkString(", ")} FROM $StatusTable")(rs =>
      (rs.getLong(1), rs.getInt(2), rs.getString(3), rs.getString(4), Option(rs.getTimestamp(5))))
      .toDF(MetaStore.StatusCols: _*)

  override def lastSuccessWatermark(orgId: Int, projectId: String): Option[Timestamp] =
    query(s"SELECT MAX(end_date_time) FROM $StatusTable " +
      "WHERE org_id = ? AND project_id = ? AND status = ?", orgId, projectId, EtlStatus.Success)(
      rs => Option(rs.getTimestamp(1))).head

  override def nextStatusSeq: Long =
    query(s"SELECT COALESCE(MAX(seq), 0) + 1 FROM $StatusTable")(_.getLong(1)).head
}
