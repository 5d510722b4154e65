package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

/** Custom SQL STATEMENT via `injectParser` — the parser tier of the
  * extension ladder, the mechanism table formats use for their
  * `DESCRIBE HISTORY` / `VACUUM` verbs. The parser intercepts exactly
  * the `GRAFT HISTORY '<dest>'` statement and delegates every other
  * string to Spark's own parser untouched, so the grammar is additive:
  * nothing a user could previously parse changes meaning.
  *
  * `GRAFT HISTORY` surfaces the manifest-ledger destination's commit
  * log ([[graft.etl.Destination.publishStaged]]'s snapshot ledger) as a
  * table: one row per published batch with its file count (from the
  * manifest — metadata only) and row count. It is the time-travel
  * discovery verb: a reader picks batch ids here, then scans
  * [[graft.etl.Destination.readAsOf]] with exactly those manifests.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val History =
    """(?is)\s*GRAFT\s+HISTORY\s+'([^']+)'\s*;?\s*""".r

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case History(dest) => GraftHistoryCommand(dest)
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

/** The `GRAFT HISTORY` verb: one row per published batch on the main
  * branch, ordered by batch id ([[graft.etl.Destination.history]]). File
  * counts come from the manifests alone (metadata); row counts scan
  * exactly the manifest-named files — the same snapshot isolation
  * `readAsOf` gives readers (an in-flight publisher's moved-but-uncommitted
  * files are invisible here too), read through the same ledger reader, so
  * a manifest compaction racing the statement changes no total.
  */
case class GraftHistoryCommand(destDir: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("batch_id", StringType, nullable = false)(),
    AttributeReference("n_files", IntegerType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] =
    graft.etl.Destination.history(session, destDir).map { case (b, nFiles, nRows) =>
      Row(b, nFiles, nRows)
    }
}
