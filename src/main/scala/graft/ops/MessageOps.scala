package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.MessageFrontEnd

/** Oracle-checkable exercise of the message front-end (S11/U2): a fixture of
  * Pub/Sub push bodies — valid envelopes derived from `events.user_id` plus
  * one literal probe per error class in the reference's taxonomy
  * (main.py:15-38), including the 415 content-type gate and the TypeError
  * shapes for non-object `message` fields — pushed through the columnar
  * decode chain.
  */
object MessageOps extends QueryFamily {

  private def fixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // every 7th org id: a deterministic, sf-stable slice — the operator
    // under test is the decode chain, not a full-corpus distinct
    // The envelope strings are built in a TYPED map on purpose: the object
    // boundary is a predicate-pushdown barrier. Built columnar, a
    // consumer's filter on the DECODED columns (u2's status≠200) gets
    // rewritten through the projection AND the distinct down to the
    // parquet scan — re-evaluating the whole JSON decode chain per SOURCE
    // row instead of per distinct org (measured 4x the query's wall-clock
    // at sf0.1). Scale rule of thumb: push cheap predicates, never
    // multi-parse expression trees, below a collapsing aggregate.
    val valid = Tables.load(s, dir, "events")
      .select(col("user_id")).where(col("user_id") % 7 === 0).distinct()
      .as[Long]
      .map { id =>
        val payload = java.util.Base64.getEncoder
          .encodeToString(s"""{"org_id": $id}""".getBytes("UTF-8"))
        (s"ok_$id",
          s"""{"message": {"data": "$payload", "messageId": "m1"}, "subscription": "s"}""",
          "application/json")
      }
      .toDF("case_id", "raw", "content_type")
    val b64 = (p: String) =>
      java.util.Base64.getEncoder.encodeToString(p.getBytes("UTF-8"))
    val json = "application/json"
    val probes = Seq(
      // content-type gate (main.py:15-16): checked before ANY parsing, so
      // even a perfectly valid body 415s under the wrong (or absent) header
      ("e415_ctype", s"""{"message": {"data": "${b64("""{"org_id": 1}""")}"}}""", "text/plain"),
      ("e415_noct", s"""{"message": {"data": "${b64("""{"org_id": 1}""")}"}}""", null: String),
      // unparseable envelope → the reference's uncaught json.loads → 500
      ("e500_badjson", "this is not json", json),
      // valid scalar JSON → reference's `"message" not in 123` TypeError → 500
      ("e500_scalar", "123", json),
      // lists/strings support Python's `in` → fall through to 400 (main.py:21)
      ("e400_array", "[1, 2]", json),
      ("e400_jsonstr", "\"just a string\"", json),
      // ...but when the `in` test PASSES on a non-dict, the subsequent
      // `envelope["message"]` raises TypeError → 500: substring match on a
      // string body (against the DECODED text — escapes resolved), element
      // match on a list body
      ("e500_strmsg", "\"the message is inside\"", json),
      ("e500_escstrmsg", "\"\\u006dessage here\"", json),
      ("e500_listmsg", """["message"]""", json),
      // non-object `message` FIELDS, shape by shape (main.py:24-26):
      // null/number/bool raise at `"data" in message` → 500
      ("e500_msgnull", """{"message": null}""", json),
      ("e500_msgnum", """{"message": 123}""", json),
      ("e500_msgbool", """{"message": true}""", json),
      // a string/list message passes `in` when it carries "data"; the
      // message["data"] index then raises INSIDE the try at main.py:28-34,
      // converting to 400 BAD_DATA. Without "data" the `in` is false → 400
      // MISSING_DATA at main.py:25-26.
      ("e400_msgstr_data", """{"message": "x data y"}""", json),
      ("e400_msgstr", """{"message": "hello there"}""", json),
      // type-probe fidelity: a STRING spelling a number takes the substring
      // route (no "data" → MISSING_DATA), not the number's TypeError; a
      // STRING that merely looks like an array still substring-matches
      ("e400_msgstr_num", """{"message": "123"}""", json),
      ("e400_msgstr_arrlike", """{"message": "[\"x\"] data"}""", json),
      ("e400_msgarr_data", """{"message": ["data"]}""", json),
      ("e400_msgarr", """{"message": [1]}""", json),
      // valid non-object inner payloads: Model(**payload) TypeError → 500
      ("e500_payload_arr", s"""{"message": {"data": "${b64("[1]")}"}}""", json),
      ("e500_payload_str", s"""{"message": {"data": "${b64("\"5\"")}"}}""", json),
      ("e500_payload_num", s"""{"message": {"data": "${b64("5")}"}}""", json),
      ("e500_payload_null", s"""{"message": {"data": "${b64("null")}"}}""", json),
      // {"foo":1} parses but has no message → 400 (main.py:21-22)
      ("e400_nomsg", """{"foo": 1}""", json),
      // message without data → 400 (main.py:25-26)
      ("e400_nodata", """{"message": {"messageId": "m2"}}""", json),
      // data KEY present but null → b64decode(None) raises → 400 BAD_DATA
      ("e400_datanull", """{"message": {"data": null}}""", json),
      // data not base64/utf8-json → 400 (main.py:29-34)
      ("e400_badb64", """{"message": {"data": "%%%not-base64%%%"}}""", json),
      ("e400_badinner", s"""{"message": {"data": "${b64("not json at all")}"}}""", json),
      // valid JSON payload failing pydantic validation → 400 (main.py:36-38)
      ("e400_noorg", s"""{"message": {"data": "${b64("""{"foo": 1}""")}"}}""", json),
      ("e400_orgstr", s"""{"message": {"data": "${b64("""{"org_id": "abc"}""")}"}}""", json),
      // pydantic coerces numeric strings: "123" → 123 → 200
      ("ok_coerce", s"""{"message": {"data": "${b64("""{"org_id": "123"}""")}"}}""", json))
      .toDF("case_id", "raw", "content_type")
    valid.unionByName(probes)
  }

  private def s11(s: SparkSession, dir: String): DataFrame =
    MessageFrontEnd.decode(fixture(s, dir), contentTypeCol = Some("content_type"))
      .select(col("case_id"), col("org_id"), col("status_code"), col("error_class"))
      .orderBy(col("case_id"))

  /** The U2 quarantine channel: rejects grouped by class. */
  private def u2(s: SparkSession, dir: String): DataFrame =
    MessageFrontEnd.quarantined(
        MessageFrontEnd.decode(fixture(s, dir), contentTypeCol = Some("content_type")))
      .groupBy(col("status_code"), col("error_class"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status_code"), col("error_class"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s11_message_decode" -> (s11 _),
    "u2_validation_quarantine" -> (u2 _)
  )

  val oracleSql: Map[String, String] = Map(
    "s11_message_decode" ->
      """SELECT case_id, org_id, status_code, error_class FROM (
        |  SELECT 'ok_' || CAST(user_id AS VARCHAR) AS case_id,
        |         CAST(user_id AS INTEGER) AS org_id,
        |         CAST(200 AS INTEGER) AS status_code,
        |         CAST(NULL AS VARCHAR) AS error_class
        |  FROM (SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 0)
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    ('e415_ctype',     CAST(NULL AS INTEGER), CAST(415 AS INTEGER), 'CONTENT_TYPE'),
        |    ('e415_noct',      NULL, 415, 'CONTENT_TYPE'),
        |    ('e500_badjson',   NULL, 500, 'ENVELOPE_PARSE'),
        |    ('e500_scalar',    NULL, 500, 'ENVELOPE_PARSE'),
        |    ('e400_array',     NULL, 400, 'MISSING_MESSAGE'),
        |    ('e400_jsonstr',   NULL, 400, 'MISSING_MESSAGE'),
        |    ('e500_strmsg',      NULL, 500, 'TYPE_ERROR'),
        |    ('e500_escstrmsg',   NULL, 500, 'TYPE_ERROR'),
        |    ('e500_listmsg',     NULL, 500, 'TYPE_ERROR'),
        |    ('e500_msgnull',     NULL, 500, 'TYPE_ERROR'),
        |    ('e500_msgnum',      NULL, 500, 'TYPE_ERROR'),
        |    ('e500_msgbool',     NULL, 500, 'TYPE_ERROR'),
        |    ('e400_msgstr_data', NULL, 400, 'BAD_DATA'),
        |    ('e400_msgstr',      NULL, 400, 'MISSING_DATA'),
        |    ('e400_msgstr_num',  NULL, 400, 'MISSING_DATA'),
        |    ('e400_msgstr_arrlike', NULL, 400, 'BAD_DATA'),
        |    ('e400_msgarr_data', NULL, 400, 'BAD_DATA'),
        |    ('e400_msgarr',      NULL, 400, 'MISSING_DATA'),
        |    ('e500_payload_arr', NULL, 500, 'TYPE_ERROR'),
        |    ('e500_payload_str', NULL, 500, 'TYPE_ERROR'),
        |    ('e500_payload_num', NULL, 500, 'TYPE_ERROR'),
        |    ('e500_payload_null', NULL, 500, 'TYPE_ERROR'),
        |    ('e400_nomsg',     NULL, 400, 'MISSING_MESSAGE'),
        |    ('e400_nodata',    NULL, 400, 'MISSING_DATA'),
        |    ('e400_datanull',  NULL, 400, 'BAD_DATA'),
        |    ('e400_badb64',    NULL, 400, 'BAD_DATA'),
        |    ('e400_badinner',  NULL, 400, 'BAD_DATA'),
        |    ('e400_noorg',     NULL, 400, 'VALIDATION'),
        |    ('e400_orgstr',    NULL, 400, 'VALIDATION'),
        |    ('ok_coerce',      123,  200, NULL)
        |  ) AS t(case_id, org_id, status_code, error_class)
        |) ORDER BY case_id""".stripMargin,
    "u2_validation_quarantine" ->
      """SELECT status_code, error_class, n FROM (VALUES
        |  (CAST(400 AS INTEGER), 'BAD_DATA',        CAST(6 AS BIGINT)),
        |  (400, 'MISSING_DATA',    4),
        |  (400, 'MISSING_MESSAGE', 3),
        |  (400, 'VALIDATION',      2),
        |  (415, 'CONTENT_TYPE',    2),
        |  (500, 'ENVELOPE_PARSE',  2),
        |  (500, 'TYPE_ERROR',      10)
        |) AS t(status_code, error_class, n)
        |ORDER BY status_code, error_class""".stripMargin
  )
}
