package wirebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.{Connection, DriverManager, ResultSet}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.types.StructType

/** A statement of a workload's pool. `call` is "sql", or a JDBC
  * `DatabaseMetaData` call ("tables", "columns") whose oracle is the
  * name column it returns.
  */
final case class Stmt(id: Int, kind: String, sql: String, call: String = "sql")

/** One execution of a [[Stmt]], timed on the client's nanoTime axis.
  * `dueNs` is set in open loop only; latency runs from it when set,
  * from submit otherwise, to the end of close.
  */
final class Rec(val seq: Long, val stmt: Stmt, val proto: String) {
  var dueNs, connectStartNs, connectEndNs = 0L
  var submitNs, firstRowNs, lastRowNs, endNs = 0L
  var rows = 0L
  /** Which of the workload's persistent connections ran it, or -1. */
  var conn = -1
  var digest: Digest = _
  /** A call that failed or was refused. */
  var error: String = _
  /** A result that differs from the oracle. */
  var wrong: String = _

  def startNs: Long = if (dueNs > 0) dueNs else if (connectStartNs > 0) connectStartNs else submitNs
  def latencyNs: Long = endNs - startNs
  def ok: Boolean = error == null && wrong == null
  /** The SQL as sent: tagged with this execution's sequence number. */
  def wireSql: String = s"/* bench:$seq */ ${stmt.sql}"
}

/** hive-jdbc over the Thrift frontend; every cell is read with
  * `getObject`.
  */
object JdbcClient {
  Class.forName("org.apache.hive.jdbc.HiveDriver")

  def connect(url: String): Connection = DriverManager.getConnection(url, "wb", "")

  def run(conn: Connection, rec: Rec, schema: StructType): Unit = {
    rec.submitNs = System.nanoTime()
    rec.stmt.call match {
      case "sql" =>
        val st = conn.createStatement()
        try {
          if (st.execute(rec.wireSql)) read(st.getResultSet, schema, rec, None)
          else { rec.firstRowNs = System.nanoTime(); rec.lastRowNs = rec.firstRowNs; rec.digest = Digest(0, 0) }
        } finally st.close()
      case "tables" =>
        read(conn.getMetaData.getTables(null, Fixture.Db, "%", null), schema, rec, Some("TABLE_NAME"))
      case "columns" =>
        read(conn.getMetaData.getColumns(null, Fixture.Db, rec.stmt.sql, "%"), schema, rec,
          Some("COLUMN_NAME"))
    }
    rec.endNs = System.nanoTime()
  }

  private def read(rs: ResultSet, schema: StructType, rec: Rec, only: Option[String]): Unit = {
    try {
      val n = schema.length
      val width = rs.getMetaData.getColumnCount
      if (only.isEmpty && width != n) rec.wrong = s"$width columns, expected $n"
      val b = new Digest.Builder(schema)
      val cells = new Array[AnyRef](n)
      var first = true
      while (rs.next()) {
        if (first) { rec.firstRowNs = System.nanoTime(); first = false }
        only match {
          case Some(col) => cells(0) = rs.getObject(col)
          case None =>
            var i = 0
            while (i < n) { cells(i) = rs.getObject(i + 1); i += 1 }
        }
        b.add(cells)
      }
      rec.lastRowNs = System.nanoTime()
      if (first) rec.firstRowNs = rec.lastRowNs
      rec.rows = b.count
      rec.digest = b.result
    } finally rs.close()
  }
}

/** Shared HTTP/JSON plumbing for the REST and Trino protocols. */
class HttpJson(base: String) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  protected val json: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  protected def call(method: String, path: String, body: String = null,
      headers: Seq[(String, String)] = Nil): JsonNode = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
    headers.foreach { case (k, v) => b.header(k, v) }
    val pub = if (body == null) HttpRequest.BodyPublishers.noBody()
      else HttpRequest.BodyPublishers.ofString(body)
    val resp = http.send(b.method(method, pub).build(), HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode / 100 != 2)
      throw new IllegalStateException(s"$method $path -> HTTP ${resp.statusCode}: ${resp.body.take(200)}")
    json.readTree(resp.body)
  }

  /** A JSON value as the carrier [[Digest.canon]] expects. */
  protected def cell(v: JsonNode): AnyRef =
    if (v == null || v.isNull) null
    else if (v.isNumber) v.numberValue
    else v.asText
}

/** The REST statements API: POST, poll state, page `result?maxRows=`
  * to the end, then close the operation.
  */
final class RestClient(base: String, pageRows: Int) extends HttpJson(base) {
  private var sid: String = _

  def open(): Unit =
    sid = call("POST", "/api/v1/sessions", """{"user": "wb"}""").get("sessionId").asText

  def close(): Unit = if (sid != null) call("DELETE", s"/api/v1/sessions/$sid")

  def run(rec: Rec, schema: StructType): Unit = {
    rec.submitNs = System.nanoTime()
    val body = json.createObjectNode().put("sql", rec.wireSql).toString
    val op = call("POST", s"/api/v1/sessions/$sid/statements", body).get("operationId").asText
    var state = ""
    while (state != "FINISHED") {
      val doc = call("GET", s"/api/v1/sessions/$sid/statements/$op")
      state = doc.get("state").asText
      if (Set("ERROR", "CANCELED", "TIMEOUT", "CLOSED")(state))
        throw new IllegalStateException(s"statement $state: ${Option(doc.get("error")).map(_.asText).orNull}")
      if (state != "FINISHED") Thread.sleep(1)
    }
    val b = new Digest.Builder(schema)
    val names = schema.fieldNames
    val cells = new Array[AnyRef](names.length)
    var more = true
    while (more) {
      val rows = call("GET", s"/api/v1/sessions/$sid/statements/$op/result?maxRows=$pageRows").get("rows")
      if (rows.size > 0 && rec.firstRowNs == 0) rec.firstRowNs = System.nanoTime()
      rows.elements.asScala.foreach { r =>
        var i = 0
        while (i < names.length) { cells(i) = cell(r.get(names(i))); i += 1 }
        b.add(cells)
      }
      more = rows.size == pageRows
    }
    rec.lastRowNs = System.nanoTime()
    if (rec.firstRowNs == 0) rec.firstRowNs = rec.lastRowNs
    rec.rows = b.count
    rec.digest = b.result
    call("PUT", s"/api/v1/operations/$op", """{"action": "close"}""")
    rec.endNs = System.nanoTime()
  }
}

/** The Trino protocol: POST /v1/statement, then follow `nextUri` until
  * the final document carries `columns` and `data`.
  */
final class TrinoClient(base: String) extends HttpJson(base) {
  def run(rec: Rec, schema: StructType): Unit = {
    rec.submitNs = System.nanoTime()
    var doc = call("POST", "/v1/statement", rec.wireSql, Seq("X-Trino-User" -> "wb"))
    while (doc.hasNonNull("nextUri")) {
      Thread.sleep(1)
      doc = call("GET", doc.get("nextUri").asText)
    }
    if (doc.hasNonNull("error"))
      throw new IllegalStateException(s"trino: ${doc.get("error").path("message").asText}")
    val cols = doc.path("columns")
    if (cols.size != schema.length) rec.wrong = s"${cols.size} columns, expected ${schema.length}"
    val b = new Digest.Builder(schema)
    val cells = new Array[AnyRef](schema.length)
    val data = doc.path("data").elements.asScala
    if (data.hasNext) rec.firstRowNs = System.nanoTime()
    data.foreach { r =>
      var i = 0
      while (i < cells.length) { cells(i) = cell(r.get(i)); i += 1 }
      b.add(cells)
    }
    rec.lastRowNs = System.nanoTime()
    if (rec.firstRowNs == 0) rec.firstRowNs = rec.lastRowNs
    rec.rows = b.count
    rec.digest = b.result
    rec.endNs = rec.lastRowNs
  }
}
