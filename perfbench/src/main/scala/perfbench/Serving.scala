package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.exec.ExecutionContext
import graft.server.flight.{FlightSqlClient, FlightSqlServer, Proto}
import graft.tables.Observability

/** `tables` layer probe: every request record becomes a span tagged with
  * the protocol of the server that recorded it.
  */
final class TracedObservability(spark: SparkSession, tracer: Tracer)
    extends Observability(spark) {
  override def record(requestId: Option[String], path: String, sql: Option[String],
      timestamp: Timestamp, durationMs: Long, rows: Option[Long], status: Int): Unit =
    tracer.timed("tables.record", tag = if (path == "/metrics") "scrape" else Tracer.callerProtocol())(_ =>
      super.record(requestId, path, sql, timestamp, durationMs, rows, status))
}

/** `exec` layer probe: `sql` becomes a span, with the analysis phase of
  * the statement it returns (Spark analyzes eagerly) as its child.
  */
final class TracedContext(spark: SparkSession, tracer: Tracer) extends ExecutionContext(spark) {
  override val observability: Observability = new TracedObservability(spark, tracer)

  override def sql(statement: String): DataFrame = {
    val tag = Tracer.callerProtocol()
    tracer.timed("exec.sql", tag = tag) { id =>
      val df = super.sql(statement)
      df.queryExecution.tracker.phases.get("analysis").foreach { p =>
        tracer.add("spark.analysis", p.startTimeMs * 1000L, p.endTimeMs * 1000L, parent = id, tag = tag)
      }
      df
    }
  }
}

/** A decoded result: column names and each value as text. */
final case class Rows(columns: Seq[String], rows: Seq[Seq[String]]) {
  /** Order-insensitive canonical form for comparing two results. */
  def canonical: String =
    columns.mkString("|") + "\n" + rows.map(_.mkString("\u001f")).sorted.mkString("\n")
}

object Rows {
  def text(v: Any): String = v match {
    case null => "null"
    case d: java.lang.Double => java.lang.Double.toString(d)
    case other => String.valueOf(other)
  }

  /** The in-process result of `sql`, as the reference for served rows. */
  def of(df: DataFrame): Rows =
    Rows(df.columns.toSeq, df.collect().toSeq.map(r => r.toSeq.map(text)))

  private val mapper = new ObjectMapper()

  /** Rows of the HTTP facade's JSON array, in the reference's columns
    * (Spark's JSON writer omits null fields).
    */
  def ofJson(body: String, columns: Seq[String]): Rows = {
    val arr = mapper.readTree(body)
    require(arr.isArray, s"not a JSON array: ${body.take(200)}")
    Rows(columns, arr.elements().asScala.toSeq.map { o =>
      columns.map { c =>
        val n: JsonNode = o.get(c)
        if (n == null || n.isNull) "null"
        else if (n.isFloatingPointNumber) java.lang.Double.toString(n.doubleValue)
        else n.asText
      }
    })
  }
}

/** One client: a keep-alive HTTP connection and one gRPC channel, both
  * held for the whole run.
  */
final class ServeClient(httpPort: Int, flightPort: Int) extends AutoCloseable {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val channel = FlightSqlServer.channel(flightPort)

  /** POST /sql; returns (status, body). */
  def postSql(sql: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$httpPort/sql"))
      .POST(HttpRequest.BodyPublishers.ofString(s"""{"sql":${Json.str(sql)}}"""))
      .build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body)
  }

  /** GET /metrics; returns (status, body). */
  def scrape(): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$httpPort/metrics")).GET().build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body)
  }

  /** GetFlightInfo then DoGet. Returns the decoded rows and the phase
    * boundaries in nanoTime: (info done, first frame, last frame).
    */
  def flight(sql: String): (Rows, Long, Long, Long) = {
    val info = FlightSqlServer.unaryCall(channel, FlightSqlServer.Methods.getFlightInfo,
      FlightSqlClient.statementDescriptor(sql))
    val tInfo = System.nanoTime()
    var tFirst = 0L
    val frames = FlightSqlServer.streamingCall(channel, FlightSqlServer.Methods.doGet,
      FlightSqlClient.ticketOfInfo(info)).map { fd =>
      if (tFirst == 0L) tFirst = System.nanoTime()
      val fs = Proto.parse(fd)
      (Proto.bytesAt(fs, 2).getOrElse(Array.emptyByteArray),
        Proto.bytesAt(fs, 1000).getOrElse(Array.emptyByteArray))
    }
    val (names, rows) = FlightSqlClient.decodeFrames(frames, None)
    val tEnd = System.nanoTime()
    (Rows(names, rows), tInfo, if (tFirst == 0L) tEnd else tFirst, tEnd)
  }

  override def close(): Unit = {
    channel.shutdownNow()
    channel.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }
}
