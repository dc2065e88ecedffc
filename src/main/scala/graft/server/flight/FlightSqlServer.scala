package graft.server.flight

import java.io.ByteArrayOutputStream
import java.nio.channels.Channels
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.arrow.vector.ipc.WriteChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.spark.sql.DataFrame
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel, Metadata, MethodDescriptor, ServerCall, ServerCallHandler, ServerInterceptor, ServerInterceptors, ServerServiceDefinition, Status}
import org.sparkproject.connect.grpc.netty.{NettyChannelBuilder, NettyServerBuilder}
import org.sparkproject.connect.grpc.stub.{ClientCalls, ServerCalls, StreamObserver}

import graft.exec.{ExecutionContext, PlanCache}
import graft.server.{ArrowTransport, FlightSqlCatalogs}

/** Arrow Flight SQL over gRPC — the reference's primary programmatic API
  * (`src/server/flightsql/service.rs:486-560`: GetFlightInfo plans the SQL
  * and stores the plan under a UUID ticket; DoGet executes it and streams
  * Arrow record batches; `service.rs:563-714` prepared statements;
  * catalog commands `service.rs:717-810`).
  *
  * Offline constraint and how it's met: no grpc-java/arrow-flight
  * artifacts resolve here, but Apache Spark's own distribution ships a
  * relocated gRPC + protobuf runtime for Spark Connect
  * (`org.sparkproject.connect.{grpc,protobuf}` inside
  * spark-connect_2.13). Relocation renames Java packages only — the bytes
  * on the wire are standard gRPC/HTTP2 + protobuf — so this service
  * speaks the real Flight protocol and a stock FlightSQL client can
  * connect. Message framing is hand-encoded against the public
  * Flight.proto/FlightSql.proto field numbers ([[Proto]]); Arrow data
  * crosses the boundary as the same IPC messages the HTTP facade serves,
  * split into FlightData frames. In a build with normal dependency
  * resolution the identical service would sit on grpc-java + arrow-flight
  * instead; semantics (plan-once/ticket/execute-later via [[PlanCache]],
  * catalog commands via [[FlightSqlCatalogs]]) are shared with the HTTP
  * facade either way.
  *
  * Flow (mirrors the reference):
  *  - GetFlightInfo(CommandStatementQuery) → plan + cache → FlightInfo
  *    with the result schema and a TicketStatementQuery handle.
  *  - DoGet(ticket) → execute the cached plan, stream FlightData frames.
  *  - DoGet also accepts catalog command tickets (GetCatalogs/DbSchemas/
  *    Tables), exactly as issued by their GetFlightInfo responses.
  *  - DoAction CreatePreparedStatement/ClosePreparedStatement manage
  *    prepared handles (no parameter binding — reference parity).
  */
class FlightSqlServer(ctx: ExecutionContext, port: Int = 0,
    bearerToken: Option[String] = None,
    basicAuth: Option[(String, String)] = None) {
  import FlightSqlServer._

  private[flight] val planCache = new PlanCache(ctx)
  private var server: org.sparkproject.connect.grpc.Server = _

  def start(): Unit = {
    val svc = ServerInterceptors.intercept(serviceDefinition(), authInterceptor)
    server = NettyServerBuilder.forPort(port).addService(svc).build().start()
  }

  def boundPort: Int = server.getPort
  def stop(): Unit = if (server != null) {
    server.shutdown()
    server.awaitTermination(5, java.util.concurrent.TimeUnit.SECONDS): Unit
  }

  // ---- auth (reference: basic/bearer on the flight channel) ----------

  /** Starts a call whose `authorization` header [[graft.server.AuthCheck]]
    * allows; any other call closes UNAUTHENTICATED.
    */
  private val authInterceptor = new ServerInterceptor {
    override def interceptCall[ReqT, RespT](call: ServerCall[ReqT, RespT],
        headers: Metadata, next: ServerCallHandler[ReqT, RespT]): ServerCall.Listener[ReqT] = {
      if (graft.server.AuthCheck.allows(headers.get(AuthKey), bearerToken, basicAuth))
        next.startCall(call, headers)
      else {
        call.close(Status.UNAUTHENTICATED.withDescription("invalid credentials"),
          new Metadata())
        new ServerCall.Listener[ReqT] {}
      }
    }
  }

  // ---- service wiring ------------------------------------------------

  private def serviceDefinition(): ServerServiceDefinition =
    ServerServiceDefinition.builder(ServiceName)
      .addMethod(Methods.handshake, ServerCalls.asyncBidiStreamingCall(
        new ServerCalls.BidiStreamingMethod[Array[Byte], Array[Byte]] {
          override def invoke(resp: StreamObserver[Array[Byte]]): StreamObserver[Array[Byte]] =
            new StreamObserver[Array[Byte]] {
              override def onNext(v: Array[Byte]): Unit =
                // HandshakeResponse{payload=2}: token-less acknowledgement
                resp.onNext(Proto.writer().bytes(2, Array.emptyByteArray).build())
              override def onError(t: Throwable): Unit = ()
              override def onCompleted(): Unit = resp.onCompleted()
            }
        }))
      .addMethod(Methods.getFlightInfo, ServerCalls.asyncUnaryCall(
        new ServerCalls.UnaryMethod[Array[Byte], Array[Byte]] {
          override def invoke(req: Array[Byte], resp: StreamObserver[Array[Byte]]): Unit =
            guard(resp)(observed("/get_flight_info", sqlOf(cmdOfDescriptor(req)))(
              resp.onNext(getFlightInfo(req))))
        }))
      .addMethod(Methods.getSchema, ServerCalls.asyncUnaryCall(
        new ServerCalls.UnaryMethod[Array[Byte], Array[Byte]] {
          override def invoke(req: Array[Byte], resp: StreamObserver[Array[Byte]]): Unit =
            guard(resp) {
              // SchemaResult{schema=1}: the same IPC schema bytes
              val df = dataFrameFor(cmdOfDescriptor(req))
              resp.onNext(Proto.writer().bytes(1, ipcSchemaBytes(df)).build())
            }
        }))
      .addMethod(Methods.doGet, ServerCalls.asyncServerStreamingCall(
        new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
          override def invoke(req: Array[Byte], resp: StreamObserver[Array[Byte]]): Unit =
            guard(resp)(observed("/do_get")(doGet(req, resp)))
        }))
      .addMethod(Methods.doAction, ServerCalls.asyncServerStreamingCall(
        new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
          override def invoke(req: Array[Byte], resp: StreamObserver[Array[Byte]]): Unit =
            guard(resp) {
              val fs = Proto.parse(req)
              val name = Proto.stringAt(fs, 1).getOrElse("")
              val sql = if (name != "CreatePreparedStatement") None
                else sqlOf(Proto.unpackAny(Proto.bytesAt(fs, 2).get))
              observed(s"/do_action/$name", sql)(doAction(req, resp))
            }
        }))
      // no pre-registered named flights exist (every flight is created by a
      // GetFlightInfo command), so ListFlights is a well-formed EMPTY
      // stream — the graceful answer a stock client expects, not
      // UNIMPLEMENTED. Reference gets this from FlightSqlService's default.
      .addMethod(Methods.listFlights, ServerCalls.asyncServerStreamingCall(
        new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
          override def invoke(req: Array[Byte], resp: StreamObserver[Array[Byte]]): Unit =
            guard(resp)(observed("/list_flights")(()))
        }))
      .addMethod(Methods.listActions, ServerCalls.asyncServerStreamingCall(
        new ServerCalls.ServerStreamingMethod[Array[Byte], Array[Byte]] {
          override def invoke(req: Array[Byte], resp: StreamObserver[Array[Byte]]): Unit =
            guard(resp)(observed("/list_actions") {
              // ActionType{type=1, description=2}, one per supported action
              Seq(
                ("CreatePreparedStatement",
                  "Plan a SQL statement and return a prepared handle"),
                ("ClosePreparedStatement",
                  "Release a prepared statement handle")
              ).foreach { case (name, desc) =>
                resp.onNext(Proto.writer().string(1, name).string(2, desc).build())
              }
            })
        }))
      // ingestion is out of scope (the engine's write paths are the CLI
      // writers / INSERT surface): explicit UNIMPLEMENTED with a message,
      // not a silent hang — a stock client sees a clean error.
      .addMethod(Methods.doPut, ServerCalls.asyncBidiStreamingCall(
        new ServerCalls.BidiStreamingMethod[Array[Byte], Array[Byte]] {
          override def invoke(resp: StreamObserver[Array[Byte]]): StreamObserver[Array[Byte]] = {
            resp.onError(Status.UNIMPLEMENTED.withDescription(
              "DoPut is not supported: use the SQL INSERT surface or the CLI writers")
              .asRuntimeException())
            new StreamObserver[Array[Byte]] {
              override def onNext(v: Array[Byte]): Unit = ()
              override def onError(t: Throwable): Unit = ()
              override def onCompleted(): Unit = ()
            }
          }
        }))
      .addMethod(Methods.doExchange, ServerCalls.asyncBidiStreamingCall(
        new ServerCalls.BidiStreamingMethod[Array[Byte], Array[Byte]] {
          override def invoke(resp: StreamObserver[Array[Byte]]): StreamObserver[Array[Byte]] = {
            resp.onError(Status.UNIMPLEMENTED.withDescription(
              "DoExchange is not supported by this server")
              .asRuntimeException())
            new StreamObserver[Array[Byte]] {
              override def onNext(v: Array[Byte]): Unit = ()
              override def onError(t: Throwable): Unit = ()
              override def onCompleted(): Unit = ()
            }
          }
        }))
      .build()

  private def guard(resp: StreamObserver[Array[Byte]])(body: => Unit): Unit =
    try { body; resp.onCompleted() } catch {
      case e: NoSuchElementException =>
        resp.onError(Status.NOT_FOUND.withDescription(e.getMessage).asRuntimeException())
      case e: Exception =>
        resp.onError(Status.INVALID_ARGUMENT.withDescription(
          String.valueOf(e.getMessage)).asRuntimeException())
    }

  /** One observability row per Flight request, like the reference's
    * per-endpoint records (`service.rs:631-643,691-703`).
    */
  private def observed[T](path: String, sql: Option[String] = None)(body: => T): T = {
    val t0 = System.nanoTime()
    var status = 200
    try body
    catch { case e: Throwable => status = 500; throw e }
    finally ctx.observability.record(
      Some(java.util.UUID.randomUUID().toString), path, sql,
      new java.sql.Timestamp(System.currentTimeMillis()),
      (System.nanoTime() - t0) / 1000000L, None, status)
  }

  /** The SQL text of a statement command (`CommandStatementQuery`) or a
    * prepare request (`ActionCreatePreparedStatementRequest`), for the
    * request's observability row; None for any other command, or one that
    * does not parse (its handler reports that).
    */
  private def sqlOf(cmd: => (String, Array[Byte])): Option[String] =
    scala.util.Try(cmd match {
      case ("CommandStatementQuery" | "ActionCreatePreparedStatementRequest", v) =>
        Proto.stringAt(Proto.parse(v), 1)
      case _ => None
    }).toOption.flatten

  // ---- handlers ------------------------------------------------------

  /** FlightDescriptor{type=1, cmd=2} → the Any-wrapped FlightSQL command. */
  private def cmdOfDescriptor(desc: Array[Byte]): (String, Array[Byte]) = {
    val cmd = Proto.bytesAt(Proto.parse(desc), 2).getOrElse(
      throw new IllegalArgumentException("descriptor has no cmd"))
    Proto.unpackAny(cmd)
  }

  /** The result DataFrame a command denotes (before execution). */
  private def dataFrameFor(cmd: (String, Array[Byte])): DataFrame = cmd match {
    case ("CommandStatementQuery", v) =>
      val sql = Proto.stringAt(Proto.parse(v), 1).getOrElse("")
      ctx.sql(sql)
    case ("CommandPreparedStatementQuery", v) =>
      val handle = Proto.bytesAt(Proto.parse(v), 1).getOrElse(Array.emptyByteArray)
      planCache.execute(new String(handle, UTF_8))
    case ("CommandGetCatalogs", _) => FlightSqlCatalogs.getCatalogs(ctx)
    case ("CommandGetDbSchemas", v) =>
      val fs = Proto.parse(v)
      FlightSqlCatalogs.getDbSchemas(ctx, Proto.stringAt(fs, 1),
        Proto.stringAt(fs, 2))
    case ("CommandGetTables", v) =>
      val fs = Proto.parse(v)
      FlightSqlCatalogs.getTables(ctx, Proto.stringAt(fs, 1),
        Proto.stringAt(fs, 2), Proto.stringAt(fs, 3),
        Proto.allBytesAt(fs, 4).map(new String(_, UTF_8)))
    case ("CommandGetTableTypes", _) => FlightSqlCatalogs.getTableTypes(ctx)
    case ("CommandGetSqlInfo", _) => FlightSqlCatalogs.getSqlInfo(ctx)
    case ("CommandGetXdbcTypeInfo", v) =>
      FlightSqlCatalogs.getXdbcTypeInfo(ctx,
        Proto.varintAt(Proto.parse(v), 1).map(_.toInt))
    case (other, _) =>
      throw new IllegalArgumentException(s"unsupported command: $other")
  }

  private def getFlightInfo(desc: Array[Byte]): Array[Byte] = {
    val cmd = cmdOfDescriptor(desc)
    val (schemaBytes, ticketAny) = cmd match {
      case ("CommandStatementQuery", v) =>
        // plan once, hand out a ticket — the reference's
        // get_flight_info_statement (service.rs:486-533)
        val sql = Proto.stringAt(Proto.parse(v), 1).getOrElse("")
        val prepared = planCache.prepare(sql)
        val df = planCache.execute(prepared.handle)
        (ipcSchemaBytes(df), Proto.packAny(
          Proto.SqlProtoPrefix + "TicketStatementQuery",
          Proto.writer().bytes(1, prepared.handle.getBytes(UTF_8)).build()))
      case (name, v) =>
        // catalog commands: the command itself is the ticket (stateless)
        (ipcSchemaBytes(dataFrameFor(cmd)),
          Proto.packAny(Proto.SqlProtoPrefix + name, v))
    }
    val endpoint = Proto.writer()
      .message(1, Proto.writer().bytes(1, ticketAny).build()) // Ticket{ticket=1}
      .build()
    Proto.writer()
      .bytes(1, schemaBytes) // FlightInfo.schema
      .message(2, desc) // FlightInfo.flight_descriptor
      .message(3, endpoint) // FlightInfo.endpoint
      .varint(4, -1L) // total_records unknown
      .varint(5, -1L) // total_bytes unknown
      .build()
  }

  private def doGet(ticket: Array[Byte], resp: StreamObserver[Array[Byte]]): Unit = {
    val any = Proto.bytesAt(Proto.parse(ticket), 1).getOrElse(
      throw new IllegalArgumentException("empty ticket"))
    val df = Proto.unpackAny(any) match {
      case ("TicketStatementQuery", v) =>
        val handle = Proto.bytesAt(Proto.parse(v), 1).getOrElse(Array.emptyByteArray)
        planCache.execute(new String(handle, UTF_8))
      case cmd => dataFrameFor(cmd)
    }
    // streamed per batch: the driver holds ONE batch, not the serialized
    // result — a full-result buffer here was a driver OOM for a large
    // SELECT * at scale (the HTTP facade has app-level limits; this path
    // had none). Reference contract: DoGet forwards the plan's record-
    // batch stream (`src/server/flightsql/service.rs:87-125`). The
    // finally releases the Arrow buffers when a client cancels (onNext
    // throws) mid-stream — an abandoned iterator would leak the
    // allocator per cancelled call.
    val frames = ArrowTransport.arrowStreamFrames(df)
    try frames.foreach { case (header, body) =>
      val w = Proto.writer().bytes(2, header) // FlightData.data_header
      if (body.nonEmpty) w.bytes(1000, body) // FlightData.data_body
      resp.onNext(w.build())
    } finally frames.close()
  }

  private def doAction(action: Array[Byte], resp: StreamObserver[Array[Byte]]): Unit = {
    val fs = Proto.parse(action)
    val actionType = Proto.stringAt(fs, 1).getOrElse("")
    val body = Proto.bytesAt(fs, 2).getOrElse(Array.emptyByteArray)
    actionType match {
      case "CreatePreparedStatement" =>
        val (_, req) = Proto.unpackAny(body)
        val sql = Proto.stringAt(Proto.parse(req), 1).getOrElse("")
        val prepared = planCache.prepare(sql)
        val df = planCache.execute(prepared.handle)
        val result = Proto.writer()
          .bytes(1, prepared.handle.getBytes(UTF_8))
          .bytes(2, ipcSchemaBytes(df))
          .build()
        resp.onNext(Proto.writer().bytes(1, Proto.packAny(
          Proto.SqlProtoPrefix + "ActionCreatePreparedStatementResult",
          result)).build())
      case "ClosePreparedStatement" =>
        val (_, req) = Proto.unpackAny(body)
        val handle = Proto.bytesAt(Proto.parse(req), 1).getOrElse(Array.emptyByteArray)
        planCache.close(new String(handle, UTF_8))
        resp.onNext(Proto.writer().build()) // empty Result
      case other =>
        throw new IllegalArgumentException(s"unsupported action: $other")
    }
  }
}

object FlightSqlServer {
  val ServiceName = "arrow.flight.protocol.FlightService"

  private val AuthKey: Metadata.Key[String] =
    Metadata.Key.of("authorization", Metadata.ASCII_STRING_MARSHALLER)

  /** Raw-bytes marshaller: messages are encoded/decoded by [[Proto]], the
    * gRPC layer only moves opaque frames.
    */
  val Bytes: MethodDescriptor.Marshaller[Array[Byte]] =
    new MethodDescriptor.Marshaller[Array[Byte]] {
      override def stream(v: Array[Byte]): java.io.InputStream =
        new java.io.ByteArrayInputStream(v)
      override def parse(s: java.io.InputStream): Array[Byte] = s.readAllBytes()
    }

  private def method(name: String,
      typ: MethodDescriptor.MethodType): MethodDescriptor[Array[Byte], Array[Byte]] =
    MethodDescriptor.newBuilder(Bytes, Bytes)
      .setFullMethodName(s"$ServiceName/$name")
      .setType(typ)
      .build()

  /** Method descriptors, shared by the server wiring and test clients. */
  object Methods {
    import MethodDescriptor.MethodType._
    val handshake: MethodDescriptor[Array[Byte], Array[Byte]] =
      method("Handshake", BIDI_STREAMING)
    val getFlightInfo: MethodDescriptor[Array[Byte], Array[Byte]] =
      method("GetFlightInfo", UNARY)
    val getSchema: MethodDescriptor[Array[Byte], Array[Byte]] =
      method("GetSchema", UNARY)
    val doGet: MethodDescriptor[Array[Byte], Array[Byte]] =
      method("DoGet", SERVER_STREAMING)
    val doAction: MethodDescriptor[Array[Byte], Array[Byte]] =
      method("DoAction", SERVER_STREAMING)
    val listFlights: MethodDescriptor[Array[Byte], Array[Byte]] =
      method("ListFlights", SERVER_STREAMING)
    val listActions: MethodDescriptor[Array[Byte], Array[Byte]] =
      method("ListActions", SERVER_STREAMING)
    val doPut: MethodDescriptor[Array[Byte], Array[Byte]] =
      method("DoPut", BIDI_STREAMING)
    val doExchange: MethodDescriptor[Array[Byte], Array[Byte]] =
      method("DoExchange", BIDI_STREAMING)
  }

  /** IPC-encapsulated schema message (continuation + length + flatbuffer),
    * the encoding FlightInfo.schema / SchemaResult.schema carry.
    */
  def ipcSchemaBytes(df: DataFrame): Array[Byte] = {
    val schema = ArrowTransport.arrowSchemaOf(ArrowTransport.flatten(df).schema)
    val out = new ByteArrayOutputStream()
    MessageSerializer.serialize(new WriteChannel(Channels.newChannel(out)), schema)
    out.toByteArray
  }

  /** Reassemble FlightData frames into one Arrow IPC stream readable by
    * `ArrowStreamReader`.
    */
  def joinIpcStream(frames: Seq[(Array[Byte], Array[Byte])]): Array[Byte] =
    ArrowTransport.ipcStream(frames.iterator)

  /** Plaintext channel to a local server — test-client convenience. */
  def channel(port: Int): ManagedChannel =
    NettyChannelBuilder
      .forAddress(new java.net.InetSocketAddress("127.0.0.1", port))
      .usePlaintext()
      .build()

  /** Blocking unary call with raw frames. */
  def unaryCall(ch: org.sparkproject.connect.grpc.Channel,
      m: MethodDescriptor[Array[Byte], Array[Byte]],
      req: Array[Byte]): Array[Byte] =
    ClientCalls.blockingUnaryCall(ch, m, CallOptions.DEFAULT, req)

  /** Blocking server-streaming call with raw frames. */
  def streamingCall(ch: org.sparkproject.connect.grpc.Channel,
      m: MethodDescriptor[Array[Byte], Array[Byte]],
      req: Array[Byte]): Iterator[Array[Byte]] = {
    val it = ClientCalls.blockingServerStreamingCall(ch, m, CallOptions.DEFAULT, req)
    new Iterator[Array[Byte]] {
      override def hasNext: Boolean = it.hasNext
      override def next(): Array[Byte] = it.next()
    }
  }
}
