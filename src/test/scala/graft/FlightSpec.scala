package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.sparkproject.connect.grpc.{ClientInterceptors, Metadata, StatusRuntimeException}
import org.sparkproject.connect.grpc.stub.MetadataUtils

import graft.exec.ExecutionContext
import graft.server.flight.{FlightSqlServer, Proto}

/** End-to-end Arrow Flight SQL over real gRPC/HTTP2 on a loopback port:
  * the client side uses only the raw method descriptors + hand-encoded
  * protobuf, i.e. exactly what a stock FlightSQL client puts on the wire.
  */
class FlightSpec extends SparkSpec {
  import FlightSqlServer._

  private def withServer[T](bearer: Option[String] = None,
      basic: Option[(String, String)] = None)(
      f: (FlightSqlServer, org.sparkproject.connect.grpc.ManagedChannel) => T): T = {
    val server = new FlightSqlServer(new ExecutionContext(spark), port = 0, bearer, basic)
    server.start()
    val ch = channel(server.boundPort)
    try f(server, ch)
    finally {
      ch.shutdownNow()
      server.stop()
    }
  }

  private def statementDescriptor(sql: String): Array[Byte] = {
    val cmd = Proto.packAny(Proto.SqlProtoPrefix + "CommandStatementQuery",
      Proto.writer().string(1, sql).build())
    // FlightDescriptor{type=2 (CMD), cmd=2}
    Proto.writer().varint(1, 2L).bytes(2, cmd).build()
  }

  private def ticketOfInfo(info: Array[Byte]): Array[Byte] = {
    val endpoint = Proto.bytesAt(Proto.parse(info), 3).get
    // DoGet takes the endpoint's Ticket message verbatim as its request
    Proto.bytesAt(Proto.parse(endpoint), 1).get
  }

  private def readRows(ch: org.sparkproject.connect.grpc.ManagedChannel,
      ticket: Array[Byte]): (Seq[String], Seq[Seq[Any]]) = {
    val frames = streamingCall(ch, Methods.doGet, ticket).map { fd =>
      val fs = Proto.parse(fd)
      (Proto.bytesAt(fs, 2).getOrElse(Array.emptyByteArray),
        Proto.bytesAt(fs, 1000).getOrElse(Array.emptyByteArray))
    }.toSeq
    val stream = joinIpcStream(frames)
    val allocator = new RootAllocator()
    try {
      val reader = new ArrowStreamReader(
        new java.io.ByteArrayInputStream(stream), allocator)
      try {
        val root = reader.getVectorSchemaRoot
        val names = (0 until root.getSchema.getFields.size)
          .map(root.getSchema.getFields.get(_).getName)
        val rows = Seq.newBuilder[Seq[Any]]
        while (reader.loadNextBatch()) {
          (0 until root.getRowCount).foreach { i =>
            rows += (0 until names.size).map(c => root.getVector(c).getObject(i))
          }
        }
        (names, rows.result())
      } finally reader.close()
    } finally allocator.close()
  }

  test("flight: GetFlightInfo plans, DoGet streams the Arrow result") {
    withServer() { (_, ch) =>
      val info = unaryCall(ch, Methods.getFlightInfo,
        statementDescriptor(
          "SELECT id, id * 2 AS dbl, CAST(id AS STRING) AS s FROM RANGE(5) ORDER BY id"))
      // the schema travels in the info, before any execution
      assert(Proto.bytesAt(Proto.parse(info), 1).exists(_.nonEmpty))
      val (names, rows) = readRows(ch, ticketOfInfo(info))
      assert(names === Seq("id", "dbl", "s"))
      assert(rows.map(_.head.asInstanceOf[Long]) === Seq(0L, 1L, 2L, 3L, 4L))
      assert(rows.map(r => r(1).asInstanceOf[Long]) === Seq(0L, 2L, 4L, 6L, 8L))
      assert(rows.map(_(2).toString) === Seq("0", "1", "2", "3", "4"))
    }
  }

  test("flight: DoGet spans many record-batch frames for large results") {
    withServer() { (_, ch) =>
      val info = unaryCall(ch, Methods.getFlightInfo,
        statementDescriptor("SELECT id FROM RANGE(20000) ORDER BY id"))
      val frames = streamingCall(ch, Methods.doGet, ticketOfInfo(info)).map { fd =>
        val fs = Proto.parse(fd)
        (Proto.bytesAt(fs, 2).getOrElse(Array.emptyByteArray),
          Proto.bytesAt(fs, 1000).getOrElse(Array.emptyByteArray))
      }.toSeq
      // schema frame + ceil(20000/4096) = 5 batch frames
      assert(frames.size >= 6, s"expected schema + >=5 batch frames, got ${frames.size}")
      val allocator = new RootAllocator()
      try {
        val reader = new ArrowStreamReader(
          new java.io.ByteArrayInputStream(joinIpcStream(frames)), allocator)
        try {
          var n = 0L
          while (reader.loadNextBatch()) n += reader.getVectorSchemaRoot.getRowCount
          assert(n === 20000L)
        } finally reader.close()
      } finally allocator.close()
    }
  }

  test("arrow frames are produced incrementally, not from a full-result buffer") {
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("rowsRead")
    // 8 partitions x 5000 rows; the accumulator counts rows actually pulled
    val df = spark.range(0, 40000, 1, 8).map { x => acc.add(1); x }.toDF("id")
    val frames = graft.server.ArrowTransport.arrowStreamFrames(df, batchSize = 1024)
    val head = (1 to 3).map(_ => frames.next()) // schema + 2 batches
    assert(head.head._2.isEmpty, "first frame must be the bodyless schema message")
    assert(acc.value < 40000,
      s"all ${acc.value} rows were materialized before the first frames — not streaming")
    // abandoning a frame iterator mid-stream must release the Arrow
    // buffers without error (the cancelled-DoGet path), idempotently
    val abandoned = graft.server.ArrowTransport.arrowStreamFrames(df, 1024)
    abandoned.next(); abandoned.next()
    abandoned.close(); abandoned.close()
    // drain: total rows round-trip through an Arrow reader
    val all = head ++ frames.toSeq
    val allocator = new RootAllocator()
    try {
      val reader = new ArrowStreamReader(
        new java.io.ByteArrayInputStream(joinIpcStream(all)), allocator)
      try {
        var n = 0L
        while (reader.loadNextBatch()) n += reader.getVectorSchemaRoot.getRowCount
        assert(n === 40000L)
      } finally reader.close()
    } finally allocator.close()
  }

  test("flight: unknown ticket handle maps to NOT_FOUND") {
    withServer() { (_, ch) =>
      val bogus = Proto.writer().bytes(1, Proto.packAny(
        Proto.SqlProtoPrefix + "TicketStatementQuery",
        Proto.writer().bytes(1, "nope".getBytes(UTF_8)).build())).build()
      val e = intercept[StatusRuntimeException](
        streamingCall(ch, Methods.doGet, bogus).toSeq)
      assert(e.getStatus.getCode.toString === "NOT_FOUND")
    }
  }

  test("flight: catalog commands round-trip (GetCatalogs / GetTables)") {
    import spark.implicits._
    Seq((1, "x")).toDF("k", "v").createOrReplaceTempView("flight_demo")
    withServer() { (_, ch) =>
      def catalogCmd(name: String, body: Array[Byte]): Array[Byte] =
        Proto.writer().varint(1, 2L)
          .bytes(2, Proto.packAny(Proto.SqlProtoPrefix + name, body)).build()
      val catInfo = unaryCall(ch, Methods.getFlightInfo,
        catalogCmd("CommandGetCatalogs", Array.emptyByteArray))
      val (catNames, catRows) = readRows(ch, ticketOfInfo(catInfo))
      assert(catNames === Seq("catalog_name"))
      assert(catRows.nonEmpty)
      val tblInfo = unaryCall(ch, Methods.getFlightInfo,
        catalogCmd("CommandGetTables",
          Proto.writer().string(3, "flight%").build()))
      val (tblNames, tblRows) = readRows(ch, ticketOfInfo(tblInfo))
      assert(tblNames.contains("table_name"))
      assert(tblRows.exists(_.map(String.valueOf(_)).contains("flight_demo")))
      // the session-info commands JDBC-style clients issue at connect time
      val sqlInfo = unaryCall(ch, Methods.getFlightInfo,
        catalogCmd("CommandGetSqlInfo", Array.emptyByteArray))
      assert(readRows(ch, ticketOfInfo(sqlInfo))._2.nonEmpty)
      val xdbc = unaryCall(ch, Methods.getFlightInfo,
        catalogCmd("CommandGetXdbcTypeInfo", Array.emptyByteArray))
      val (xdbcNames, xdbcRows) = readRows(ch, ticketOfInfo(xdbc))
      assert(xdbcNames.exists(_.startsWith("type_name")) && xdbcRows.nonEmpty)
    }
  }

  test("flight: prepared statements create, execute, close, then NOT_FOUND") {
    withServer() { (_, ch) =>
      val create = Proto.writer().string(1, "CreatePreparedStatement")
        .bytes(2, Proto.packAny(
          Proto.SqlProtoPrefix + "ActionCreatePreparedStatementRequest",
          Proto.writer().string(1, "SELECT id FROM RANGE(3) ORDER BY id").build()))
        .build()
      val results = streamingCall(ch, Methods.doAction, create).toSeq
      assert(results.size === 1)
      val (_, resBody) = Proto.unpackAny(Proto.bytesAt(Proto.parse(results.head), 1).get)
      val handle = Proto.bytesAt(Proto.parse(resBody), 1).get
      assert(Proto.bytesAt(Proto.parse(resBody), 2).exists(_.nonEmpty)) // schema
      // execute via CommandPreparedStatementQuery ticket
      val ticket = Proto.writer().bytes(1, Proto.packAny(
        Proto.SqlProtoPrefix + "CommandPreparedStatementQuery",
        Proto.writer().bytes(1, handle).build())).build()
      val (_, rows) = readRows(ch, ticket)
      assert(rows.map(_.head.asInstanceOf[Long]) === Seq(0L, 1L, 2L))
      // close, then the handle is gone
      val close = Proto.writer().string(1, "ClosePreparedStatement")
        .bytes(2, Proto.packAny(
          Proto.SqlProtoPrefix + "ActionClosePreparedStatementRequest",
          Proto.writer().bytes(1, handle).build()))
        .build()
      streamingCall(ch, Methods.doAction, close).toSeq
      val e = intercept[StatusRuntimeException](readRows(ch, ticket))
      assert(e.getStatus.getCode.toString === "NOT_FOUND")
    }
  }

  test("flight: bearer auth rejects missing/wrong token, accepts the right one") {
    withServer(bearer = Some("tok42")) { (server, bare) =>
      val desc = statementDescriptor("SELECT 1 AS one")
      val e = intercept[StatusRuntimeException](
        unaryCall(bare, Methods.getFlightInfo, desc))
      assert(e.getStatus.getCode.toString === "UNAUTHENTICATED")
      val md = new Metadata()
      md.put(Metadata.Key.of("authorization", Metadata.ASCII_STRING_MARSHALLER),
        "Bearer tok42")
      val underlying = channel(server.boundPort)
      try {
        val authed = ClientInterceptors.intercept(underlying,
          MetadataUtils.newAttachHeadersInterceptor(md))
        val info = unaryCall(authed, Methods.getFlightInfo, desc)
        assert(info.nonEmpty)
      } finally underlying.shutdownNow()
    }
  }

  test("flight: ListFlights is an empty stream, ListActions names the actions") {
    withServer() { (_, ch) =>
      val flights = streamingCall(ch, Methods.listFlights,
        Proto.writer().build()).toSeq
      assert(flights.isEmpty)
      val actions = streamingCall(ch, Methods.listActions,
        Proto.writer().build()).toSeq
        .map(b => Proto.stringAt(Proto.parse(b), 1).getOrElse(""))
      assert(actions === Seq("CreatePreparedStatement", "ClosePreparedStatement"))
    }
  }

  test("flight: DoPut and DoExchange answer UNIMPLEMENTED with a message") {
    import org.sparkproject.connect.grpc.CallOptions
    import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}
    withServer() { (_, ch) =>
      Seq(Methods.doPut -> "DoPut", Methods.doExchange -> "DoExchange").foreach {
        case (m, name) =>
          val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
          val latch = new java.util.concurrent.CountDownLatch(1)
          ClientCalls.asyncBidiStreamingCall(
            ch.newCall(m, CallOptions.DEFAULT),
            new StreamObserver[Array[Byte]] {
              override def onNext(v: Array[Byte]): Unit = ()
              override def onError(t: Throwable): Unit = { err.set(t); latch.countDown() }
              override def onCompleted(): Unit = latch.countDown()
            })
          assert(latch.await(10, java.util.concurrent.TimeUnit.SECONDS),
            s"$name did not answer")
          val sre = err.get().asInstanceOf[StatusRuntimeException]
          assert(sre.getStatus.getCode.toString === "UNIMPLEMENTED")
          assert(sre.getStatus.getDescription.contains("not supported"))
      }
    }
  }

  test("flight: basic auth rejects a wrong password, accepts the right one") {
    withServer(basic = Some(("alice", "secret"))) { (server, bare) =>
      val desc = statementDescriptor("SELECT 1 AS one")
      def basicHeader(user: String, pass: String): Metadata = {
        val md = new Metadata()
        md.put(Metadata.Key.of("authorization", Metadata.ASCII_STRING_MARSHALLER),
          "Basic " + java.util.Base64.getEncoder.encodeToString(
            s"$user:$pass".getBytes(UTF_8)))
        md
      }
      def callWith(md: Metadata): Array[Byte] = {
        val underlying = channel(server.boundPort)
        try unaryCall(ClientInterceptors.intercept(underlying,
          MetadataUtils.newAttachHeadersInterceptor(md)), Methods.getFlightInfo, desc)
        finally underlying.shutdownNow()
      }
      val eNone = intercept[StatusRuntimeException](
        unaryCall(bare, Methods.getFlightInfo, desc))
      assert(eNone.getStatus.getCode.toString === "UNAUTHENTICATED")
      val eWrong = intercept[StatusRuntimeException](
        callWith(basicHeader("alice", "wrong")))
      assert(eWrong.getStatus.getCode.toString === "UNAUTHENTICATED")
      assert(callWith(basicHeader("alice", "secret")).nonEmpty)
    }
  }

  test("flight: requests are recorded in the observability table") {
    val ctx = new ExecutionContext(spark)
    val server = new FlightSqlServer(ctx, port = 0)
    server.start()
    val ch = channel(server.boundPort)
    try {
      val info = unaryCall(ch, Methods.getFlightInfo,
        statementDescriptor("SELECT 1 AS one"))
      streamingCall(ch, Methods.doGet, ticketOfInfo(info)).toSeq
      val prepare = Proto.writer().string(1, "CreatePreparedStatement")
        .bytes(2, Proto.packAny(
          Proto.SqlProtoPrefix + "ActionCreatePreparedStatementRequest",
          Proto.writer().string(1, "SELECT 2 AS two").build()))
        .build()
      streamingCall(ch, Methods.doAction, prepare).toSeq
      val sqlByPath = ctx.observability.records
        .map(r => r.getString(1) -> Option(r.getString(2))).toMap
      assert(sqlByPath.get("/get_flight_info") === Some(Some("SELECT 1 AS one")))
      assert(sqlByPath.get("/do_action/CreatePreparedStatement") ===
        Some(Some("SELECT 2 AS two")))
      // a ticket names a planned statement, not its text
      assert(sqlByPath.get("/do_get") === Some(None))
    } finally { ch.shutdownNow(); server.stop() }
  }

  test("flight: invalid SQL surfaces as INVALID_ARGUMENT at GetFlightInfo") {
    withServer() { (_, ch) =>
      val e = intercept[StatusRuntimeException](
        unaryCall(ch, Methods.getFlightInfo,
          statementDescriptor("SELECT * FROM definitely_missing_tbl")))
      assert(e.getStatus.getCode.toString === "INVALID_ARGUMENT")
    }
  }
}
