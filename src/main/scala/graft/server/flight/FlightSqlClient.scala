package graft.server.flight

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader

import graft.server.ArrowTransport

/** Minimal FlightSQL client over the same relocated gRPC runtime the
  * server uses: GetFlightInfo(CommandStatementQuery) → DoGet(ticket) →
  * decode the FlightData frames into column names + stringified rows.
  * This is what the TUI's FlightSQL tab executes through (the reference
  * tab drives its own `FlightSQLClient`,
  * `src/tui/state/tabs/flightsql.rs`), and doubles as a programmatic
  * client for any in-process or remote graft Flight endpoint.
  */
object FlightSqlClient {
  import FlightSqlServer._

  def statementDescriptor(sql: String): Array[Byte] = {
    val cmd = Proto.packAny(Proto.SqlProtoPrefix + "CommandStatementQuery",
      Proto.writer().string(1, sql).build())
    // FlightDescriptor{type=2 (CMD), cmd=2}
    Proto.writer().varint(1, 2L).bytes(2, cmd).build()
  }

  /** The endpoint Ticket inside a FlightInfo, verbatim for DoGet. */
  def ticketOfInfo(info: Array[Byte]): Array[Byte] = {
    val endpoint = Proto.bytesAt(Proto.parse(info), 3).getOrElse(
      sys.error("FlightInfo has no endpoint"))
    Proto.bytesAt(Proto.parse(endpoint), 1).getOrElse(
      sys.error("endpoint has no ticket"))
  }

  /** Execute `sql` against the Flight endpoint on `port` (loopback) and
    * return (column names, rows as strings). `bearer` adds an
    * Authorization header. `limit` bounds CLIENT-SIDE buffering: frames
    * are decoded incrementally off the gRPC stream and decoding stops
    * after `limit` rows — a large interactive SELECT costs the client at
    * most limit rows + one in-flight batch, matching the server's
    * per-batch DoGet streaming instead of undoing it. The channel
    * shutdown in `finally` cancels whatever tail was never pulled.
    */
  def execute(port: Int, sql: String,
      bearer: Option[String] = None,
      limit: Option[Int] = None): (Seq[String], Seq[Seq[String]]) = {
    val base = channel(port)
    try {
      val ch = bearer match {
        case Some(tok) =>
          val md = new org.sparkproject.connect.grpc.Metadata()
          md.put(org.sparkproject.connect.grpc.Metadata.Key.of(
            "authorization",
            org.sparkproject.connect.grpc.Metadata.ASCII_STRING_MARSHALLER),
            s"Bearer $tok")
          org.sparkproject.connect.grpc.ClientInterceptors.intercept(base,
            org.sparkproject.connect.grpc.stub.MetadataUtils
              .newAttachHeadersInterceptor(md))
        case None => base
      }
      val info = unaryCall(ch, Methods.getFlightInfo, statementDescriptor(sql))
      val frames = streamingCall(ch, Methods.doGet, ticketOfInfo(info)).map { fd =>
        val fs = Proto.parse(fd)
        (Proto.bytesAt(fs, 2).getOrElse(Array.emptyByteArray),
          Proto.bytesAt(fs, 1000).getOrElse(Array.emptyByteArray))
      }
      decodeFrames(frames, limit)
    } finally { base.shutdownNow(); () }
  }

  /** Decode (header, body) FlightData frames into names + string rows,
    * buffered form — test/compat convenience over the incremental one.
    */
  def decodeFrames(frames: Seq[(Array[Byte], Array[Byte])]): (Seq[String], Seq[Seq[String]]) =
    decodeFrames(frames.iterator, None)

  /** Incremental decode: frames are pulled from the iterator only as the
    * Arrow reader consumes them, and decoding stops once `limit` rows are
    * out — the unconsumed tail of the stream is never fetched or decoded.
    */
  def decodeFrames(frames: Iterator[(Array[Byte], Array[Byte])],
      limit: Option[Int]): (Seq[String], Seq[Seq[String]]) = {
    val allocator = new RootAllocator()
    try {
      val reader = new ArrowStreamReader(new IpcFrameInputStream(frames), allocator)
      try {
        val root = reader.getVectorSchemaRoot
        val names = (0 until root.getSchema.getFields.size)
          .map(root.getSchema.getFields.get(_).getName)
        val max = limit.getOrElse(Int.MaxValue)
        val rows = Seq.newBuilder[Seq[String]]
        var n = 0
        while (n < max && reader.loadNextBatch()) {
          var i = 0
          while (i < root.getRowCount && n < max) {
            val row = names.indices.map { c =>
              val v = root.getVector(c).getObject(i)
              if (v == null) "null"
              else v match {
                case b: Array[Byte] => new String(b, UTF_8)
                case other => String.valueOf(other)
              }
            }
            rows += row
            i += 1
            n += 1
          }
        }
        (names, rows.result())
      } finally reader.close()
    } finally allocator.close()
  }

  /** Arrow IPC stream view over lazily-pulled FlightData frames: each
    * (header, body) is re-framed as an encapsulated IPC message
    * ([[ArrowTransport.writeIpcFrame]]), one frame at a time; EOS is
    * appended when the iterator drains. Frames the reader never
    * asks for are never pulled off the gRPC stream.
    */
  private final class IpcFrameInputStream(
      frames: Iterator[(Array[Byte], Array[Byte])]) extends java.io.InputStream {
    private var cur: java.io.ByteArrayInputStream =
      new java.io.ByteArrayInputStream(Array.emptyByteArray)
    private var eosSent = false

    private def advance(): Boolean = {
      val out = new java.io.ByteArrayOutputStream()
      if (frames.hasNext) {
        val (meta, body) = frames.next()
        ArrowTransport.writeIpcFrame(out, meta, body)
      } else if (!eosSent) {
        eosSent = true
        ArrowTransport.writeIpcEos(out)
      } else return false
      cur = new java.io.ByteArrayInputStream(out.toByteArray)
      true
    }

    override def read(): Int = {
      var v = cur.read()
      while (v == -1 && advance()) v = cur.read()
      v
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      var v = cur.read(b, off, len)
      while (v == -1 && advance()) v = cur.read(b, off, len)
      v
    }
  }
}
