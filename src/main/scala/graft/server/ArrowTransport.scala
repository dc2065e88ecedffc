package graft.server

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.Channels

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Arrow IPC result transport. The reference's process boundary is Arrow
  * IPC: FlightSQL DoGet streams the stored plan's batches as Arrow Flight
  * frames (`src/server/flightsql/service.rs:87-125`). This serializes a
  * DataFrame to the Arrow streaming format with the arrow-vector API Spark
  * already ships, so `/execute/:handle` can serve
  * `application/vnd.apache.arrow.stream` and any Arrow reader gets the
  * schema + batches intact.
  *
  * Rows are pulled with `toLocalIterator` (one partition buffered at a
  * time, like the reference's incremental stream consumption) and written
  * in bounded batches, so driver memory is batchSize rows, not the result.
  * Complex columns (arrays/structs/maps) are cast to their string form
  * first — the facade's JSON path renders them as strings too.
  */
object ArrowTransport {

  private def supported(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | StringType | BinaryType | DateType |
        TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  private def toArrowField(f: StructField): Field = {
    val t: ArrowType = f.dataType match {
      case BooleanType => ArrowType.Bool.INSTANCE
      case ByteType => new ArrowType.Int(8, true)
      case ShortType => new ArrowType.Int(16, true)
      case IntegerType => new ArrowType.Int(32, true)
      case LongType => new ArrowType.Int(64, true)
      case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case StringType => ArrowType.Utf8.INSTANCE
      case BinaryType => ArrowType.Binary.INSTANCE
      case DateType => new ArrowType.Date(DateUnit.DAY)
      case TimestampType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")
      case d: DecimalType => new ArrowType.Decimal(d.precision, d.scale, 128)
      case other => throw new IllegalArgumentException(s"unsupported: $other")
    }
    new Field(f.name, FieldType.nullable(t), java.util.Collections.emptyList())
  }

  private def setValue(v: FieldVector, i: Int, row: Row, ord: Int, dt: DataType): Unit =
    dt match {
      case BooleanType =>
        v.asInstanceOf[BitVector].setSafe(i, if (row.getBoolean(ord)) 1 else 0)
      case ByteType => v.asInstanceOf[TinyIntVector].setSafe(i, row.getByte(ord))
      case ShortType => v.asInstanceOf[SmallIntVector].setSafe(i, row.getShort(ord))
      case IntegerType => v.asInstanceOf[IntVector].setSafe(i, row.getInt(ord))
      case LongType => v.asInstanceOf[BigIntVector].setSafe(i, row.getLong(ord))
      case FloatType => v.asInstanceOf[Float4Vector].setSafe(i, row.getFloat(ord))
      case DoubleType => v.asInstanceOf[Float8Vector].setSafe(i, row.getDouble(ord))
      case StringType =>
        v.asInstanceOf[VarCharVector].setSafe(i,
          row.getString(ord).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case BinaryType =>
        v.asInstanceOf[VarBinaryVector].setSafe(i, row.getAs[Array[Byte]](ord))
      case DateType =>
        v.asInstanceOf[DateDayVector].setSafe(i,
          row.getDate(ord).toLocalDate.toEpochDay.toInt)
      case TimestampType =>
        val ts = row.getTimestamp(ord)
        v.asInstanceOf[TimeStampMicroTZVector].setSafe(i,
          ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L)
      case _: DecimalType =>
        v.asInstanceOf[DecimalVector].setSafe(i, row.getDecimal(ord))
      case other => throw new IllegalArgumentException(s"unsupported: $other")
    }

  /** Complex (array/struct/map) columns cast to their string rendering —
    * the shape both the JSON facade and the Arrow stream serve.
    */
  def flatten(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (supported(f.dataType)) d
      else d.withColumn(f.name, col(f.name).cast("string"))
    }

  /** Arrow schema for a (flattened) Spark schema — also what FlightSQL's
    * GetFlightInfo/GetSchema advertise before any batch is produced.
    */
  def arrowSchemaOf(schema: StructType): ArrowSchema =
    new ArrowSchema(java.util.Arrays.asList(schema.fields.map(toArrowField): _*))

  /** Lazily serialize the DataFrame as per-message Arrow IPC frames:
    * the FIRST element is the schema message (empty body), then one
    * (metadata flatbuffer, body bytes) pair per record batch — exactly the
    * two parts a Flight `FlightData` frame carries ([[writeIpcFrame]]
    * writes one back as an encapsulated message). Rows are pulled through
    * `toLocalIterator` as the consumer advances, so driver memory is ONE
    * batch (plus one buffered partition), never the serialized result —
    * the reference's DoGet
    * streams the plan's batch stream the same way
    * (`src/server/flightsql/service.rs:87-125`). `onRows` fires per batch
    * with its row count (observability tallies without a second
    * execution). The Arrow allocator is closed when the iterator is
    * exhausted — callers must drain it.
    */
  /** Frame iterator that owns Arrow buffers: exhausting it releases them,
    * but a consumer that ABANDONS it mid-stream (a cancelled Flight call,
    * an exception between frames) must call [[close]] — otherwise the
    * allocator leaks per abandoned request.
    */
  final class FrameIterator private[ArrowTransport] (
      underlying: Iterator[(Array[Byte], Array[Byte])],
      val close: () => Unit) extends Iterator[(Array[Byte], Array[Byte])] {
    override def hasNext: Boolean = underlying.hasNext
    override def next(): (Array[Byte], Array[Byte]) = underlying.next()
  }

  def arrowStreamFrames(df: DataFrame, batchSize: Int = 4096,
      onRows: Long => Unit = _ => ()): FrameIterator = {
    import org.apache.arrow.vector.ipc.WriteChannel
    import org.apache.arrow.vector.ipc.message.MessageSerializer
    val flat = flatten(df)
    val schema = flat.schema
    val arrowSchema = arrowSchemaOf(schema)
    val allocator = new RootAllocator()
    val root = VectorSchemaRoot.create(arrowSchema, allocator)
    val unloader = new org.apache.arrow.vector.VectorUnloader(root)
    var closed = false
    def close(): Unit = if (!closed) { closed = true; root.close(); allocator.close() }

    def encapsulate(write: WriteChannel => Unit): (Array[Byte], Array[Byte]) = {
      val out = new ByteArrayOutputStream()
      write(new WriteChannel(Channels.newChannel(out)))
      splitOne(out.toByteArray)
    }
    val schemaFrame =
      encapsulate(ch => { MessageSerializer.serialize(ch, arrowSchema); () })

    val rows = flat.toLocalIterator()
    val batchFrames = new Iterator[(Array[Byte], Array[Byte])] {
      override def hasNext: Boolean = {
        val h = rows.hasNext
        if (!h) close()
        h
      }
      override def next(): (Array[Byte], Array[Byte]) = {
        root.allocateNew()
        var i = 0
        while (i < batchSize && rows.hasNext) {
          val row = rows.next()
          schema.fields.zipWithIndex.foreach { case (f, ord) =>
            val vec = root.getVector(ord)
            if (row.isNullAt(ord)) vec match {
              // setNull lives on the width-class bases, not FieldVector
              case fw: BaseFixedWidthVector => fw.setNull(i)
              case vw: BaseVariableWidthVector => vw.setNull(i)
              case other => throw new IllegalArgumentException(
                s"unsupported vector: ${other.getClass}")
            } else setValue(vec, i, row, ord, f.dataType)
          }
          i += 1
        }
        root.setRowCount(i)
        onRows(i.toLong)
        val batch = unloader.getRecordBatch
        try encapsulate(ch => { MessageSerializer.serialize(ch, batch); () })
        finally batch.close()
      }
    }
    new FrameIterator(Iterator.single(schemaFrame) ++ batchFrames, () => close())
  }

  /** Parse ONE encapsulated IPC message into (metadata incl. padding,
    * body) — the single-message form of the stream splitter.
    */
  private def splitOne(bytes: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val cont = bb.getInt()
    require(cont == -1, s"expected IPC continuation marker, got $cont")
    val metaLen = bb.getInt()
    val meta = new Array[Byte](metaLen)
    bb.get(meta)
    val body = new Array[Byte](bb.remaining())
    bb.get(body)
    (meta, body)
  }

  /** Serialize the DataFrame as one Arrow IPC stream (schema + batches) —
    * built on [[arrowStreamFrames]], buffered because the HTTP facade
    * serves a Content-Length'd body (and guards the size with its
    * app-level result limit; the Flight path streams the frames
    * directly). Returns the stream bytes and the row count, tallied while
    * writing, so callers that need both (the HTTP facade's observability
    * row) never execute the plan a second time just to count.
    */
  def toArrowStream(df: DataFrame, batchSize: Int = 4096): (Array[Byte], Long) = {
    var total = 0L
    val frames = arrowStreamFrames(df, batchSize, total += _)
    val bytes = try ipcStream(frames) finally frames.close()
    (bytes, total)
  }

  /** (metadata, body) frames joined into one Arrow IPC stream readable by
    * `ArrowStreamReader`, end-of-stream marker appended.
    */
  def ipcStream(frames: Iterator[(Array[Byte], Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    frames.foreach { case (meta, body) => writeIpcFrame(out, meta, body) }
    writeIpcEos(out)
    out.toByteArray
  }

  /** One encapsulated IPC message: the continuation marker, the metadata
    * length padded so that the body starts 8-byte aligned, the metadata,
    * zero padding and the body.
    */
  def writeIpcFrame(out: OutputStream, meta: Array[Byte], body: Array[Byte]): Unit = {
    val pad = (8 - meta.length % 8) % 8
    out.write(ipcPrefix(meta.length + pad))
    out.write(meta)
    out.write(new Array[Byte](pad))
    out.write(body)
  }

  /** The end-of-stream marker: a continuation marker and a zero length. */
  def writeIpcEos(out: OutputStream): Unit = out.write(ipcPrefix(0))

  private def ipcPrefix(length: Int): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(-1).putInt(length).array()
}
