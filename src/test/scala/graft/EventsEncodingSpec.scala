package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.streaming.EventStream

/** The events table is EXTERNAL — its writer owns the physical timestamp
  * encoding, and it has shipped as both TIMESTAMP(NANOS) (nanos-as-long
  * under Spark's reader) and TIMESTAMP_NTZ(micros) across driver rounds.
  * This spec stages the SAME events under every supported encoding and
  * pins that batch ingestion, the streaming source, sessionization, and
  * the watermark-heartbeat append all produce IDENTICAL results on each —
  * the regression test that turns a silent unit mix-up (micros read as
  * nanos = every timestamp compressed 1000×) into a loud failure.
  */
class EventsEncodingSpec extends SparkSpec {

  /** Canonical normalized events (TimestampType ts) from the testdata. */
  private lazy val canonical: DataFrame =
    Tables.loadEvents(spark, sf0001).localCheckpoint(true)

  /** Stage `canonical` under an explicit physical ts encoding. */
  private def stage(encoding: String): String = {
    val dir = Files.createTempDirectory(s"graft-enc-$encoding").toString
    val df = encoding match {
      case "nanos_long" =>
        canonical.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case "timestamp" => canonical
      case "timestamp_ntz" =>
        canonical.withColumn("ts", col("ts").cast(TimestampNTZType))
    }
    // single file so streaming single-batch runs see one deterministic batch
    df.repartition(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private val encodings = Seq("nanos_long", "timestamp", "timestamp_ntz")

  test("batch ingestion normalizes every supported ts encoding identically") {
    val expected = canonical.orderBy("event_id").collect().toSeq
    encodings.foreach { enc =>
      val dir = stage(enc)
      val got = Tables.normalizeEventTs(spark.read.parquet(dir))
        .orderBy("event_id").collect().toSeq
      assert(got.head.schema("ts").dataType === TimestampType,
        s"$enc: ts must normalize to TimestampType")
      assert(got === expected, s"$enc: normalized rows differ from canonical")
    }
  }

  test("streaming source reads every encoding to the same hourly aggregate") {
    val results = encodings.map { enc =>
      val dir = stage(enc)
      val sink = s"enc_hourly_$enc"
      val q = EventStream.runToMemory(spark, dir, sink)
      try {
        val rows = spark.table(sink)
          .orderBy("window_start", "event_type").collect().toSeq
        assert(rows.nonEmpty, s"$enc: empty streaming aggregate")
        enc -> rows
      } finally q.stop()
    }
    val (refEnc, ref) = results.head
    results.tail.foreach { case (enc, rows) =>
      assert(rows === ref, s"$enc streaming aggregate differs from $refEnc")
    }
  }

  test("sessionization + heartbeat append agree across encodings") {
    // the full e08 shape: sessionize a staged dir, push the watermark with
    // synthetic heartbeats (written in the dir's own encoding), compare
    // the closed sessions across encodings — this is exactly the surface
    // that silently broke when micros were read as nanos
    val results = encodings.map { enc =>
      val dir = stage(enc)
      val sink = s"enc_sessions_$enc"
      val q = EventStream.sessionize(EventStream.source(spark, dir, None))
        .toDF().writeStream.outputMode("append").format("memory")
        .queryName(sink).start()
      try {
        q.processAllAvailable()
        Seq(0, 1).foreach { k =>
          EventStream.appendSyntheticEvent(spark, dir, eventId = -1L - k,
            ts = java.time.Instant.parse(s"${2100 + k}-01-01T00:00:00Z"),
            userId = -1L - k, eventType = "hb", value = 0.0, props = "{}")
          q.processAllAvailable()
        }
        val rows = spark.table(sink).filter(col("user_id") >= 0)
          .orderBy("user_id", "session_start").collect().toSeq
        assert(rows.nonEmpty, s"$enc: no sessions closed")
        enc -> rows
      } finally q.stop()
    }
    val (refEnc, ref) = results.head
    // >1 session per user on average means gaps really exceed the 30-minute
    // threshold at true time scale; the 1000×-compression bug collapsed
    // this to ~1 session per user
    assert(ref.size > ref.map(_.getAs[Long]("user_id")).distinct.size,
      "every user closed exactly one session — timestamps look compressed")
    results.tail.foreach { case (enc, rows) =>
      assert(rows === ref, s"$enc sessions differ from $refEnc")
    }
  }

  test("a physical TIMESTAMP(NANOS) events file loads and streams to canonical instants") {
    // Spark never writes TIMESTAMP(NANOS); parquet-mr does. Every session
    // reads it as raw nanos (SessionFactory.plain), so a fresh session
    // reads it without any read-time conf change
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,true));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val expected = canonical.orderBy("event_id").collect().toSeq
    assert(expected.head.schema.fieldNames.toSeq ===
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
    val dir = Files.createTempDirectory("graft-enc-nanos-file").toString
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    val groups = new SimpleGroupFactory(schema)
    try expected.foreach { r =>
      val g = groups.newGroup()
      if (!r.isNullAt(0)) g.add("event_id", r.getLong(0))
      if (!r.isNullAt(1)) {
        val t = r.getTimestamp(1).toInstant
        g.add("ts", t.getEpochSecond * 1000000000L + t.getNano)
      }
      if (!r.isNullAt(2)) g.add("user_id", r.getLong(2))
      if (!r.isNullAt(3)) g.add("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.add("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.add("props", r.getString(5))
      writer.write(g)
    } finally writer.close()
    val fresh = spark.newSession()
    assert(Tables.read(fresh, dir).schema("ts").dataType === LongType)
    assert(Tables.loadEvents(fresh, dir).orderBy("event_id").collect().toSeq ===
      expected)
    val q = EventStream.source(fresh, dir, None).writeStream
      .format("memory").queryName("enc_nanos_file").start()
    try {
      q.processAllAvailable()
      assert(fresh.table("enc_nanos_file").orderBy("event_id").collect().toSeq ===
        expected)
    } finally q.stop()
  }

  test("an unrecognized ts encoding fails loudly, naming the type") {
    val bad = canonical.withColumn("ts", col("ts").cast(StringType))
    val err = intercept[IllegalArgumentException] {
      Tables.normalizeEventTs(bad)
    }
    assert(err.getMessage.contains("StringType"))
  }

  test("physical TIMESTAMP_MILLIS events decode and fold like micros") {
    // the fourth wire encoding: parquet TIMESTAMP(MILLIS), what older
    // Hive/arrow writers emit. The raw INT64 is 1000× smaller than
    // micros, so a unit mix-up compresses every timestamp — the same
    // failure family the nanos tests pin, from the other direction.
    // Events carry sub-millisecond precision (999/1000 rows in the
    // testdata), so the comparison stages the SAME ms-truncated rows
    // under both physical units; outputs must be byte-identical.
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val msCanonical = canonical
      .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
      .localCheckpoint(true)
    def stageAs(unit: String): String = {
      val dir = Files.createTempDirectory(s"graft-enc-$unit").toString
      val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
      try {
        spark.conf.set("spark.sql.parquet.outputTimestampType", unit)
        msCanonical.repartition(1).write.mode("overwrite").parquet(dir)
      } finally
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
      dir
    }
    val micros = stageAs("TIMESTAMP_MICROS")
    val millis = stageAs("TIMESTAMP_MILLIS")
    // batch ingestion: identical normalized rows
    val a = Tables.normalizeEventTs(spark.read.parquet(micros))
      .orderBy("event_id").collect().toSeq
    val b = Tables.normalizeEventTs(spark.read.parquet(millis))
      .orderBy("event_id").collect().toSeq
    assert(b === a, "MILLIS file decoded differently from MICROS")
    // streaming source: identical hourly aggregate
    val rows = Seq(micros -> "enc_ms_micros", millis -> "enc_ms_millis")
      .map { case (dir, sink) =>
        val q = EventStream.runToMemory(spark, dir, sink)
        try {
          val r = spark.table(sink)
            .orderBy("window_start", "event_type").collect().toSeq
          assert(r.nonEmpty, s"$sink: empty streaming aggregate")
          r
        } finally q.stop()
      }
    assert(rows(1) === rows(0), "MILLIS streaming aggregate differs")
    // and the footer-stats fold fires on the MILLIS file with the value
    // scaled to Catalyst micros (the unit machinery, end-to-end on the
    // events surface rather than a synthetic fixture)
    graft.plans.FooterStats.enable(spark)
    val agg = spark.read.parquet(millis)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
    assert(agg.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]),
      s"stats fold refused a MILLIS events file:\n${agg.queryExecution.optimizedPlan}")
    val truth = spark.read.parquet(micros).filter(col("ts").isNotNull)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
    assert(agg.head === truth.head,
      "MILLIS footer stats folded with the wrong unit")
  }
}
