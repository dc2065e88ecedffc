package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Tables

/** Test-only s3a-scheme FileSystem backed by the local filesystem: the
  * authority (`s3a://bucket`) is accepted and the path maps straight to a
  * local path. This is the offline stand-in for the Hadoop s3a connector
  * (absent from the offline classpath), letting a spec drive the ENTIRE
  * s3 path — S3Config's fs.s3a.* mapping, `fs.s3a.impl` resolution, DDL
  * with an s3a:// LOCATION, split-parallel parquet scan — minus only the
  * real AWS wire client, exactly the seam the reference mocks with
  * localstack (`tests/extension_cases/s3.rs`).
  */
class S3aStubFileSystem extends org.apache.hadoop.fs.FileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
  import org.apache.hadoop.util.Progressable

  private var myUri: java.net.URI = java.net.URI.create("s3a:///")
  private val local = new RawLocalFileSystem()
  private var wd: Path = _

  private def toLocal(p: Path): Path = new Path("file", null, p.toUri.getPath)
  private def fromLocal(p: Path): Path =
    new Path("s3a", myUri.getAuthority, p.toUri.getPath)
  /** Eager copy: Raw's lazy permission loader would re-parse the (by then
    * s3a) path as a java.io.File.
    */
  private def translate(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      st.getPermission, st.getOwner, st.getGroup, fromLocal(st.getPath))

  override def initialize(name: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    myUri = java.net.URI.create(
      s"s3a://${Option(name.getAuthority).getOrElse("")}")
    local.initialize(java.net.URI.create("file:///"), conf)
    wd = fromLocal(local.getWorkingDirectory)
  }
  override def getScheme: String = "s3a"
  override def getUri: java.net.URI = myUri
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    local.open(toLocal(f), bufferSize)
  override def create(f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    local.create(toLocal(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    local.append(toLocal(f), bufferSize, progress)
  override def rename(src: Path, dst: Path): Boolean =
    local.rename(toLocal(src), toLocal(dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    local.delete(toLocal(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(translate)
  override def setWorkingDirectory(dir: Path): Unit = { wd = dir }
  override def getWorkingDirectory: Path = wd
  override def mkdirs(f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)
  override def getFileStatus(f: Path): FileStatus =
    translate(local.getFileStatus(toLocal(f)))
}

/** Source/sink coverage (SURVEY §2.1/§2.2): CSV and NDJSON round-trips of
  * the parquet testdata, plus writer output shapes.
  */
class SourcesSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-sources").toString

  test("CSV write + header-read round-trips lineitem aggregates") {
    val li = Tables.load(spark, sf0001, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    li.write.mode("overwrite").option("header", "true").csv(s"$tmp/li_csv")
    val back = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$tmp/li_csv")
    assert(back.count() === li.count())
    val a = li.agg(sum("l_quantity")).head.getDouble(0)
    val b = back.agg(sum("l_quantity")).head.getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }

  test("NDJSON write + read round-trips orders") {
    val o = Tables.load(spark, sf0001, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    o.write.mode("overwrite").json(s"$tmp/o_json")
    val back = spark.read.json(s"$tmp/o_json")
    assert(back.count() === o.count())
    assert(back.columns.sorted === o.columns.sorted)
  }

  test("Avro bridge round-trips all supported types including nulls") {
    val s = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", IntegerType),
      StructField("x", DoubleType),
      StructField("f", FloatType),
      StructField("b", BooleanType),
      StructField("t", StringType),
      StructField("raw", BinaryType),
      StructField("day", DateType),
      StructField("at", TimestampType)))
    val rows = Seq(
      Row(1L, 7, 1.5, 2.5f, true, "hello",
        Array[Byte](1, 2, 3), java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789123")),
      Row(2L, null, null, null, null, null, null, null, null))
    val df = s.createDataFrame(
      s.sparkContext.parallelize(rows, 2), schema)
    val dir = s"$tmp/avro_types"
    graft.sources.AvroIO.write(df, dir)
    val back = graft.sources.AvroIO.read(s, dir)
    assert(back.schema === schema.copy(fields = schema.fields.map(f =>
      if (f.name == "id") f else f.copy(nullable = true))))
    val got = back.orderBy(col("id")).collect()
    assert(got(0).getLong(0) === 1L && got(0).getInt(1) === 7)
    assert(got(0).getString(5) === "hello")
    assert(got(0).getAs[Array[Byte]](6).toSeq === Seq[Byte](1, 2, 3))
    assert(got(0).getDate(7) === java.sql.Date.valueOf("2024-02-29"))
    assert(got(0).getTimestamp(8) ===
      java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789123"))
    assert((1 until 9).forall(got(1).isNullAt))
    // distributed shape: one container file per input partition
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".avro")) === 2)
  }

  test("Avro DDL registration scans staged container files") {
    val s = spark
    val dir = s"$tmp/avro_nation"
    graft.sources.AvroIO.write(
      Tables.load(s, "/root/testdata/sf0.001", "nation")
        .select(col("n_nationkey"), col("n_name")), dir)
    val ctx = new graft.exec.ExecutionContext(s)
    ctx.runScript(s"CREATE EXTERNAL TABLE avro_nation STORED AS AVRO LOCATION '$dir'")
    val n = ctx.sql("SELECT COUNT(*) AS c FROM avro_nation").head().getLong(0)
    assert(n === 25L)
  }

  test("parquet writer round-trips a query result exactly") {
    val df = queries.Registry.byName("q01_pricing_summary").run(spark, sf0001)
    df.write.mode("overwrite").parquet(s"$tmp/q01")
    val back = spark.read.parquet(s"$tmp/q01")
    assert(back.collect().toSeq.toSet === df.collect().toSeq.toSet)
  }

  test("ORC round-trips via DDL registration and the -o writer (vortex substitute)") {
    val nation = Tables.load(spark, sf0001, "nation")
    nation.write.mode("overwrite").orc(s"$tmp/nation_orc")
    // reference DDL shape: STORED AS ORC (SURVEY §2.1 suggests ORC where
    // the reference offers the optional Vortex format)
    val ctx = new graft.exec.ExecutionContext(spark)
    ctx.sql("DROP TABLE IF EXISTS orc_nation")
    ctx.runScript(
      s"CREATE EXTERNAL TABLE orc_nation STORED AS ORC LOCATION '$tmp/nation_orc'")
    val back = ctx.sql("SELECT * FROM orc_nation")
    assert(back.count() === nation.count())
    assert(back.columns.sorted === nation.columns.sorted)
    // single-file writer accepts .orc
    val out = s"$tmp/out.orc"
    cli.Writers.write(nation, out)
    val single = spark.read.orc(out)
    assert(single.count() === nation.count())
  }

  private def writeDeltaFixture(dir: String): Unit = {
    import java.io.File
    import java.nio.charset.StandardCharsets
    val logDir = new File(dir, "_delta_log")
    logDir.mkdirs()
    import spark.implicits._
    def dataFile(name: String, ids: Seq[Long]): Unit = {
      val tmpDir = s"$dir/_stage"
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(tmpDir)
      val part = new File(tmpDir).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new File(dir, name).toPath)
      new File(tmpDir).listFiles().foreach(_.delete())
      new File(tmpDir).delete()
    }
    dataFile("f0.parquet", Seq(1L, 2L))
    dataFile("f1.parquet", Seq(3L, 4L))
    dataFile("f2.parquet", Seq(5L, 6L))
    def add(p: String) = s"""{"add":{"path":"$p","dataChange":true}}"""
    def commit(v: Long, lines: String*): Unit =
      Files.write(new File(logDir, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    commit(0,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      add("f0.parquet"), add("f1.parquet"))
    // a compaction/delete: f1 removed, f2 added
    commit(1,
      add("f2.parquet"),
      """{"remove":{"path":"f1.parquet","deletionTimestamp":0,"dataChange":true}}""")
  }

  test("compaction rewrites many small files into few, preserving rows") {
    val in = s"$tmp/compact_in"
    val out = s"$tmp/compact_out"
    val events = graft.core.Tables.load(spark, sf0001, "events")
    events.repartition(64).write.mode("overwrite").parquet(in)
    val nIn = Option(new java.io.File(in).listFiles()).get
      .count(f => f.getName.endsWith(".parquet"))
    assert(nIn >= 32, s"fixture produced only $nIn files")
    val res = graft.operators.Compaction.compact(spark, in, out,
      targetBytes = 64L * 1024 * 1024)
    assert(res.rows === events.count())
    assert(res.filesBefore === nIn)
    assert(res.filesAfter < nIn / 4,
      s"still fragmented: ${res.filesAfter} files from $nIn")
    // values survive byte-exactly
    assert(spark.read.parquet(out).exceptAll(spark.read.parquet(in)).count() === 0L)
  }

  test("ORC compaction round-trips through the same AQE-rebalance path") {
    val in = s"$tmp/compact_orc_in"
    val out = s"$tmp/compact_orc_out"
    val events = graft.core.Tables.load(spark, sf0001, "events")
      .select("event_id", "user_id", "event_type")
    events.repartition(32).write.mode("overwrite").orc(in)
    val nIn = Option(new java.io.File(in).listFiles()).get
      .count(_.getName.endsWith(".orc"))
    assert(nIn >= 16, s"fixture produced only $nIn files")
    val res = graft.operators.Compaction.compact(spark, in, out,
      targetBytes = 64L * 1024 * 1024, format = "orc")
    assert(res.rows === events.count())
    assert(res.filesBefore === nIn)
    assert(res.filesAfter < nIn / 4,
      s"still fragmented: ${res.filesAfter} files from $nIn")
    // values survive byte-exactly through the ORC rewrite
    assert(spark.read.orc(out).exceptAll(spark.read.orc(in)).count() === 0L)
  }

  test("Delta log replay honors remove actions (compaction/delete)") {
    val dir = s"$tmp/delta_rm"
    writeDeltaFixture(dir)
    val live = sources.DeltaLog.liveFiles(spark, dir).map(p =>
      p.substring(p.lastIndexOf('/') + 1))
    assert(live.toSet === Set("f0.parquet", "f2.parquet"))
    val ids = sources.DeltaLog.read(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 5L, 6L))
    // and through the reference DDL shape
    val ctx = new graft.exec.ExecutionContext(spark)
    ctx.runScript(
      s"CREATE EXTERNAL TABLE delta_rm STORED AS DELTATABLE LOCATION '$dir'")
    assert(ctx.sql("SELECT count(*) AS n FROM delta_rm").head.getLong(0) === 4L)
  }

  test("db-dir walk detects a Delta table and hides its removed files") {
    import java.io.File
    val dbDir = s"$tmp/delta_db"
    val tableDir = new File(s"$dbDir/tables/dft/lake/dtab")
    tableDir.mkdirs()
    writeDeltaFixture(tableDir.getPath)
    val registered = core.CatalogBootstrap.registerDbDir(spark, dbDir)
    val d = registered.find(_.table === "dtab").get
    assert(d.format === "delta")
    // live snapshot = {f0, f2} -> ids {1,2,5,6}; a plain parquet listing
    // would resurface removed f1 (ids 3,4)
    val ids = spark.table("dft_lake_dtab")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 5L, 6L))
  }

  test("s3 object-store config drives an s3a:// scan end-to-end (stub connector)") {
    val s = spark
    import s.implicits._
    // the reference's [[execution.object_store.s3]] keys, mapped by S3Config
    val applied = core.S3Config(spark, Map(
      "execution.object_store.s3.aws_access_key_id" -> "AKIA_TEST",
      "execution.object_store.s3.aws_secret_access_key" -> "sekrit",
      "execution.object_store.s3.aws_endpoint" -> "http://127.0.0.1:9000",
      "execution.object_store.s3.allow_http" -> "true"))
    val hc = spark.sparkContext.hadoopConfiguration
    assert(applied("fs.s3a.access.key") === "AKIA_TEST")
    assert(hc.get("fs.s3a.secret.key") === "sekrit")
    assert(hc.get("fs.s3a.endpoint") === "http://127.0.0.1:9000")
    assert(hc.get("fs.s3a.path.style.access") === "true")
    assert(hc.get("fs.s3a.connection.ssl.enabled") === "false")
    // stand in for the absent hadoop-aws connector at the documented seam
    hc.set("fs.s3a.impl", classOf[S3aStubFileSystem].getName)
    hc.set("fs.s3a.impl.disable.cache", "true")
    val dir = s"$tmp/s3_tab"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    val ctx = new graft.exec.ExecutionContext(spark)
    ctx.runScript(
      s"CREATE EXTERNAL TABLE s3_tab STORED AS PARQUET LOCATION 's3a://testbucket$dir'")
    val rows = ctx.sql("SELECT id, v FROM s3_tab ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("huggingface store: config registration, resolve URLs, hf:// scan via fixture") {
    import graft.sources.HfStore
    val s = spark
    import s.implicits._
    // the pure resolution layer is pinned against the hub's real layout
    val ds = HfStore.HfRepo("acme/corpus", "dataset", "main")
    assert(HfStore.resolveUrl(ds, "data/train.parquet") ===
      "https://huggingface.co/datasets/acme/corpus/resolve/main/data/train.parquet")
    assert(HfStore.resolveUrl(
      HfStore.HfRepo("meta/llama", "model", "v2", root = "gguf"), "m.bin") ===
      "https://huggingface.co/meta/llama/resolve/v2/gguf/m.bin")
    assert(HfStore.authority("acme/corpus") === "acme-corpus")
    // reference-style config -> registered repo + hf scheme wiring
    val repos = HfStore(spark, Map(
      "execution.object_store.huggingface.repo_id" -> "acme/corpus",
      "execution.object_store.huggingface.repo_type" -> "dataset",
      "execution.object_store.huggingface.revision" -> "main"))
    assert(repos === Seq("acme-corpus" -> ds))
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.hf.impl") === classOf[graft.sources.HfFileSystem].getName)
    // offline transport: fixture tree laid out as <fixture>/<authority>/<path>
    val fixture = s"$tmp/hf_fixture"
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "name")
      .write.mode("overwrite").parquet(s"$fixture/acme-corpus/data")
    hc.set("fs.hf.fixture.dir", fixture)
    val ctx = new graft.exec.ExecutionContext(spark)
    ctx.runScript(
      "CREATE EXTERNAL TABLE hf_tab STORED AS PARQUET LOCATION 'hf://acme-corpus/data'")
    val rows = ctx.sql("SELECT id, name FROM hf_tab ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "alpha"), (2L, "beta")))
    // unregistered repos and missing transport fail loudly, not silently
    val e = intercept[Exception](
      spark.read.parquet("hf://nope-repo/x").collect())
    assert(String.valueOf(e.getMessage).contains("not a registered") ||
      Option(e.getCause).exists(_.getMessage.contains("not a registered")))
    // '..' traversal out of <fixture>/<authority> is refused, both across
    // authorities and out of the fixture tree entirely
    val fsys = new org.apache.hadoop.fs.Path("hf://acme-corpus/")
      .getFileSystem(hc)
    val esc = intercept[java.io.IOException](
      fsys.getFileStatus(new org.apache.hadoop.fs.Path(
        "hf://acme-corpus/../../../../etc/passwd")))
    assert(esc.getMessage.contains("escapes"))
    // a relative fixture dir is absolutized at initialize, so the scan
    // round-trips (RawLocalFileSystem returns absolute paths)
    val cwdRel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(fixture)).toString
    hc.set("fs.hf.fixture.dir", cwdRel)
    val relRows = spark.read.parquet("hf://acme-corpus/data")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(relRows === Set((1L, "alpha"), (2L, "beta")))
    hc.set("fs.hf.fixture.dir", fixture)
  }

  test("db-dir walk detects an Avro table and registers it through the bridge") {
    import java.io.File
    val s = spark
    import s.implicits._
    val dbDir = s"$tmp/avro_db"
    val tableDir = new File(s"$dbDir/tables/dft/lake/atab")
    // the Hadoop output format creates the leaf dir itself (and refuses a
    // pre-existing one)
    tableDir.getParentFile.mkdirs()
    graft.sources.AvroIO.write(
      Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "name"),
      tableDir.getPath)
    val registered = core.CatalogBootstrap.registerDbDir(spark, dbDir)
    val a = registered.find(_.table === "atab").get
    assert(a.format === "avro")
    val rows = spark.table("dft_lake_atab")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((1L, "x"), (2L, "y"), (3L, "z")))
  }

  test("avro write round-trips java8 datetime values and rejects bad names") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // LocalDate/Instant externals (spark.sql.datetime.java8API.enabled path)
    // are produced by typed Datasets regardless of the session flag
    val df = Seq((java.time.LocalDate.of(2024, 3, 1),
        java.time.Instant.parse("2024-03-01T12:34:56.789Z")))
      .toDF("d", "ts")
    val dir = s"$tmp/avro_java8"
    graft.sources.AvroIO.write(df, dir)
    val back = graft.sources.AvroIO.read(spark, dir)
      .select(col("d").cast("string"), col("ts").cast("string")).head
    assert(back.getString(0) === "2024-03-01")
    assert(back.getString(1).startsWith("2024-03-01 12:34:56.789"))
    val bad = Seq((1L, 2L)).toDF("ok", "bad\"name")
    val e = intercept[IllegalArgumentException](
      graft.sources.AvroIO.write(bad, s"$tmp/avro_bad"))
    assert(e.getMessage.contains("not a valid Avro field name"))
  }

  test("partitioned Delta table: partition columns come from the log") {
    import java.io.File
    import java.nio.charset.StandardCharsets
    val dir = s"$tmp/delta_part"
    val logDir = new File(dir, "_delta_log")
    logDir.mkdirs()
    import spark.implicits._
    def dataFile(name: String, ids: Seq[Long]): Unit = {
      val tmpDir = s"$dir/_stage"
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(tmpDir)
      val part = new File(tmpDir).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new File(dir, name).getParentFile.mkdirs()
      Files.move(part.toPath, new File(dir, name).toPath)
      new File(tmpDir).listFiles().foreach(_.delete())
      new File(tmpDir).delete()
    }
    dataFile("dt=2024-01-01/p0.parquet", Seq(1L, 2L))
    dataFile("dt=2024-01-02/p1.parquet", Seq(3L))
    Files.write(new File(logDir, f"${0L}%020d.json").toPath,
      ("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" + "\n" +
        """{"add":{"path":"dt=2024-01-01/p0.parquet","partitionValues":{"dt":"2024-01-01"},"dataChange":true}}""" + "\n" +
        """{"add":{"path":"dt=2024-01-02/p1.parquet","partitionValues":{"dt":"2024-01-02"},"dataChange":true}}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    val df = sources.DeltaLog.read(spark, dir)
    assert(df.columns.sorted === Array("dt", "id"))
    val rows = df.collect().map(r =>
      (r.getLong(df.columns.indexOf("id")),
        r.getString(df.columns.indexOf("dt")))).toSet
    assert(rows === Set((1L, "2024-01-01"), (2L, "2024-01-01"),
      (3L, "2024-01-02")))
  }

  test("Delta protocol gate: implemented features accepted, unknown ones refused") {
    import java.io.File
    import java.nio.charset.StandardCharsets
    val dir = s"$tmp/delta_v3"
    writeDeltaFixture(dir)
    // deletionVectors + columnMapping are implemented — a v3 upgrade
    // commit with either (or both) must NOT refuse the table
    Files.write(new File(s"$dir/_delta_log", f"${2L}%020d.json").toPath,
      ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","columnMapping"]}}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    assert(sources.DeltaLog.liveFiles(spark, dir).nonEmpty)
    // a feature this reader does NOT implement refuses loudly
    Files.write(new File(s"$dir/_delta_log", f"${3L}%020d.json").toPath,
      ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","v2Checkpoint"]}}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    val e = intercept[IllegalArgumentException] {
      sources.DeltaLog.liveFiles(spark, dir)
    }
    assert(e.getMessage.contains("minReaderVersion"))
    // minReaderVersion 2 (legacy column mapping) passes the protocol
    // gate; mapping-mode semantics gate at SCAN time instead — id mode
    // refuses, name mode decodes (own test)
    val dir2 = s"$tmp/delta_v2"
    writeDeltaFixture(dir2)
    Files.write(new File(s"$dir2/_delta_log", f"${2L}%020d.json").toPath,
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
        .getBytes(StandardCharsets.UTF_8))
    assert(sources.DeltaLog.liveFiles(spark, dir2).nonEmpty)
    ()
  }

  test("Delta reader never scans through a malformed deletion vector") {
    import java.io.File
    import java.nio.charset.StandardCharsets
    val dir = s"$tmp/delta_dv_malformed"
    writeDeltaFixture(dir)
    // the descriptor parses (liveAdds carries it), but its DV path is
    // garbage — the READ must refuse loudly, never return the file's
    // rows as if nothing were deleted
    Files.write(new File(s"$dir/_delta_log", f"${2L}%020d.json").toPath,
      ("""{"add":{"path":"f0.parquet","dataChange":true,""" +
        """"deletionVector":{"storageType":"u","pathOrInlineDv":"x","offset":1,"sizeInBytes":36,"cardinality":2}}}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    val adds = sources.DeltaLog.liveAdds(spark, dir)
    assert(adds.exists(_.dv.isDefined))
    val e = intercept[IllegalArgumentException] {
      sources.DeltaLog.read(spark, dir).collect()
    }
    assert(e.getMessage.contains("DV"))
    // an unknown storage type refuses too — defense does not depend on
    // the writer being honest about its protocol version
    Files.write(new File(s"$dir/_delta_log", f"${3L}%020d.json").toPath,
      ("""{"add":{"path":"f0.parquet","dataChange":true,""" +
        """"deletionVector":{"storageType":"z","pathOrInlineDv":"x","sizeInBytes":1,"cardinality":1}}}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    val e2 = intercept[IllegalArgumentException] {
      sources.DeltaLog.read(spark, dir).collect()
    }
    assert(e2.getMessage.contains("storageType"))
  }

  test("partitioned Delta read is one scan + broadcast map join at 100 partitions") {
    import java.io.File
    import java.nio.charset.StandardCharsets
    val dir = s"$tmp/delta_many"
    // one Spark job writes all 100 hive-style partition dirs
    spark.range(100).selectExpr("id", "CAST(id AS STRING) AS dt")
      .write.partitionBy("dt").mode("overwrite").parquet(dir)
    val logDir = new File(dir, "_delta_log")
    logDir.mkdirs()
    val adds = new File(dir).listFiles().filter(_.getName.startsWith("dt="))
      .sortBy(_.getName).flatMap { d =>
        val v = d.getName.stripPrefix("dt=")
        d.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
          s"""{"add":{"path":"${d.getName}/${f.getName}","partitionValues":{"dt":"$v"},"dataChange":true}}"""
        }
      }
    assert(adds.length === 100)
    Files.write(new File(logDir, f"${0L}%020d.json").toPath,
      ("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" +: adds)
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val df = sources.DeltaLog.read(spark, dir)
    // ONE parquet scan node — not a 100-branch union (which would blow up
    // driver planning at real partition counts)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length === 1, s"expected 1 parquet scan, got ${scans.length}")
    assert(df.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
      "partition-values map should join via broadcast")
    val rows = df.collect().map(r =>
      (r.getLong(df.columns.indexOf("id")),
        r.getString(df.columns.indexOf("dt"))))
    assert(rows.length === 100)
    assert(rows.forall { case (id, dt) => id.toString == dt },
      "partition values must line up with each file's rows")
  }

  test("compaction verifies row counts from footers, not a data re-scan") {
    val in = s"$tmp/compact_probe_in"
    val out = s"$tmp/compact_probe_out"
    graft.core.Tables.load(spark, sf0001, "events")
      .repartition(48).write.mode("overwrite").parquet(in)
    val inputBytes = Option(new java.io.File(in).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val res =
      try {
        val r = graft.operators.Compaction.compact(spark, in, out,
          targetBytes = 64L * 1024 * 1024)
        // drain the listener bus: poll until the byte counter stabilizes
        var last = -1L
        var spins = 0
        while (bytesRead.get != last && spins < 40) {
          last = bytesRead.get; spins += 1; Thread.sleep(100)
        }
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(res.rows > 0 && res.filesAfter < res.filesBefore)
    // the rewrite reads the input ONCE; verification adds footer reads only
    // (driver-side, no task input metrics). The old count()-based check
    // read input + output again (~2x). Allow codec/metrics slack.
    assert(bytesRead.get < (inputBytes * 1.5).toLong,
      s"compaction re-scanned data: read ${bytesRead.get} of $inputBytes input bytes")
  }

  test("clustered compaction turns key predicates into row-group data skipping") {
    import org.apache.spark.sql.functions.col
    val in = s"$tmp/cluster_probe_in"
    val flat = s"$tmp/cluster_probe_flat"
    val clustered = s"$tmp/cluster_probe_clustered"
    graft.core.Tables.load(spark, sf001, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(16).write.mode("overwrite").parquet(in)
    // small row groups so skipping granularity exists at test scale
    val opts = Map("parquet.block.size" -> (64 * 1024).toString)
    graft.operators.Compaction.compact(spark, in, flat,
      targetBytes = 64L * 1024 * 1024)
    val res = graft.operators.Compaction.compactClustered(spark, in, clustered,
      clusterCols = Seq("user_id"), targetBytes = 64L * 1024 * 1024,
      writeOptions = opts)
    assert(res.rows > 0)
    def recordsRead(dir: String): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            n.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        spark.read.parquet(dir).filter(col("user_id") === 7L)
          .write.mode("overwrite").format("noop").save()
        var last = -1L; var spins = 0
        while (n.get != last && spins < 40) { last = n.get; spins += 1; Thread.sleep(100) }
        n.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val flatRead = recordsRead(flat)
    val clusteredRead = recordsRead(clustered)
    // the rebalance-only layout interleaves users everywhere: a point scan
    // decodes ~everything. The clustered layout confines user 7 to a
    // narrow sorted range — the pushed predicate prunes the rest via
    // row-group stats, so far fewer records ever decode
    assert(clusteredRead > 0, "clustered scan found no rows for user 7")
    assert(clusteredRead * 2 <= flatRead,
      s"no data skipping: clustered read $clusteredRead of flat $flatRead records")
  }

  test("z-order layout skips on the non-leading dimension; 1-D clustering can't") {
    import org.apache.spark.sql.functions.col
    // morton arithmetic pin: ranks (3, 1) at 2 bits → 0b0111 = 7
    // (bit b of dim d lands at b*2+d)
    val s2 = spark
    import s2.implicits._
    val m = Seq((3L, 1L)).toDF("a", "b")
      .select(graft.operators.Compaction.mortonInterleave(
        Seq(col("a"), col("b")), bits = 2).as("z"))
      .collect().head.getLong(0)
    assert(m === 7L, s"morton(3,1)@2bits should be 7, got $m")

    val in = s"$tmp/zorder_probe_in"
    val byUser = s"$tmp/zorder_probe_1d"
    val zord = s"$tmp/zorder_probe_z"
    // controlled 2-D uniform fixture (events' value column is too skewed
    // and too small to exercise curve granularity): 100k points on a
    // 1024×1024 grid, decorrelated dimensions
    spark.range(100000)
      .select(col("id").as("event_id"),
        (col("id") * 2654435761L % 1024).as("x"),
        (col("id") * 40503L % 1024).cast("double").as("y"))
      .repartition(16).write.mode("overwrite").parquet(in)
    // small target files + small row groups so the curve yields many
    // prunable units at test scale (production defaults: 128 MB / 128 MB)
    val opts = Map("parquet.block.size" -> (64 * 1024).toString)
    graft.operators.Compaction.compactClustered(spark, in, byUser,
      clusterCols = Seq("x"), targetBytes = 128L * 1024,
      writeOptions = opts)
    val res = graft.operators.Compaction.compactZOrder(spark, in, zord,
      zCols = Seq("x", "y"), bits = 8,
      targetBytes = 128L * 1024, writeOptions = opts)
    assert(res.rows === 100000L)
    def recordsRead(dir: String, pred: org.apache.spark.sql.Column): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            n.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        spark.read.parquet(dir).filter(pred)
          .write.mode("overwrite").format("noop").save()
        var last = -1L; var spins = 0
        while (n.get != last && spins < 40) { last = n.get; spins += 1; Thread.sleep(100) }
        n.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // a 1/16th band on `y` — the NON-leading dimension: the x-sorted
    // layout interleaves y everywhere (no skip); the z-curve clusters y
    // ranges too, so file/row-group stats prune most of the scan
    val yPred = col("y").between(256.0, 319.0)
    val oneD = recordsRead(byUser, yPred)
    val zRead = recordsRead(zord, yPred)
    assert(zRead > 0, "z-order scan found no rows in the y band")
    assert(zRead * 2 <= oneD,
      s"no y-dimension skipping: z-order read $zRead of 1-D's $oneD")
  }

  test("Iceberg fresh-table creation race: no concurrent append is dropped") {
    // The r20-advice lost-update window: two appenders race table
    // CREATION; the loser captured "no metadata yet" and must not commit
    // a v2 carrying only its own entries (dropping the winner's files).
    // Fresh state is encoded as base version 0, so the stale-create
    // commit loses the claim of v1 and rebases. Four writers
    // on a fresh path, disjoint rows — every row must survive.
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_fresh_race"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence((0 until 4).map(w =>
        scala.concurrent.Future {
          IcebergLog.append(
            Seq((w * 10L, s"w$w"), (w * 10L + 1, s"w$w")).toDF("id", "v"), tbl)
        })),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    val got = IcebergLog.read(spark, tbl).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(0L, 1L, 10L, 11L, 20L, 21L, 30L, 31L),
      s"a concurrent fresh-table append was dropped: $got")
    // four commits landed: head metadata version is exactly v4
    assert(new java.io.File(s"$tbl/metadata", "v4.metadata.json").isFile)
    assert(!new java.io.File(s"$tbl/metadata", "v5.metadata.json").isFile)
  }

  test("Iceberg write path: append snapshots, history preserved, atomic versions") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_write"
    val sid1 = IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl)
    val sid2 = IcebergLog.append(Seq((3L, "c")).toDF("id", "v"), tbl)
    assert(sid1 === 1L && sid2 === 2L)
    def ids(asOf: Option[Long] = None): Seq[Long] =
      IcebergLog.read(spark, tbl, asOf).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids() === Seq(1L, 2L, 3L))
    assert(ids(Some(sid1)) === Seq(1L, 2L)) // own history time-travels
    // optimistic concurrency, new contract: a foreign writer claiming
    // the next metadata version with a COMPLETE file (stage+link is the
    // only way a claim becomes visible) does NOT fail the appender —
    // the append rebases onto the foreign head and commits after it
    val v2 = java.nio.file.Files.readString(
      new java.io.File(s"$tbl/metadata", "v2.metadata.json").toPath)
    java.nio.file.Files.writeString(
      new java.io.File(s"$tbl/metadata", "v3.metadata.json").toPath, v2)
    IcebergLog.append(Seq((9L, "z")).toDF("id", "v"), tbl)
    assert(ids() === Seq(1L, 2L, 3L, 9L))
    assert(new java.io.File(s"$tbl/metadata", "v4.metadata.json").isFile)
    // a CORRUPT metadata head refuses loudly rather than being rebased
    // onto (only an external writer can produce one — our own claims are
    // atomic with their full content)
    java.nio.file.Files.writeString(
      new java.io.File(s"$tbl/metadata", "v5.metadata.json").toPath, "{}")
    intercept[Exception] {
      IcebergLog.append(Seq((10L, "q")).toDF("id", "v"), tbl)
    }
  }

  test("Iceberg v2 MoR deletes: position + equality anti-joined, sequence rules, refusals") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_v2_mor"
    // seq 1: ids 1..6; seq 2: ids 7..9
    IcebergLog.append((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), tbl)
    IcebergLog.append((7L to 9L).map(i => (i, s"v$i")).toDF("id", "v"), tbl)
    val dataFilesBefore = IcebergLog.liveFiles(tbl).toSet
    // POSITION delete (MoR): ids 2 and 8 — one delete file, no rewrite
    val st = IcebergLog.deletePositionsWhere(spark, tbl,
      col("id") === 2L || col("id") === 8L)
    assert(st.rowsDeleted === 2L)
    def ids(asOf: Option[Long] = None): Seq[Long] =
      IcebergLog.read(spark, tbl, asOf).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids() === Seq(1L, 3L, 4L, 5L, 6L, 7L, 9L))
    // untouched data files keep their physical identity (the MoR point)
    val (dataAfter, delsAfter) = IcebergLog.liveSplitEntries(tbl)
    assert(dataAfter.map(_.path).toSet === dataFilesBefore)
    assert(delsAfter.map(_.content) === Seq(1))
    // EQUALITY delete: key id=3 (and the already-dead 8 — idempotent)
    IcebergLog.deleteEqualityKeys(tbl,
      Seq(3L, 8L).toDF("id"), equalityFieldIds = Seq(1))
    assert(ids() === Seq(1L, 4L, 5L, 6L, 7L, 9L))
    // re-appending id=3 after the equality delete SURVIVES (strictly-
    // older sequence rule): the delete addresses the old epoch only
    IcebergLog.append(Seq((3L, "v3-new"), (10L, "v10")).toDF("id", "v"), tbl)
    assert(ids() === Seq(1L, 3L, 4L, 5L, 6L, 7L, 9L, 10L))
    assert(IcebergLog.read(spark, tbl).filter(col("id") === 3L)
      .select("v").head().getString(0) === "v3-new")
    // a SECOND position delete on the post-append table hits the new
    // epoch too; positions already dead are not re-addressed
    val st2 = IcebergLog.deletePositionsWhere(spark, tbl, col("id") >= 9L)
    assert(st2.rowsDeleted === 2L)
    assert(ids() === Seq(1L, 3L, 4L, 5L, 6L, 7L))
    // time travel BEFORE the deletes still sees everything
    assert(ids(Some(2L)) === (1L to 9L))
    // delete-blind planning paths refuse rather than resurrect rows
    val e1 = intercept[IllegalArgumentException] {
      IcebergLog.pruneByLongBounds(tbl, 1, Some(0L), Some(100L))
    }
    assert(e1.getMessage.contains("delete file"))
    val e2 = intercept[IllegalArgumentException] {
      IcebergLog.deleteWhere(spark, tbl, col("id") === 1L)
    }
    assert(e2.getMessage.contains("delete file"))
    // matching nothing is a no-op (no empty snapshot)
    val before = IcebergLog.liveSplitEntries(tbl)._2.size
    val st3 = IcebergLog.deletePositionsWhere(spark, tbl, col("id") === 999L)
    assert(st3.rowsDeleted === 0L)
    assert(IcebergLog.liveSplitEntries(tbl)._2.size === before)
  }

  test("Iceberg rewriteDataFiles: drops delete files, restores pruning, keeps history") {
    import graft.sources.IcebergLog
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_rewrite"
    val stats = Seq(1 -> "id")
    IcebergLog.append((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), tbl, stats)
    IcebergLog.append((7L to 9L).map(i => (i, s"v$i")).toDF("id", "v"), tbl, stats)
    // accumulate MoR deletes: the read plan grows one broadcast anti-join
    // per equality-delete file (plus one for all position files; the
    // file→seq attachment is a literal map lookup, not a join) — the
    // unbounded-growth shape compaction must cap
    IcebergLog.deleteEqualityKeys(tbl, Seq(2L).toDF("id"), Seq(1))
    IcebergLog.deleteEqualityKeys(tbl, Seq(4L).toDF("id"), Seq(1))
    val sidPre = IcebergLog.deletePositionsWhere(spark, tbl,
      col("id") === 7L).snapshotId
    def ids(asOf: Option[Long] = None): Seq[Long] =
      IcebergLog.read(spark, tbl, asOf).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
    def joins(): Int = IcebergLog.read(spark, tbl).queryExecution
      .optimizedPlan.collect { case j: Join => j }.size
    val idsBefore = ids()
    assert(idsBefore === Seq(1L, 3L, 5L, 6L, 8L, 9L))
    assert(joins() === 3) // 1 position + 2 equality
    val rs = IcebergLog.rewriteDataFiles(spark, tbl,
      statsFields = stats, sortBy = Seq("id"), targetFiles = 3)
    assert(rs.filesRewritten >= 2 && rs.deleteFilesRemoved === 3 &&
      rs.filesAdded >= 2)
    // the answer is unchanged; the delete files and their per-read
    // anti-joins are GONE (plan length flat no matter how many deletes
    // accumulated before the compaction)
    assert(ids() === idsBefore)
    assert(IcebergLog.liveSplitEntries(tbl)._2.isEmpty)
    assert(joins() === 0)
    // bounds pruning is legal AND selective again (clustered rewrite)
    val (kept, total) = IcebergLog.pruneByLongBounds(tbl, 1, None, Some(3L))
    assert(kept.nonEmpty && kept.size < total)
    // pre-compaction snapshots still time-travel WITH their deletes
    assert(ids(Some(sidPre)) === idsBefore)
    // a second rewrite with nothing to do is a no-op (no empty snapshot)
    val rs2 = IcebergLog.rewriteDataFiles(spark, tbl)
    assert(rs2.filesAdded === 0 && rs2.deleteFilesRemoved === 0)
    // compacting a fully-deleted table refuses rather than committing an
    // unreadable empty snapshot
    val tbl2 = s"$tmp/ice_rewrite_empty"
    IcebergLog.append(Seq((1L, "a")).toDF("id", "v"), tbl2)
    IcebergLog.deletePositionsWhere(spark, tbl2, lit(true))
    val e = intercept[IllegalArgumentException] {
      IcebergLog.rewriteDataFiles(spark, tbl2)
    }
    assert(e.getMessage.contains("empty"))
  }

  test("Iceberg v2 hardening: spec-path delete files, seq inheritance, dup-name refusal") {
    import graft.sources.IcebergLog
    import graft.sources.IcebergLog.FixtureEntry
    val s = spark
    import s.implicits._
    // position-delete files record the FULL data-file path as the
    // manifest names it (v2 spec contract — a spec-compliant external
    // reader matches verbatim; basename-only matching would silently
    // resurrect rows there)
    val tbl = s"$tmp/ice_fullpath"
    IcebergLog.append((1L to 4L).map(i => (i, s"v$i")).toDF("id", "v"), tbl)
    IcebergLog.deletePositionsWhere(spark, tbl, col("id") === 2L)
    val (data, dels) = IcebergLog.liveSplitEntries(tbl)
    val recorded = spark.read.parquet(dels.filter(_.content == 1).head.path)
      .select("file_path").collect().map(_.getString(0)).toSet
    assert(recorded.nonEmpty && recorded.subsetOf(data.map(_.path).toSet))
    // equality-delete manifest entries carry the real key-file row count
    IcebergLog.deleteEqualityKeys(tbl, Seq(1L, 3L).toDF("id"), Seq(1))
    val eq = IcebergLog.liveSplitEntries(tbl)._2.filter(_.content == 2)
    assert(eq.map(_.recordCount) === Seq(2L))
    // data-file entries record their footer row count too
    assert(IcebergLog.liveSplitEntries(tbl)._1.map(_.recordCount).sum === 4L)
    // ADDED entries with a null data_sequence_number INHERIT the manifest
    // list's sequence number (the shape real v2 writers produce)
    val inh = s"$tmp/ice_inherit"
    IcebergLog.writeFixture(inh,
      Seq(5L -> Seq(FixtureEntry(1, "data/y.parquet", 0))))
    assert(IcebergLog.liveSplitEntries(inh)._1.head.seq === 5L)
    // ...but a non-ADDED v2 entry with no explicit sequence REFUSES
    // loudly instead of defaulting to 0 (which would let an older
    // equality delete wrongly kill newer rows)
    val bad = s"$tmp/ice_badseq"
    IcebergLog.writeFixture(bad,
      Seq(1L -> Seq(FixtureEntry(0, "data/x.parquet", 0, forceNullSeq = true))))
    val e1 = intercept[IllegalArgumentException] {
      IcebergLog.liveSplitEntries(bad)
    }
    assert(e1.getMessage.contains("data_sequence_number"))
    // duplicate data-file BASENAMES refuse on the MoR read path: position
    // deletes match by name, and two same-named files in different dirs
    // would silently cross-delete
    val dup = s"$tmp/ice_dupname"
    def sameNamed(sub: String): String = {
      val dir = new java.io.File(s"$dup/$sub"); dir.mkdirs()
      Seq((1L, "a")).toDF("id", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$dup/stage_$sub")
      val src = new java.io.File(s"$dup/stage_$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, "part-000.parquet")
      Files.move(src.toPath, dst.toPath)
      dst.getPath
    }
    val pa = sameNamed("a")
    val pb = sameNamed("b")
    Seq((pa, 0L)).toDF("file_path", "pos").coalesce(1)
      .write.mode("overwrite").parquet(s"$dup/posdel")
    val pd = new java.io.File(s"$dup/posdel").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    IcebergLog.writeFixture(dup, Seq(1L -> Seq(
      FixtureEntry(1, pa, 1), FixtureEntry(1, pb, 1),
      FixtureEntry(1, pd, 1, content = 1))))
    val e2 = intercept[IllegalArgumentException] {
      IcebergLog.read(spark, dup).count()
    }
    assert(e2.getMessage.contains("duplicate"))
  }

  test("Iceberg partitioned write: typed partition structs, metadata-only pruning") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_part"
    // string + long identity partitioning, a null partition, and a value
    // needing hive %XX escaping ('=' in the value)
    val rows = Seq(
      (1L, "us", 10L, 1.0), (2L, "us", 10L, 2.0), (3L, "eu", 10L, 3.0),
      (4L, "eu", 20L, 4.0), (5L, "a=b", 20L, 5.0), (6L, null, 20L, 6.0))
      .toDF("id", "region", "day", "v")
    IcebergLog.appendPartitioned(rows, tbl,
      partitionBy = Seq(2 -> "region", 3 -> "day"))
    // whole-table read: partition columns come from the data files
    // themselves (no re-injection), null partition rows included
    val back = IcebergLog.read(spark, tbl).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(back.map(_._1).toSeq === (1L to 6L))
    assert(back.find(_._1 == 5L).get._2 === "a=b")
    assert(back.find(_._1 == 6L).get._2 === null)
    // the metadata records the identity spec with the caller's field ids
    val metaTxt = new String(Files.readAllBytes(
      new java.io.File(s"$tbl/metadata").listFiles()
        .filter(_.getName.endsWith(".metadata.json"))
        .maxBy(_.getName).toPath))
    assert(metaTxt.contains("\"partition-specs\""))
    assert(metaTxt.contains("\"transform\":\"identity\""))
    assert(metaTxt.contains("\"source-id\":2") && metaTxt.contains("\"source-id\":3"))
    // manifest entries carry TYPED tuples: string region, long day
    val entries = IcebergLog.liveEntries(tbl)
    assert(entries.forall(_.partitionValues.keySet === Set("region", "day")))
    assert(entries.exists(_.partitionValues("day") == 10L))
    assert(entries.exists(_.partitionValues("region") == "a=b"))
    assert(entries.exists(_.partitionValues("region") == null))
    // pruning answers from manifests alone, exactly
    val (kUs, total) = IcebergLog.prunePartitions(tbl, Map("region" -> "us"))
    assert(kUs.nonEmpty && kUs.size < total)
    assert(IcebergLog.readPartition(spark, tbl, Map("region" -> "us"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // two-column filter narrows further; long values match typed
    assert(IcebergLog.readPartition(spark, tbl,
        Map("region" -> "eu", "day" -> 20L))
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(4L))
    // the NULL partition is addressable
    assert(IcebergLog.readPartition(spark, tbl, Map("region" -> null))
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(6L))
    // a later partitioned append carries prior files as EXISTING with
    // their partition tuples intact, and the spec needs no re-declare
    IcebergLog.appendPartitioned(Seq((7L, "us", 30L, 7.0))
        .toDF("id", "region", "day", "v"), tbl,
      partitionBy = Seq(2 -> "region", 3 -> "day"))
    val (kUs2, _) = IcebergLog.prunePartitions(tbl, Map("region" -> "us"))
    assert(kUs2.size === kUs.size + 1)
    // a file with NO partition info (unpartitioned append to the same
    // table) is always kept — pruning may only shrink the scan, never
    // the answer — and the residual filter keeps the rows exact
    IcebergLog.append(Seq((8L, "us", 40L, 8.0))
      .toDF("id", "region", "day", "v"), tbl)
    val (kMixed, totalMixed) = IcebergLog.prunePartitions(tbl, Map("region" -> "eu"))
    assert(kMixed.exists(_.partitionValues.isEmpty),
      "partition-info-less file must be kept")
    assert(kMixed.size < totalMixed)
    assert(IcebergLog.readPartition(spark, tbl, Map("region" -> "eu"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 4L))
    // delete-blind pruning refuses once v2 delete files are live...
    IcebergLog.deletePositionsWhere(spark, tbl, col("id") === 1L)
    val e = intercept[IllegalArgumentException] {
      IcebergLog.prunePartitions(tbl, Map("region" -> "us"))
    }
    assert(e.getMessage.contains("delete file"))
    // ...and compaction restores it with the partition tuples REBUILT:
    // the rewrite re-stages through the partitioned writer, so pruning
    // stays exact (not merely legal) after the delete files compact away
    IcebergLog.rewriteDataFiles(spark, tbl)
    val (kAfter, totalAfter) = IcebergLog.prunePartitions(tbl, Map("region" -> "us"))
    assert(kAfter.nonEmpty && kAfter.size < totalAfter)
    assert(kAfter.forall(_.partitionValues.nonEmpty),
      "compacted files lost their partition tuples")
    assert(IcebergLog.readPartition(spark, tbl, Map("region" -> "us"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(2L, 7L, 8L)) // id 1 deleted; 8's unpartitioned row re-tupled
  }

  test("Delta write path: append commits, overwrite snapshot, atomic versions") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_write"
    def ids(versionAsOf: Option[Long] = None): Seq[Long] =
      DeltaLog.read(spark, tbl, versionAsOf).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl) === 0L)
    assert(DeltaWrite.append(Seq((3L, "c")).toDF("id", "v"), tbl) === 1L)
    assert(ids() === Seq(1L, 2L, 3L))
    assert(ids(Some(0L)) === Seq(1L, 2L)) // our own history time-travels
    // overwrite: old-or-new snapshots, never a mix; history intact
    assert(DeltaWrite.overwrite(Seq((9L, "z")).toDF("id", "v"), tbl) === 2L)
    assert(ids() === Seq(9L))
    assert(ids(Some(1L)) === Seq(1L, 2L, 3L))
    // optimistic concurrency: publishing an already-taken version refuses
    val logDir = new java.io.File(tbl, "_delta_log")
    val e = intercept[IllegalStateException] {
      DeltaWrite.publish(logDir, 2L, Seq("""{"commitInfo":{}}"""))
    }
    assert(e.getMessage.contains("concurrent"))
    // interop: the written table registers through the standard DDL
    val ctx = new graft.exec.ExecutionContext(spark)
    ctx.runScript(
      s"CREATE EXTERNAL TABLE dwt_spec STORED AS DELTATABLE LOCATION '$tbl'")
    assert(ctx.sql("SELECT COUNT(*) AS n FROM dwt_spec").head.getLong(0) === 1L)
  }

  test("Delta merge: file-level copy-on-write, upsert semantics, ambiguity refused") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_merge_spec"
    // two single-file commits with disjoint key ranges
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), tbl)
    DeltaWrite.append(Seq((10L, "x"), (11L, "y")).toDF("id", "v").repartition(1), tbl)
    val before = DeltaLog.liveFiles(spark, tbl)
    assert(before.size === 2)
    // batch updates id=1 (touches file 1 only) and inserts id=20
    val st = DeltaWrite.merge(tbl,
      Seq((1L, "A2"), (20L, "n")).toDF("id", "v"), Seq("id"))
    assert(st.rowsUpdated === 1L && st.rowsInserted === 1L &&
      st.filesRewritten === 1)
    val after = DeltaLog.liveFiles(spark, tbl)
    // the untouched file keeps its physical identity (file-level CoW);
    // the touched file is gone
    val untouched = before.filter(after.contains)
    assert(untouched.size === 1,
      s"expected exactly one surviving file:\nbefore=$before\nafter=$after")
    assert(spark.read.parquet(untouched.head).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(10L, 11L))
    val rows = DeltaLog.read(spark, tbl).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(rows === Seq((1L, "A2"), (2L, "b"), (10L, "x"), (11L, "y"),
      (20L, "n")))
    // pre-merge snapshot still time-travels
    assert(DeltaLog.read(spark, tbl, Some(1L)).count() === 4L)
    // two source rows matching one key: refused, table unchanged
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.merge(tbl,
        Seq((2L, "dup1"), (2L, "dup2")).toDF("id", "v"), Seq("id"))
    }
    assert(e.getMessage.contains("ambiguous"))
    assert(DeltaLog.read(spark, tbl).count() === 5L)
    // pure-insert batch rewrites nothing
    val ins = DeltaWrite.merge(tbl, Seq((30L, "z")).toDF("id", "v"), Seq("id"))
    assert(ins.filesRewritten === 0 && ins.rowsInserted === 1L)
    assert(DeltaLog.liveFiles(spark, tbl).toSet.intersect(after.toSet) === after.toSet)
  }

  test("merge updates EVERY duplicate-key target row, both protocols") {
    import graft.sources.{DeltaLog, DeltaWrite, IcebergLog}
    val s = spark
    import s.implicits._
    // nothing forbids two appends carrying the same key — real MERGE
    // INTO updates EACH matched target row (multiplicity preserved),
    // never collapses them to one batch row with the rest silently lost
    val dtbl = s"$tmp/delta_merge_dupkey"
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dtbl)
    DeltaWrite.append(Seq((1L, "a2")).toDF("id", "v"), dtbl)
    val st = DeltaWrite.merge(dtbl,
      Seq((1L, "X"), (3L, "n")).toDF("id", "v"), Seq("id"))
    assert(st.rowsUpdated === 2L && st.rowsInserted === 1L)
    assert(DeltaLog.read(spark, dtbl).as[(Long, String)]
      .collect().sortBy(r => (r._1, r._2)).toSeq ===
      Seq((1L, "X"), (1L, "X"), (2L, "b"), (3L, "n")))
    val itbl = s"$tmp/ice_merge_dupkey"
    IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), itbl)
    IcebergLog.append(Seq((1L, "a2")).toDF("id", "v"), itbl)
    val ist = IcebergLog.merge(spark, itbl,
      Seq((1L, "X"), (3L, "n")).toDF("id", "v"), Seq("id"))
    assert(ist.rowsUpdated === 2L && ist.rowsInserted === 1L)
    assert(IcebergLog.read(spark, itbl).as[(Long, String)]
      .collect().sortBy(r => (r._1, r._2)).toSeq ===
      Seq((1L, "X"), (1L, "X"), (2L, "b"), (3L, "n")))
  }

  test("Iceberg merge extra match condition: ON keys AND pred semantics") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_merge_cond_spec"
    // file A: ids 1 (flag y), 2 (flag n); file B: id 3 (flag NULL)
    IcebergLog.append(Seq((1L, "y", "a"), (2L, "n", "b"))
      .toDF("id", "flag", "v").repartition(1), tbl, Seq(1 -> "id"))
    IcebergLog.append(Seq((3L, null.asInstanceOf[String], "c"))
      .toDF("id", "flag", "v").repartition(1), tbl, Seq(1 -> "id"))
    val before = IcebergLog.liveSplitEntries(tbl)._1.map(_.path).toSet
    // batch hits every key, but only flag='y' rows MATCH: id=1 updates;
    // id=2 (condition-false) and id=3 (NULL = no-match, SQL semantics)
    // survive AS-IS while their batch rows INSERT as twins
    val ms = IcebergLog.merge(spark, tbl,
      Seq((1L, "y", "A2"), (2L, "y", "B2"), (3L, "y", "C2"))
        .toDF("id", "flag", "v"), Seq("id"),
      matchCondition = Some(col("flag") === "y"))
    assert(ms.rowsUpdated === 1L && ms.rowsInserted === 2L)
    // file B held no condition-true match: physical identity kept
    assert(IcebergLog.liveSplitEntries(tbl)._1.map(_.path)
      .count(before) === 1)
    val rows = IcebergLog.read(spark, tbl).as[(Long, String, String)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    assert(rows === Seq((1L, "y", "A2"), (2L, "y", "B2"), (2L, "n", "b"),
      (3L, "y", "C2"), (3L, null, "c")).sortBy(r => (r._1, r._3)))
  }

  test("Delta merge extra match condition: ON keys AND pred semantics") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_merge_cond"
    // file A: a condition-false match (id=1), a condition-true match
    // (id=2) and a NULL-condition row (id=30); file B: no admitted match
    DeltaWrite.append(Seq((1L, "old", "a"), (2L, "new", "b"),
      (30L, null.asInstanceOf[String], "c"))
      .toDF("id", "flag", "v").repartition(1), tbl)
    DeltaWrite.append(Seq((10L, "old", "x"), (11L, "new", "y"))
      .toDF("id", "flag", "v").repartition(1), tbl)
    DeltaWrite.enableChangeDataFeed(spark, tbl) // v2
    val before = DeltaLog.liveFiles(spark, tbl)
    val st = DeltaWrite.merge(tbl, // v3
      Seq((1L, "new", "V1"), (2L, "new", "V2"), (20L, "new", "V20"),
        (30L, "new", "V30")).toDF("id", "flag", "v"),
      Seq("id"), matchCondition = Some(col("flag") === "new"))
    // only id=2 is matched (key AND condition): id=1 is condition-false
    // and id=30 evaluates NULL — both their old rows survive AS-IS and
    // their batch rows INSERT next to them; id=20 is a plain insert
    assert(st.rowsUpdated === 1L && st.rowsInserted === 3L)
    val rows = DeltaLog.read(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(rows === Seq((1L, "new", "V1"), (1L, "old", "a"),
      (2L, "new", "V2"), (10L, "old", "x"), (11L, "new", "y"),
      (20L, "new", "V20"), (30L, "new", "V30"), (30L, null, "c")))
    // file B holds no admitted match (id=11 is condition-true but its
    // key is not in the batch; id=10 is condition-false): it must keep
    // its physical identity — only file A was rewritten
    val after = DeltaLog.liveFiles(spark, tbl)
    assert(before.count(after.contains) === 1 && st.filesRewritten === 1,
      s"conditional merge file set wrong:\nbefore=$before\nafter=$after")
    // the change feed reflects the SAME semantics: one pre/post pair for
    // id=2, inserts for the rest, NOTHING for the surviving old rows
    val feed = DeltaLog.tableChanges(spark, tbl, 3L)
      .select("id", "v", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(feed === Seq((1L, "V1", "insert"), (2L, "V2", "update_postimage"),
      (2L, "b", "update_preimage"), (20L, "V20", "insert"),
      (30L, "V30", "insert")))
  }

  test("Delta merge schema evolution: metaData advances, old files NULL-fill") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_evolve"
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl)
    DeltaWrite.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v"), tbl)
    val before = DeltaLog.liveFiles(spark, tbl).toSet
    // a new column WITHOUT mergeSchema refuses (the x16 contract holds)
    val e1 = intercept[IllegalArgumentException] {
      DeltaWrite.merge(tbl, Seq((1L, "a2", 10L)).toDF("id", "v", "w"), Seq("id"))
    }
    assert(e1.getMessage.contains("mergeSchema"))
    // ...and a source DROPPING a column is never evolution
    val e2 = intercept[IllegalArgumentException] {
      DeltaWrite.merge(tbl, Seq((1L, 10L)).toDF("id", "w"),
        Seq("id"), mergeSchema = true)
    }
    assert(e2.getMessage.contains("cover"))
    // evolving merge: update id=1 (file A), insert id=9, new column w
    val st = DeltaWrite.merge(tbl,
      Seq((1L, "a2", 10L), (9L, "i", 90L)).toDF("id", "v", "w"),
      Seq("id"), mergeSchema = true)
    assert(st.rowsUpdated === 1L && st.rowsInserted === 1L)
    // the UNTOUCHED file keeps its physical identity (no O(table)
    // rewrite for a new column)...
    val liveNow = DeltaLog.liveFiles(spark, tbl).toSet
    assert(liveNow.intersect(before).nonEmpty,
      "schema evolution rewrote every file")
    // ...and its rows NULL-fill the evolved column through the metaData
    // schema (the files are physically mixed: old two-column, new three)
    val rows = DeltaLog.read(spark, tbl).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else Long.box(r.getLong(2))))
    assert(rows.toSeq === Seq((1L, "a2", Long.box(10L)), (2L, "b", null),
      (3L, "c", null), (4L, "d", null), (9L, "i", Long.box(90L))))
    // time travel BEFORE the evolution reads the old schema exactly
    val v1 = DeltaLog.read(spark, tbl, Some(1L))
    assert(v1.columns.toSeq === Seq("id", "v"))
    assert(v1.count() === 4L)
    // the table id is stable across the evolution; only the schema moved
    val metaNow = DeltaLog.tableMetaData(spark, tbl).get
    val metaV1 = DeltaLog.tableMetaData(spark, tbl, Some(1L)).get
    assert(metaNow("id") === metaV1("id"))
    assert(metaNow("schemaString") !== metaV1("schemaString"))
    // a SECOND evolution stacks: three physical schemas, one logical
    val st2 = DeltaWrite.merge(tbl,
      Seq((2L, "b2", 20L, "x")).toDF("id", "v", "w", "t"),
      Seq("id"), mergeSchema = true)
    assert(st2.rowsUpdated === 1L)
    val evolved2 = DeltaLog.read(spark, tbl).orderBy("id")
    assert(evolved2.columns.toSeq === Seq("id", "v", "w", "t"))
    val r2 = evolved2.collect().map(r => (r.getLong(0),
      if (r.isNullAt(3)) null else r.getString(3)))
    assert(r2.toSeq === Seq((1L, null), (2L, "x"), (3L, null), (4L, null),
      (9L, null)))
  }

  test("bloom filter prunes row groups for absent keys where min/max can't") {
    import graft.operators.Compaction
    val n = 60000
    val df = spark.range(n.toLong).select(
      md5(col("id").cast("string")).as("k"), col("id"))
    val bloomDir = s"$tmp/bloom_ab/with"
    val plainDir = s"$tmp/bloom_ab/without"
    // same data, same block size, same no-dictionary encoding — the ONLY
    // difference is the bloom filter, so the recordsRead delta is its work
    Compaction.writeWithBloom(df, bloomDir, Seq("k"),
      expectedNdv = n.toLong, blockSize = 512L * 1024)
    df.write.mode("overwrite")
      .option("parquet.block.size", (512L * 1024).toString)
      .option("parquet.enable.dictionary", "false")
      .parquet(plainDir)
    def recordsRead(dir: String): Long = {
      val c = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null)
            c.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        // the absent key must sit INSIDE every row group's [min, max]
        // (any md5 of an unused seed is an interior point of the uniform
        // hex domain) — an extreme like "fff…f" would be pruned by plain
        // min/max stats and prove nothing about the bloom filter
        spark.read.parquet(dir).filter(col("k") === md5(lit("no-such-row")))
          .write.mode("overwrite").format("noop").save()
        var last = -1L; var spins = 0
        while (c.get != last && spins < 40) { last = c.get; spins += 1; Thread.sleep(100) }
        c.get
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    // md5 keys are uniform: every row group's min/max spans ~the whole hex
    // domain, so the no-bloom twin decodes ~everything for an absent key
    val without = recordsRead(plainDir)
    val withBloom = recordsRead(bloomDir)
    assert(without > n / 2,
      s"expected the statless layout to decode ~all $n rows, read $without")
    assert(withBloom * 10 <= without,
      s"bloom pruned nothing: $withBloom vs $without records")
    // and presence still answers correctly through the bloom path
    assert(spark.read.parquet(bloomDir)
      .filter(col("k") === md5(lit("7"))).count() === 1L)
  }

  test("Delta delete: file-level CoW, full-file drop, no-op on no match") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_delete_spec"
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), tbl)
    DeltaWrite.append(Seq((10L, "x"), (11L, "y")).toDF("id", "v").repartition(1), tbl)
    val before = DeltaLog.liveFiles(spark, tbl)
    // delete id=1: touches only file 1, file 2 keeps its physical identity
    val st = DeltaWrite.deleteWhere(spark, tbl, col("id") === 1L)
    assert(st.rowsDeleted === 1L && st.filesRewritten === 1 && st.filesAdded === 1)
    val after = DeltaLog.liveFiles(spark, tbl)
    assert(before.filter(after.contains).size === 1)
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(2L, 10L, 11L))
    // pre-delete snapshot still time-travels
    assert(DeltaLog.read(spark, tbl, Some(1L)).count() === 4L)
    // predicate wiping a whole file: removed with no replacement
    val st2 = DeltaWrite.deleteWhere(spark, tbl, col("id") >= 10L)
    assert(st2.rowsDeleted === 2L && st2.filesRewritten === 1 &&
      st2.filesAdded === 0)
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    // no match: no-op, no new version
    val v = st2.version
    val st3 = DeltaWrite.deleteWhere(spark, tbl, col("id") === 999L)
    assert(st3.version === v && st3.rowsDeleted === 0L)
  }

  test("Delta vacuum: reclaims only aged tombstones, live files and log untouched") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_vacuum_spec"
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), tbl)
    DeltaWrite.append(Seq((10L, "x")).toDF("id", "v").repartition(1), tbl)
    DeltaWrite.deleteWhere(spark, tbl, col("id") === 1L)
    val live = DeltaLog.liveFiles(spark, tbl).map(new java.io.File(_).getName).toSet
    def diskFiles() = new java.io.File(tbl).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(diskFiles().size === 3) // two originals + the rewrite; one tombstoned
    // retention guard: a young tombstone survives a 1-day-retention vacuum
    assert(DeltaWrite.vacuum(spark, tbl, olderThanMs = 86400000L).isEmpty)
    assert(diskFiles().size === 3)
    // zero retention: exactly the tombstone goes; live set intact
    val removed = DeltaWrite.vacuum(spark, tbl, olderThanMs = 0L)
    assert(removed.size === 1 && !live.contains(removed.head))
    assert(diskFiles() === live)
    // current snapshot still reads; vacuumed history fails LOUDLY
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(2L, 10L))
    val e = intercept[Exception] {
      DeltaLog.read(spark, tbl, Some(0L)).collect()
    }
    assert(e.getMessage != null)
    // idempotent: nothing left to reclaim
    assert(DeltaWrite.vacuum(spark, tbl, olderThanMs = 0L).isEmpty)
  }

  test("Delta data skipping: footer stats in add actions, safe pruning") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_skip_spec"
    // four single-file commits with disjoint key ranges and one null
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), tbl)
    DeltaWrite.append(Seq((10L, "c"), (11L, "d")).toDF("id", "v").repartition(1), tbl)
    DeltaWrite.append(Seq((20L, "e")).toDF("id", "v").repartition(1), tbl)
    DeltaWrite.append(Seq[(java.lang.Long, String)]((null, "n"))
      .toDF("id", "v").repartition(1), tbl)
    // every add action of our writer carries min/max stats
    val logDir = new java.io.File(tbl, "_delta_log")
    val logText = logDir.listFiles().filter(_.getName.endsWith(".json"))
      .flatMap(f => java.nio.file.Files.readString(f.toPath).linesIterator)
      .mkString("\n")
    assert(logText.contains("minValues") && logText.contains("maxValues"))
    // stats parsed back onto the live set
    val adds = DeltaLog.liveAdds(spark, tbl)
    assert(adds.count(_.stats.nonEmpty) === 4)
    // range [10, 12]: only the second file admits it
    val (kept, total) = DeltaLog.pruneByStats(spark, tbl, "id",
      Some(10.0), Some(12.0))
    assert(total === 4)
    // all-null file has no id entry in minValues → must be KEPT (safety)
    assert(kept.size === 2,
      s"expected the matching file + the statless-column file: $kept")
    val rows = DeltaLog.readRange(spark, tbl, "id", Some(10L), Some(12L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows === Seq(10L, 11L)) // null row filtered by the predicate
    // a file added WITHOUT stats (foreign writer) is always kept
    val src = new java.io.File(tbl).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val extra = new java.io.File(tbl, "foreign-no-stats.parquet")
    java.nio.file.Files.copy(src.toPath, extra.toPath)
    DeltaWrite.publish(logDir, 4L, Seq(
      s"""{"add":{"path":"${extra.getName}","partitionValues":{},""" +
        s""""size":${extra.length},"modificationTime":0,"dataChange":true}}"""))
    val (kept2, total2) = DeltaLog.pruneByStats(spark, tbl, "id",
      Some(100.0), Some(200.0))
    assert(total2 === 5)
    assert(kept2.map(_.path).contains(extra.getPath),
      "stats-less add must never be pruned")
    // out-of-range probe keeps ONLY the stats-less files (empty result)
    assert(DeltaLog.readRange(spark, tbl, "id", Some(100L), Some(200L))
      .count() === 0L)
  }

  test("Iceberg snapshot chain: status filtering, time travel, loud refusals") {
    import graft.sources.IcebergLog
    import graft.sources.IcebergLog.FixtureEntry
    val tbl = s"$tmp/ice_spec"
    // three tiny parquet files
    def pf(tag: String, ids: Seq[Long]): String = {
      val s2 = spark; import s2.implicits._
      val dir = s"$tmp/ice_spec_$tag"
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getPath
    }
    val a = pf("a", Seq(1L, 2L))
    val b = pf("b", Seq(3L))
    val c = pf("c", Seq(4L, 5L))
    IcebergLog.writeFixture(tbl, Seq(
      1L -> Seq(FixtureEntry(1, a, 2), FixtureEntry(1, c, 2)),
      2L -> Seq(FixtureEntry(0, a, 2), FixtureEntry(1, b, 1),
        FixtureEntry(2, c, 2))))
    // current snapshot (2): DELETED c is gone
    val cur = IcebergLog.read(spark, tbl).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(cur === Seq(1L, 2L, 3L))
    // time travel to snapshot 1: c is back, b never existed
    val old = IcebergLog.read(spark, tbl, snapshotAsOf = Some(1L)).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(old === Seq(1L, 2L, 4L, 5L))
    // unknown snapshot id → loud
    val e1 = intercept[IllegalArgumentException] {
      IcebergLog.liveFiles(tbl, Some(99L))
    }
    assert(e1.getMessage.contains("snapshot 99"))
    // v2 delete file (content != 0) → loud refusal, never silent rows
    val tbl2 = s"$tmp/ice_spec_deletes"
    IcebergLog.writeFixture(tbl2, Seq(
      1L -> Seq(FixtureEntry(1, a, 2), FixtureEntry(1, b, 1, content = 1))))
    val e2 = intercept[IllegalArgumentException] {
      IcebergLog.liveFiles(tbl2)
    }
    assert(e2.getMessage.contains("delete file"))
    // not-a-table → loud
    val e3 = intercept[IllegalArgumentException] {
      IcebergLog.liveFiles(s"$tmp/not_a_table")
    }
    assert(e3.getMessage.contains("no metadata/"))
  }

  test("Delta checkpoint seeds the file list; later commits replay on top") {
    import java.io.File
    import java.nio.charset.StandardCharsets
    val dir = s"$tmp/delta_cp"
    writeDeltaFixture(dir)
    val logDir = new File(dir, "_delta_log")
    // checkpoint at version 1 = the live set {f0, f2}; a stale pre-checkpoint
    // commit listing f1 must NOT be replayed once the checkpoint seeds state
    import spark.implicits._
    Seq("f0.parquet", "f2.parquet").toDF("path")
      .selectExpr("named_struct('path', path) AS add")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_cp_stage")
    val part = new File(s"$dir/_cp_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath,
      new File(logDir, f"${1L}%020d.checkpoint.parquet").toPath)
    Files.write(new File(logDir, "_last_checkpoint").toPath,
      """{"version":1,"size":2}""".getBytes(StandardCharsets.UTF_8))
    // commit 2 after the checkpoint removes f0
    Files.write(new File(logDir, f"${2L}%020d.json").toPath,
      """{"remove":{"path":"f0.parquet","deletionTimestamp":0,"dataChange":true}}"""
        .concat("\n").getBytes(StandardCharsets.UTF_8))
    val live = sources.DeltaLog.liveFiles(spark, dir).map(p =>
      p.substring(p.lastIndexOf('/') + 1))
    assert(live.toSet === Set("f2.parquet"))
  }

  test("Delta checkpoint WRITER: checkpoint equals replay, survives log expiry") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_cp_writer"
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), tbl)
    DeltaWrite.append(Seq((3L, "c")).toDF("id", "v").repartition(1), tbl)
    DeltaWrite.deleteWhere(spark, tbl, col("id") === 2L)
    val beforeCp = DeltaLog.read(spark, tbl).collect().map(_.toString).sorted.toSeq
    val cpV = DeltaWrite.checkpoint(spark, tbl)
    assert(cpV === 2L)
    // checkpoint-seeded read == full-replay read (JSON commits still present:
    // the reader prefers the checkpoint, replays nothing at/below it)
    assert(DeltaLog.read(spark, tbl).collect().map(_.toString).sorted.toSeq
      === beforeCp)
    // expiry deletes exactly the covered commits; current read unaffected
    val expired = DeltaWrite.expireLog(tbl)
    assert(expired.size === 3)
    assert(DeltaLog.read(spark, tbl).collect().map(_.toString).sorted.toSeq
      === beforeCp)
    // expired history fails LOUDLY, not silently-wrong
    intercept[Exception] { DeltaLog.read(spark, tbl, Some(1L)).collect() }
    // version counter survives: next commit is 3, and replays on top
    assert(DeltaWrite.append(Seq((9L, "z")).toDF("id", "v").repartition(1),
      tbl) === 3L)
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 9L))
    // expiry without a checkpoint refuses
    val bare = s"$tmp/delta_no_cp"
    DeltaWrite.append(Seq((1L, "a")).toDF("id", "v").repartition(1), bare)
    intercept[IllegalStateException] { DeltaWrite.expireLog(bare) }
  }

  test("Delta partitioned write: pv in log only, encoded values, safe pruning") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_part_spec"
    // partition values that NEED url-encoding round-trip (space, slash)
    DeltaWrite.appendPartitioned(
      Seq((1L, "a b"), (2L, "c/d"), (3L, "a b")).toDF("id", "cat"),
      tbl, Seq("cat"))
    // data files must NOT contain the partition column
    val files = DeltaLog.liveFiles(spark, tbl)
    assert(files.nonEmpty)
    assert(!spark.read.parquet(files.head).columns.contains("cat"),
      "partition column leaked into the data file")
    // full read re-injects pv correctly, encoded values intact
    val got = DeltaLog.read(spark, tbl).select("id", "cat").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a b", 2L -> "c/d", 3L -> "a b"))
    // log-level pruning: two files for 'a b' vs one for 'c/d'... at least
    // the non-matching partition's files are dropped without data reads
    val (kept, total) = DeltaLog.livePartitionAdds(spark, tbl,
      Map("cat" -> "c/d"))
    assert(kept.nonEmpty && kept.size < total)
    assert(DeltaLog.readPartition(spark, tbl, Map("cat" -> "c/d"))
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(2L))
    // SAFETY: filtering on a column absent from pv keeps everything
    val (keptAll, totalAll) = DeltaLog.livePartitionAdds(spark, tbl,
      Map("nope" -> "x"))
    assert(keptAll.size === totalAll)
    // a second partitioned append composes; MERGE is partition-native:
    // the touched 'a b' files rewrite hive-laid-out with their tuples,
    // the untouched partitions keep their physical identity, and an
    // update may MOVE a row between partitions (id 2: c/d -> moved)
    DeltaWrite.appendPartitioned(Seq((4L, "e")).toDF("id", "cat"), tbl, Seq("cat"))
    assert(DeltaLog.read(spark, tbl).count() === 4L)
    val before = DeltaLog.liveFiles(spark, tbl).toSet
    val ms = DeltaWrite.merge(tbl,
      Seq((2L, "moved"), (9L, "c/d")).toDF("id", "cat"), Seq("id"))
    assert(ms.rowsUpdated === 1L && ms.rowsInserted === 1L)
    assert(DeltaLog.read(spark, tbl).select("id", "cat").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "a b", 2L -> "moved", 3L -> "a b", 4L -> "e",
        9L -> "c/d"))
    // only the matched partition's file was rewritten
    assert(DeltaLog.liveFiles(spark, tbl).toSet.intersect(before).nonEmpty,
      "partitioned merge rewrote every file")
    // partition pruning answered from the log: the join key ISN'T a
    // partition column here, but a DELETE's partition conjunct is —
    // deleting inside one partition must keep other partitions' files
    val beforeDel = DeltaLog.liveFiles(spark, tbl).toSet
    val ds = DeltaWrite.deleteWhere(spark, tbl,
      col("cat") === "a b" && col("id") === 3L)
    assert(ds.rowsDeleted === 1L)
    assert(DeltaLog.liveFiles(spark, tbl).toSet.intersect(beforeDel).nonEmpty,
      "partition-conjunct delete rewrote every file")
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 4L, 9L))
    // the recorded partitioning is a contract BOTH ways: an unpartitioned
    // append, or a partitioned one with different columns, would commit
    // adds whose pv keys disagree with metaData.partitionColumns —
    // readers prune by exactly those keys, so both refuse up front
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.append(Seq((5L, "f")).toDF("id", "cat"), tbl)
    }.getMessage.contains("use appendPartitioned"))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.appendPartitioned(
        Seq((5L, "f")).toDF("id", "cat"), tbl, Seq("id"))
    }.getMessage.contains("partitioned by [cat]"))
  }

  test("Delta partitioned hardening: '+' values, null partitions, recursive vacuum, mixed refusals") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_part_harden"
    // a literal '+' must survive the staged-dir decode (Hive path escaping
    // leaves '+' unescaped; URLDecoder would corrupt it to a space), and a
    // NULL partition value (__HIVE_DEFAULT_PARTITION__ dir) must round-trip
    // as SQL NULL, never as the sentinel string
    DeltaWrite.appendPartitioned(
      Seq((1L, Some("a+b")), (2L, None), (3L, Some("plain")))
        .toDF("id", "cat"), tbl, Seq("cat"))
    val got = DeltaLog.read(spark, tbl).select("id", "cat").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got === Map(1L -> Some("a+b"), 2L -> None, 3L -> Some("plain")))
    // the null partition is a real, never-equal value for pruning
    val (kept, total) = DeltaLog.livePartitionAdds(spark, tbl,
      Map("cat" -> "a+b"))
    assert(kept.nonEmpty && kept.size < total)
    assert(DeltaLog.readPartition(spark, tbl, Map("cat" -> "a+b"))
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    // overwrite tombstones the partitioned files, which live under
    // cat=value/ subdirectories: vacuum must walk the partition tree
    // (a flat root listing reclaims nothing — the old silent no-op)
    val tombstoned = DeltaLog.liveFiles(spark, tbl).size
    DeltaWrite.overwrite(Seq((9L, "x")).toDF("id", "cat"), tbl)
    val removed = DeltaWrite.vacuum(spark, tbl, olderThanMs = 0L)
    assert(removed.size === tombstoned,
      s"vacuum reclaimed ${removed.size} of $tombstoned partitioned tombstones")
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).toSeq === Seq(9L))
    // the overwrite REDECLARED the table unpartitioned in its own commit
    // (its adds carry no pv): the recorded contract now says [], so plain
    // appends compose and partitioned ones refuse — without the
    // redeclaration the metaData would keep promising cat-partitioning
    // over files that no longer have it
    DeltaWrite.append(Seq((10L, "y")).toDF("id", "cat"), tbl)
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(9L, 10L))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.appendPartitioned(Seq((11L, "w")).toDF("id", "cat"),
        tbl, Seq("cat"))
    }.getMessage.contains("partitioned by []"))
    // MIXED table (plain append's files keep the column in DATA,
    // partitioned adds move it to pv): snapshot read and partition read
    // must both refuse loudly — injection would shadow real data.
    // OUR writer now refuses to produce the shape at all (r17: the
    // recorded partitioning is a write-time contract), so the fixture
    // is forged the way a foreign/buggy writer would hand it to us.
    val mixed = s"$tmp/delta_part_mixed"
    DeltaWrite.append(Seq((1L, "m")).toDF("id", "cat").repartition(1), mixed)
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.appendPartitioned(Seq((2L, "n")).toDF("id", "cat"),
        mixed, Seq("cat"))
    }.getMessage.contains("partitioned by []"))
    locally {
      val pdir = new java.io.File(s"$mixed/cat=n"); pdir.mkdirs()
      Seq(Tuple1(2L)).toDF("id").repartition(1)
        .write.mode("overwrite").parquet(s"$mixed/.stage_mixed")
      val pf = new java.io.File(s"$mixed/.stage_mixed").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(pdir, "part-mixed.parquet")
      java.nio.file.Files.move(pf.toPath, dst.toPath)
      val addJson = s"""{"add":{"path":"cat%3Dn/part-mixed.parquet",""" +
        s""""partitionValues":{"cat":"n"},"size":${dst.length},""" +
        s""""modificationTime":${dst.lastModified},"dataChange":true}}"""
      java.nio.file.Files.write(
        new java.io.File(s"$mixed/_delta_log", f"${1L}%020d.json").toPath,
        java.util.Arrays.asList(addJson),
        java.nio.charset.StandardCharsets.UTF_8)
    }
    val e1 = intercept[IllegalArgumentException] { DeltaLog.read(spark, mixed) }
    assert(e1.getMessage.contains("mixed"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaLog.readPartition(spark, mixed, Map("cat" -> "n"))
    }
    assert(e2.getMessage.toLowerCase.contains("mixed"))
  }

  test("partitioned restore + checkpoint use RECORDED paths (encoded values)") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_part_restore"
    // values that need URL-encoding: restore/checkpoint must byte-match
    // the RECORDED add paths, not re-encode decoded ones
    DeltaWrite.appendPartitioned(
      Seq((1L, "a b"), (2L, "c/d")).toDF("id", "cat"), tbl, Seq("cat"))
    DeltaWrite.appendPartitioned(
      Seq((3L, "a b")).toDF("id", "cat"), tbl, Seq("cat"))
    val st = DeltaWrite.restoreTo(spark, tbl, 0L)
    assert(st.filesRemoved > 0)
    // a broken remove path would leave v1's rows live: silent wrong data
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // checkpoint a partitioned table with encoded values; the seeded read
    // must still resolve every file and re-inject the decoded pv
    DeltaWrite.checkpoint(spark, tbl)
    // the checkpoint's metaData row must carry the REAL table metadata:
    // the protocol-mandatory format field, the true partition columns,
    // and the v0 schemaString (which includes the partition column the
    // data files strip) — not [] and a data-file-derived schema
    val cpFile = new java.io.File(s"$tbl/_delta_log").listFiles()
      .filter(_.getName.endsWith(".checkpoint.parquet")).head
    val md = spark.read.parquet(cpFile.getPath)
      .where("metaData IS NOT NULL")
      .selectExpr("metaData.format.provider", "metaData.partitionColumns",
        "metaData.schemaString").collect().head
    assert(md.getString(0) === "parquet")
    assert(md.getSeq[String](1) === Seq("cat"))
    assert(md.getString(2).contains("\"cat\""),
      "checkpoint schemaString lost the partition column")
    DeltaWrite.expireLog(tbl)
    val got = DeltaLog.read(spark, tbl).select("id", "cat").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a b", 2L -> "c/d"))
  }

  test("restore restores METADATA: partitioning returns across an overwrite") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_restore_meta"
    DeltaWrite.appendPartitioned(
      Seq((1L, "a"), (2L, "b")).toDF("id", "cat"), tbl, Seq("cat")) // v0
    // overwrite redeclares the table UNPARTITIONED in its own commit
    DeltaWrite.overwrite(Seq((9L, "x")).toDF("id", "cat"), tbl) // v1
    def partCols(): Seq[String] = DeltaLog.tableMetaData(spark, tbl).get
      .get("partitionColumns").collect { case xs: Seq[_] => xs.map(String.valueOf) }
      .getOrElse(Seq.empty)
    assert(partCols() === Seq.empty, "overwrite must redeclare partitioning")
    // plain appends compose with the overwritten (unpartitioned) shape
    DeltaWrite.append(Seq((10L, "y")).toDF("id", "cat"), tbl) // v2
    // RESTORE to the partitioned epoch: the file set AND the metadata
    // come back — a file-set-only restore would leave partitionColumns=[]
    // over pv-carrying adds, breaking pv re-injection and the write-time
    // partitioning contract
    val st = DeltaWrite.restoreTo(spark, tbl, 0L)
    assert(st.filesRemoved > 0 && st.filesReAdded > 0)
    assert(partCols() === Seq("cat"), "restore must restore partitionColumns")
    assert(DeltaLog.read(spark, tbl).select("id", "cat").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ===
      Map(1L -> "a", 2L -> "b"))
    // the restored contract is live again, both ways
    DeltaWrite.appendPartitioned(Seq((3L, "c")).toDF("id", "cat"), tbl, Seq("cat"))
    assert(DeltaLog.readPartition(spark, tbl, Map("cat" -> "c"))
      .select("id").head.getLong(0) === 3L)
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.append(Seq((4L, "d")).toDF("id", "cat"), tbl)
    }.getMessage.contains("use appendPartitioned"))
  }

  test("txn idempotence survives checkpoint + log expiry") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_txn_cp"
    assert(DeltaWrite.appendIdempotent(
      Seq((1L, "a")).toDF("id", "v").repartition(1), tbl, "sink", 7L).isDefined)
    DeltaWrite.checkpoint(spark, tbl)
    DeltaWrite.expireLog(tbl)
    // the JSON commit carrying the txn is gone; the checkpoint must still
    // answer the retry guard or the sink double-commits after maintenance
    assert(DeltaLog.latestTxnVersions(tbl) === Map("sink" -> 7L))
    assert(DeltaWrite.appendIdempotent(
      Seq((9L, "dup")).toDF("id", "v").repartition(1), tbl, "sink", 7L).isEmpty)
    assert(DeltaLog.read(spark, tbl).count() === 1L)
    // a NEWER epoch still commits, and both records merge
    assert(DeltaWrite.appendIdempotent(
      Seq((2L, "b")).toDF("id", "v").repartition(1), tbl, "sink", 8L).isDefined)
    assert(DeltaLog.latestTxnVersions(tbl) === Map("sink" -> 8L))
  }

  test("DELETE keeps NULL-predicate rows in both formats (SQL semantics)") {
    import graft.sources.{DeltaLog, DeltaWrite, IcebergLog}
    val s = spark
    import s.implicits._
    def frame() = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (null, "n"))
      .toDF("id", "v").repartition(1)
    val dTbl = s"$tmp/delta_null_del"
    DeltaWrite.append(frame(), dTbl)
    val dst = DeltaWrite.deleteWhere(spark, dTbl, col("id") === 1L)
    assert(dst.rowsDeleted === 1L)
    assert(DeltaLog.read(spark, dTbl).select("v").collect()
      .map(_.getString(0)).sorted.toSeq === Seq("b", "n"),
      "NULL-id row must survive a DELETE WHERE id = 1")
    val iTbl = s"$tmp/ice_null_del"
    IcebergLog.append(frame(), iTbl)
    val ist = IcebergLog.deleteWhere(spark, iTbl, col("id") === 1L)
    assert(ist.rowsDeleted === 1L)
    assert(IcebergLog.read(spark, iTbl).select("v").collect()
      .map(_.getString(0)).sorted.toSeq === Seq("b", "n"))
  }

  test("Iceberg manifest bounds: roundtrip, safe pruning, carried across appends") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_bounds"
    // two appends with stats on field 1; disjoint key ranges per file
    IcebergLog.append(Seq((1L, "a"), (5L, "b")).toDF("id", "v")
      .repartition(1), tbl, Seq(1 -> "id"))
    IcebergLog.append(Seq((100L, "c"), (200L, "d")).toDF("id", "v")
      .repartition(1), tbl, Seq(1 -> "id"))
    val entries = IcebergLog.liveEntries(tbl)
    assert(entries.size === 2)
    // bounds decode to the real per-file min/max — including the first
    // file's, carried forward as EXISTING through the second append
    val decoded = entries.map(e =>
      (IcebergLog.decodeLongBound(e.lowerBounds(1)),
        IcebergLog.decodeLongBound(e.upperBounds(1)))).sortBy(_._1)
    assert(decoded === Seq((1L, 5L), (100L, 200L)))
    // pruning keeps only the overlapping file; unbounded side works
    assert(IcebergLog.pruneByLongBounds(tbl, 1, Some(3L), Some(50L))._1
      .size === 1)
    assert(IcebergLog.pruneByLongBounds(tbl, 1, None, Some(6L))._1.size === 1)
    assert(IcebergLog.pruneByLongBounds(tbl, 1, Some(300L), None)._1.isEmpty)
    // the range read still filters inside the kept file
    assert(IcebergLog.readRange(spark, tbl, "id", 1, Some(3L), Some(50L))
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(5L))
    // SAFETY: a stats-less file (no bounds for the field) is always kept
    IcebergLog.append(Seq((999L, "z")).toDF("id", "v").repartition(1), tbl)
    // probe [3,4]: the [1,5] file overlaps, [100,200] is pruned, and the
    // stats-less file MUST survive despite matching nothing
    val (kept, total) = IcebergLog.pruneByLongBounds(tbl, 1, Some(3L), Some(4L))
    assert(total === 3 && kept.size === 2 &&
      kept.exists(_.lowerBounds.isEmpty),
      "a file without recorded bounds must never be pruned")
  }

  test("Iceberg delete: file-granular CoW, history kept, edge cases") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_delete_spec"
    IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(1), tbl, Seq(1 -> "id"))
    IcebergLog.append(Seq((10L, "x"), (11L, "y")).toDF("id", "v")
      .repartition(1), tbl, Seq(1 -> "id"))
    val before = IcebergLog.liveEntries(tbl)
    val st = IcebergLog.deleteWhere(spark, tbl, col("id") === 1L, Seq(1 -> "id"))
    assert(st.rowsDeleted === 1L && st.filesRewritten === 1 && st.filesAdded === 1)
    // untouched file keeps its physical identity AND its bounds
    val after = IcebergLog.liveEntries(tbl)
    val kept = after.filter(e => before.exists(_.path == e.path))
    assert(kept.size === 1 &&
      IcebergLog.decodeLongBound(kept.head.lowerBounds(1)) === 10L)
    assert(IcebergLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(2L, 10L, 11L))
    // pre-delete snapshot still time-travels
    assert(IcebergLog.read(spark, tbl, Some(st.snapshotId - 1))
      .count() === 4L)
    // rewritten survivors carry fresh bounds → skipping still prunes
    assert(IcebergLog.pruneByLongBounds(tbl, 1, Some(100L), None)._1.isEmpty)
    // predicate wiping a whole file: dropped with no replacement
    val st2 = IcebergLog.deleteWhere(spark, tbl, col("id") >= 10L)
    assert(st2.rowsDeleted === 2L && st2.filesRewritten === 1 &&
      st2.filesAdded === 0)
    assert(IcebergLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    // no match: no-op, no new snapshot
    val st3 = IcebergLog.deleteWhere(spark, tbl, col("id") === 999L)
    assert(st3.snapshotId === st2.snapshotId && st3.rowsDeleted === 0L)
  }

  test("Iceberg merge: file-granular CoW upsert over live MoR deletes") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_merge_spec"
    IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(1), tbl, Seq(1 -> "id"))
    IcebergLog.append(Seq((10L, "x"), (11L, "y")).toDF("id", "v")
      .repartition(1), tbl, Seq(1 -> "id"))
    // a MoR position delete kills id=2 (file A) UNDER the merge
    val del = IcebergLog.deletePositionsWhere(spark, tbl, col("id") === 2L)
    assert(del.rowsDeleted === 1L)
    val before = IcebergLog.liveSplitEntries(tbl)._1.map(_.path).toSet
    // batch: updates id=1 (file A), RE-INSERTS the MoR-dead id=2 (an
    // insert, never a resurrect-update), plain-inserts id=20
    val ms = IcebergLog.merge(spark, tbl,
      Seq((1L, "A2"), (2L, "B2"), (20L, "n")).toDF("id", "v"), Seq("id"),
      Seq(1 -> "id"))
    assert(ms.rowsUpdated === 1L && ms.rowsInserted === 2L &&
      ms.filesRewritten === 1)
    val (dataAfter, delsAfter) = IcebergLog.liveSplitEntries(tbl)
    // the untouched file keeps its physical identity; the delete file
    // stays LIVE (it still applies to that untouched file)
    assert(dataAfter.map(_.path).count(before) === 1)
    assert(delsAfter.nonEmpty)
    // the re-inserted id=2 is VISIBLE: the rewrite's ADDED entry inherits
    // the NEW snapshot's sequence number, so the older position delete
    // (lower sequence) does not re-apply to it — the spec's sequence rule
    val rows = IcebergLog.read(spark, tbl).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(rows === Seq((1L, "A2"), (2L, "B2"), (10L, "x"), (11L, "y"),
      (20L, "n")))
    // pre-merge snapshot still time-travels, with ITS deletes applied
    assert(IcebergLog.read(spark, tbl, Some(ms.snapshotId - 1))
      .count() === 3L)
    // two source rows for one key: refused, table unchanged
    val e = intercept[IllegalArgumentException] {
      IcebergLog.merge(spark, tbl,
        Seq((1L, "d1"), (1L, "d2")).toDF("id", "v"), Seq("id"))
    }
    assert(e.getMessage.contains("ambiguous"))
    assert(IcebergLog.read(spark, tbl).count() === 5L)
    // empty batch: a no-op, not an empty snapshot
    val noop = IcebergLog.merge(spark, tbl,
      Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))
    assert(noop.snapshotId === ms.snapshotId && noop.filesAdded === 0)
  }

  test("Iceberg changelog: CoW carry-overs net out; replace skipped; MoR kills emit") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_changelog_spec"
    // snap 1: one file with three rows; snap 2: a second file
    IcebergLog.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .repartition(1), tbl, Seq(1 -> "id"))
    IcebergLog.append(Seq((10L, "x")).toDF("id", "v")
      .repartition(1), tbl, Seq(1 -> "id"))
    // snap 3: CoW delete of id=2 REWRITES file A — survivors 1,3 restage,
    // and the changelog must NOT emit them (carry-over cancellation)
    IcebergLog.deleteWhere(spark, tbl, col("id") === 2L, Seq(1 -> "id"))
    // snap 4: compaction — rows unchanged by contract, skipped entirely
    val rw = IcebergLog.rewriteDataFiles(spark, tbl,
      statsFields = Seq(1 -> "id"), targetFiles = 1)
    assert(rw.filesRewritten > 0) // a real replace snapshot exists to skip
    val ch = IcebergLog.changesBetween(spark, tbl, 0L)
      .select($"id", $"v", $"_change_type", $"_snapshot_id")
      .as[(Long, String, String, Long)].collect().sortBy(r => (r._4, r._1))
    assert(ch.toSeq === Seq(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (3L, "c", "insert", 1L), (10L, "x", "insert", 2L),
      (2L, "b", "delete", 3L)))
    // a bounded sub-range sees only its snapshots
    val sub = IcebergLog.changesBetween(spark, tbl, 1L, Some(3L))
      .select($"id", $"_change_type").as[(Long, String)].collect().sortBy(_._1)
    assert(sub.toSeq === Seq((2L, "delete"), (10L, "insert")))
    // expired/unknown from-id refuses loudly
    val e = intercept[IllegalArgumentException] {
      IcebergLog.changesBetween(spark, tbl, 99L)
    }
    assert(e.getMessage.contains("not in table metadata"))
    // snap 5: a MoR POSITION delete emits exactly its kills as delete
    // records — the affected set is the files the delete NAMES, and the
    // visible-row diff never re-emits rows that were already dead
    IcebergLog.deletePositionsWhere(spark, tbl, col("id") === 3L)
    val ch2 = IcebergLog.changesBetween(spark, tbl, 4L)
      .select($"id", $"_change_type").as[(Long, String)].collect()
    assert(ch2.toSeq === Seq((3L, "delete")))
    // full-range replay still folds to the live table
    val full = IcebergLog.changesBetween(spark, tbl, 0L)
      .select($"id", $"v", $"_change_type").as[(Long, String, String)]
      .collect().toSeq
    assert(full.count(_._3 == "insert") - full.count(_._3 == "delete")
      === IcebergLog.read(spark, tbl).count())
    // an EQUALITY delete refuses: its target files are unbounded
    IcebergLog.deleteEqualityKeys(tbl, Seq(10L).toDF("id"), Seq(1))
    val e2 = intercept[IllegalArgumentException] {
      IcebergLog.changesBetween(spark, tbl, 0L)
    }
    assert(e2.getMessage.contains("EQUALITY"))
  }

  test("Iceberg changelog walks lineage: rolled-back-over orphans never replay") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_changelog_rollback"
    IcebergLog.append(Seq((1L, "a")).toDF("id", "v"), tbl) // snap 1
    IcebergLog.append(Seq((2L, "b")).toDF("id", "v"), tbl) // snap 2
    IcebergLog.rollbackTo(tbl, 1L)
    IcebergLog.append(Seq((3L, "c")).toDF("id", "v"), tbl) // snap 3, parent 1
    // snap 2 stays in metadata (it still time-travels) but is NOT an
    // ancestor of the head: replaying it would fabricate an insert@2
    // and a phantom delete@3 for a row the current branch never held
    assert(IcebergLog.read(spark, tbl, Some(2L)).count() === 2L)
    val ch = IcebergLog.changesBetween(spark, tbl, 0L)
      .select($"id", $"_change_type", $"_snapshot_id")
      .as[(Long, String, Long)].collect().sortBy(_._3)
    assert(ch.toSeq === Seq((1L, "insert", 1L), (3L, "insert", 3L)))
    // a from-id off the lineage refuses loudly instead of replaying
    val e = intercept[IllegalArgumentException] {
      IcebergLog.changesBetween(spark, tbl, 2L)
    }
    assert(e.getMessage.contains("not an ancestor"))
  }

  test("Iceberg changelog refuses parentless snapshots on rollback evidence") {
    import graft.sources.IcebergLog
    // a FOREIGN writer that never stamped parent-snapshot-id, on a table
    // whose current pointer sits behind the max id (rollback evidence):
    // the id-order lineage fallback could replay rolled-back-over
    // orphans, so the walk must refuse instead of guessing
    val tbl = s"$tmp/ice_changelog_foreign_rb"
    val s = spark
    import s.implicits._
    val f = java.nio.file.Files.createTempDirectory("graft-foreign")
      .toString + "/d"
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(f)
    val part = Option(new java.io.File(f).listFiles()).get
      .filter(_.getName.endsWith(".parquet")).head.getPath
    IcebergLog.writeFixture(tbl, Seq(
      1L -> Seq(IcebergLog.FixtureEntry(1, part, 1L)),
      3L -> Seq(IcebergLog.FixtureEntry(0, part, 1L)),
      2L -> Seq(IcebergLog.FixtureEntry(0, part, 1L)))) // current=2, max=3
    val e = intercept[IllegalArgumentException] {
      IcebergLog.changesBetween(spark, tbl, 0L)
    }
    assert(e.getMessage.contains("rollback history"))
    // the same parentless chain on a rollback-free table (current == max)
    // still walks by id order — the fallback stays available there
    val tbl2 = s"$tmp/ice_changelog_foreign_ok"
    IcebergLog.writeFixture(tbl2, Seq(
      1L -> Seq(IcebergLog.FixtureEntry(1, part, 1L)),
      2L -> Seq(IcebergLog.FixtureEntry(0, part, 1L))))
    assert(IcebergLog.changesBetween(spark, tbl2, 0L).count() === 1L)
  }

  test("Iceberg changelog refuses duplicate basenames when deletes are in play") {
    import graft.sources.IcebergLog
    // an adopted layout can repeat a BASENAME across directories; a
    // MoR-delete changelog step matches position-delete targets and
    // carried files by name over SUBSETS of the live set, so the
    // ambiguity must refuse up front — a delete aimed at one twin would
    // silently diff the other
    val s = spark
    import s.implicits._
    def stageOne(dir: String, rows: Seq[(Long, String)]): String = {
      Seq(rows: _*).toDF("id", "v").coalesce(1).write.parquet(dir)
      val f = Option(new java.io.File(dir).listFiles()).get
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, "part-twin.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.getPath
    }
    val base = java.nio.file.Files.createTempDirectory("graft-twin").toString
    val fa = stageOne(s"$base/a", Seq(1L -> "a"))
    val fb = stageOne(s"$base/b", Seq(2L -> "b"))
    // the position delete names fa's rows by full path
    Seq((fa, 0L)).toDF("file_path", "pos").coalesce(1)
      .write.parquet(s"$base/dels")
    val del = Option(new java.io.File(s"$base/dels").listFiles()).get
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val tbl = s"$tmp/ice_changelog_twin"
    IcebergLog.writeFixture(tbl, Seq(
      1L -> Seq(IcebergLog.FixtureEntry(1, fa, 1L),
        IcebergLog.FixtureEntry(1, fb, 1L)),
      2L -> Seq(IcebergLog.FixtureEntry(0, fa, 1L),
        IcebergLog.FixtureEntry(0, fb, 1L),
        IcebergLog.FixtureEntry(1, del, 1L, content = 1))))
    val e = intercept[IllegalArgumentException] {
      IcebergLog.changesBetween(spark, tbl, 1L).collect()
    }
    assert(e.getMessage.contains("duplicate data-file basenames"))
  }

  test("Iceberg sink epochs: summaries survive appends, die with expiry (documented)") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_sink_epochs"
    assert(IcebergLog.appendIdempotent(
      Seq((1L, "a")).toDF("id", "v").repartition(1), tbl, "sink", 3L).isDefined)
    // an ordinary append re-renders prior snapshot jsons: summary kept
    IcebergLog.append(Seq((2L, "b")).toDF("id", "v").repartition(1), tbl)
    assert(IcebergLog.latestSinkEpochs(tbl) === Map("sink" -> 3L))
    assert(IcebergLog.appendIdempotent(
      Seq((9L, "dup")).toDF("id", "v").repartition(1), tbl, "sink", 3L).isEmpty)
    // two sinks track independently
    assert(IcebergLog.appendIdempotent(
      Seq((3L, "c")).toDF("id", "v").repartition(1), tbl, "other", 1L).isDefined)
    assert(IcebergLog.latestSinkEpochs(tbl) ===
      Map("sink" -> 3L, "other" -> 1L))
    assert(IcebergLog.read(spark, tbl).count() === 3L)
    // the documented retention caveat: expiring the snapshot that holds
    // a sink's record loses its retry guard (keep=1 keeps only `other`'s)
    IcebergLog.expireSnapshots(tbl, keep = 1)
    assert(IcebergLog.latestSinkEpochs(tbl) === Map("other" -> 1L))
  }

  test("Iceberg snapshot expiry: union-liveness across survivors, loud expired travel") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_expire_spec"
    IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), tbl)
    IcebergLog.append(Seq((10L, "x")).toDF("id", "v").repartition(1), tbl)
    // snapshot 3 deletes the first file's rows — file tombstoned at head
    IcebergLog.deleteWhere(spark, tbl, col("id") <= 2L)
    def dataFiles() = Option(new java.io.File(s"$tbl/data").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(dataFiles() === 2)
    // keep=2: snapshot 2 still references the tombstoned file -> UNION
    // liveness must keep it on disk
    val (_, del2) = IcebergLog.expireSnapshots(tbl, keep = 2)
    assert(!del2.exists(_.endsWith(".parquet")),
      s"expiry deleted a file still live in a surviving snapshot: $del2")
    assert(dataFiles() === 2)
    // snapshot 1 is gone: loud refusal, not silent wrong data
    intercept[IllegalArgumentException] {
      IcebergLog.read(spark, tbl, Some(1L)).collect()
    }
    // snapshot 2 still reads (it survived)
    assert(IcebergLog.read(spark, tbl, Some(2L)).count() === 3L)
    // keep=1: now the tombstoned file is orphaned and reclaimed
    val (_, del1) = IcebergLog.expireSnapshots(tbl, keep = 1)
    assert(del1.exists(_.endsWith(".parquet")))
    assert(dataFiles() === IcebergLog.liveFiles(tbl).size)
    assert(IcebergLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).toSeq === Seq(10L))
    // idempotent: nothing further to expire
    val (_, del0) = IcebergLog.expireSnapshots(tbl, keep = 1)
    assert(del0.isEmpty)
  }

  test("Delta AS OF TIMESTAMP resolves by commit publication time") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_ts_travel"
    DeltaWrite.append(Seq((1L, "a")).toDF("id", "v").repartition(1), tbl)
    val between = System.currentTimeMillis()
    Thread.sleep(1100) // commit mtimes have second granularity on some FS
    DeltaWrite.append(Seq((2L, "b")).toDF("id", "v").repartition(1), tbl)
    // a timestamp between the commits serves v0; after both, v1
    assert(DeltaLog.readTimestampAsOf(spark, tbl, between)
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(DeltaLog.readTimestampAsOf(spark, tbl, System.currentTimeMillis())
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // before the first commit: loud refusal, not an empty table
    intercept[IllegalArgumentException] {
      DeltaLog.readTimestampAsOf(spark, tbl, 1000L)
    }
  }

  test("Delta restore: metadata-only undo, history kept, vacuumed target refused") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_restore_spec"
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), tbl)
    DeltaWrite.overwrite(Seq((7L, "x")).toDF("id", "v").repartition(1), tbl)
    val dataFilesBefore = new java.io.File(tbl).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    val st = DeltaWrite.restoreTo(spark, tbl, 0L)
    assert(st.version === 2L && st.filesRemoved === 1 && st.filesReAdded === 1)
    // METADATA-only: the restore commit created/moved no data file
    val dataFilesAfter = new java.io.File(tbl).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(dataFilesAfter === dataFilesBefore)
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // the bad version is still time-travelable (history preserved)
    assert(DeltaLog.read(spark, tbl, Some(1L)).select("id").collect()
      .map(_.getLong(0)).toSeq === Seq(7L))
    // restore to the current state: no-op, no new commit
    val st2 = DeltaWrite.restoreTo(spark, tbl, 0L)
    assert(st2.version === 2L && st2.filesRemoved === 0 && st2.filesReAdded === 0)
    // vacuum the tombstoned v1 file, then restoring to v1 must refuse
    DeltaWrite.vacuum(spark, tbl, olderThanMs = 0L)
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.restoreTo(spark, tbl, 1L)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("DV codec: z85 reference vector, bitmap round-trip, file CRC integrity") {
    import graft.sources.DeltaDv
    // the ZeroMQ Z85 reference test vector (public spec 32/Z85)
    val helloBytes = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b)
      .map(_.toByte)
    assert(DeltaDv.z85Encode(helloBytes) === "HelloWorld")
    assert(DeltaDv.z85Decode("HelloWorld").toSeq === helloBytes.toSeq)
    intercept[IllegalArgumentException](DeltaDv.z85Encode(Array[Byte](1)))
    intercept[IllegalArgumentException](DeltaDv.z85Decode("abc"))
    // portable RoaringBitmapArray: multi-bucket (row index past 2^32)
    val positions = Seq(0L, 5L, 1000000L, (1L << 32) + 7L)
    val data = DeltaDv.serializePositions(positions)
    assert(DeltaDv.deserializePositions(data) === positions.sorted)
    assert(DeltaDv.cardinality(data) === 4L)
    val bms = DeltaDv.deserializeBitmaps(data)
    assert(DeltaDv.contains(bms, 5L) && DeltaDv.contains(bms, (1L << 32) + 7L))
    assert(!DeltaDv.contains(bms, 6L) && !DeltaDv.contains(bms, (2L << 32)))
    // union without enumeration
    val u = DeltaDv.union(data, DeltaDv.serializePositions(Seq(5L, 9L)))
    assert(DeltaDv.deserializePositions(u) === (positions :+ 9L).sorted)
    // DV file layout: two entries, offsets address each, CRC verified
    val root = new java.io.File(s"$tmp/dvfile"); root.mkdirs()
    val d2 = DeltaDv.serializePositions(Seq(42L))
    val (pathOrInline, offs) = DeltaDv.writeDvFile(root, Seq(data, d2))
    assert(offs.size === 2)
    val desc1 = DeltaDv.Descriptor("u", pathOrInline, Some(offs(0)._1),
      offs(0)._2, 4L)
    val desc2 = DeltaDv.Descriptor("u", pathOrInline, Some(offs(1)._1),
      offs(1)._2, 1L)
    assert(DeltaDv.readPositions(root, desc1) === positions.sorted)
    assert(DeltaDv.readPositions(root, desc2) === Seq(42L))
    // inline storage round-trips through z85 (pad to 4-byte groups the
    // way a writer would choose sizes; our serialized form may not be
    // 4-aligned, so inline uses its own padding contract — test the
    // aligned case)
    val aligned = DeltaDv.serializePositions(Seq(1L, 2L, 3L))
    if (aligned.length % 4 == 0) {
      val inline = DeltaDv.Descriptor("i", DeltaDv.z85Encode(aligned),
        None, aligned.length.toLong, 3L)
      assert(DeltaDv.readPositions(root, inline) === Seq(1L, 2L, 3L))
    }
    // corrupt one byte of the stored bitmap: CRC refuses loudly
    val dvFile = root.listFiles().filter(_.getName.endsWith(".bin")).head
    val raf = new java.io.RandomAccessFile(dvFile, "rw")
    raf.seek(offs(0)._1 + 4 + 2); val b = raf.readByte()
    raf.seek(offs(0)._1 + 4 + 2); raf.writeByte(b ^ 0x5); raf.close()
    val e = intercept[IllegalArgumentException] {
      DeltaDv.readPositions(root, desc1)
    }
    assert(e.getMessage.contains("checksum"))
    // cardinality mismatch refuses (entry 2 is intact)
    val badCard = desc2.copy(cardinality = 3L)
    assert(intercept[IllegalArgumentException] {
      DeltaDv.readPositions(root, badCard)
    }.getMessage.contains("cardinality"))
    // unknown storage type refuses
    assert(intercept[IllegalArgumentException] {
      DeltaDv.readPositions(root, desc2.copy(storageType = "x"))
    }.getMessage.contains("storageType"))
  }

  test("Delta deletion vectors: MoR delete, stacked union, protocol, count, travel") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_dv_spec"
    DeltaWrite.append((1L to 8L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(1), tbl)
    DeltaWrite.append((11L to 18L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(1), tbl)
    val before = DeltaLog.liveFiles(spark, tbl).toSet
    assert(before.size === 2)
    // MoR delete across both files: no rewrite, protocol upgraded
    val st = DeltaWrite.deleteWhereDv(spark, tbl, col("id") % 2 === 0)
    assert(st.rowsDeleted === 8L && st.filesTouched === 2 &&
      st.filesFullyDead === 0)
    assert(DeltaLog.liveFiles(spark, tbl).toSet === before,
      "MoR delete rewrote a data file")
    val (minR, minW, rF, wF) = DeltaLog.currentProtocol(tbl)
    assert(minR === 3 && minW === 7 && rF === Seq("deletionVectors") &&
      wF === Seq("deletionVectors"))
    def ids(v: Option[Long] = None): Seq[Long] =
      DeltaLog.read(spark, tbl, v).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq
    assert(ids() === Seq(1L, 3L, 5L, 7L, 11L, 13L, 15L, 17L))
    // already-dead rows never re-match or re-count; stacked delete UNIONs
    val st2 = DeltaWrite.deleteWhereDv(spark, tbl,
      col("id") % 2 === 0 || col("id") < 4)
    assert(st2.rowsDeleted === 2L, s"re-counted dead rows: $st2")
    assert(ids() === Seq(5L, 7L, 11L, 13L, 15L, 17L))
    // one DV per file, merged cardinality declared
    val adds = DeltaLog.liveAdds(spark, tbl)
    assert(adds.forall(_.dv.isDefined))
    assert(adds.map(_.dv.get.cardinality).sorted === Seq(4L, 6L))
    // metadata-only count subtracts cardinality
    assert(DeltaLog.countFromStats(spark, tbl) === Some(6L))
    // time travel: pre-delete epoch sees all 16; after first delete, 8
    assert(ids(Some(1L)).size === 16)
    assert(ids(Some(2L)).size === 8)
    // range scan applies DVs on the kept files
    assert(DeltaLog.readRange(spark, tbl, "id", Some(1L), Some(8L))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(5L, 7L))
    // predicate-NULL rows are NOT deleted (SQL DELETE semantics)
    val ntbl = s"$tmp/delta_dv_null"
    DeltaWrite.append(Seq((1L, Some(1L)), (2L, None), (3L, Some(3L)))
      .toDF("id", "k").repartition(1), ntbl)
    DeltaWrite.deleteWhereDv(spark, ntbl, col("k") > 1L)
    assert(DeltaLog.read(spark, ntbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // no-op predicate: no commit
    val v0 = DeltaWrite.deleteWhereDv(spark, ntbl, col("id") > 100L).version
    assert(v0 === DeltaWrite.deleteWhereDv(spark, ntbl, col("id") > 100L).version)
  }

  test("Delta DV lifecycle: full-file drop, purge, CoW refusals, vacuum, checkpoint, restore") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_dv_life"
    DeltaWrite.append((1L to 4L).map(i => (i, "a")).toDF("id", "v")
      .repartition(1), tbl)
    DeltaWrite.append((11L to 14L).map(i => (i, "b")).toDF("id", "v")
      .repartition(1), tbl)
    // a delete matching EVERY row of file 1 drops it outright — no
    // descriptor a reader would pay to apply forever
    val st = DeltaWrite.deleteWhereDv(spark, tbl, col("id") < 10L)
    assert(st.filesFullyDead === 1 && st.filesTouched === 1 &&
      st.rowsDeleted === 4L)
    assert(DeltaLog.liveAdds(spark, tbl).forall(_.dv.isEmpty))
    // now a partial DV on file 2 (merge/deleteWhere/optimize COMPOSE
    // with live DVs — pinned in "Delta CoW over live DVs" below; here
    // the descriptor stays live to drive checkpoint/purge/vacuum)
    DeltaWrite.deleteWhereDv(spark, tbl, col("id") === 11L)
    // checkpoint carries the DV descriptor + feature protocol; a reader
    // seeded from the checkpoint ALONE still hides the dead row
    DeltaWrite.checkpoint(spark, tbl)
    DeltaWrite.expireLog(tbl)
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(12L, 13L, 14L))
    assert(DeltaLog.countFromStats(spark, tbl) === Some(3L))
    // purge: materializes live rows, drops descriptors, re-enables CoW
    val dvBin = new java.io.File(tbl).listFiles()
      .filter(_.getName.endsWith(".bin")).map(_.getName).toSeq
    assert(dvBin.nonEmpty)
    val ps = DeltaWrite.purgeDeletionVectors(spark, tbl)
    assert(ps.filesPurged === 1 && ps.filesAdded === 1)
    assert(DeltaLog.liveAdds(spark, tbl).forall(_.dv.isEmpty))
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(12L, 13L, 14L))
    DeltaWrite.optimize(spark, tbl, 1L << 30) // no refusal anymore
    // purge is idempotent (no-op without DVs)
    assert(DeltaWrite.purgeDeletionVectors(spark, tbl).filesPurged === 0)
    // vacuum reclaims the orphaned DV file AND the tombstoned parquet
    val reclaimed = DeltaWrite.vacuum(spark, tbl, olderThanMs = 0L)
    assert(dvBin.forall(reclaimed.contains), s"DV bin not reclaimed: $reclaimed")
    assert(DeltaLog.read(spark, tbl).count() === 3L)
    ()
  }

  test("replaceWhere: atomic range swap, DV composition, no-op and pure-delete edges") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/replace_dv"
    DeltaWrite.append((1L to 8L).map(i => (i, "a")).toDF("id", "v")
      .repartition(1), tbl)
    DeltaWrite.append((11L to 18L).map(i => (i, "b")).toDF("id", "v")
      .repartition(1), tbl)
    DeltaWrite.deleteWhereDv(spark, tbl, col("id") === 11L)
    // swap the >10 range for a recomputed slice: the MoR-dead 11 is NOT
    // among the deleted rows (the match scan reads through the bitmap),
    // the rewritten file drops its descriptor, file 1 keeps identity
    val before = DeltaLog.liveFiles(spark, tbl).toSet
    val st = DeltaWrite.replaceWhere(spark, tbl, col("id") > 10L,
      Seq((15L, "B")).toDF("id", "v"))
    assert(st.rowsDeleted === 7L && st.rowsInserted === 1L)
    assert(DeltaLog.liveAdds(spark, tbl).forall(_.dv.isEmpty))
    assert(DeltaLog.liveFiles(spark, tbl).toSet.intersect(before).nonEmpty,
      "replaceWhere rewrote the untouched file")
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === ((1L to 8L) :+ 15L))
    // nothing matched + empty batch: a no-op, not an empty commit
    val head = DeltaLog.latestVersion(tbl)
    val noop = DeltaWrite.replaceWhere(spark, tbl, col("id") > 100L,
      Seq.empty[(Long, String)].toDF("id", "v"))
    assert(noop.version === head && noop.filesRewritten === 0)
    // empty batch over a matching range is a pure atomic delete
    val st2 = DeltaWrite.replaceWhere(spark, tbl, col("id") === 15L,
      Seq.empty[(Long, String)].toDF("id", "v"))
    assert(st2.rowsDeleted === 1L && st2.rowsInserted === 0L)
    assert(DeltaLog.read(spark, tbl).count() === 8L)
    ()
  }

  test("deleteWhere runs a pinned number of Spark jobs on each format") {
    // a delete shares its copy-on-write body with replaceWhere; the
    // batch-only work (constraint check, schema-aligning read, stray
    // check, batch count) must never run for it
    import graft.exec.QueryProfile
    import graft.sources.{DeltaWrite, IcebergLog}
    val s = spark
    import s.implicits._
    val delta = s"$tmp/delta_delete_jobs"
    val ice = s"$tmp/ice_delete_jobs"
    Seq(Seq((1L, "a"), (2L, "b")), Seq((10L, "x"), (11L, "y"))).foreach { rows =>
      DeltaWrite.append(rows.toDF("id", "v").repartition(1), delta)
      IcebergLog.append(rows.toDF("id", "v").repartition(1), ice,
        Seq(1 -> "id"))
    }
    val profile = new QueryProfile(spark)
    try {
      val (dp, dst) = profile.phase(
        DeltaWrite.deleteWhere(spark, delta, col("id") === 1L))
      val (ip, ist) = profile.phase(
        IcebergLog.deleteWhere(spark, ice, col("id") === 1L, Seq(1 -> "id")))
      assert(dst.rowsDeleted === 1L && dst.filesRewritten === 1)
      assert(ist.rowsDeleted === 1L && ist.filesRewritten === 1)
      // the counts a delete ran while it was its own body; Iceberg's
      // three reads name their schema from the table (no inference job),
      // and its restage learns from the staged footers that rows are
      // left (no emptiness job)
      assert(dp.jobs.size === 6, dp.jobs.map(_.name).mkString(" | "))
      assert(ip.jobs.size === 5, ip.jobs.map(_.name).mkString(" | "))
    } finally profile.close()
  }

  test("merge verbs run a pinned number of Spark jobs on each format") {
    // both write modes of a format share the batch check, the candidate
    // pruning and the match scan; each verb adds only the jobs of how
    // its matched rows die (restage, DV bitmaps, position-delete file)
    import graft.exec.QueryProfile
    import graft.sources.{DeltaWrite, IcebergLog}
    val s = spark
    import s.implicits._
    val files = Seq(Seq((1L, "a"), (2L, "b")), Seq((10L, "x"), (11L, "y")))
    def delta(name: String): String = {
      val t = s"$tmp/delta_merge_jobs_$name"
      files.foreach(r => DeltaWrite.append(r.toDF("id", "v").repartition(1), t))
      t
    }
    def ice(name: String): String = {
      val t = s"$tmp/ice_merge_jobs_$name"
      files.foreach(r => IcebergLog.append(r.toDF("id", "v").repartition(1), t,
        Seq(1 -> "id")))
      t
    }
    // x16b's shape: a partitioned table, the update moving its row
    val part = s"$tmp/delta_merge_jobs_part"
    files.zip(Seq("p", "q")).foreach { case (r, p) =>
      DeltaWrite.appendPartitioned(r.toDF("id", "v")
        .withColumn("part", lit(p)).repartition(1), part, Seq("part"))
    }
    val (deltaCow, deltaDv, iceCow, iceMor) =
      (delta("cow"), delta("dv"), ice("cow"), ice("mor"))
    // one update (id 1) and one insert (id 20)
    val batch = Seq((1L, "u"), (20L, "n")).toDF("id", "v")
    val profile = new QueryProfile(spark)
    try {
      val (dc, dcs) = profile.phase(DeltaWrite.merge(deltaCow, batch, Seq("id")))
      val (dd, dds) = profile.phase(
        DeltaWrite.mergeDv(spark, deltaDv, batch, Seq("id")))
      val (ic, ics) = profile.phase(
        IcebergLog.merge(spark, iceCow, batch, Seq("id"), Seq(1 -> "id")))
      val (im, ims) = profile.phase(
        IcebergLog.mergeMoR(spark, iceMor, batch, Seq("id"), Seq(1 -> "id")))
      val (dp, dps) = profile.phase(DeltaWrite.merge(part,
        batch.withColumn("part", lit("r")), Seq("id")))
      Seq(dcs.rowsUpdated -> dcs.rowsInserted, dds.rowsUpdated -> dds.rowsInserted,
        ics.rowsUpdated -> ics.rowsInserted, ims.rowsUpdated -> ims.rowsInserted,
        dps.rowsUpdated -> dps.rowsInserted).foreach(st => assert(st === (1L -> 1L)))
      def names(p: QueryProfile.Phase) = p.jobs.map(_.name).mkString(" | ")
      // a changed count means a verb gained or lost a driver round trip
      Seq("Delta merge" -> dc, "Delta mergeDv" -> dd, "Iceberg merge" -> ic,
          "Iceberg mergeMoR" -> im, "Delta partitioned merge" -> dp)
        .foreach { case (n, p) =>
          info(s"$n: ${p.jobs.size} jobs, ${p.stages.size} stages, ${p.tasks} tasks")
        }
      assert(dc.jobs.size === 10, names(dc))
      assert(dd.jobs.size === 14, names(dd))
      assert(ic.jobs.size === 10, names(ic))
      assert(im.jobs.size === 10, names(im))
      assert(dp.jobs.size === 11, names(dp))
    } finally profile.close()
  }

  test("Delta CoW over live DVs: merge/deleteWhere/optimize compose, rewrites retire descriptors") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_dv_compose"
    DeltaWrite.append((1L to 8L).map(i => (i, "a")).toDF("id", "v")
      .repartition(1), tbl)
    DeltaWrite.append((11L to 18L).map(i => (i, "b")).toDF("id", "v")
      .repartition(1), tbl)
    DeltaWrite.deleteWhereDv(spark, tbl, col("id").isin(1L, 2L, 11L))
    // merge reads THROUGH the DVs: id 1 is MoR-dead, so its source row
    // INSERTS (a raw scan would have resurrect-updated it); the touched
    // file's rewrite drops nothing it shouldn't, the UNTOUCHED file
    // keeps its descriptor
    val ms = DeltaWrite.merge(tbl,
      Seq((3L, "z"), (1L, "n")).toDF("id", "v"), Seq("id"))
    assert(ms.rowsUpdated === 1L && ms.rowsInserted === 1L)
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq ===
      (Seq(1L) ++ (3L to 8L) ++ (12L to 18L)))
    assert(DeltaLog.liveAdds(spark, tbl).count(_.dv.nonEmpty) === 1,
      "untouched file lost (or touched file kept) its descriptor")
    // deleteWhere on the DV-carrying file: the match scan and the
    // rewrite both apply the bitmap; the survivor file is clean
    val ds = DeltaWrite.deleteWhere(spark, tbl, col("id") === 12L)
    assert(ds.rowsDeleted === 1L)
    assert(DeltaLog.liveAdds(spark, tbl).forall(_.dv.isEmpty),
      "copy-on-write rewrite kept a descriptor alive")
    // OPTIMIZE is the natural purge point: a fresh MoR delete, then a
    // threshold that bin-packs NOTHING — the DV file rewrites anyway,
    // dataChange:false, descriptor gone, rows identical
    DeltaWrite.deleteWhereDv(spark, tbl, col("id") === 13L)
    assert(DeltaLog.liveAdds(spark, tbl).exists(_.dv.nonEmpty))
    val os = DeltaWrite.optimize(spark, tbl, smallFileBytes = 1L)
    assert(os.filesCompacted >= 1)
    assert(DeltaLog.liveAdds(spark, tbl).forall(_.dv.isEmpty),
      "optimize left a live descriptor")
    val commitText = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(tbl, f"_delta_log/${os.version}%020d.json").toPath))
    assert(!commitText.contains("\"dataChange\":true"),
      "optimize marked actions as data changes")
    assert(DeltaLog.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq ===
      (Seq(1L) ++ (3L to 8L) ++ (14L to 18L)))
    // ZORDER composes too: the boundary-quantile pass and the per-group
    // rewrite both filter through the bitmaps, so the re-cluster is one
    // more purge point — rows identical, descriptors gone (numeric z
    // columns: the range-rank pass casts them to double)
    val ztbl = s"$tmp/delta_dv_zorder"
    DeltaWrite.append((1L to 100L).map(i => (i, i % 7)).toDF("id", "k")
      .repartition(2), ztbl)
    DeltaWrite.deleteWhereDv(spark, ztbl, col("id") % 10 === 0L)
    DeltaWrite.optimizeZOrder(spark, ztbl, Seq("id", "k"))
    assert(DeltaLog.liveAdds(spark, ztbl).forall(_.dv.isEmpty),
      "zorder left a live descriptor")
    assert(DeltaLog.read(spark, ztbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq ===
      (1L to 100L).filterNot(_ % 10 == 0))
    ()
  }

  test("Iceberg hidden partitioning: days prunes ranges, bucket prunes merge, spec sticky") {
    import graft.sources.IcebergLog
    import graft.sources.IcebergLog.{SpecField, Transforms}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_days_hidden"
    // 20 days × 5 rows
    val rows = (0 until 100).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 1 + i / 5, 12, 0)), i * 1.5)
    }
    val df = rows.toDF("id", "ts", "v").repartitionByRange(2, col("ts"))
    IcebergLog.appendPartitionedSpec(df, tbl,
      Seq(SpecField(2, "ts_day", "day", "ts")))
    // tuples recorded under the FIELD name as day ordinals; the data
    // files carry only the SOURCE columns and read() exposes no derived
    // column
    val entries = IcebergLog.liveEntries(tbl)
    assert(entries.nonEmpty &&
      entries.forall(_.partitionValues.keySet == Set("ts_day")))
    assert(entries.forall(_.partitionValues("ts_day") match {
      case d: Long => d >= Transforms.dayOf(rows.head._2) &&
        d <= Transforms.dayOf(rows.last._2)
      case _ => false
    }))
    val back = IcebergLog.read(spark, tbl)
    assert(back.columns.sorted === Array("id", "ts", "v"))
    assert(back.count() === 100L)
    // a ts range prunes through the day tuples, and the read is
    // row-exact (tuples decide files, the residual decides rows)
    val lo = java.sql.Timestamp.valueOf("2024-01-06 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-10 23:59:59")
    val (kept, total) =
      IcebergLog.prunePartitionsBySourceRange(tbl, "ts", Some(lo), Some(hi))
    assert(kept.nonEmpty && kept.size < total,
      s"day-range prune kept ${kept.size} of $total")
    val got = IcebergLog.readSourceRange(spark, tbl, "ts", Some(lo), Some(hi))
      .select($"id").as[Long].collect().sorted.toSeq
    val exp = rows.filter(r => !r._2.before(lo) && !r._2.after(hi))
      .map(_._1).sorted
    assert(got === exp)
    // re-declaring the SAME spec is sticky (no phantom evolution), and
    // the metadata records the transform + source column
    IcebergLog.appendPartitionedSpec(
      Seq((200L, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 1.0))
        .toDF("id", "ts", "v"), tbl, Seq(SpecField(2, "ts_day", "day", "ts")))
    val (specs, defaultId) = IcebergLog.partitionSpecsFull(tbl)
    assert(specs === Seq(0 -> Seq(SpecField(2, "ts_day", "day", "ts"))) &&
      defaultId === 0)
    // re-declaring a field NAME with a different transform refuses —
    // tuple interpretation is by name across the whole spec history
    val eRedecl = intercept[IllegalArgumentException] {
      IcebergLog.appendPartitionedSpec(
        Seq((201L, java.sql.Timestamp.valueOf("2024-02-02 00:00:00"), 1.0))
          .toDF("id", "ts", "v"), tbl,
        Seq(SpecField(1, "ts_day", "day", "id"))) // same name, new source
    }
    assert(eRedecl.getMessage.contains("re-declared"))
    assert(IcebergLog.partitionSpecsFull(tbl)._1.size === 1)

    // bucket layout: merge updates/inserts stay exact and the restage
    // keeps every file's bucket tuple
    val btbl = s"$tmp/ice_bucket_merge"
    val orows = (0L until 200L).map(i => (i, s"v$i"))
    IcebergLog.appendPartitionedSpec(orows.toDF("id", "v").repartition(2),
      btbl, Seq(SpecField(1, "id_bucket", "bucket[8]", "id")))
    val batch = Seq((5L, "UPD5"), (500L, "NEW")).toDF("id", "v")
    val ms = IcebergLog.merge(spark, btbl, batch, Seq("id"))
    assert(ms.rowsUpdated === 1L && ms.rowsInserted === 1L)
    val after = IcebergLog.read(spark, btbl)
      .as[(Long, String)].collect().toMap
    assert(after(5L) === "UPD5" && after(500L) === "NEW" &&
      after(7L) === "v7" && after.size === 201)
    assert(IcebergLog.liveEntries(btbl)
      .forall(_.partitionValues.keySet == Set("id_bucket")))
    // tuple-level pruning answers a bucket point lookup from manifests,
    // and readPartition on the HIDDEN key is row-exact (our staged
    // files are tuple-pure; the derived value has no residual column)
    val (bkept, btotal) = IcebergLog.prunePartitions(btbl,
      Map("id_bucket" -> Transforms("bucket[8]", 5L)))
    assert(bkept.nonEmpty && bkept.size < btotal)
    val bucketRows = IcebergLog.readPartition(spark, btbl,
        Map("id_bucket" -> Transforms("bucket[8]", 5L)))
      .select($"id").as[Long].collect().toSet
    val expBucket = ((0L until 200L) ++ Seq(500L))
      .filter(k => Transforms.bucketOf(k, 8) == Transforms.bucketOf(5L, 8))
      .toSet
    assert(bucketRows === expBucket)
    // a caller-denormalized identity field must not phantom-evolve the
    // spec history on every commit
    val dtbl = s"$tmp/ice_denorm_spec"
    (1 to 2).foreach(i => IcebergLog.appendPartitionedSpec(
      Seq((i.toLong, s"p$i")).toDF("id", "p"), dtbl,
      Seq(SpecField(2, "p", "identity", "p"))))
    assert(IcebergLog.partitionSpecsFull(dtbl)._1.size === 1,
      "denormalized identity spec phantom-evolved")
  }

  test("Iceberg merge schema evolution: NULL-fill, later appends, second merge, changelog") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_merge_evolve"
    // two separate files so one stays untouched through the evolution
    IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(1), tbl)
    IcebergLog.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v")
      .repartition(1), tbl)
    val before = IcebergLog.liveEntries(tbl).map(_.path).toSet
    // without mergeSchema an extra column refuses loudly
    val src = Seq((1L, "A", 10L), (9L, "I", 90L)).toDF("id", "v", "w")
    val e = intercept[IllegalArgumentException] {
      IcebergLog.merge(spark, tbl, src, Seq("id"))
    }
    assert(e.getMessage.contains("mergeSchema"))
    // evolving merge: updates id=1, inserts id=9, adds column `w`
    val st = IcebergLog.merge(spark, tbl, src, Seq("id"), mergeSchema = true)
    assert(st.rowsUpdated === 1L && st.rowsInserted === 1L)
    // the untouched file survived physically and NULL-fills through the
    // merged schema record
    assert(IcebergLog.liveEntries(tbl).map(_.path).toSet
      .intersect(before).nonEmpty, "evolution rewrote every file")
    def snap(): Map[Long, (String, Option[Long])] =
      IcebergLog.read(spark, tbl).select($"id", $"v", $"w")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))))
        .toMap
    assert(snap() === Map(
      1L -> (("A", Some(10L))), 2L -> (("b", None)),
      3L -> (("c", None)), 4L -> (("d", None)), 9L -> (("I", Some(90L)))))
    // EPOCH-FAITHFUL TIME TRAVEL (Delta x34 parity): the pre-evolution
    // snapshot (id 2, unstamped — it predates the first schema record)
    // reads in ITS OWN shape, no `w` column at all; the evolution
    // snapshot (id 3, stamped) carries it
    val preEvo = IcebergLog.read(spark, tbl, Some(2L))
    assert(!preEvo.columns.contains("w"),
      s"pre-evolution snapshot grew a future column: ${preEvo.columns.toSeq}")
    assert(preEvo.count() === 4)
    assert(IcebergLog.read(spark, tbl, Some(3L)).columns.contains("w"))
    // a post-evolution append in the merged shape reads back through it
    IcebergLog.append(Seq((5L, "e", 50L)).toDF("id", "v", "w")
      .repartition(1), tbl)
    assert(snap()(5L) === (("e", Some(50L))))
    // a SECOND merge on the evolved table (schema recorded, files
    // mixed): the union read NULL-fills old files so the scan sees the
    // full merged schema
    val st2 = IcebergLog.merge(spark, tbl,
      Seq((2L, "B", 20L)).toDF("id", "v", "w"), Seq("id"))
    assert(st2.rowsUpdated === 1L && st2.rowsInserted === 0L)
    assert(snap()(2L) === (("B", Some(20L))))
    // CoW deleteWhere on the evolved table restages survivors through
    // the footer-UNION read — the evolved column must survive even when
    // the touched file predates the evolution (single-footer inference
    // would silently drop it)
    val ds = IcebergLog.deleteWhere(spark, tbl, col("id") === 3L)
    assert(ds.rowsDeleted === 1L)
    assert(snap() === Map(
      1L -> (("A", Some(10L))), 2L -> (("B", Some(20L))),
      4L -> (("d", None)), 5L -> (("e", Some(50L))),
      9L -> (("I", Some(90L)))))
    // compaction over the mixed files keeps the evolved values too
    IcebergLog.rewriteDataFiles(spark, tbl)
    assert(snap()(2L) === (("B", Some(20L))) && snap()(4L) === (("d", None)))
    // MoR merge on the EVOLVED table: the footer-union match scan finds
    // the key, the kill is positional (schema-blind), the batch appends
    // in the merged shape — no data file rewrites
    val msMor = IcebergLog.mergeMoR(spark, tbl,
      Seq((4L, "D", 40L)).toDF("id", "v", "w"), Seq("id"))
    assert(msMor.rowsUpdated === 1L && msMor.rowsInserted === 0L &&
      msMor.filesRewritten === 0)
    assert(snap()(4L) === (("D", Some(40L))))
    IcebergLog.rewriteDataFiles(spark, tbl)
    assert(snap()(4L) === (("D", Some(40L))))
    // the changelog crosses the evolution snapshot: old-side rows
    // NULL-fill the new column, and the fold reproduces the live table
    val ch = IcebergLog.changesBetween(spark, tbl, 0L)
    val folded = ch.groupBy("id", "v", "w")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          col("_change_type") === "insert", 1).otherwise(-1)).as("n"))
      .filter(col("n") =!= 0).drop("n")
    val live = IcebergLog.read(spark, tbl).select($"id", $"v", $"w")
    assert(folded.exceptAll(live).isEmpty && live.exceptAll(folded).isEmpty,
      "changelog fold across the evolution does not reproduce the table")
  }

  test("Partitioned Iceberg evolution: spec-aligned ids, day tables evolve, misalignment refuses") {
    import graft.sources.IcebergLog
    import graft.sources.IcebergLog.SpecField
    val s = spark
    import s.implicits._
    // days-partitioned (the canonical 100 TB event layout): evolution
    // must keep tuples, NULL-fill old files, and leave day-range reads
    // row-exact
    val tbl = s"$tmp/ice_evolve_days"
    val day = 86400000000L // one day of micros
    val rows = (0 until 6).map(i => (i * day + 1L, i.toLong))
    IcebergLog.appendPartitionedSpec(rows.toDF("ts", "v").repartition(2),
      tbl, Seq(SpecField(1, "ts_day", "day", "ts")))
    val before = IcebergLog.liveEntries(tbl).map(_.path).toSet
    val src = Seq((1L * day + 1L, 10L, 100L), (9L * day + 1L, 9L, 900L))
      .toDF("ts", "v", "w")
    val st = IcebergLog.merge(spark, tbl, src, Seq("ts"), mergeSchema = true)
    assert(st.rowsUpdated === 1L && st.rowsInserted === 1L)
    val entries = IcebergLog.liveEntries(tbl)
    assert(entries.map(_.path).toSet.intersect(before).nonEmpty,
      "evolution rewrote every file")
    assert(entries.forall(_.partitionValues.keySet == Set("ts_day")),
      "a file lost its day tuple under evolution")
    // the FIRST schema record aligned its field ids with the spec's
    // source id: ts (spec source-id 1) must be field id 1 in the record
    val metaFile = new java.io.File(s"$tbl/metadata").listFiles()
      .filter(_.getName.matches("v\\d+\\.metadata\\.json"))
      .maxBy(_.getName.stripPrefix("v").stripSuffix(".metadata.json").toLong)
    val metaText = new String(
      java.nio.file.Files.readAllBytes(metaFile.toPath))
    assert(metaText.contains("""{"id":1,"name":"ts","""),
      s"schema record did not take the spec's source id: $metaText")
    // NULL-fill + updated values through the evolved partitioned read
    val m = IcebergLog.read(spark, tbl).select($"ts", $"v", $"w")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(m.size === 7 && m(1L * day + 1L) === ((10L, Some(100L))) &&
      m(0L * day + 1L) === ((0L, None)) &&
      m(9L * day + 1L) === ((9L, Some(900L))))
    // day-range reads stay row-exact on the evolved table
    val got = IcebergLog.readSourceRange(spark, tbl, "ts",
      Some(1L * day), Some(2L * day - 1L)).count()
    assert(got === 1L)
    // a spec history that shares one source id across two columns can
    // never gain an aligned record — evolution refuses loudly
    val bad = s"$tmp/ice_evolve_badspec"
    IcebergLog.appendPartitionedSpec(
      (0L until 4L).map(i => (i, i % 2, i * 3)).toDF("a", "b", "v")
        .repartition(1),
      bad, Seq(SpecField(1, "a"), SpecField(1, "b")))
    val e = intercept[IllegalArgumentException] {
      IcebergLog.merge(spark, bad,
        Seq((1L, 1L, 30L, 7L)).toDF("a", "b", "v", "w"), Seq("a"),
        mergeSchema = true)
    }
    assert(e.getMessage.contains("shares source id"))
  }

  test("Iceberg MoR merge: positional kills, partitioned tuples, dup targets refuse") {
    import graft.sources.IcebergLog
    import graft.sources.IcebergLog.SpecField
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_mor_merge"
    IcebergLog.appendPartitionedSpec(
      (0L until 100L).map(i => (i, i * 3)).toDF("id", "v").repartition(2),
      tbl, Seq(SpecField(1, "id_bucket", "bucket[4]", "id")))
    val before = IcebergLog.liveSplitEntries(tbl)._1.map(_.path).toSet
    val ms = IcebergLog.mergeMoR(spark, tbl,
      Seq((5L, -5L), (200L, -200L)).toDF("id", "v"), Seq("id"))
    assert(ms.rowsUpdated === 1L && ms.rowsInserted === 1L &&
      ms.filesRewritten === 0)
    val (dataNow, delsNow) = IcebergLog.liveSplitEntries(tbl)
    assert(before.subsetOf(dataNow.map(_.path).toSet))
    assert(delsNow.count(_.content == 1) === 1)
    // the appended batch files carry their bucket tuples (manifest
    // pruning stays exact after a MoR merge)
    assert(dataNow.forall(_.partitionValues.keySet == Set("id_bucket")))
    val m = IcebergLog.read(spark, tbl).as[(Long, Long)].collect().toMap
    assert(m.size === 101 && m(5L) === -5L && m(200L) === -200L &&
      m(7L) === 21L)
    // a MoR-DEAD key re-inserts, never resurrect-updates
    IcebergLog.deletePositionsWhere(spark, tbl, col("id") === 7L)
    val ms2 = IcebergLog.mergeMoR(spark, tbl,
      Seq((7L, 777L)).toDF("id", "v"), Seq("id"))
    assert(ms2.rowsUpdated === 0L && ms2.rowsInserted === 1L)
    assert(IcebergLog.read(spark, tbl).filter(col("id") === 7L)
      .as[(Long, Long)].collect().toSeq === Seq((7L, 777L)))
    // duplicate-key TARGETS refuse loudly (kill-and-insert would
    // collapse the multiplicity the CoW merge preserves)
    IcebergLog.appendPartitionedSpec(Seq((300L, 1L)).toDF("id", "v"),
      tbl, Seq(SpecField(1, "id_bucket", "bucket[4]", "id")))
    IcebergLog.appendPartitionedSpec(Seq((300L, 2L)).toDF("id", "v"),
      tbl, Seq(SpecField(1, "id_bucket", "bucket[4]", "id")))
    val e = intercept[IllegalArgumentException] {
      IcebergLog.mergeMoR(spark, tbl, Seq((300L, 9L)).toDF("id", "v"),
        Seq("id"))
    }
    assert(e.getMessage.contains("duplicate-key targets"))
    // empty batch: a no-op, not an empty snapshot
    val verBefore = IcebergLog.snapshots(tbl).map(_.snapshotId).max
    IcebergLog.mergeMoR(spark, tbl,
      Seq.empty[(Long, Long)].toDF("id", "v"), Seq("id"))
    assert(IcebergLog.snapshots(tbl).map(_.snapshotId).max === verBefore)
  }

  test("Iceberg snapshot refs: tags pin retention, main tracks head, drops reclaim") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_refs"
    val s1 = IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl)
    assert(IcebergLog.refs(tbl) === Map("main" -> ((s1, "branch"))))
    assert(IcebergLog.createRef(tbl, "v1-corpus") === s1)
    val s2 = IcebergLog.append(Seq((3L, "c")).toDF("id", "v"), tbl)
    // main advanced with the head; the tag stayed put
    assert(IcebergLog.refs(tbl) === Map(
      "main" -> ((s2, "branch")), "v1-corpus" -> ((s1, "tag"))))
    def tagIds(): Seq[Long] = IcebergLog.readRef(spark, tbl, "v1-corpus")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(tagIds() === Seq(1L, 2L))
    // refusals: duplicate name, unknown snapshot, reserved main
    intercept[IllegalArgumentException](IcebergLog.createRef(tbl, "v1-corpus"))
    intercept[IllegalArgumentException](
      IcebergLog.createRef(tbl, "x", Some(999L)))
    intercept[IllegalArgumentException](IcebergLog.createRef(tbl, "main"))
    // expiry keeps the TAGGED snapshot even at keep=1
    IcebergLog.expireSnapshots(tbl, keep = 1)
    assert(IcebergLog.snapshots(tbl).map(_.snapshotId).sorted === Seq(s1, s2))
    assert(tagIds() === Seq(1L, 2L))
    // dropping the tag makes it expirable; the next expiry reclaims it
    IcebergLog.dropRef(tbl, "v1-corpus")
    intercept[IllegalArgumentException](IcebergLog.dropRef(tbl, "v1-corpus"))
    intercept[IllegalArgumentException](IcebergLog.dropRef(tbl, "main"))
    IcebergLog.expireSnapshots(tbl, keep = 1)
    assert(IcebergLog.snapshots(tbl).map(_.snapshotId) === Seq(s2))
    intercept[IllegalArgumentException](
      IcebergLog.readRef(spark, tbl, "v1-corpus"))
    // expired travel refuses loudly as ever
    intercept[IllegalArgumentException](
      IcebergLog.read(spark, tbl, Some(s1)).collect())
    ()
  }

  test("Iceberg partition evolution: per-spec manifests, sound pruning across epochs") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_spec_evolution"
    // epoch A partitioned by v (spec 0); epoch B by cat (spec 1)
    IcebergLog.appendPartitioned(
      Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "cat"), tbl,
      partitionBy = Seq(2 -> "v"))
    IcebergLog.appendPartitioned(
      Seq((3L, "a", "x"), (4L, "b", "y")).toDF("id", "v", "cat"), tbl,
      partitionBy = Seq(3 -> "cat"))
    val (specs, defaultId) = IcebergLog.partitionSpecs(tbl)
    assert(specs.map { case (id, fs) => id -> fs.map(_._2) } ===
      Seq(0 -> Seq("v"), 1 -> Seq("cat")))
    assert(defaultId === 1)
    // THE evolution pin: filtering on the NEW column must keep every
    // old-spec file (their spec lacks `cat` — "no info", not "null"),
    // and the residual filter makes the read row-exact: id=1 has cat=x
    // IN ITS DATA even though its file is partitioned by v
    val (kept, total) = IcebergLog.prunePartitions(tbl, Map("cat" -> "x"))
    assert(total === 4 && kept.size === 3,
      s"expected 2 old-spec + 1 matching new-spec file, got ${kept.size}")
    assert(IcebergLog.readPartition(spark, tbl, Map("cat" -> "x"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    // ...and symmetrically on the OLD column across new-spec files
    assert(IcebergLog.readPartition(spark, tbl, Map("v" -> "a"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    // re-declaring a known spec re-selects it without duplicating
    IcebergLog.appendPartitioned(
      Seq((5L, "c", "z")).toDF("id", "v", "cat"), tbl,
      partitionBy = Seq(2 -> "v"))
    val (specs2, default2) = IcebergLog.partitionSpecs(tbl)
    assert(specs2.size === 2 && default2 === 0)
    // compaction rewrites the WHOLE table under the default spec; the
    // answer is unchanged and pruning on it is exact again
    IcebergLog.rewriteDataFiles(spark, tbl)
    assert(IcebergLog.read(spark, tbl).count() === 5L)
    val (keptV, totalV) = IcebergLog.prunePartitions(tbl, Map("v" -> "a"))
    assert(keptV.size < totalV)
    assert(IcebergLog.readPartition(spark, tbl, Map("v" -> "a"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
  }

  test("Iceberg incremental append scan: operation dispatch, replace skip, refusals") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_incremental"
    val s1 = IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl)
    val s2 = IcebergLog.append(Seq((3L, "c")).toDF("id", "v"), tbl)
    val rs = IcebergLog.rewriteDataFiles(spark, tbl, targetFiles = 1)
    val s4 = IcebergLog.append(Seq((4L, "d")).toDF("id", "v"), tbl)
    def rows(from: Long, to: Option[Long] = None): Seq[(Long, Long)] =
      IcebergLog.appendsBetween(spark, tbl, from, to)
        .select("id", "_snapshot_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // from = 0: full history; replace contributes nothing
    assert(rows(0L) === Seq((1L, s1), (2L, s1), (3L, s2), (4L, s4)))
    assert(rows(s2) === Seq((4L, s4)))
    // bounded to the replace snapshot: empty but schema-complete
    val empty = IcebergLog.appendsBetween(spark, tbl, s2, Some(rs.snapshotId))
    assert(empty.count() === 0L &&
      empty.columns.toSet === Set("id", "v", "_snapshot_id"))
    // every snapshot records the spec-required operation summary
    val ops = IcebergLog.snapshots(tbl).map(sn =>
      sn.snapshotId -> sn.summary.get("operation"))
    assert(ops.toMap === Map(s1 -> Some("append"), s2 -> Some("append"),
      rs.snapshotId -> Some("replace"), s4 -> Some("append")))
    // a row-removing snapshot refuses; ranges before it still serve
    IcebergLog.deleteWhere(spark, tbl, col("id") === 1L)
    assert(intercept[IllegalArgumentException] {
      IcebergLog.appendsBetween(spark, tbl, s1)
    }.getMessage.contains("row-removing"))
    assert(rows(s1, Some(s4)) === Seq((3L, s2), (4L, s4)))
    // unknown snapshot ids refuse (expired history)
    assert(intercept[IllegalArgumentException] {
      IcebergLog.appendsBetween(spark, tbl, 999L)
    }.getMessage.contains("not in table metadata"))
  }

  test("Delta column mapping: name mode decodes (nested too), mutations refuse, id needs footer ids") {
    import java.io.File
    import java.nio.charset.StandardCharsets
    import org.apache.spark.sql.types._
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    def stageMapped(dir: String, mode: String): Unit = {
      new File(dir).mkdirs()
      val phys = Seq((1L, "x", "t1"), (2L, "y", "t2")).toDF("id", "v", "tag")
        .select(col("id").as("col-aa"), col("v").as("col-bb"),
          struct(col("tag").as("col-cc")).as("col-dd"))
      val stagingDir = s"$dir/.stage"
      phys.coalesce(1).write.parquet(stagingDir)
      val part = new File(stagingDir).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val data = new File(dir, "data-0.parquet")
      Files.move(part.toPath, data.toPath)
      def m(p: String, id: Int) = new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", p)
        .putLong("delta.columnMapping.id", id).build()
      val logical = StructType(Seq(
        StructField("id", LongType, nullable = true, m("col-aa", 1)),
        StructField("v", StringType, nullable = true, m("col-bb", 2)),
        StructField("info", StructType(Seq(
          StructField("tag", StringType, nullable = true, m("col-cc", 4)))),
          nullable = true, m("col-dd", 3))))
      def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
      val logDir = new File(dir, "_delta_log"); logDir.mkdirs()
      DeltaWrite.publish(logDir, 0L, Seq(
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"${esc(logical.json)}","partitionColumns":[],""" +
          s""""configuration":{"delta.columnMapping.mode":"$mode",""" +
          """"delta.columnMapping.maxColumnId":"4"}}}""",
        s"""{"add":{"path":"data-0.parquet","partitionValues":{},""" +
          s""""size":${data.length},"modificationTime":${data.lastModified},""" +
          """"dataChange":true}}"""))
    }
    val tbl = s"$tmp/delta_mapped"
    stageMapped(tbl, "name")
    // the scan comes back under LOGICAL names at every nesting level
    val df = DeltaLog.read(spark, tbl)
    assert(df.columns.toSeq === Seq("id", "v", "info"))
    assert(df.schema("info").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq === Seq("tag"))
    assert(df.selectExpr("id", "v", "info.tag").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq === Seq((1L, "x", "t1"), (2L, "y", "t2")))
    // readRange routes through the mapped scan (stats are physical-keyed
    // → nothing pruned, still row-exact)
    assert(DeltaLog.readRange(spark, tbl, "id", Some(2L), None)
      .select("v").collect().map(_.getString(0)).toSeq === Seq("y"))
    // every mutation runs first-class on mapped tables as of r17
    // (merge/deleteWhere/deleteWhereDv/purge/optimize/zorder — pinned in
    // their own specs); the surviving refusals are the CDF compositions,
    // asserted right after enablement below
    // enabling CDF preserves the mapping config, and the feed WORKS on
    // a mapped table: appends derive as inserts decoded through the
    // mapped schema (logical names), rename mid-feed is transparent —
    // every frame serves the range-end names because physicalName never
    // changes (real Delta's CDF-under-mapping behavior)
    DeltaWrite.enableChangeDataFeed(spark, tbl)
    assert(DeltaWrite.cdfEnabled(spark, tbl))
    // mapped + CDF mutations are pinned end-to-end in their own spec
    // ("mapped mutations publish a decodable change feed")
    assert(DeltaLog.read(spark, tbl).count() === 2L) // still decodes
    DeltaWrite.append(Seq((3L, "z", "t3")).toDF("id", "v", "tag")
      .select(col("id"), col("v"), struct(col("tag")).as("info")), tbl)
    DeltaWrite.renameColumn(spark, tbl, "v", "word")
    DeltaWrite.append(Seq((4L, "w", "t4")).toDF("id", "word", "tag")
      .select(col("id"), col("word"), struct(col("tag")).as("info")), tbl)
    val feed = DeltaLog.tableChanges(spark, tbl, 1L)
    assert(feed.columns.contains("word") && !feed.columns.contains("v"),
      s"mapped feed did not serve range-end names: ${feed.columns.toSeq}")
    assert(feed.filter(col("_change_type") === "insert")
      .select("id", "word").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ===
      Seq((3L, "z"), (4L, "w")))
    // id mode resolves by parquet FOOTER field id — this fixture's files
    // were staged without ids, so the scan fails loudly (Spark's
    // field-id matcher) instead of silently falling back to name
    // guessing; a properly id-stamped table decodes (x40b + the upgrade
    // spec cover the positive path)
    val tbl2 = s"$tmp/delta_mapped_id"
    stageMapped(tbl2, "id")
    val e2 = intercept[Throwable] { DeltaLog.read(spark, tbl2).collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e2).exists(_.toLowerCase.contains("field id")),
      s"expected a missing-field-id failure, got: ${msgs(e2).mkString(" | ")}")
  }

  test("Delta change data feed: cdc exactness, derivation, invisibility, retention") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_cdf_spec"
    def feed(from: Long): Seq[(Long, String, String, Long)] =
      DeltaLog.tableChanges(spark, tbl, from)
        .select("id", "v", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).sortBy(t => (t._4, t._3, t._1)).toSeq
    DeltaWrite.append((1L to 4L).map(i => (i, s"a$i")).toDF("id", "v")
      .repartition(1), tbl) // v0: pre-CDF
    assert(!DeltaWrite.cdfEnabled(spark, tbl))
    assert(DeltaWrite.enableChangeDataFeed(spark, tbl) === 1L)
    assert(DeltaWrite.cdfEnabled(spark, tbl))
    DeltaWrite.append(Seq((5L, "a5"), (6L, "a6")).toDF("id", "v")
      .repartition(1), tbl) // v2: derived inserts
    DeltaWrite.merge(tbl, Seq((5L, "B5"), (9L, "b9")).toDF("id", "v"),
      Seq("id")) // v3: cdc update + insert
    DeltaWrite.deleteWhereDv(spark, tbl, col("id") === 1L) // v4: cdc delete
    DeltaWrite.purgeDeletionVectors(spark, tbl) // v5: invisible
    DeltaWrite.optimize(spark, tbl, smallFileBytes = 1L << 30) // v6: invisible
    assert(feed(2L) === Seq(
      (5L, "a5", "insert", 2L), (6L, "a6", "insert", 2L),
      (9L, "b9", "insert", 3L), (5L, "B5", "update_postimage", 3L),
      (5L, "a5", "update_preimage", 3L),
      (1L, "a1", "delete", 4L)))
    // the merge's cdc rows came from a change file, not derivation
    assert(new java.io.File(tbl, "_change_data").listFiles()
      .count(_.getName.endsWith(".parquet")) >= 2)
    // CoW delete on the CDF table reports ONLY the deleted row (survivors
    // of the rewritten file must not appear as delete+insert)
    DeltaWrite.deleteWhere(spark, tbl, col("id") === 6L) // v7
    assert(feed(7L) === Seq((6L, "a6", "delete", 7L)))
    // maintenance-only range: empty feed, full schema
    val empty = DeltaLog.tableChanges(spark, tbl, 5L, Some(6L))
    assert(empty.count() === 0L)
    assert(empty.columns.toSet === Set("id", "v", "_change_type",
      "_commit_version", "_commit_timestamp"))
    // pre-enablement history is not readable as a feed
    assert(intercept[IllegalArgumentException] {
      DeltaLog.tableChanges(spark, tbl, 0L)
    }.getMessage.contains("enableChangeDataFeed"))
    // a DV commit without cdc actions (foreign writer) refuses derivation
    val adds = DeltaLog.liveAdds(spark, tbl)
    val one = adds.head
    DeltaWrite.publish(new java.io.File(tbl, "_delta_log"), 8L, Seq(
      s"""{"remove":{"path":"${one.recordedPath}","dataChange":true}}""",
      s"""{"add":{"path":"${one.recordedPath}","partitionValues":{},"size":1,""" +
        """"modificationTime":1,"dataChange":true,""" +
        """"deletionVector":{"storageType":"i","pathOrInlineDv":"00000","sizeInBytes":4,"cardinality":0}}}"""))
    assert(intercept[IllegalArgumentException] {
      DeltaLog.tableChanges(spark, tbl, 8L)
    }.getMessage.contains("cdc"))
    // retention: vacuum reclaims aged change files; the feed then refuses
    DeltaWrite.vacuum(spark, tbl, olderThanMs = 0L)
    assert(new java.io.File(tbl, "_change_data").listFiles()
      .count(_.getName.endsWith(".parquet")) === 0)
    assert(intercept[IllegalArgumentException] {
      DeltaLog.tableChanges(spark, tbl, 2L, Some(4L)).collect()
    }.getMessage.contains("vacuumed"))
  }

  test("Delta DV restore: re-adds carry the epoch's descriptor; vacuumed DV refused") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_dv_restore"
    DeltaWrite.append((1L to 6L).map(i => (i, "a")).toDF("id", "v")
      .repartition(1), tbl) // v0
    val d1 = DeltaWrite.deleteWhereDv(spark, tbl, col("id") <= 2L) // v1
    DeltaWrite.deleteWhereDv(spark, tbl, col("id") === 3L) // v2: union DV
    def ids(): Seq[Long] = DeltaLog.read(spark, tbl).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids() === Seq(4L, 5L, 6L))
    // restore to the v1 epoch: same path, DIFFERENT descriptor — the
    // re-add must carry v1's DV, not keep v2's
    val st = DeltaWrite.restoreTo(spark, tbl, d1.version)
    assert(st.filesRemoved === 1 && st.filesReAdded === 1)
    assert(ids() === Seq(3L, 4L, 5L, 6L))
    // restore to the no-DV epoch resurrects everything
    DeltaWrite.restoreTo(spark, tbl, 0L)
    assert(ids() === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // drop every descriptor-bearing epoch's DV file, then restoring to
    // a DV epoch refuses loudly
    new java.io.File(tbl).listFiles()
      .filter(_.getName.endsWith(".bin")).foreach(_.delete())
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.restoreTo(spark, tbl, d1.version)
    }
    assert(e.getMessage.contains("deletion-vector"))
  }

  test("CONVERT TO DELTA adopts a hive-partitioned layout in place") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/convert_part"
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0),
      (4L, null, 4.0)).toDF("id", "cat", "v")
    df.write.partitionBy("cat").parquet(tbl)
    val before = {
      def walk(f: java.io.File): Seq[String] =
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
          case d if d.isDirectory => walk(d)
          case p if p.getName.endsWith(".parquet") => Seq(p.getPath)
          case _ => Seq.empty
        }
      walk(new java.io.File(tbl)).toSet
    }
    // the file manifest (listing + footer stats) is collected by a
    // DISTRIBUTED job, not a driver stat loop — pin via the job
    // description (at 10⁶ adopted files the driver walk was the
    // bottleneck real CONVERT avoids the same way)
    val manifestJobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (desc == "graft convert manifest") manifestJobs.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try DeltaWrite.convertParquet(spark, tbl, Seq("cat"))
    finally {
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(l)
    }
    assert(manifestJobs.get === 1,
      s"expected one distributed manifest job, saw ${manifestJobs.get}")
    // zero copy: exactly the same physical files, now under a log
    val live = DeltaLog.liveAdds(spark, tbl).map(_.path).toSet
    assert(live === before && before.nonEmpty)
    // partition values were harvested from the directory names,
    // including the null partition
    val back = DeltaLog.read(spark, tbl)
    assert(back.count() === 4L)
    assert(back.filter(col("cat").isNull).select("id")
      .collect().map(_.getLong(0)).toSeq === Seq(4L))
    assert(back.filter(col("cat") === "a").count() === 2L)
    // the adopted table is first-class: a partitioned append lands on top
    DeltaWrite.appendPartitioned(Seq((9L, "z", 9.0)).toDF("id", "cat", "v"),
      tbl, Seq("cat"))
    val after = DeltaLog.read(spark, tbl)
    assert(after.count() === 5L)
    assert(after.filter(col("cat") === "z").select("id")
      .head.getLong(0) === 9L)
  }

  test("CONVERT TO DELTA refuses re-conversion, layout mismatch, empty dirs") {
    import graft.sources.DeltaWrite
    val s = spark
    import s.implicits._
    val flat = s"$tmp/convert_refuse_flat"
    Seq((1L, "a")).toDF("id", "cat").write.parquet(flat)
    DeltaWrite.convertParquet(spark, flat)
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.convertParquet(spark, flat)
    }.getMessage.contains("already a Delta table"))
    val part = s"$tmp/convert_refuse_part"
    Seq((1L, "a")).toDF("id", "cat").write.partitionBy("cat").parquet(part)
    // declaring no partition columns against a hive layout must refuse —
    // the files would lose their partition values
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.convertParquet(spark, part)
    }.getMessage.contains("partitionCols"))
    val empty = s"$tmp/convert_refuse_empty"
    new java.io.File(empty).mkdirs()
    assert(intercept[Exception] {
      DeltaWrite.convertParquet(spark, empty)
    } != null)
  }

  test("CONVERT streams a many-file manifest; no driver materialization residue") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    // a deliberately file-heavy fixture: 3 partitions x 32 data files.
    // The commit must carry one add per file with stats, assembled by
    // STREAMING the executor-staged slice files (bounded driver heap is
    // structural: each slice writes rendered actions to a text file and
    // the driver copies them one buffered line at a time) — what this
    // pin CAN observe from outside: the version-0 JSON is complete and
    // ordered, and no `.graft-manifest-*` staging survives under
    // _delta_log on success OR on the layout-mismatch refusal.
    val tbl = s"$tmp/convert_stream"
    spark.range(96).select(col("id"),
        (col("id") % 3).cast("string").as("cat"))
      .repartition(32, col("id"))
      .write.partitionBy("cat").parquet(tbl)
    DeltaWrite.convertParquet(spark, tbl, Seq("cat"))
    val logDir = new java.io.File(tbl, "_delta_log")
    assert(Option(logDir.listFiles()).getOrElse(Array.empty)
      .forall(!_.getName.startsWith(".graft-manifest")),
      "manifest staging leaked into _delta_log")
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      new java.io.File(logDir, "0" * 19 + "0.json").toPath)
    val adds = lines.asScala.count(_.startsWith("{\"add\""))
    val files = DeltaLog.liveAdds(spark, tbl)
    assert(adds === files.size && adds >= 32,
      s"streamed commit carried $adds adds for ${files.size} live files")
    assert(files.forall(_.statsJson.nonEmpty),
      "streamed adds lost their footer stats")
    assert(DeltaLog.read(spark, tbl).count() === 96L)
    // the layout-mismatch refusal cleans its staging too
    val bad = s"$tmp/convert_stream_bad"
    Seq((1L, "a")).toDF("id", "cat").write.partitionBy("cat").parquet(bad)
    intercept[IllegalArgumentException] {
      DeltaWrite.convertParquet(spark, bad) // no partitionCols declared
    }
    val badLog = new java.io.File(bad, "_delta_log")
    assert(Option(badLog.listFiles()).getOrElse(Array.empty)
      .forall(!_.getName.startsWith(".graft-manifest")),
      "refused convert leaked manifest staging")
  }

  test("Iceberg addFiles adopts into an existing table; CONVERT TO ICEBERG verb") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    // adopt into an EXISTING table: the prior live set carries forward
    val tbl = s"$tmp/ice_addfiles_existing"
    val extra = s"$tmp/ice_addfiles_extra"
    IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl,
      Seq(1 -> "id"))
    Seq((3L, "c"), (4L, "d")).toDF("id", "v")
      .coalesce(1).write.parquet(extra)
    IcebergLog.addFiles(tbl, extra, Seq(1 -> "id"))
    assert(IcebergLog.read(spark, tbl).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    // prior snapshot still time-travels without the adopted rows
    val sids = IcebergLog.snapshots(tbl).map(_.snapshotId)
    assert(IcebergLog.read(spark, tbl, Some(sids.head)).count() === 2L)
    // in-place SQL verb: the directory's own files become the table
    val dir = s"$tmp/ice_convert_verb"
    Seq((7L, "x"), (8L, "y")).toDF("id", "v").write.parquet(dir)
    val ctx = new graft.exec.ExecutionContext(spark)
    ctx.runScript(s"CONVERT TO ICEBERG '$dir'")
    assert(IcebergLog.read(spark, dir).count() === 2L)
    // metadata landed beside the files; the files did not move
    assert(new java.io.File(dir, "metadata").isDirectory)
    assert(Option(new java.io.File(dir).listFiles()).get
      .exists(f => f.isFile && f.getName.endsWith(".parquet")))
  }

  test("UniForm refuses DVs and Iceberg-side writes; translates partitions and both mapping modes") {
    import graft.sources.{DeltaLog, DeltaWrite, IcebergLog, Uniform}
    import org.apache.spark.sql.types._
    val s = spark
    import s.implicits._
    // live deletion vectors: an Iceberg reader would resurrect the rows
    val dvTbl = s"$tmp/uniform_dv"
    DeltaWrite.append((1L to 4L).map(i => (i, "a")).toDF("id", "v")
      .repartition(1), dvTbl)
    DeltaWrite.deleteWhereDv(spark, dvTbl, col("id") === 1L)
    assert(intercept[IllegalArgumentException] {
      Uniform.deltaToIceberg(spark, dvTbl)
    }.getMessage.contains("deletion vectors"))
    // partitioned tables TRANSLATE: identity spec + typed structs,
    // mirror reads re-inject the partition column from manifests
    val pTbl = s"$tmp/uniform_part"
    DeltaWrite.appendPartitioned(
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "cat"), pTbl, Seq("cat"))
    assert(Uniform.deltaToIceberg(spark, pTbl).snapshotId.isDefined)
    val mirrored = IcebergLog.read(spark, pTbl)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(mirrored.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "a")))
    val (kept, total) = IcebergLog.prunePartitions(pTbl, Map("cat" -> "a"))
    assert(kept.size < total, "identity spec did not prune the mirror")
    // NAME-mode mapping TRANSLATES via the spec's name-mapping property:
    // files carry physical names and no footer ids, so the mirror emits
    // schema.name-mapping.default (field id → physical name) and the
    // Iceberg read resolves through it — including after a rename, where
    // the physical name DIVERGES from the logical one
    val nTbl = s"$tmp/uniform_name_mapped"
    DeltaWrite.append(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), nTbl)
    DeltaWrite.enableColumnMapping(spark, nTbl)
    DeltaWrite.renameColumn(spark, nTbl, "v", "val")
    assert(Uniform.deltaToIceberg(spark, nTbl).snapshotId.isDefined)
    val nIce = IcebergLog.read(spark, nTbl)
    assert(nIce.columns.toSeq === Seq("id", "val"),
      s"name-mapped mirror lost logical names: ${nIce.columns.toSeq}")
    assert(nIce.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((1L, "x"), (2L, "y")))
    // EXPIRY preserves the mapping: the metadata rewrite on a snapshot
    // drop must carry schema.name-mapping.default forward — dropping it
    // sends readers down the footer-field-id branch against files that
    // carry no field ids (regression: expireSnapshots omitted the
    // nameMapping argument)
    DeltaWrite.append(Seq((3L, "z")).toDF("id", "val"), nTbl)
    assert(Uniform.deltaToIceberg(spark, nTbl).snapshotId.isDefined)
    IcebergLog.expireSnapshots(nTbl, keep = 1)
    val nExp = IcebergLog.read(spark, nTbl)
    assert(nExp.columns.toSeq === Seq("id", "val"),
      s"expiry dropped the name mapping: ${nExp.columns.toSeq}")
    assert(nExp.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((1L, "x"), (2L, "y"), (3L, "z")))
    // ID-mode mapping TRANSLATES: footer field ids become the Iceberg
    // schema's field ids; the mirror records a schema and resolves by
    // id, so the physical Delta names are irrelevant
    val iTbl = s"$tmp/uniform_id_mapped"
    new java.io.File(iTbl).mkdirs()
    s.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    def fid(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val staging = s"$iTbl/.stage"
    Seq((10L, "p"), (20L, "q")).toDF("id", "v")
      .select(col("v").as("phys_v", fid(2)), col("id").as("phys_k", fid(1)))
      .coalesce(1).write.parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val data0 = new java.io.File(iTbl, "data-0.parquet")
    Files.move(part.toPath, data0.toPath)
    def m(p: String, id: Int) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", p)
      .putLong("delta.columnMapping.id", id).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, m("phys_k", 1)),
      StructField("v", StringType, nullable = true, m("phys_v", 2))))
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    val logDir = new java.io.File(iTbl, "_delta_log"); logDir.mkdirs()
    DeltaWrite.publish(logDir, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"um","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"${esc(logical.json)}","partitionColumns":[],""" +
        """"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"}}}""",
      s"""{"add":{"path":"data-0.parquet","partitionValues":{},""" +
        s""""size":${data0.length},"modificationTime":${data0.lastModified},""" +
        """"dataChange":true}}"""))
    assert(Uniform.deltaToIceberg(spark, iTbl).snapshotId.isDefined)
    // the mirror reads LOGICAL names by field id — identical to the
    // Delta truth
    val ice = IcebergLog.read(spark, iTbl)
    assert(ice.columns.toSeq === Seq("id", "v"))
    assert(ice.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((10L, "p"), (20L, "q")))
    assert(DeltaLog.read(spark, iTbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((10L, "p"), (20L, "q")))
    // a write through the Iceberg view diverges the mirror: refuse
    val wTbl = s"$tmp/uniform_icewrite"
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), wTbl)
    Uniform.deltaToIceberg(spark, wTbl)
    IcebergLog.deleteEqualityKeys(wTbl, Seq(1L).toDF("id"), Seq(1))
    DeltaWrite.append(Seq((3L, "c")).toDF("id", "v"), wTbl)
    assert(intercept[IllegalArgumentException] {
      Uniform.deltaToIceberg(spark, wTbl)
    }.getMessage.contains("derived"))
  }

  test("UniForm mirrors bounds for pruning and ops honestly across syncs") {
    import graft.sources.{DeltaWrite, IcebergLog, Uniform}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/uniform_bounds"
    DeltaWrite.append((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, col("id")), tbl)
    val s1 = Uniform.deltaToIceberg(spark, tbl, Seq(1 -> "id"))
    assert(s1.snapshotId.isDefined)
    // footer bounds landed in the mirror's manifests: metadata-only
    // pruning works on the Iceberg view
    val (kept, total) = IcebergLog.pruneByLongBounds(tbl, 1,
      Some(1L), Some(20L))
    assert(kept.size < total && total === 4)
    // an append mirrors as `append` (incremental-scan friendly)…
    DeltaWrite.append(Seq((200L, "x")).toDF("id", "v"), tbl)
    val s2 = Uniform.deltaToIceberg(spark, tbl, Seq(1 -> "id"))
    val snaps = IcebergLog.snapshots(tbl)
    assert(snaps.last.summary("operation") === "append")
    assert(snaps.last.summary("delta-version") === "1")
    val incr = IcebergLog.appendsBetween(spark, tbl,
      s1.snapshotId.get, s2.snapshotId)
    assert(incr.select("id").collect().map(_.getLong(0)).toSeq === Seq(200L))
    // …a row-removing Delta op mirrors as `overwrite`
    DeltaWrite.deleteWhere(spark, tbl, col("id") <= 10L)
    Uniform.deltaToIceberg(spark, tbl, Seq(1 -> "id"))
    assert(IcebergLog.snapshots(tbl).last.summary("operation") === "overwrite")
    assert(IcebergLog.read(spark, tbl).count() ===
      graft.sources.DeltaLog.read(spark, tbl).count())
  }

  test("shallow clone: vacuum safety, DV refusal, existing-target refusal") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val src = s"$tmp/clone_spec_src"
    val dst = s"$tmp/clone_spec_dst"
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)
    DeltaWrite.cloneShallow(spark, src, dst)
    // vacuum on the CLONE must never reclaim the source's files (they
    // live outside the clone root and are not candidates)
    DeltaWrite.vacuum(spark, dst, olderThanMs = 0L)
    assert(DeltaLog.read(spark, src).count() === 2L)
    assert(DeltaLog.read(spark, dst).count() === 2L)
    // cloning onto an existing table refuses
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.cloneShallow(spark, src, dst)
    }.getMessage.contains("already a Delta table"))
    // a DV-carrying source refuses (descriptor paths would dangle)
    val dvSrc = s"$tmp/clone_spec_dvsrc"
    DeltaWrite.append((1L to 4L).map(i => (i, "a")).toDF("id", "v")
      .repartition(1), dvSrc)
    DeltaWrite.deleteWhereDv(spark, dvSrc, col("id") === 1L)
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.cloneShallow(spark, dvSrc, s"$tmp/clone_spec_dvdst")
    }.getMessage.contains("deletion vectors"))
  }

  test("reverse UniForm refuses divergence, delete files, foreign Delta logs") {
    import graft.sources.{DeltaWrite, IcebergLog, Uniform}
    val s = spark
    import s.implicits._
    // a write through the DERIVED Delta side diverges the ledger: refuse
    val tbl = s"$tmp/rev_uniform_diverge"
    IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl)
    Uniform.icebergToDelta(spark, tbl)
    assert(graft.sources.DeltaLog.read(spark, tbl).count() === 2L)
    DeltaWrite.append(Seq((9L, "z")).toDF("id", "v"), tbl) // foreign write
    IcebergLog.append(Seq((3L, "c")).toDF("id", "v"), tbl)
    assert(intercept[IllegalArgumentException] {
      Uniform.icebergToDelta(spark, tbl)
    }.getMessage.contains("diverged"))
    // live v2 delete files: a Delta reader would resurrect the rows
    val dTbl = s"$tmp/rev_uniform_dels"
    IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dTbl)
    IcebergLog.deleteEqualityKeys(dTbl, Seq(1L).toDF("id"), Seq(1))
    assert(intercept[IllegalArgumentException] {
      Uniform.icebergToDelta(spark, dTbl)
    }.getMessage.contains("delete files"))
    // an independent Delta table in the same root is never overwritten
    val iTbl = s"$tmp/rev_uniform_foreign"
    DeltaWrite.append(Seq((1L, "a")).toDF("id", "v"), iTbl)
    IcebergLog.append(Seq((2L, "b")).toDF("id", "v"), iTbl)
    assert(intercept[IllegalArgumentException] {
      Uniform.icebergToDelta(spark, iTbl)
    }.getMessage.contains("not a mirror"))
  }

  test("reverse UniForm mirrors partitioned Iceberg and compacted tables") {
    import graft.sources.{DeltaLog, IcebergLog, Uniform}
    val s = spark
    import s.implicits._
    // Iceberg keeps partition columns IN the files, so a partitioned
    // source mirrors as a plain Delta scan with those columns intact
    val tbl = s"$tmp/rev_uniform_part"
    IcebergLog.appendPartitioned(
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "cat"),
      tbl, partitionBy = Seq(2 -> "cat"))
    Uniform.icebergToDelta(spark, tbl)
    val back = DeltaLog.read(spark, tbl)
    assert(back.count() === 3L)
    assert(back.filter(col("cat") === "a").count() === 2L)
    // a compaction (replace snapshot) resyncs as adds + removes and the
    // view stays row-identical
    IcebergLog.append(Seq((4L, "c"), (5L, "d")).toDF("id", "cat"), tbl)
    IcebergLog.rewriteDataFiles(spark, tbl, targetFiles = 1)
    val r = Uniform.icebergToDelta(spark, tbl)
    assert(r.version.isDefined && r.filesAdded >= 1 && r.filesRemoved >= 1)
    assert(DeltaLog.read(spark, tbl).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("mirror fuzz: random lifecycles keep both protocol views row-identical") {
    import graft.sources.{DeltaLog, DeltaWrite, IcebergLog, Uniform}
    val s = spark
    import s.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select("id", "v").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

    // forward: Delta is the truth, random append/delete/merge/optimize,
    // sync after every step, Iceberg view must match exactly
    val rnd = new scala.util.Random(4242)
    val fwd = s"$tmp/mirror_fuzz_fwd"
    var nextId = 100L
    DeltaWrite.append((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4), fwd)
    Uniform.deltaToIceberg(spark, fwd)
    (1 to 8).foreach { step =>
      rnd.nextInt(4) match {
        case 0 =>
          DeltaWrite.append((nextId to nextId + 9L)
            .map(i => (i, s"v$i")).toDF("id", "v"), fwd)
          nextId += 10L
        case 1 => // bounded delete: never empties the table
          DeltaWrite.deleteWhere(spark, fwd,
            col("id") % 7 === (step % 7).toLong && col("id") > 5L)
        case 2 =>
          DeltaWrite.merge(fwd, (nextId - 5L to nextId)
            .map(i => (i, s"m$i")).toDF("id", "v"), keys = Seq("id"))
          nextId += 1L
        case 3 =>
          DeltaWrite.optimize(spark, fwd, smallFileBytes = 128L << 20)
      }
      Uniform.deltaToIceberg(spark, fwd)
      assert(rows(IcebergLog.read(spark, fwd)) ===
        rows(DeltaLog.read(spark, fwd)), s"forward mirror diverged at step $step")
    }

    // reverse: Iceberg is the truth, random append/CoW-delete/compaction,
    // sync after every step, Delta view must match exactly
    val rev = s"$tmp/mirror_fuzz_rev"
    IcebergLog.append((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4), rev)
    Uniform.icebergToDelta(spark, rev)
    (1 to 8).foreach { step =>
      rnd.nextInt(3) match {
        case 0 =>
          IcebergLog.append((nextId to nextId + 9L)
            .map(i => (i, s"v$i")).toDF("id", "v"), rev)
          nextId += 10L
        case 1 =>
          IcebergLog.deleteWhere(spark, rev,
            col("id") % 5 === (step % 5).toLong && col("id") > 5L)
        case 2 =>
          IcebergLog.rewriteDataFiles(spark, rev, targetFiles = 2)
      }
      Uniform.icebergToDelta(spark, rev)
      assert(rows(DeltaLog.read(spark, rev)) ===
        rows(IcebergLog.read(spark, rev)), s"reverse mirror diverged at step $step")
    }
  }

  test("OPTIMIZE ZORDER BY: SQL verb dispatch, row fidelity, refusals") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/zorder_verb"
    val df = (1L to 400L).map(i => (i, (i * 37L) % 400L, s"v$i"))
      .toDF("a", "b", "v")
    DeltaWrite.append(df.repartition(4), tbl)
    // the SQL verb routes ZORDER BY to the curve rewrite
    val ctx = new graft.exec.ExecutionContext(spark)
    val out = ctx.runScript(s"OPTIMIZE '$tbl' ZORDER BY (a, b)").last
    assert(out.columns.toSeq === Seq("files_compacted"))
    assert(out.head.getLong(0) === 4L)
    // rows byte-identical after the re-clustering
    assert(DeltaLog.read(spark, tbl).select("a", "b", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq ===
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sortBy(_._1).toSeq)
    // refusals: a single column is a plain sort, not a curve; unknown
    // columns refuse before any rewrite
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.optimizeZOrder(spark, tbl, Seq("a"))
    }.getMessage.contains("at least 2"))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.optimizeZOrder(spark, tbl, Seq("a", "nope"))
    }.getMessage.contains("not in table"))
  }

  test("VACUUM DRY RUN lists reclaim candidates without deleting") {
    import graft.sources.DeltaWrite
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/vacuum_dry"
    DeltaWrite.append(Seq((1L, "a")).toDF("id", "v"), tbl)
    DeltaWrite.overwrite(Seq((2L, "b")).toDF("id", "v"), tbl) // tombstones v0
    def onDisk(): Int = Option(new java.io.File(tbl).listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = onDisk()
    // SQL verb: candidates listed, nothing touched
    val ctx = new graft.exec.ExecutionContext(spark)
    val dry = ctx.runScript(s"VACUUM '$tbl' RETAIN 0 HOURS DRY RUN").last
    assert(dry.columns.toSeq === Seq("files_reclaimable"))
    assert(dry.head.getLong(0) >= 1L)
    assert(onDisk() === before)
    // the real vacuum then reclaims exactly what the dry run named
    val removed = DeltaWrite.vacuum(spark, tbl, olderThanMs = 0L)
    assert(removed.size.toLong === dry.head.getLong(0))
    assert(onDisk() === before - removed.size)
  }

  test("Iceberg rollback: post-rollback appends build on the target lineage") {
    import graft.sources.IcebergLog
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_rollback_spec"
    val s1 = IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl)
    IcebergLog.deleteWhere(spark, tbl, col("id") === 1L) // s2: bad delete
    // RESTORE SQL verb dispatches to rollbackTo on an Iceberg path
    val ctx = new graft.exec.ExecutionContext(spark)
    ctx.runScript(s"RESTORE TABLE '$tbl' TO VERSION AS OF $s1")
    assert(IcebergLog.read(spark, tbl).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // the next commit builds on the TARGET, not the rolled-over head
    IcebergLog.append(Seq((3L, "c")).toDF("id", "v"), tbl)
    assert(IcebergLog.read(spark, tbl).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    // refusals: unknown snapshot; rolling back to the current head
    assert(intercept[IllegalArgumentException] {
      IcebergLog.rollbackTo(tbl, 999L)
    }.getMessage.contains("unknown snapshot"))
    assert(intercept[IllegalArgumentException] {
      val cur = IcebergLog.snapshots(tbl).map(_.snapshotId).max
      IcebergLog.rollbackTo(tbl, cur)
    }.getMessage.contains("already current"))
  }

  test("CHECK constraints: all write paths enforce, NULL passes, protocol bumps") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/check_spec"
    DeltaWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl)
    // a constraint cannot be born violated
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.addCheckConstraint(spark, tbl, "id_big", "id > 1")
    }.getMessage.contains("existing row violates"))
    DeltaWrite.addCheckConstraint(spark, tbl, "id_pos", "id > 0")
    assert(DeltaLog.checkConstraints(spark, tbl) === Map("id_pos" -> "id > 0"))
    // the constraint commit bumped the writer protocol
    val (_, mw, _, _) = DeltaLog.currentProtocol(tbl)
    assert(mw >= 3)
    // duplicate add / unknown drop refuse
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.addCheckConstraint(spark, tbl, "id_pos", "id > 0")
    }.getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.dropCheckConstraint(spark, tbl, "nope")
    }.getMessage.contains("no such constraint"))
    // every write path enforces: append, idempotent append, overwrite,
    // merge
    val bad = Seq((-7L, "x")).toDF("id", "v")
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.append(bad, tbl)
    }.getMessage.contains("id_pos"))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.appendIdempotent(bad, tbl, "app", 99L)
    }.getMessage.contains("id_pos"))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.overwrite(bad, tbl)
    }.getMessage.contains("id_pos"))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.merge(tbl, bad, keys = Seq("id"))
    }.getMessage.contains("id_pos"))
    // SQL-standard CHECK: a NULL evaluation PASSES (only FALSE violates)
    DeltaWrite.append(Seq((Option.empty[Long], "n")).toDF("id", "v"), tbl)
    assert(DeltaLog.read(spark, tbl).count() === 3L)
    // a partitioned table enforces too
    val ptbl = s"$tmp/check_spec_part"
    DeltaWrite.appendPartitioned(Seq((1L, "a")).toDF("id", "cat"),
      ptbl, Seq("cat"))
    DeltaWrite.addCheckConstraint(spark, ptbl, "id_pos", "id > 0")
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.appendPartitioned(Seq((-1L, "z")).toDF("id", "cat"),
        ptbl, Seq("cat"))
    }.getMessage.contains("id_pos"))
  }

  test("delta_files TVF: sizes, record counts, partitions, DV flags") {
    import graft.sources.{DeltaWrite}
    val s = spark
    import s.implicits._
    val ctx = new graft.exec.ExecutionContext(spark)
    val tbl = s"$tmp/delta_files_tvf"
    DeltaWrite.append((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(1), tbl)
    DeltaWrite.deleteWhereDv(spark, tbl, col("id") === 2L)
    val row = ctx.sql(s"SELECT size_bytes, record_count, partition, " +
      s"has_deletion_vector FROM delta_files('$tbl')").collect()
    assert(row.length === 1)
    assert(row.head.getLong(0) > 0L)
    assert(row.head.getLong(1) === 6L) // physical rows; DV masks at read
    assert(row.head.isNullAt(2))
    assert(row.head.getBoolean(3))
    // partitioned: the tuple surfaces
    val ptbl = s"$tmp/delta_files_tvf_part"
    DeltaWrite.appendPartitioned(Seq((1L, "a"), (2L, "b")).toDF("id", "cat"),
      ptbl, Seq("cat"))
    val parts = ctx.sql(s"SELECT DISTINCT partition " +
      s"FROM delta_files('$ptbl') ORDER BY partition")
      .collect().map(_.getString(0)).toSeq
    assert(parts === Seq("cat=a", "cat=b"))
  }

  test("concurrent appends: lost version races retry; idempotence holds under racing writers") {
    import graft.sources.{DeltaLog, DeltaWrite, IcebergLog}
    import java.util.concurrent.{Executors, TimeUnit}
    val s = spark
    import s.implicits._
    val pool = Executors.newFixedThreadPool(4)
    try {
      // Delta: 4 uncoordinated writers, 3 appends each — every batch must
      // land exactly once and the version sequence stays dense
      val dTbl = s"$tmp/conc_delta"
      (0 until 4).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 3).foreach { i =>
            DeltaWrite.append(
              Seq((w * 10L + i, s"w$w-$i")).toDF("id", "v"), dTbl)
          }
        })
      }.foreach(_.get(180, TimeUnit.SECONDS))
      val ids = DeltaLog.read(spark, dTbl).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids.size === 12 && ids.distinct.size === 12)
      assert(DeltaLog.latestVersion(dTbl) === 11L)
      // Iceberg: same shape through the snapshot-commit retry
      val iTbl = s"$tmp/conc_iceberg"
      (0 until 4).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 2).foreach { i =>
            IcebergLog.append(
              Seq((w * 10L + i, s"w$w-$i")).toDF("id", "v"), iTbl)
          }
        })
      }.foreach(_.get(180, TimeUnit.SECONDS))
      assert(IcebergLog.read(spark, iTbl).count() === 8L)
      assert(IcebergLog.snapshots(iTbl).size === 8)
      // exactly-once: 4 workers all retrying the SAME (appId, epoch) —
      // precisely one commit may carry the batch, however the races fall
      val eTbl = s"$tmp/conc_idem"
      val outcomes = (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Option[Long]] {
          def call(): Option[Long] = DeltaWrite.appendIdempotent(
            Seq((1L, "a"), (2L, "b")).toDF("id", "v"), eTbl, "app", 1L)
        })
      }.map(_.get(180, TimeUnit.SECONDS))
      assert(outcomes.count(_.isDefined) === 1, s"outcomes: $outcomes")
      assert(DeltaLog.read(spark, eTbl).count() === 2L)
      // row-changing ops read a snapshot, so a lost race must FAIL, never
      // rebase the stale read set onto the winner's commit. Each writer
      // either commits or raises ConcurrentCommitException.
      def race[T](n: Int)(op: Int => T): Seq[Option[T]] =
        (0 until n).map { w =>
          pool.submit(new java.util.concurrent.Callable[Option[T]] {
            def call(): Option[T] =
              try Some(op(w))
              catch { case _: graft.sources.ConcurrentCommitException => None }
          })
        }.map(_.get(180, TimeUnit.SECONDS))
      def oneFileTable(name: String): String = {
        val t = s"$tmp/$name"
        DeltaWrite.append((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
          .coalesce(1), t)
        t
      }
      def rows(t: String): Seq[(Long, String)] =
        DeltaLog.read(spark, t).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
      // 4 single-row deletes on a one-file table: every committed delete
      // removed exactly its row; no row is resurrected or repeated
      val delTbl = oneFileTable("conc_delete")
      val deleted = race(4)(w =>
        DeltaWrite.deleteWhere(spark, delTbl, col("id") === (w * 7L)))
      assert(deleted.exists(_.isDefined), s"no delete committed: $deleted")
      val gone = deleted.zipWithIndex.collect { case (Some(_), w) => w * 7L }.toSet
      val afterDel = rows(delTbl).map(_._1)
      assert(afterDel.size === 100 - gone.size &&
        afterDel.distinct.size === afterDel.size,
        s"${gone.size} deletes committed, table holds ${afterDel.size} rows")
      assert(afterDel.toSet === (0L until 100L).filterNot(gone.contains).toSet)
      // 4 single-key merges on a one-file table: committed keys carry the
      // new value, every other key its original one, each key exactly once
      val mTbl = oneFileTable("conc_merge")
      val merged = race(4)(w => DeltaWrite.merge(mTbl,
        Seq((w * 7L, s"m$w")).toDF("id", "v"), keys = Seq("id")))
      assert(merged.exists(_.isDefined), s"no merge committed: $merged")
      val updated = merged.zipWithIndex.collect {
        case (Some(_), w) => (w * 7L) -> s"m$w"
      }.toMap
      val afterMerge = rows(mTbl)
      assert(afterMerge.size === 100,
        s"${updated.size} merges committed, table holds ${afterMerge.size} rows")
      assert(afterMerge.sortBy(_._1) === (0L until 100L).map(i =>
        (i, updated.getOrElse(i, s"v$i"))))
      // Iceberg exactly-once on a FRESH path: 4 workers send the same
      // (appId, epoch); exactly one commit lands
      val iIdem = s"$tmp/conc_ice_idem"
      val iceOutcomes = race(4)(_ => IcebergLog.appendIdempotent(
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"), iIdem, "app", 1L))
      assert(iceOutcomes.flatten.count(_.isDefined) === 1,
        s"outcomes: $iceOutcomes")
      assert(IcebergLog.read(spark, iIdem).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    } finally pool.shutdown()
  }

  test("delta_history records the operation log, newest first") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/history_spec"
    DeltaWrite.append(Seq((1L, "a")).toDF("id", "v"), tbl) // v0
    DeltaWrite.merge(tbl, Seq((1L, "b"), (2L, "c")).toDF("id", "v"),
      keys = Seq("id")) // v1
    DeltaWrite.deleteWhere(spark, tbl, col("id") === 2L) // v2
    val h = DeltaLog.history(spark, tbl).collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(2L, 1L, 0L))
    assert(h.map(_.getString(2)).toSeq === Seq("DELETE", "MERGE", "WRITE"))
    assert(h.last.getString(3) === "mode=Append")
    // not a Delta table → loud refusal
    assert(intercept[IllegalArgumentException] {
      DeltaLog.history(spark, s"$tmp/no_such_table")
    }.getMessage.contains("not a Delta table"))
  }

  test("partitioned OPTIMIZE: bin-packing never crosses partition boundaries") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/opt_partitioned"
    // six tiny appends → two per partition tuple, all under the threshold
    (1 to 6).foreach { i =>
      DeltaWrite.appendPartitioned(
        Seq((i.toLong, s"c${i % 3}", s"r$i")).toDF("id", "cat", "v"),
        tbl, Seq("cat"))
    }
    val before = DeltaLog.read(spark, tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val st = DeltaWrite.optimize(spark, tbl, smallFileBytes = 1L << 20)
    assert(st.filesCompacted === 6 && st.filesAdded === 3,
      s"expected 6 files packed into 3 (one per partition), got $st")
    // every fresh add carries its tuple; no add mixes partitions
    val adds = DeltaLog.liveAdds(spark, tbl)
    assert(adds.size === 3)
    assert(adds.map(_.partitionValues("cat")).sorted === Seq("c0", "c1", "c2"))
    adds.foreach { a =>
      val cats = spark.read.parquet(a.path).select("id").collect()
        .map(r => s"c${r.getLong(0) % 3}").distinct
      assert(cats.toSeq === Seq(a.partitionValues("cat")),
        s"compacted file mixes partitions: ${cats.toSeq} vs ${a.partitionValues}")
    }
    // rows byte-identical, partition column still decodes, pruning works
    assert(DeltaLog.read(spark, tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === before)
    val (kept, total) = DeltaLog.livePartitionAdds(spark, tbl,
      Map("cat" -> "c1"))
    assert(kept.size === 1 && total === 3)
  }

  test("partitioned ZORDER: per-partition clustering with group-local quantiles") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/zorder_partitioned"
    // two partitions with DISJOINT x domains: group-local quantiles must
    // spread each partition's own range (global boundaries would collapse
    // one group's ranks)
    val rows = (1 to 2000).map { i =>
      val cat = s"c${i % 2}"
      val x = if (i % 2 == 0) i.toLong else i.toLong + 1000000L
      (x, (i * 37 % 500).toLong, cat, s"r$i")
    }
    DeltaWrite.appendPartitioned(
      rows.toDF("x", "y", "cat", "v").repartition(6), tbl, Seq("cat"))
    // a partition column cannot be a z column (constant within groups)
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.optimizeZOrder(spark, tbl, Seq("cat", "x"))
    }.getMessage.contains("partition column"))
    val st = DeltaWrite.optimizeZOrder(spark, tbl, Seq("x", "y"),
      targetFiles = 4)
    assert(st.filesAdded === 8, s"expected 4 files per partition: $st")
    // fresh adds inherit their tuples; within each partition a small
    // 2-D box probe admits fewer files than the partition holds —
    // group-local quantiles clustered each partition's OWN domain (with
    // a global quantile pass, c0's disjoint low range would collapse
    // into one rank and probes there would admit everything)
    val adds = DeltaLog.liveAdds(spark, tbl)
    assert(adds.map(_.partitionValues("cat")).sorted ===
      Seq.fill(4)("c0") ++ Seq.fill(4)("c1"))
    for ((c, xBase) <- Seq(("c0", 0L), ("c1", 1000000L))) {
      val bounds = adds.filter(_.partitionValues("cat") == c).map { a =>
        val r = spark.read.parquet(a.path)
          .agg(org.apache.spark.sql.functions.min(col("x")),
            org.apache.spark.sql.functions.max(col("x")),
            org.apache.spark.sql.functions.min(col("y")),
            org.apache.spark.sql.functions.max(col("y"))).head
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      val probes = for (px <- 100L until 2000L by 400L;
          py <- 50L until 500L by 150L)
        yield (xBase + px - 50, xBase + px + 50, py - 40, py + 40)
      val admitted = probes.map { case (xl, xh, yl, yh) =>
        bounds.count { case (mnx, mxx, mny, mxy) =>
          mnx <= xh && xl <= mxx && mny <= yh && yl <= mxy
        }
      }
      assert(admitted.sum < probes.size * bounds.size,
        s"partition $c probes admit every file: $bounds")
      assert(admitted.min < bounds.size,
        s"no probe pruned anything in $c: $bounds")
    }
    // rows byte-identical through the partitioned read
    assert(DeltaLog.read(spark, tbl)
      .agg(org.apache.spark.sql.functions.sum(col("x")),
        org.apache.spark.sql.functions.count(col("v"))).head ===
      rows.toDF("x", "y", "cat", "v")
        .agg(org.apache.spark.sql.functions.sum(col("x")),
          org.apache.spark.sql.functions.count(col("v"))).head)
  }

  test("many-partition ZORDER: quantile pass is one batched job, not one per group") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/zorder_many_parts"
    val nGroups = 10
    val rows = (1 to 3000).map { i =>
      (i.toLong, (i * 37 % 500).toLong, s"c${i % nGroups}", s"r$i")
    }
    DeltaWrite.appendPartitioned(
      rows.toDF("x", "y", "cat", "v").repartition(4), tbl, Seq("cat"))
    def countJobs(f: => Unit): (Int, Int) = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val boundary = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet()
          // the batched boundary pass collect()s inside DeltaWrite; the
          // per-group rewrite jobs are parquet saves — the callSite
          // distinguishes them
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          if (desc == "graft zorder boundaries") boundary.incrementAndGet()
          ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        f
        var last = -1
        var spins = 0
        while (n.get != last && spins < 40) {
          last = n.get; spins += 1; Thread.sleep(100)
        }
      } finally spark.sparkContext.removeSparkListener(l)
      (n.get, boundary.get)
    }
    // the serial per-group shape paid one approxQuantile JOB PER GROUP
    // before any rewrite; the batched shape computes every group's
    // boundaries in ONE grouped percentile_approx job. The rewrite's own
    // jobs (range sampling + staged write per group) remain per-group —
    // the same per-partition work the real command pays, now submitted
    // from a bounded pool — so pin the boundary-job count exactly and
    // the total loosely.
    val (jobs, boundaryJobs) = countJobs {
      DeltaWrite.optimizeZOrder(spark, tbl, Seq("x", "y"), targetFiles = 1); ()
    }
    // O(1) boundary submissions (AQE materializes the broadcast build,
    // the shuffle map and the result as separate jobs — all constant in
    // group count), NOT one per group: the old shape paid nGroups
    assert(boundaryJobs >= 1 && boundaryJobs <= 4,
      s"expected O(1) batched boundary jobs, got $boundaryJobs")
    assert(boundaryJobs < nGroups,
      s"boundary jobs scale with groups: $boundaryJobs for $nGroups")
    assert(jobs <= 4 * nGroups,
      s"job count blew up: $jobs jobs for $nGroups groups")
    // and the rewrite is still correct: per-group files, rows identical
    val adds = DeltaLog.liveAdds(spark, tbl)
    assert(adds.size === nGroups)
    assert(DeltaLog.read(spark, tbl)
      .agg(org.apache.spark.sql.functions.sum(col("x")),
        org.apache.spark.sql.functions.count(col("v"))).head ===
      rows.toDF("x", "y", "cat", "v")
        .agg(org.apache.spark.sql.functions.sum(col("x")),
          org.apache.spark.sql.functions.count(col("v"))).head)
  }

  test("partitioned MoR deletes: DVs land per partition, purge rewrites per group") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/dv_partitioned"
    DeltaWrite.appendPartitioned(
      (1 to 300).map(i => (i.toLong, s"c${i % 3}", s"r$i"))
        .toDF("id", "cat", "v"), tbl, Seq("cat"))
    // the predicate references BOTH a partition column and a data column
    // — the GDPR shape: erase keys inside specific partitions
    val st = DeltaWrite.deleteWhereDv(spark, tbl,
      col("cat") === "c1" && col("id") % 2 === 0L)
    assert(st.rowsDeleted === 50L) // ids ≡ 4 (mod 6) in 1..300
    def survivors(): Seq[Long] =
      DeltaLog.read(spark, tbl).select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = (1 to 300).map(_.toLong)
      .filterNot(i => i % 3 == 1 && i % 2 == 0)
    assert(survivors() === want.sorted)
    // partition columns still decode after the DV re-add (pv carried)
    assert(DeltaLog.read(spark, tbl).filter(col("cat") === "c1").count() ===
      want.count(_ % 3 == 1))
    // second delete unions; executor path exercises partitioned too
    DeltaWrite.deleteWhereDv(spark, tbl,
      col("cat") === "c2" && col("id") <= 100L, maxDvCollectBytes = 64L)
    val want2 = want.filterNot(i => i % 3 == 2 && i <= 100)
    assert(survivors() === want2.sorted)
    // purge: per-partition-group rewrite, rows unchanged, DVs gone,
    // fresh adds keep their partition tuples
    val ps = DeltaWrite.purgeDeletionVectors(spark, tbl)
    assert(ps.filesPurged > 0 && ps.filesAdded > 0)
    assert(DeltaLog.liveAdds(spark, tbl).forall(_.dv.isEmpty))
    assert(survivors() === want2.sorted)
    assert(DeltaLog.read(spark, tbl).filter(col("cat") === "c2")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      want2.filter(_ % 3 == 2).sorted)
    // partition pruning still answers from the log alone
    val (kept, total) = DeltaLog.livePartitionAdds(spark, tbl,
      Map("cat" -> "c0")) match {
      case (k, t) => (k, t)
    }
    assert(kept.nonEmpty && kept.size < total)
  }

  test("createIdMapped: full id-mode lifecycle from a first-class writer") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/cm_create_id"
    DeltaWrite.createIdMapped(
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score"), tbl)
    // reads resolve by footer id, logical names come back
    val df = DeltaLog.read(spark, tbl)
    assert(df.columns.toSeq === Seq("id", "name", "score"))
    assert(df.orderBy("id").collect().map(_.getDouble(2)).toSeq ===
      Seq(1.5, 2.5))
    // ...and the files really carry decoupled physical names
    val raw = spark.read.parquet(DeltaLog.liveAdds(spark, tbl).head.path)
    assert(raw.columns.toSeq === Seq("col-1", "col-2", "col-3"))
    // the metadata-only ALTERs compose on top, appends re-stamp ids
    DeltaWrite.renameColumn(spark, tbl, "score", "quality")
    DeltaWrite.append(Seq((3L, "c", 3.5)).toDF("id", "name", "quality"), tbl)
    DeltaWrite.dropColumn(spark, tbl, "name")
    assert(DeltaLog.read(spark, tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))
    // id mode also mirrors to Iceberg out of the box
    assert(graft.sources.Uniform.deltaToIceberg(spark, tbl)
      .snapshotId.isDefined)
    assert(graft.sources.IcebergLog.read(spark, tbl).columns.toSeq ===
      Seq("id", "quality"))
    // creation-time only: an existing table refuses
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.createIdMapped(Seq((9L, "z", 0.0)).toDF("id", "n", "q"), tbl)
    }.getMessage.contains("already exists"))
    // ...including a CHECKPOINT-ONLY table (JSON log expired): 0.json no
    // longer exists, so a naive publish(…, 0L) would "succeed" with its
    // actions invisible below the checkpoint — the guard must also test
    // the checkpoint, like physicalizeForStage's existence rule
    DeltaWrite.checkpoint(spark, tbl)
    DeltaWrite.expireLog(tbl)
    assert(!Option(new java.io.File(tbl, "_delta_log").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .exists(_.getName.matches("\\d{20}\\.json")))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.createIdMapped(Seq((9L, "z", 0.0)).toDF("id", "n", "q"), tbl)
    }.getMessage.contains("already exists"))
    // the table still reads after the refused create (nothing clobbered)
    assert(DeltaLog.read(spark, tbl).count() >= 2L)
    // nested columns refuse (ids cannot ride into nested fields)
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.createIdMapped(
        Seq((1L, ("x", 2L))).toDF("id", "s"), s"$tmp/cm_create_nested")
    }.getMessage.contains("nested"))
  }

  test("mapped tables compact and z-order first-class (name + id modes)") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    // NAME mode, across a rename: three single-file appends, then
    // OPTIMIZE — the rewrite reads PHYSICAL bytes (no logical decode)
    // and restages files the mapped scan keeps decoding
    val t1 = s"$tmp/mapped_opt_name"
    DeltaWrite.append(Seq((1L, "a", 1.0)).toDF("id", "name", "q"), t1)
    DeltaWrite.enableColumnMapping(spark, t1)
    DeltaWrite.renameColumn(spark, t1, "name", "label")
    DeltaWrite.append(Seq((2L, "b", 2.0)).toDF("id", "label", "q"), t1)
    DeltaWrite.append(Seq((3L, "c", 3.0)).toDF("id", "label", "q"), t1)
    def rows1() = DeltaLog.read(spark, t1).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val before1 = rows1()
    val st1 = DeltaWrite.optimize(spark, t1, 1L << 30)
    assert(st1.filesCompacted === 3 && st1.filesAdded === 1,
      s"mapped name-mode compaction wrong shape: $st1")
    assert(rows1() === before1, "mapped compaction changed rows")
    // the compacted file's stats must stay PHYSICAL-keyed: the
    // logical->physical range probe still prunes/answers
    assert(DeltaLog.readRange(spark, t1, "q", Some(2.5), None)
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(3L))
    // ID mode: physical column names are synthetic, resolution is by
    // parquet field id — ZORDER must re-stamp ids or every read after
    // the rewrite NULL-decodes
    val t2 = s"$tmp/mapped_opt_id"
    val data = (1 to 64).map(i => (i.toLong, (i % 8).toLong, (i / 8).toLong))
    DeltaWrite.createIdMapped(data.toDF("id", "x", "y"), t2)
    DeltaWrite.renameColumn(spark, t2, "x", "x2")
    val sum2 = DeltaLog.read(spark, t2)
      .agg(org.apache.spark.sql.functions.sum("id"),
        org.apache.spark.sql.functions.sum("x2")).head
    val st2 = DeltaWrite.optimizeZOrder(spark, t2, Seq("x2", "y"), bits = 3)
    assert(st2.filesAdded >= 1, s"mapped zorder added nothing: $st2")
    val sum2b = DeltaLog.read(spark, t2)
      .agg(org.apache.spark.sql.functions.sum("id"),
        org.apache.spark.sql.functions.sum("x2")).head
    assert(sum2b === sum2, "id-mode zorder lost or NULL-decoded rows")
    assert(DeltaLog.read(spark, t2).count() === 64L)
    // z columns are named LOGICALLY; a partition column still refuses
    val t3 = s"$tmp/mapped_opt_id_part"
    DeltaWrite.createIdMapped(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "cat", "q"), t3,
      partitionCols = Seq("cat"))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.optimizeZOrder(spark, t3, Seq("cat", "q"))
    }.getMessage.contains("partition column"))
  }

  test("mapped tables MoR-delete and purge first-class") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    // the GDPR shape on a MAPPED corpus: id mode, partitioned, across a
    // rename — erase keys without rewriting a byte, then purge
    val t = s"$tmp/mapped_dv"
    DeltaWrite.createIdMapped(
      (1 to 40).map(i => (i.toLong, s"u${i % 4}", i.toDouble))
        .toDF("id", "user", "score"),
      t, partitionCols = Seq("user"))
    DeltaWrite.renameColumn(spark, t, "score", "quality")
    val filesBefore = DeltaLog.liveFiles(spark, t).toSet
    val st = DeltaWrite.deleteWhereDv(spark, t,
      col("user") === "u1" && col("quality") > 10.0)
    assert(st.rowsDeleted > 0, "mapped MoR delete matched nothing")
    // merge-on-read: untouched partitions keep physical identity
    assert(DeltaLog.liveFiles(spark, t).toSet
      .intersect(filesBefore).nonEmpty,
      "mapped MoR delete rewrote every file")
    val expect = (1 to 40).map(_.toLong)
      .filterNot(i => i % 4 == 1 && i > 10).toSet
    def ids(): Set[Long] = DeltaLog.read(spark, t)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids() === expect, "mapped DV read diverged")
    // a second delete UNIONs bitmaps; purge then rewrites survivors
    // under the physicalized schema — a missed field-id stamp would
    // NULL-decode every column after the rewrite
    DeltaWrite.deleteWhereDv(spark, t, col("id") === 2L)
    val ps = DeltaWrite.purgeDeletionVectors(spark, t)
    assert(ps.filesPurged > 0 &&
      DeltaLog.liveAdds(spark, t).forall(_.dv.isEmpty),
      "mapped purge left live deletion vectors")
    assert(ids() === expect - 2L)
    assert(DeltaLog.read(spark, t).filter(col("quality") > 38.0)
      .count() === 2L, "post-purge mapped decode lost column values")
    // protocol: the DV upgrade on a mapped table lists BOTH reader
    // features — hiding columnMapping from feature-gated readers would
    // violate the reader-version-3 contract
    val (minR, _, rFeats, _) = DeltaLog.currentProtocol(t)
    assert(minR === 3 && rFeats.toSet === Set("columnMapping",
      "deletionVectors"), s"mapped DV protocol wrong: $minR $rFeats")
    // name-mode upgrade path composes too
    val t1 = s"$tmp/mapped_dv_name"
    DeltaWrite.append(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("id", "v", "q"), t1)
    DeltaWrite.enableColumnMapping(spark, t1)
    DeltaWrite.renameColumn(spark, t1, "v", "label")
    assert(DeltaWrite.deleteWhereDv(spark, t1,
      col("label") === "b").rowsDeleted === 1L)
    assert(DeltaLog.read(spark, t1).select("id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 3L))
    // the CDF composition works too: a DV delete on a mapped table
    // publishes physicalized cdc rows the feed decodes under logical
    // names (full matrix in the "decodable change feed" spec)
    DeltaWrite.enableChangeDataFeed(spark, t1)
    val vBefore = graft.sources.DeltaLog.latestVersion(t1)
    assert(DeltaWrite.deleteWhereDv(spark, t1,
      col("id") === 1L).rowsDeleted === 1L)
    assert(DeltaLog.tableChanges(spark, t1, vBefore + 1)
      .filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("mapped tables merge and delete copy-on-write first-class") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    // NAME mode via upgrade, across a rename: the batch and predicates
    // are authored LOGICALLY; survivors and the batch restage under
    // physical names like a mapped append
    val t = s"$tmp/mapped_cow"
    DeltaWrite.append(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("id", "v", "q").repartition(3), t)
    DeltaWrite.enableColumnMapping(spark, t)
    DeltaWrite.renameColumn(spark, t, "v", "label")
    val filesBefore = DeltaLog.liveFiles(spark, t).toSet
    val st = DeltaWrite.merge(t,
      Seq((2L, "B", 20.0), (4L, "d", 4.0)).toDF("id", "label", "q"),
      Seq("id"))
    assert(st.rowsUpdated === 1L && st.rowsInserted === 1L,
      s"mapped merge wrong shape: $st")
    // copy-on-write at FILE granularity: untouched files keep identity
    assert(DeltaLog.liveFiles(spark, t).toSet
      .intersect(filesBefore).nonEmpty, "mapped merge rewrote everything")
    def rows() = DeltaLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows() === Seq((1L, "a", 1.0), (2L, "B", 20.0),
      (3L, "c", 3.0), (4L, "d", 4.0)))
    val ds = DeltaWrite.deleteWhere(spark, t, col("label") === "c")
    assert(ds.rowsDeleted === 1L)
    assert(rows() === Seq((1L, "a", 1.0), (2L, "B", 20.0),
      (4L, "d", 4.0)))
    // rewritten files keep PHYSICAL-keyed stats: the logical range
    // probe still prunes/answers across the rewrite
    assert(DeltaLog.readRange(spark, t, "q", Some(10.0), None)
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(2L))
    // ID mode: the rewrite must re-stamp parquet field ids or every
    // post-merge read NULL-decodes
    val t2 = s"$tmp/mapped_cow_id"
    DeltaWrite.createIdMapped(
      Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("id", "w", "n"), t2)
    DeltaWrite.renameColumn(spark, t2, "w", "word")
    assert(DeltaWrite.merge(t2,
      Seq((2L, "Y", 21L), (3L, "z", 30L)).toDF("id", "word", "n"),
      Seq("id")).rowsInserted === 1L)
    assert(DeltaWrite.deleteWhere(spark, t2,
      col("word") === "x").rowsDeleted === 1L)
    assert(DeltaLog.read(spark, t2).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((2L, "Y", 21L), (3L, "z", 30L)))
    // schema evolution on a mapped table allocates a FRESH mapping
    // entry (maxColumnId+1, own physical name / field id) in the same
    // commit — the entry is real enough to rename metadata-only, and
    // the feed of footer-id reads decodes the new column on every file
    DeltaWrite.merge(t2, Seq((5L, "v", 1L, "extra"))
      .toDF("id", "word", "n", "note"), Seq("id"), mergeSchema = true)
    val meta2 = DeltaLog.tableMetaData(spark, t2).get
    val maxId = meta2("configuration").asInstanceOf[Map[String, Any]](
      "delta.columnMapping.maxColumnId").asInstanceOf[String].toLong
    assert(maxId === 4L, s"maxColumnId not bumped: $maxId")
    DeltaWrite.renameColumn(spark, t2, "note", "remark")
    assert(DeltaLog.read(spark, t2).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.getString(3)))).toSeq ===
      Seq((2L, "Y", 21L, None), (3L, "z", 30L, None),
        (5L, "v", 1L, Some("extra"))))
  }

  test("mapped mutations publish a decodable change feed") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    // every row-rewriting mutation on a MAPPED table stages its change
    // rows through the mapped-append physicalization; the feed decodes
    // cdc files like data files (physical name / footer field id) and
    // serves LOGICAL names — here the post-rename ones, exactly
    val t = s"$tmp/mapped_cdf_mut"
    DeltaWrite.append(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("id", "v", "q").repartition(1), t) // v0
    DeltaWrite.enableColumnMapping(spark, t) // v1
    DeltaWrite.enableChangeDataFeed(spark, t) // v2
    DeltaWrite.renameColumn(spark, t, "v", "label") // v3
    assert(DeltaWrite.deleteWhere(spark, t,
      col("label") === "b").rowsDeleted === 1L) // v4: cdc delete
    val mg = DeltaWrite.merge(t,
      Seq((3L, "C", 30.0), (4L, "d", 4.0)).toDF("id", "label", "q"),
      Seq("id")) // v5: cdc pre/post/insert
    assert(mg.rowsUpdated === 1L && mg.rowsInserted === 1L)
    assert(DeltaWrite.deleteWhereDv(spark, t,
      col("label") === "a").rowsDeleted === 1L) // v6: DV + cdc delete
    val feed = DeltaLog.tableChanges(spark, t, 4L)
    assert(feed.columns.contains("label") && !feed.columns.contains("v"),
      s"mapped cdc feed lost the logical rename: ${feed.columns.toSeq}")
    val got = feed
      .select("id", "label", "q", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3), r.getLong(4))).toSet
    assert(got === Set(
      (2L, "b", 2.0, "delete", 4L),
      (3L, "c", 3.0, "update_preimage", 5L),
      (3L, "C", 30.0, "update_postimage", 5L),
      (4L, "d", 4.0, "insert", 5L),
      (1L, "a", 1.0, "delete", 6L)), s"mapped cdc feed wrong: $got")
    assert(DeltaLog.read(spark, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((3L, "C", 30.0), (4L, "d", 4.0)))
    // ID mode: cdc columns resolve by footer field id, _change_type by
    // its reserved name — one request schema, both rules
    val t2 = s"$tmp/mapped_cdf_id"
    DeltaWrite.createIdMapped(
      Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("id", "w", "n"), t2) // v0
    DeltaWrite.enableChangeDataFeed(spark, t2) // v1
    DeltaWrite.renameColumn(spark, t2, "w", "word") // v2
    assert(DeltaWrite.deleteWhere(spark, t2,
      col("word") === "x").rowsDeleted === 1L) // v3
    val feed2 = DeltaLog.tableChanges(spark, t2, 3L)
    assert(feed2.filter(col("_change_type") === "delete")
      .select("id", "word").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "x")))
  }

  test("partitioned + column-mapped: Delta reads, renames follow, UniForm composes") {
    import graft.sources.{DeltaLog, DeltaWrite, IcebergLog, Uniform}
    val s = spark
    import s.implicits._
    // NAME mode: a partitioned table upgrades in place; reads decode
    // data columns physically and re-inject the partition column from
    // the log's (physical-keyed) pv under its logical name
    val n = s"$tmp/pm_name"
    DeltaWrite.appendPartitioned(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L))
        .toDF("id", "cat", "v"), n, Seq("cat"))
    DeltaWrite.enableColumnMapping(spark, n)
    assert(DeltaLog.read(spark, n).columns.toSeq === Seq("id", "cat", "v"))
    assert(DeltaLog.read(spark, n).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)))
    // metadata-only renames: a data column AND the partition column
    // (partitionColumns follows the logical rename; pv keys stay
    // physical, so zero files move)
    DeltaWrite.renameColumn(spark, n, "v", "val")
    DeltaWrite.renameColumn(spark, n, "cat", "category")
    val renamed = DeltaLog.read(spark, n)
    assert(renamed.columns.toSeq === Seq("id", "category", "val"))
    assert(renamed.filter(col("category") === "a").count() === 2)
    // ...and the name-mapped mirror composes with the partition spec
    assert(Uniform.deltaToIceberg(spark, n).snapshotId.isDefined)
    val nIce = IcebergLog.read(spark, n)
    assert(nIce.columns.toSeq === Seq("id", "category", "val"))
    assert(nIce.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)))
    val (kept, total) = IcebergLog.prunePartitions(n, Map("category" -> "a"))
    assert(kept.nonEmpty && kept.size < total,
      s"name-mapped mirror pruning did not shrink: ${kept.size}/$total")
    // ID mode: created PARTITIONED — hive dirs named by the PHYSICAL
    // partition column, pv keys physical, partitionColumns logical
    val i = s"$tmp/pm_id"
    DeltaWrite.createIdMapped(
      Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "x", 3.5))
        .toDF("id", "grp", "score"), i, partitionCols = Seq("grp"))
    assert(Option(new java.io.File(i).listFiles()).get
      .exists(f => f.isDirectory && f.getName.startsWith("col-2=")),
      "id-mode partitioned create should lay out physical hive dirs")
    assert(DeltaLog.read(spark, i).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "x", 3.5)))
    DeltaWrite.renameColumn(spark, i, "grp", "group_id")
    assert(DeltaLog.read(spark, i).columns.toSeq ===
      Seq("id", "group_id", "score"))
    assert(Uniform.deltaToIceberg(spark, i).snapshotId.isDefined)
    val ice = IcebergLog.read(spark, i)
    assert(ice.columns.toSeq === Seq("id", "group_id", "score"))
    assert(ice.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "x", 3.5)))
    val (k2, t2) = IcebergLog.prunePartitions(i, Map("group_id" -> "x"))
    assert(k2.nonEmpty && k2.size < t2,
      s"id-mapped mirror pruning did not shrink: ${k2.size}/$t2")
    // rename the PARTITION column AFTER the mirror exists: the re-sync
    // must RE-KEY the carried partition structs to the new spec name
    // (matched by source-id — identity transforms make this exact), or
    // the mirror would hold mixed struct keys and injection would break
    DeltaWrite.renameColumn(spark, i, "group_id", "bucket")
    assert(Uniform.deltaToIceberg(spark, i).snapshotId.isDefined)
    val ice2 = IcebergLog.read(spark, i)
    assert(ice2.columns.toSeq === Seq("id", "bucket", "score"))
    assert(ice2.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "x", 3.5)))
    val (k3, t3) = IcebergLog.prunePartitions(i, Map("bucket" -> "x"))
    assert(k3.nonEmpty && k3.size < t3,
      s"post-rename mirror pruning did not shrink: ${k3.size}/$t3")
    // partitioned APPENDS compose with mapping too: the batch is
    // authored logically (post-rename names), staged under physical
    // column names + the SAME physical hive dirs the create laid down
    DeltaWrite.appendPartitioned(
      Seq((4L, "z", 4.5)).toDF("id", "bucket", "score"), i, Seq("bucket"))
    assert(DeltaLog.read(spark, i).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "x", 3.5), (4L, "z", 4.5)))
    assert(Option(new java.io.File(i).listFiles()).get
      .exists(f => f.isDirectory && f.getName == "col-2=z"),
      "mapped partitioned append should land in a physical hive dir")
    val s2i = Uniform.deltaToIceberg(spark, i)
    assert(s2i.snapshotId.isDefined && s2i.filesAdded > 0 &&
      s2i.filesCarried > 0, s"mapped partitioned re-sync wrong shape: $s2i")
    assert(IcebergLog.read(spark, i).count() === 4L)
    // ...and on the name-mode table under ITS renamed columns
    DeltaWrite.appendPartitioned(
      Seq((4L, "c", 40L)).toDF("id", "category", "val"), n, Seq("category"))
    assert(DeltaLog.read(spark, n).filter(col("category") === "c")
      .select("val").head.getLong(0) === 40L)
    assert(DeltaLog.read(spark, n).count() === 4L)
  }

  test("expiry reclaims a lost race's orphan manifests; table byte-identical") {
    import graft.sources.IcebergLog
    import java.io.File
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/ice_orphans"
    IcebergLog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl) // s1
    IcebergLog.append(Seq((3L, "c")).toDF("id", "v"), tbl)            // s2
    val metaDir = new File(tbl, "metadata")
    val dataDir = new File(tbl, "data")
    // stage a LOST RACE's debris, byte-faithfully: a loser (per-attempt
    // unique manifest names) writes a valid manifest + manifest-list +
    // staged data file, then fails its metadata-version claim and dies —
    // leaving files nothing references. Copies of real ones ARE that
    // debris.
    val referencedAvros = metaDir.listFiles()
      .filter(_.getName.endsWith(".avro")).map(_.getName).toSet
    val srcAvro = metaDir.listFiles().filter(_.getName.endsWith(".avro")).head
    val orphanAvro = new File(metaDir, s"orphan-${java.util.UUID.randomUUID}.avro")
    Files.copy(srcAvro.toPath, orphanAvro.toPath)
    val srcParquet = dataDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val orphanParquet = new File(dataDir, s"orphan-${java.util.UUID.randomUUID}.parquet")
    Files.copy(srcParquet.toPath, orphanParquet.toPath)
    val rowsBefore = IcebergLog.read(spark, tbl).orderBy("id").collect().toSeq
    val versionBefore = IcebergLog.snapshots(tbl).size
    // FRESH debris survives the default age gate: a file referenced by
    // no snapshot is indistinguishable from a live writer's pre-claim
    // staging, so default expiry must NOT delete it (the racing-writer
    // protection real remove_orphan_files' older_than default gives)
    val (_, deletedFresh) = IcebergLog.expireSnapshots(tbl, keep = 2)
    assert(deletedFresh.isEmpty && orphanAvro.exists && orphanParquet.exists,
      s"fresh never-referenced staging was reclaimed: $deletedFresh")
    // ...past the age threshold the debris IS reclaimed (backdate mtime
    // rather than opt in with orphanAgeMs=0 — exercises the cutoff)
    val old = System.currentTimeMillis() - 4L * 24 * 3600 * 1000
    assert(orphanAvro.setLastModified(old) && orphanParquet.setLastModified(old))
    // keep = all snapshots: NO metadata version published (nothing
    // expired), yet the debris is reclaimed
    val (v1, deleted1) = IcebergLog.expireSnapshots(tbl, keep = 2)
    assert(deleted1.toSet === Set(orphanAvro.getName, orphanParquet.getName),
      s"expected exactly the staged debris reclaimed, got $deleted1")
    assert(!orphanAvro.exists && !orphanParquet.exists)
    // every referenced file survived; the table is byte-identical and
    // every snapshot still time-travels
    assert(metaDir.listFiles().filter(_.getName.endsWith(".avro"))
      .map(_.getName).toSet === referencedAvros)
    assert(IcebergLog.read(spark, tbl).orderBy("id").collect().toSeq ===
      rowsBefore)
    assert(IcebergLog.snapshots(tbl).size === versionBefore)
    val s1 = IcebergLog.snapshots(tbl).head.snapshotId
    assert(IcebergLog.read(spark, tbl, Some(s1)).count() === 2L)
    // and a genuine expiry still reclaims the dropped snapshot's
    // exclusive metadata while the head stays byte-identical
    val (_, deleted2) = IcebergLog.expireSnapshots(tbl, keep = 1)
    assert(deleted2.nonEmpty)
    assert(IcebergLog.read(spark, tbl).orderBy("id").collect().toSeq ===
      rowsBefore)
  }

  test("column mapping upgrade: rename without rewrite on an ordinary table") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/cm_upgrade"
    DeltaWrite.append(Seq((1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("id", "name", "score"), tbl) // v0: plain unmapped table
    // rename refuses without mapping (files carry the old name)
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.renameColumn(spark, tbl, "score", "quality")
    }.getMessage.contains("needs column mapping"))
    // the upgrade ALTER: one metadata commit, physicalName = current name
    DeltaWrite.enableColumnMapping(spark, tbl) // v1
    // mode visible via the TVF-facing metadata (mappingMode is
    // package-private to sources): the upgrade's SET TBLPROPERTIES
    // commit is the head history entry
    assert(DeltaLog.history(spark, tbl).collect().head.getString(2) ===
      "SET TBLPROPERTIES")
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.enableColumnMapping(spark, tbl)
    }.getMessage.contains("already enabled"))
    // pre-upgrade files read unchanged through the mapped path
    assert(DeltaLog.read(spark, tbl).orderBy("id").collect()
      .map(_.getString(1)).toSeq === Seq("a", "b"))
    // rename: metadata-only (file set identical), old data decodes under
    // the new logical name
    val before = DeltaLog.liveAdds(spark, tbl).map(_.path).toSet
    DeltaWrite.renameColumn(spark, tbl, "score", "quality") // v2
    assert(DeltaLog.liveAdds(spark, tbl).map(_.path).toSet === before)
    val cur = DeltaLog.read(spark, tbl)
    assert(cur.columns.toSeq === Seq("id", "name", "quality"))
    assert(cur.orderBy("id").collect().map(_.getDouble(2)).toSeq ===
      Seq(10.0, 20.0))
    // time travel: the pre-rename epoch answers with ITS name
    assert(DeltaLog.read(spark, tbl, Some(1L)).columns.contains("score"))
    // post-rename append through the mapped write path: the batch is
    // authored against the NEW name, staged under the PHYSICAL (old) one
    DeltaWrite.append(Seq((3L, "c", 30.0)).toDF("id", "name", "quality"), tbl)
    assert(DeltaLog.read(spark, tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq ===
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // data skipping works ACROSS the rename: the pre-upgrade files'
    // stats are keyed by the ORIGINAL (physical) name, and the pruner
    // translates the renamed logical column back to it
    val (kept, total) = DeltaLog.pruneByStats(spark, tbl, "quality",
      Some(25.0), None)
    assert(total >= 2 && kept.size < total,
      s"mapped range probe pruned nothing: ${kept.size}/$total")
    assert(DeltaLog.readRange(spark, tbl, "quality", Some(25.0), None)
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(3L))
    // refusals: unknown source, colliding target, constraint-referenced
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.renameColumn(spark, tbl, "nope", "x")
    }.getMessage.contains("no such column"))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.renameColumn(spark, tbl, "quality", "id")
    }.getMessage.contains("already exists"))
    DeltaWrite.addCheckConstraint(spark, tbl, "pos_q", "quality > 0")
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.renameColumn(spark, tbl, "quality", "q2")
    }.getMessage.contains("pos_q"))
    // renaming a column the constraint does NOT reference still works
    DeltaWrite.renameColumn(spark, tbl, "name", "label")
    assert(DeltaLog.read(spark, tbl).columns.toSeq ===
      Seq("id", "label", "quality"))
    // partitioned append onto an UNPARTITIONED table refuses — mapping
    // no longer blocks it (r17: mapped partitioned appends are
    // first-class, pinned in the UniForm partitioned+mapped spec), but
    // the table's recorded partitioning is a protocol contract: adds
    // carrying pv keys the metaData doesn't declare corrupt pruning
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.appendPartitioned(
        Seq((9L, "z", 1.0)).toDF("id", "label", "quality"), tbl, Seq("label"))
    }.getMessage.contains("partitioned by []"))
    // DROP COLUMN: metadata-only sibling — field leaves the logical
    // schema, files untouched, time travel still sees it
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.dropColumn(spark, tbl, "quality") // pos_q references it
    }.getMessage.contains("pos_q"))
    DeltaWrite.dropCheckConstraint(spark, tbl, "pos_q")
    val filesBefore = DeltaLog.liveAdds(spark, tbl).map(_.path).toSet
    val dropV = DeltaWrite.dropColumn(spark, tbl, "label")
    assert(DeltaLog.liveAdds(spark, tbl).map(_.path).toSet === filesBefore)
    assert(DeltaLog.read(spark, tbl).columns.toSeq === Seq("id", "quality"))
    assert(DeltaLog.read(spark, tbl, Some(dropV - 1)).columns
      .contains("label"), "pre-drop epoch lost the column")
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.dropColumn(spark, tbl, "nope")
    }.getMessage.contains("no such column"))
    // ...and an UNMAPPED table refuses the drop (a later same-named
    // column would resurrect the old bytes)
    val plain = s"$tmp/cm_plain_drop"
    DeltaWrite.append(Seq((1L, "a")).toDF("id", "v"), plain)
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.dropColumn(spark, plain, "v")
    }.getMessage.contains("needs column mapping"))
    // the mapping survives checkpoint + log expiry: the checkpoint
    // carries the metaData action (configuration + schemaString with
    // physicalNames) verbatim, so a reader seeded from it still decodes
    // physically-named files under logical names
    DeltaWrite.addCheckConstraint(spark, tbl, "q_pos", "quality > 0")
    DeltaWrite.checkpoint(spark, tbl)
    DeltaWrite.expireLog(tbl)
    assert(DeltaLog.read(spark, tbl).columns.toSeq === Seq("id", "quality"))
    assert(DeltaLog.read(spark, tbl).orderBy("id").collect()
      .map(_.getDouble(1)).toSeq === Seq(10.0, 20.0, 30.0))
    // ...and so do CHECK constraints (configuration keys ride the same
    // metaData row)
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.append(Seq((9L, -1.0)).toDF("id", "quality"), tbl)
    }.getMessage.contains("q_pos"))
    // the whole family drives through SQL too
    val sqlTbl = s"$tmp/cm_sql"
    DeltaWrite.append(Seq((1L, "a", 2.0)).toDF("id", "name", "score"), sqlTbl)
    val ctx = new graft.exec.ExecutionContext(spark)
    ctx.runScript(s"ALTER TABLE '$sqlTbl' SET TBLPROPERTIES " +
      "('delta.columnMapping.mode' = 'name')")
    ctx.runScript(s"ALTER TABLE '$sqlTbl' RENAME COLUMN score TO quality")
    ctx.runScript(s"ALTER TABLE '$sqlTbl' DROP COLUMN name")
    assert(DeltaLog.read(spark, sqlTbl).columns.toSeq === Seq("id", "quality"))
  }

  test("append retry re-validates against a constraint committed in the race window") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/race_constraint"
    DeltaWrite.append(Seq((1L, "a")).toDF("id", "v"), tbl) // v0
    // stage the race deterministically: a concurrent ALTER ADD CONSTRAINT
    // lands between this append's initial validation and its version
    // claim — real Delta fails the append (MetadataChangedException
    // class); a blind retry would commit a batch the new constraint
    // never screened
    DeltaWrite.onAppendRaceWindow = () =>
      DeltaWrite.addCheckConstraint(spark, tbl, "pos_id", "id > 0")
    try {
      val e = intercept[IllegalArgumentException] {
        DeltaWrite.append(Seq((-5L, "bad")).toDF("id", "v"), tbl)
      }
      assert(e.getMessage.contains("pos_id"))
    } finally DeltaWrite.onAppendRaceWindow = () => ()
    // the violating batch must NOT have landed; the constraint commit did
    assert(DeltaLog.read(spark, tbl).select("id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(DeltaLog.checkConstraints(spark, tbl).nonEmpty)
    // a batch satisfying the just-added constraint re-validates and lands
    DeltaWrite.onAppendRaceWindow = () =>
      DeltaWrite.dropCheckConstraint(spark, tbl, "pos_id")
    try {
      // constraint dropped in the window: append re-screens against the
      // NEW metadata (no constraints) and commits — proving the
      // re-validation reads the intervening state, not the stale check
      DeltaWrite.append(Seq((7L, "ok")).toDF("id", "v"), tbl)
    } finally DeltaWrite.onAppendRaceWindow = () => ()
    assert(DeltaLog.read(spark, tbl).count() === 2L)
    // the race signal is the dedicated retryable type (an ISE subclass,
    // so legacy handlers keep working) — double-claiming a version throws
    // it, and an UNRELATED IllegalStateException must not be retried
    val logDir = new java.io.File(tbl, "_delta_log")
    DeltaWrite.publish(logDir, 100L, Seq("""{"commitInfo":{}}"""))
    val cce = intercept[IllegalStateException] {
      DeltaWrite.publish(logDir, 100L, Seq("""{"commitInfo":{}}"""))
    }
    assert(cce.isInstanceOf[graft.sources.ConcurrentCommitException])
    assert(cce.getMessage.contains("concurrent Delta commit"))
    java.nio.file.Files.delete(
      new java.io.File(logDir, f"${100L}%020d.json").toPath)
  }

  test("optimize zorder: range ranks beat linear on skew; null guards hold") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    // heavy-tailed x (99% in [0,100), 1% huge outliers), uniform y —
    // linear min/max scaling collapses the bulk of x into rank 0 and the
    // interleave degenerates to a y-sort; range ranks spread x evenly
    def stage(tbl: String): Unit = {
      val rows = (0 until 4000).map { i =>
        val x = if (i % 100 == 0) 1000000000L + i else (i % 100).toLong
        (x, (i * 37 % 1000).toLong, s"p$i")
      }
      DeltaWrite.append(rows.toDF("x", "y", "p").repartition(8), tbl)
    }
    // pruning effectiveness, the thing Z-order exists for: how many
    // files' (x, y) footer bounds admit a small 2-D range probe. Under
    // linear scaling the bulk of skewed x collapses to one rank, every
    // bulk file spans the whole x domain, and probes prune by y alone;
    // range ranks tile BOTH dimensions, so each probe admits fewer files.
    def admitted(tbl: String): Int = {
      val adds = DeltaLog.liveAdds(spark, tbl)
      val bounds = adds.map { a =>
        val r = spark.read.parquet(a.path)
          .agg(min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      val probes = for (px <- 5L until 100L by 10L; py <- 50L until 1000L by 100L)
        yield (px - 5, px + 5, py - 50, py + 50)
      probes.map { case (xl, xh, yl, yh) =>
        bounds.count { case (mnx, mxx, mny, mxy) =>
          mnx <= xh && xl <= mxx && mny <= yh && yl <= mxy
        }
      }.sum
    }
    val tq = s"$tmp/zorder_skew_q"; stage(tq)
    val tl = s"$tmp/zorder_skew_l"; stage(tl)
    DeltaWrite.optimizeZOrder(spark, tq, Seq("x", "y"), targetFiles = 8)
    DeltaWrite.optimizeZOrder(spark, tl, Seq("x", "y"), targetFiles = 8,
      linearRanks = true)
    // identical rows either way
    assert(DeltaLog.read(spark, tq).agg(sum(col("x")), sum(col("y"))).head ===
      DeltaLog.read(spark, tl).agg(sum(col("x")), sum(col("y"))).head)
    val (qa, la) = (admitted(tq), admitted(tl))
    assert(qa < la, s"range-rank probe admissions $qa not below linear $la")
    // all-NULL z column: rank 0, completes without an NPE
    val tn = s"$tmp/zorder_null"
    DeltaWrite.append((1 to 50).map(i => (Option.empty[java.lang.Long], i.toLong, s"r$i"))
      .toDF("x", "y", "p"), tn)
    DeltaWrite.optimizeZOrder(spark, tn, Seq("x", "y"), targetFiles = 1)
    assert(DeltaLog.read(spark, tn).count() === 50L)
    // all-tombstoned table: clean refusal, not a raw scan error
    val te = s"$tmp/zorder_empty"
    DeltaWrite.append(Seq((1L, 2L, "a")).toDF("x", "y", "p"), te)
    DeltaWrite.deleteWhere(spark, te, lit(true))
    assert(intercept[IllegalArgumentException] {
      DeltaWrite.optimizeZOrder(spark, te, Seq("x", "y"))
    }.getMessage.contains("no live files"))
  }

  test("deleteWhereDv past the driver bound writes DVs executor-side, same answer") {
    import graft.sources.{DeltaLog, DeltaWrite}
    import java.io.File
    val s = spark
    import s.implicits._
    def stage(tbl: String): Unit = DeltaWrite.append(
      (1 to 2000).map(i => (i.toLong, s"r$i")).toDF("id", "v")
        .repartition(4), tbl)
    // driver path (default bound): ONE DV file for the whole commit
    val td = s"$tmp/dv_driver"; stage(td)
    val std = DeltaWrite.deleteWhereDv(spark, td, col("id") % 3 === 0L)
    // executor path (tiny bound: the 2 B/position + 8 KiB/file estimate
    // exceeds it): bitmaps are PACKED per task partition — DV file count
    // is bounded by the shuffle partition count, never one per touched
    // data file (pin with 2 shuffle partitions against 4 touched files)
    val te = s"$tmp/dv_exec"; stage(te)
    val packParts = 2
    val priorShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", packParts)
    val ste =
      try DeltaWrite.deleteWhereDv(spark, te, col("id") % 3 === 0L,
        maxDvCollectBytes = 64L)
      finally spark.conf.set("spark.sql.shuffle.partitions", priorShuffle)
    assert(ste.rowsDeleted === std.rowsDeleted &&
      ste.filesTouched === std.filesTouched)
    def dvFiles(t: String): Int = new File(t).listFiles()
      .count(_.getName.startsWith("deletion_vector_"))
    assert(dvFiles(td) === 1)
    assert(ste.filesTouched === 4)
    assert(dvFiles(te) <= packParts && dvFiles(te) < ste.filesTouched,
      s"executor path should pack DVs per task partition, got ${dvFiles(te)}")
    // identical surviving rows through the scan either way
    def rows(t: String): Seq[Long] =
      DeltaLog.read(spark, t).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows(te) === rows(td))
    assert(rows(te).size === 2000 - std.rowsDeleted)
    // a SECOND executor-side delete unions with the executor-written DVs
    val ste2 = DeltaWrite.deleteWhereDv(spark, te, col("id") % 3 === 1L,
      maxDvCollectBytes = 64L)
    val std2 = DeltaWrite.deleteWhereDv(spark, td, col("id") % 3 === 1L)
    assert(ste2.rowsDeleted === std2.rowsDeleted)
    assert(rows(te) === rows(td))
    // fully-dead detection holds executor-side too: kill everything left
    val ste3 = DeltaWrite.deleteWhereDv(spark, te, lit(true),
      maxDvCollectBytes = 64L)
    assert(ste3.filesFullyDead === ste3.filesTouched)
    assert(DeltaLog.liveAdds(spark, te).isEmpty)
  }

  test("Delta DV merge: positional kills, bitmap union, condition, dup targets refuse") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    val tbl = s"$tmp/delta_dv_merge"
    // file A holds ids 0-49, file B ids 50-99
    DeltaWrite.append((0L until 100L).map(i => (i, i * 3)).toDF("id", "v")
      .repartitionByRange(2, col("id")), tbl) // v0
    DeltaWrite.enableChangeDataFeed(spark, tbl) // v1
    val before = DeltaLog.liveAdds(spark, tbl).map(_.path).toSet
    assert(before.size === 2)
    val ms = DeltaWrite.mergeDv(spark, tbl,
      Seq((5L, -5L), (200L, -200L)).toDF("id", "v"), Seq("id")) // v2
    assert(ms.rowsUpdated === 1L && ms.rowsInserted === 1L &&
      ms.filesRewritten === 0)
    val after = DeltaLog.liveAdds(spark, tbl)
    assert(before.subsetOf(after.map(_.path).toSet),
      "DV merge rewrote a data file")
    assert(after.count(_.dv.isDefined) === 1)
    def snap(): Map[Long, Long] = DeltaLog.read(spark, tbl)
      .as[(Long, Long)].collect().toMap
    val m1 = snap()
    assert(m1.size === 101 && m1(5L) === -5L && m1(200L) === -200L &&
      m1(7L) === 21L)
    // the feed is indistinguishable from a CoW merge's
    val feed = DeltaLog.tableChanges(spark, tbl, ms.version,
        Some(ms.version))
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(feed === Seq((5L, -5L, "update_postimage"),
      (5L, 15L, "update_preimage"), (200L, -200L, "insert")))
    // a second DV merge touching the SAME file UNIONs its bitmap
    val ms2 = DeltaWrite.mergeDv(spark, tbl,
      Seq((7L, 777L)).toDF("id", "v"), Seq("id"))
    assert(ms2.rowsUpdated === 1L && ms2.rowsInserted === 0L)
    val unioned = DeltaLog.liveAdds(spark, tbl).flatMap(_.dv)
    assert(unioned.map(_.cardinality).max === 2L,
      s"expected a unioned 2-row bitmap, got $unioned")
    val m2 = snap()
    assert(m2.size === 101 && m2(7L) === 777L)
    // a DV-DEAD key re-inserts, never resurrect-updates
    DeltaWrite.deleteWhereDv(spark, tbl, col("id") === 9L)
    val ms3 = DeltaWrite.mergeDv(spark, tbl,
      Seq((9L, 999L)).toDF("id", "v"), Seq("id"))
    assert(ms3.rowsUpdated === 0L && ms3.rowsInserted === 1L)
    assert(snap().apply(9L) === 999L)
    // extra match condition: a condition-false key match survives AS-IS
    // and its batch row inserts next to it (CoW-merge semantics)
    val ms4 = DeltaWrite.mergeDv(spark, tbl,
      Seq((11L, -11L), (13L, -13L)).toDF("id", "v"), Seq("id"),
      matchCondition = Some(col("v") > 35L))
    assert(ms4.rowsUpdated === 1L && ms4.rowsInserted === 1L)
    val dupRows = DeltaLog.read(spark, tbl).filter(col("id") === 11L)
      .as[(Long, Long)].collect().map(_._2).sorted.toSeq
    assert(dupRows === Seq(-11L, 33L)) // v(11)=33 fails v>35: both live
    assert(DeltaLog.read(spark, tbl).filter(col("id") === 13L)
      .as[(Long, Long)].collect().map(_._2).toSeq === Seq(-13L))
    // duplicate-key TARGETS refuse loudly (kill-and-insert would
    // collapse the multiplicity the CoW merge preserves)
    DeltaWrite.append(Seq((300L, 1L)).toDF("id", "v"), tbl)
    DeltaWrite.append(Seq((300L, 2L)).toDF("id", "v"), tbl)
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.mergeDv(spark, tbl,
        Seq((300L, 9L)).toDF("id", "v"), Seq("id"))
    }
    assert(e.getMessage.contains("duplicate-key targets"))
  }

  test("Delta DV merge composes with partitioned and mapped tables") {
    import graft.sources.{DeltaLog, DeltaWrite}
    val s = spark
    import s.implicits._
    // PARTITIONED: the batch stages hive-laid-out with tuples in its
    // add actions; matched rows die in place in their partitions
    val tp = s"$tmp/dv_merge_part"
    DeltaWrite.appendPartitioned(
      (0L until 60L).map(i => (i, s"p${i % 3}", i * 3)).toDF("id", "p", "v"),
      tp, Seq("p"))
    val beforeP = DeltaLog.liveAdds(spark, tp).map(_.path).toSet
    val msp = DeltaWrite.mergeDv(spark, tp,
      Seq((6L, "p0", -6L), (100L, "p1", -100L)).toDF("id", "p", "v"),
      Seq("id"))
    assert(msp.rowsUpdated === 1L && msp.rowsInserted === 1L &&
      msp.filesRewritten === 0)
    val afterP = DeltaLog.liveAdds(spark, tp)
    assert(beforeP.subsetOf(afterP.map(_.path).toSet))
    // fresh batch files carry their partition tuples
    val freshP = afterP.filterNot(a => beforeP.contains(a.path))
    assert(freshP.nonEmpty &&
      freshP.forall(_.partitionValues.keySet == Set("p")))
    val rowsP = DeltaLog.read(spark, tp)
      .select("id", "p", "v").as[(Long, String, Long)].collect().toSet
    assert(rowsP.size === 61 && rowsP.contains((6L, "p0", -6L)) &&
      rowsP.contains((100L, "p1", -100L)) && rowsP.contains((7L, "p1", 21L)))
    // MAPPED (name mode, across a rename): batch authored logically,
    // stages physically; the DV is positional and mapping-blind
    val tm = s"$tmp/dv_merge_mapped"
    // one multi-row file: the kill stays PARTIAL (a 1-row file would
    // legitimately die entirely and leave the live set)
    DeltaWrite.append(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("id", "v", "q").repartition(1), tm)
    DeltaWrite.enableColumnMapping(spark, tm)
    DeltaWrite.renameColumn(spark, tm, "v", "label")
    val beforeM = DeltaLog.liveFiles(spark, tm).toSet
    val msm = DeltaWrite.mergeDv(spark, tm,
      Seq((2L, "B", 20.0), (4L, "d", 4.0)).toDF("id", "label", "q"),
      Seq("id"))
    assert(msm.rowsUpdated === 1L && msm.rowsInserted === 1L &&
      msm.filesRewritten === 0)
    assert(beforeM.subsetOf(DeltaLog.liveFiles(spark, tm).toSet),
      "mapped DV merge rewrote a data file")
    assert(DeltaLog.liveAdds(spark, tm).exists(_.dv.isDefined))
    assert(DeltaLog.read(spark, tm).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0), (4L, "d", 4.0)))
    // purge folds the debt away on both
    val pp = DeltaWrite.purgeDeletionVectors(spark, tp)
    assert(pp.filesPurged >= 1 &&
      DeltaLog.liveAdds(spark, tp).forall(_.dv.isEmpty))
    assert(DeltaLog.read(spark, tp).count() === 61)
    val pm = DeltaWrite.purgeDeletionVectors(spark, tm)
    assert(pm.filesPurged >= 1 &&
      DeltaLog.read(spark, tm).count() === 4)
  }
}
