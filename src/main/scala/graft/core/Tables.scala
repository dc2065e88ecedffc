package graft.core

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The one parquet read primitive, and the registry over the parquet
  * testdata layout (TESTDATA.md): one parquet file per table under a
  * scale-factor directory. Mirrors the reference's directory-walk table
  * registration (reference `src/db.rs:54-150`): a table's schema comes
  * from a footer read on the driver, with no schema-inference job. Every
  * parquet footer in the engine is opened by [[footer]].
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** `f` over the parquet footer of the file at `path`, opened with
    * `conf`: the session's `newHadoopConf()`, so object-store settings
    * (`S3Config`, `HfStore`) reach it as they reach a scan.
    */
  def footer[A](conf: Configuration, path: String)(f: ParquetMetadata => A): A = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try f(reader.getFooter) finally reader.close()
  }

  /** `f` over each of `files` with the session's Hadoop conf: on the
    * driver for up to 64 files, else as tasks that get the conf shipped.
    */
  def perFile[A: ClassTag](spark: SparkSession, files: Seq[String])(
      f: (Configuration, String) => A): Seq[A] = {
    val conf = spark.sessionState.newHadoopConf()
    if (files.length <= 64) files.map(f(conf, _))
    else {
      val shipped = new SerializableConfiguration(conf)
      spark.sparkContext.parallelize(files, math.min(files.length / 16 + 1, 256))
        .map(f(shipped.value, _)).collect().toSeq
    }
  }

  /** Spark schema of the parquet data at `path`, a file or a directory:
    * the footer of its first data file (by name, skipping `_`/`.` names,
    * walking subdirectories such as `k=v` partitions) as Spark's
    * non-merging inference converts it, without partition columns. Read
    * on every call.
    */
  def schema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def firstFile(s: FileStatus): Option[Path] =
      if (s.isFile) Some(s.getPath)
      else fs.listStatus(s.getPath)
        .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
        .sortBy(_.getPath.getName).iterator.flatMap(firstFile).nextOption()
    val file = firstFile(fs.getFileStatus(root)).getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    footer(conf, file.toString)(m => ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, m), new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** `spark.read.parquet(path)` with [[schema]]'s footer schema;
    * Spark still discovers partition columns.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir) else read(spark, path(dir, name))

  /** Normalize an events frame's `ts` column to Spark-native TimestampType
    * (microsecond UTC instant) whatever the file's physical encoding. The
    * driver-generated events parquet has shipped as BOTH TIMESTAMP(NANOS)
    * (which Spark reads as a raw long under `nanosAsLong`, set for every
    * session by `SessionFactory.plain`) and
    * TIMESTAMP_NTZ(micros) across rounds — an external table's writer owns
    * its encoding, not the engine. The reference gets this adaptivity free
    * from footer-inferred ListingTable schemas (reference `src/db.rs:134-137`);
    * branching on the loaded dataType is the Spark equivalent. Anything
    * unrecognized fails loudly with the offending type rather than
    * guessing a unit and silently corrupting every timestamp.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as raw nanos under nanosAsLong
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case TimestampNTZType =>
        // UTC session timezone everywhere in this engine, so the NTZ
        // wall-clock value IS the instant; the cast is value-preserving
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported physical type $other — expected INT64 " +
          "nanos (TIMESTAMP(NANOS) under nanosAsLong), TIMESTAMP, or TIMESTAMP_NTZ")
    }
  }

  /** Load the events table, adapting to whichever timestamp encoding the
    * current parquet carries (see [[normalizeEventTs]]).
    */
  def loadEvents(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(read(spark, path(dir, "events")))

  /** Register every table as a temp view named after the table. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
