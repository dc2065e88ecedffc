package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.functions.{ConfigUdfLoader, JsonFunctions, NativeFunctions}
import graft.tables.MetaTables

/** Config-driven session construction (reference
  * `crates/datafusion-app/src/config.rs` + `extensions/builder.rs:96-213`):
  * a flat `key = value` config file (TOML-like subset) whose
  * `execution.spark.*` entries pass through to Spark conf — the analog of
  * the reference's `[execution.datafusion]` string map — plus standard app
  * setup: UTC session, meta tables, JSON functions, optional db-dir
  * registration and DDL file.
  */
object SessionFactory {

  def build(master: String = "local[*]",
      conf: Map[String, String] = Map.empty,
      appName: String = "graft"): SparkSession = {
    val spark = plain(master,
      Runtime.getRuntime.availableProcessors.toString,
      ("spark.sql.adaptive.enabled" -> "true") +:
        conf.toSeq.collect { case (k, v) if k.startsWith("execution.spark.") =>
          k.stripPrefix("execution.spark.") -> v
        },
      Some(appName), conf.getOrElse("log.level", "WARN"))
    // extension hooks, mirroring the reference's session builder
    // (`extensions/builder.rs:96-213`): app tables, function families,
    // object-store config, config-declared UDFs
    MetaTables.register(spark)
    JsonFunctions.register(spark)
    NativeFunctions.register(spark)
    graft.plans.FooterCount.enable(spark)
    S3Config(spark, conf)
    graft.sources.HfStore(spark, conf)
    ConfigUdfLoader.load(spark, conf)
    spark
  }

  /** A session without the extension hooks: UTC, `shufflePartitions`, no
    * UI, parquet TIMESTAMP(NANOS) read as raw INT64 nanos (the events
    * table's encoding; see `Tables.normalizeEventTs`), then `conf` in order
    * (a later entry overrides an earlier one).
    * Without `appName` Spark names the application itself. Every session
    * hoists primitive literals out of generated code
    * ([[graft.plans.HoistLiterals]]), so statements that differ only in
    * constants reuse one compiled class, and resolves the app's table
    * functions, `information_schema` and `dft.*` names in its analyzer
    * ([[graft.plans.AppRelations]]).
    */
  def plain(master: String, shufflePartitions: String,
      conf: Seq[(String, String)] = Nil, appName: Option[String] = None,
      logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder().master(master)
      .withExtensions { e =>
        e.injectColumnar(_ => graft.plans.HoistLiterals.columnarRule)
        e.injectHintResolutionRule(graft.plans.AppRelations(_))
      }
    appName.foreach(builder.appName)
    builder
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Minimal TOML-subset parser: `[section]` headers + `key = "value"`
    * lines; nested keys join with dots. Comments (#) stripped.
    */
  def parseConfig(path: String): Map[String, String] = {
    if (!Files.exists(Paths.get(path))) return Map.empty
    var section = ""
    Files.readAllLines(Paths.get(path)).asScala.flatMap { raw =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.startsWith("[") && line.endsWith("]")) {
        section = line.substring(1, line.length - 1).trim
        None
      } else if (line.contains('=')) {
        val Array(k, v) = line.split("=", 2)
        val key = if (section.isEmpty) k.trim else s"$section.${k.trim}"
        Some(key -> v.trim.stripPrefix("\"").stripSuffix("\""))
      } else None
    }.toMap
  }
}
