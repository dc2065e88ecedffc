package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StringType}

import graft.sources.{DeltaLog, IcebergLog}

/** The app's SQL table functions by name (the reference's
  * `parquet_metadata(...)` is a DataFusion UDTF,
  * `crates/datafusion-functions-parquet/src/lib.rs:143-291`).
  * [[graft.plans.AppRelations]] resolves a call to the analyzed plan of
  * the DataFrame its builder returns, so a call composes like any
  * relation — joins, filters, aggregates, CTEs, subqueries:
  *
  *  - `parquet_metadata('file')` — one row per row group x column chunk
  *    ([[ParquetMetadataTable]]);
  *  - `table_changes('path', from [, to])` — the Databricks TVF name for
  *    the Delta CHANGE DATA FEED ([[graft.sources.DeltaLog.tableChanges]]);
  *  - `iceberg_snapshots('path')` — the `table$snapshots` inspection
  *    surface: (snapshot_id, operation, manifest_list);
  *  - `iceberg_refs('path')` — the `table$refs` inspection surface:
  *    (name, snapshot_id, type);
  *  - `delta_history('path')` — the `DESCRIBE HISTORY` surface:
  *    (version, timestamp, operation, operation_parameters), newest
  *    first ([[graft.sources.DeltaLog.history]]);
  *  - `iceberg_files('path')` — the `table$files` inspection surface:
  *    (content, file_path, record_count, partition), manifest-only;
  *  - `iceberg_partitions('path')` — the `table$partitions` surface:
  *    (partition, file_count, record_count), manifest-only;
  *  - `delta_files('path')` — the Delta live-file inspection surface:
  *    (file_path, size_bytes, record_count, partition,
  *    has_deletion_vector), log-only ([[graft.sources.DeltaLog.filesTable]]).
  */
object LakehouseTvf {

  /** A table function: its parameters (name, type), of which the first
    * `required` must be given, and the builder. The builder receives the
    * constant arguments evaluated at the parameter types: a `String` per
    * STRING and a `Long` per BIGINT parameter.
    */
  final case class TableFunction(params: Seq[(String, DataType)],
      required: Int, build: (SparkSession, Seq[Any]) => DataFrame)

  private val path = "path" -> StringType

  private def ofPath(build: (SparkSession, String) => DataFrame) =
    TableFunction(Seq(path), 1, (s, args) => build(s, args.head.toString))

  val functions: Map[String, TableFunction] = Map(
    "parquet_metadata" -> ofPath(ParquetMetadataTable(_, _)),
    "table_changes" -> TableFunction(
      Seq(path, "from_version" -> LongType, "to_version" -> LongType), 2,
      (s, args) => DeltaLog.tableChanges(s, args(0).toString,
        args(1).asInstanceOf[Long], args.lift(2).map(_.asInstanceOf[Long]))),
    "iceberg_snapshots" -> ofPath { (s, p) =>
      import s.implicits._
      IcebergLog.snapshots(p)
        .map(x => (x.snapshotId, x.summary.getOrElse("operation", null),
          x.manifestList))
        .toDF("snapshot_id", "operation", "manifest_list")
    },
    "iceberg_refs" -> ofPath { (s, p) =>
      import s.implicits._
      IcebergLog.refs(p).toSeq.sortBy(_._1)
        .map { case (n, (sid, t)) => (n, sid, t) }
        .toDF("name", "snapshot_id", "type")
    },
    "delta_history" -> ofPath(DeltaLog.history),
    "iceberg_files" -> ofPath(IcebergLog.filesTable),
    "iceberg_partitions" -> ofPath(IcebergLog.partitionsTable),
    "delta_files" -> ofPath(DeltaLog.filesTable))
}
