package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.Tables

/** `parquet_metadata('file.parquet')` table function (reference
  * `crates/datafusion-functions-parquet/src/lib.rs:143-291`): one row per
  * (row group x column chunk) with statistics, compression, encodings and
  * page offsets — the reference's 24-column schema. In SQL it is the
  * `parquet_metadata` entry of [[LakehouseTvf.functions]]. The footer is
  * read by `Tables.footer` with the session's Hadoop conf, so
  * object-store settings (`S3Config`, `HfStore`) reach it as they reach
  * a scan.
  */
object ParquetMetadataTable {

  val schema: StructType = StructType(Seq(
    StructField("filename", StringType),
    StructField("row_group_id", LongType),
    StructField("row_group_num_rows", LongType),
    StructField("row_group_num_columns", LongType),
    StructField("row_group_bytes", LongType),
    StructField("column_id", LongType),
    StructField("file_offset", LongType),
    StructField("num_values", LongType),
    StructField("path_in_schema", StringType),
    StructField("type", StringType),
    StructField("logical_type", StringType),
    StructField("stats_min", StringType),
    StructField("stats_max", StringType),
    StructField("stats_null_count", LongType),
    StructField("stats_distinct_count", LongType),
    StructField("stats_min_value", StringType),
    StructField("stats_max_value", StringType),
    StructField("compression", StringType),
    StructField("encodings", StringType),
    StructField("index_page_offset", LongType),
    StructField("dictionary_page_offset", LongType),
    StructField("data_page_offset", LongType),
    StructField("total_compressed_size", LongType),
    StructField("total_uncompressed_size", LongType)))

  def apply(spark: SparkSession, path: String): DataFrame = {
    val rows: Seq[Row] = Tables.footer(spark.sessionState.newHadoopConf(), path) { footer =>
      footer.getBlocks.asScala.zipWithIndex.flatMap { case (block, rgId) =>
        val cols = block.getColumns.asScala.toSeq
        cols.zipWithIndex.map { case (c, colId) =>
          val stats = Option(c.getStatistics)
          val statMin = stats.filter(_.hasNonNullValue).map(_.minAsString).orNull
          val statMax = stats.filter(_.hasNonNullValue).map(_.maxAsString).orNull
          Row(
            path,
            rgId.toLong,
            block.getRowCount,
            cols.length.toLong,
            block.getTotalByteSize,
            colId.toLong,
            c.getStartingPos,
            c.getValueCount,
            c.getPath.toDotString,
            c.getPrimitiveType.getPrimitiveTypeName.toString,
            Option(c.getPrimitiveType.getLogicalTypeAnnotation).map(_.toString).orNull,
            statMin,
            statMax,
            stats.map(_.getNumNulls).filter(_ >= 0).map(Long.box).orNull,
            null, // distinct count: not stored by parquet-mr writers
            statMin,
            statMax,
            c.getCodec.toString,
            c.getEncodings.asScala.map(_.toString).toSeq.sorted.mkString("[", ", ", "]"),
            null, // index page offset: not exposed by parquet-mr metadata
            if (c.getDictionaryPageOffset >= 0) Long.box(c.getDictionaryPageOffset) else null,
            Long.box(c.getFirstDataPageOffset),
            c.getTotalSize,
            c.getTotalUncompressedSize)
        }
      }.toSeq
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}
