package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark schema from ONE parquet footer, read driver-side. A bare
  * `spark.read.parquet(paths)` runs a one-task schema-inference JOB per
  * call — a driver round-trip every reader that names its schema this
  * way avoids. The answer equals Spark's non-merging inference (the
  * first file's footer) for tables whose files share one physical
  * schema. Read on every call: a schema is never cached across reads.
  */
private[sources] object FooterSchema {

  def apply(spark: SparkSession, path: String): StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val footer = ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
      org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(footer.getFileMetaData.getSchema)
  }
}
