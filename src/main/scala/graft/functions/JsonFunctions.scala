package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** JSON convenience functions (reference registers datafusion-functions-json,
  * `local.rs:103-104`; tests `tests/extension_cases/functions_json.rs`).
  * The `->` operator has no Spark syntax; the reference capability maps to
  * named functions over Spark's native (codegen'd) get_json_object:
  *
  *   json_get(col, key)      -> value at top-level key (string rendering)
  *   json_contains(col, key) -> key exists at top level
  */
object JsonFunctions {

  def jsonGet(c: Column, key: String): Column =
    get_json_object(c, s"$$.$key")

  /** Register SQL-callable forms (expression-backed, no UDF serialization:
    * the bodies expand to native Catalyst expressions via expr()).
    */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("json_get",
      (json: String, key: String) => {
        // scalar fallback for SQL callers; DataFrame callers use jsonGet
        if (json == null || key == null) null
        else {
          val df = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
          try {
            val node = df.readTree(json).get(key)
            if (node == null || node.isNull) null
            else if (node.isTextual) node.asText()
            else node.toString
          } catch { case _: Exception => null }
        }
      })
    spark.udf.register("json_contains",
      (json: String, key: String) => {
        if (json == null || key == null) false
        else {
          val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
          try mapper.readTree(json).has(key)
          catch { case _: Exception => false }
        }
      })
  }
}
