package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Nested-JSON → relational normalization.
  *
  * Reference: shopee_orders_transformer.py:145-365 — one order JSON fans
  * out into orders / recipient_address / order_items /
  * order_item_locations / packages / package_items; child tables carry
  * the parent key (`order_sn`), array fields (`item_list`,
  * `package_list`, `product_location_id`) explode into rows.
  *
  * Spark-first: `from_json` with an explicit schema (never inference on
  * the hot path — inference is a second full scan), struct field
  * projection for 1:1 children, `explode` (a codegen'd generator)
  * for 1:N. Parsing is row-local → no shuffle at all; the
  * fan-out is pipelined inside whole-stage codegen.
  */
object Normalize {

  /** Child table: parent keys + fields projected from a struct column.
    * Rows where the struct is null are dropped (reference skips orders
    * with no recipient_address, shopee_orders_transformer.py:229-232). */
  def childFromStruct(df: DataFrame, parentKeys: Seq[String],
      structCol: String, fields: Seq[(String, String)]): DataFrame =
    df.where(col(structCol).isNotNull)
      .select(parentKeys.map(col) ++
        fields.map { case (f, as) => col(s"$structCol.$f").as(as) }: _*)

  /** Child table: parent keys + one row per array element
    * (item_list → order_items, shopee_orders_transformer.py:245-314). */
  def childFromArray(df: DataFrame, parentKeys: Seq[String],
      arrayCol: String, as: String): DataFrame =
    df.select(parentKeys.map(col) :+ explode(col(arrayCol)).as(as): _*)

  /** Parse with a quarantine side-channel: rows whose JSON fails the
    * schema keep their parsed fields null and get
    * `is_quarantined = true` instead of failing the job — the
    * streaming-era form of the reference's skip-and-log error handling
    * (shopee_orders_transformer.py catches per-order parse errors and
    * continues). Detection uses Spark's PERMISSIVE-mode corrupt-record
    * column (`from_json` yields a struct of nulls on malformed input,
    * so a null-struct check would never fire). Route
    * `where(is_quarantined)` to a dead-letter sink and the rest
    * onward; both branches stay row-local (no shuffle). */
  def parseJsonWithQuarantine(df: DataFrame, jsonCol: String,
      schema: StructType, as: String = "parsed"): DataFrame = {
    val corrupt = "_corrupt_record"
    val schemaPlus = StructType(schema.fields :+
      StructField(corrupt, org.apache.spark.sql.types.StringType))
    df.withColumn(as, from_json(col(jsonCol), schemaPlus,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt)))
      .withColumn("is_quarantined", col(s"$as.$corrupt").isNotNull)
      .withColumn(as, col(as).dropFields(corrupt))
  }
}
