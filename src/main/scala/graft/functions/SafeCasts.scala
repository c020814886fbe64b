package graft.functions

import org.apache.spark.sql.{Column, ExpressionColumn}
import org.apache.spark.sql.ExpressionColumn.expression
import org.apache.spark.sql.functions._

import graft.plans.{SafeDoubleExpr, SafeLongExpr}

/** Null-on-error typed casts + unix-epoch conversions.
  *
  * Reference semantics: shopee_orders_transformer.py:36-86 and
  * tiktok_shop_transformer.py:379-450 (`_safe_int/_safe_float/_safe_bool/
  * _safe_string(max_length)` return None on unparseable input;
  * `_unix_to_datetime` maps 0/None to null).
  *
  * Spark-first: everything is a Column expression (`try_cast`, `when`,
  * `timestamp_seconds`, and the `safe_long`/`safe_double` kernels for
  * string input) — whole-stage-codegen friendly, no UDFs, so the
  * same plan scales from local[32] to a 1000-executor cluster unchanged.
  */
object SafeCasts {

  /** int(value) with null on failure. Truncates decimal strings like
    * Python's int(float(x)) would not — matches int("12") ok, int("a")
    * null; "12.7" → null (Python int("12.7") also raises). */
  def safeInt(c: Column): Column = c.try_cast("bigint")

  /** float(value) with null on failure. */
  def safeFloat(c: Column): Column = c.try_cast("double")

  /** [[safeInt]] specialized to STRING input, exception-free: under
    * ANSI mode (the Spark 4 default) `try_cast`'s failure path throws
    * and catches PER ROW (~20 µs on a never-parseable column — r10
    * profile: q06's two such columns cost 2.5× the rest of the query).
    * The `safe_long` kernel decides certain values/nulls over the
    * UTF-8 bytes and bails to a real Cast(TRY) eval only on ambiguous
    * input — semantics are try_cast BY CONSTRUCTION (equality fuzzed
    * in GraftExtensionsSpec). Only for string columns: numeric inputs
    * must keep [[safeInt]]'s native numeric cast semantics (e.g.
    * double→bigint truncation). */
  def safeIntStr(c: Column): Column = ExpressionColumn(SafeLongExpr(expression(c)))

  /** [[safeFloat]] specialized to STRING input — see [[safeIntStr]]. */
  def safeFloatStr(c: Column): Column = ExpressionColumn(SafeDoubleExpr(expression(c)))

  /** Python-side truthiness for strings: lower(x) in (true,1,yes,on);
    * null stays null; anything else false.
    * (shopee_orders_transformer.py:76-86) */
  def safeBool(c: Column): Column =
    when(c.isNull, lit(null).cast("boolean"))
      .otherwise(lower(trim(c)).isin("true", "1", "yes", "on"))

  /** str(value) truncated to maxLength (shopee_orders_transformer.py:45-63). */
  def safeString(c: Column, maxLength: Int): Column =
    substring(c.cast("string"), 1, maxLength)

  def safeString(c: Column): Column = c.cast("string")

  /** Unix seconds → UTC timestamp; 0 or null → null
    * (shopee_orders_transformer.py:36-43). */
  def unixSecondsToTs(c: Column): Column =
    timestamp_seconds(nullif(c.try_cast("bigint"), lit(0L)))

  /** Unix milliseconds → UTC timestamp; 0 or null → null
    * (tiktok_shop_transformer.py:401-438 handles ms-resolution fields). */
  def unixMillisToTs(c: Column): Column =
    timestamp_millis(nullif(c.try_cast("bigint"), lit(0L)))
}
