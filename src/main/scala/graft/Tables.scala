package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetMeta

/** Parquet star-schema access (TESTDATA.md contract).
  *
  * All operators read through here so scans stay declarative: Catalyst
  * applies column pruning + predicate pushdown into the parquet reader
  * (reference analogue: the extractors page JSON from REST APIs; our
  * source is columnar storage, so "extract" = a pruned parquet scan).
  * A table's schema comes from one file footer on the driver
  * ([[ParquetMeta.readParquet]]), so loading a table runs no Spark job.
  */
object Tables {
  val starTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events")

  val allTables: Seq[String] = starTables ++ Seq("documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, sfDir)
    else ParquetMeta.readParquet(spark, s"$sfDir/$name.parquet")

  /** `events.ts` is parquet TIMESTAMP(MICROS) with isAdjustedToUTC =
    * false (a pandas-written naive timestamp; the generator's wall
    * clock is UTC). The schema is read with `inferTimestampNTZ=false`
    * so the physical column maps STRAIGHT to Spark's session-tz
    * TimestampType (sessions here pin UTC, so the instants are
    * unchanged) — no cast sits on the scan column and timestamp window
    * filters reach PushedFilters. The rule is passed to the footer's
    * schema conversion ([[ParquetMeta.readParquet]]), so the session's
    * own NTZ setting is never touched. Expose BOTH:
    *   - `ts`    the physical timestamp (micros) — filter on THIS, and
    *   - `ts_ns` nano-epoch long, derived — kept for the integer
    *     date-math call sites; being derived it does NOT push down, so
    *     incremental window filters belong on `ts`
    *     ([[graft.operators.Incremental.windowFilter]]).
    */
  def loadEvents(spark: SparkSession, sfDir: String): DataFrame =
    ParquetMeta.readParquet(spark, s"$sfDir/events.parquet",
        inferTimestampNTZ = Some(false))
      .withColumn("ts_ns", unix_micros(col("ts")) * 1000)

  /** Nanos since epoch for a UTC literal like "2024-03-01 00:00:00". */
  def utcNanos(ts: String): Long = {
    val inst = java.time.LocalDateTime
      .parse(ts.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC)
    inst.getEpochSecond * 1000000000L + inst.getNano
  }
}
