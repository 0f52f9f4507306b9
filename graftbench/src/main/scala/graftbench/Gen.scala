package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The workload inputs. The tables are the repository's testdata
  * (graftbench/data holds a byte-identical copy of the tables the
  * workloads read), copied into the run's work directory. Only the raw
  * `events` extract is generated: the reference's dirty classes are
  * injected into a seeded share of its rows.
  */
object Gen {

  /** Share of raw extract rows given each dirty class (non-positive
    * price, malformed type code, null customer). */
  val DirtyShare = 0.04

  /** Copy the named tables from `src` to `dir`; `events` gets the dirt. */
  def write(spark: SparkSession, src: String, dir: String, seed: Long, tables: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    tables.foreach {
      case "events" => events(spark, src, seed).coalesce(1).write.parquet(s"$dir/events.parquet")
      case t => Files.copy(Paths.get(src, s"$t.parquet"), Paths.get(dir, s"$t.parquet"))
    }
  }

  /** The testdata events with each dirty class in a seeded `DirtyShare`
    * of rows. Timestamps are written as TIMESTAMP_NTZ (the UTC wall
    * clock), the type DuckDB and Spark both read as a naive timestamp. */
  def events(spark: SparkSession, src: String, seed: Long): DataFrame = {
    val dirt = pmod(xxhash64(lit(seed), lit(66), col("event_id")), lit(1L << 40)).cast("double") /
      lit((1L << 40).toDouble)
    graft.util.Tables.events(spark, src).select(col("event_id"),
      col("ts").cast("timestamp_ntz").as("ts"),
      when(dirt >= 2 * DirtyShare && dirt < 3 * DirtyShare, lit(null).cast("long"))
        .otherwise(col("user_id")).as("user_id"),
      when(dirt >= DirtyShare && dirt < 2 * DirtyShare,
        concat(upper(col("event_type")), lit("-"), pmod(col("event_id"), lit(10L)).cast("string")))
        .otherwise(col("event_type")).as("event_type"),
      when(dirt < DirtyShare / 2, lit(0.0))
        .when(dirt < DirtyShare, -col("value")).otherwise(col("value")).as("value"),
      col("props"))
  }

  /** One more than the largest key of `table` (testdata keys are dense
    * from 0). */
  def keySpan(spark: SparkSession, dir: String, table: String, key: String): Long =
    spark.read.parquet(s"$dir/$table.parquet").agg(max(col(key))).head().getLong(0) + 1L
}
