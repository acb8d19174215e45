package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.plans.KernelPlacement

/** Shared helpers for the driver-checked query set.
  *
  * Determinism contract with the DuckDB oracle (BASELINE.md): float
  * aggregates go through exact decimal arithmetic —
  * `CAST(x AS DECIMAL(18,s))` recovers the true fixed-point value of the
  * source doubles (prices/quantities/discounts carry ≤ 4 real decimal
  * digits, and double error ~1e-16 relative is far below the rounding
  * threshold), decimal SUM is order-independent and exact, and the final
  * `CAST(.. AS DOUBLE)` is exact — so Spark and DuckDB produce bit-identical
  * doubles regardless of partitioning/aggregation order. Every query also
  * carries a total deterministic ORDER BY.
  */
object Q {
  type QueryFn = (SparkSession, String) => DataFrame

  /** Footer cache (round 17): `spark.read.parquet` runs parquet
    * schema inference on EVERY call — measured 88 ms against 12 ms with
    * an explicit schema, a fixed cost every bench row paid
    * 1-3× per rep. The schema of a testdata table is immutable within a
    * process, so infer once per path and hand the reader the explicit
    * schema afterwards — the exact behavior a production catalog
    * (metastore/Iceberg manifest) provides at scale; no data or results
    * are cached. The table's parquet row-group total is read from the
    * same footers once and recorded on the scan for
    * [[graft.plans.KernelPlacement]], which `t` installs on the session. */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (org.apache.spark.sql.types.StructType, Int)]

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    KernelPlacement.setup(s)
    val path = s"$dir/$name.parquet"
    val (sch, groups) = footerCache.computeIfAbsent(path, p =>
      (s.read.parquet(p).schema,
        KernelPlacement.rowGroups(p, s.sparkContext.hadoopConfiguration)))
    s.read.schema(sch).option(KernelPlacement.RowGroupsKey, groups)
      .parquet(path)
  }

  /** The events table with `ts` normalized to TimestampType.
    *
    * The driver's events parquet has carried `ts` as TIMESTAMP(NANOS) in
    * some rounds and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others, so
    * normalization is schema-driven rather than assuming one encoding:
    *   - NANOS: `nanosAsLong` (a runtime conf — safe to set on the driver's
    *     session) reads it as nanos-since-epoch LongType; convert with
    *     integer division (`DIV`, not `/` — ~1.7e18 ns overflows double
    *     precision).
    *   - MICROS NTZ: Spark reads TIMESTAMP_NTZ; reinterpret the wall-clock
    *     value as a UTC instant. A bare cast goes through the SESSION
    *     timezone (wall → instant in that zone), and so does
    *     `to_utc_timestamp(ntz, 'UTC')` — the implicit NTZ→TIMESTAMP cast
    *     happens first and the UTC shift is then a no-op (round-6 advice,
    *     verified on 4.1.2: the result differed by the zone offset under a
    *     non-UTC session tz). Even the cast-then-shift-back form
    *     (`from_utc_timestamp(cast(...), sessionTz)`) breaks around DST
    *     transitions — the cast resolves the wall time with one offset
    *     and the shift-back applies the offset at the derived instant
    *     (round-7 review). And `timestampdiff(…, NTZ, NTZ)` is NOT the
    *     fix: measured on 4.1.2, it resolves its NTZ args through the
    *     session zone too (off by 1h for the spring-forward skipped
    *     hour; pinned by TzSemanticsSpec). The only arithmetic verified
    *     zone-free end-to-end is FIELD DECOMPOSITION — date / hour /
    *     minute / second extraction on NTZ is pure wall reading, so
    *     `unix_date(date)·86400e6 + (h·3600 + m·60)·1e6 + sec·1e6`
    *     reconstructs the exact wall micros and `timestamp_micros` of it
    *     IS wall-as-UTC, under every session timezone incl. DST gaps.
    *   - Already TimestampType: pass through. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", expr(
          "timestamp_micros(unix_date(cast(ts as date)) * 86400000000L" +
            " + (date_part('HOUR', ts) * 3600" +
            " + date_part('MINUTE', ts) * 60) * 1000000L" +
            " + cast(date_part('SECOND', ts) * 1000000 as long))"))
      case _ => df
    }
  }

  /** Exact fixed-point view of a 2-decimal money/quantity double. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact fixed-point view of a product of two 2-decimal doubles. */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Exact fixed-point view of a product of three 2-decimal doubles. */
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Order-independent, engine-portable double sum of 2-decimal values. */
  def sum2(c: Column): Column = sum(dec2(c)).cast("double")

  def sum4(c: Column): Column = sum(dec4(c)).cast("double")

  def sum6(c: Column): Column = sum(dec6(c)).cast("double")

  /** Portable average: exact decimal sum, then one double division. */
  def avg2(c: Column): Column =
    sum(dec2(c)).cast("double") / count(lit(1)).cast("double")
}
