package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Re-expresses the reference's data-access layer (reference:
  * src/core/database/connection.py:1 — snapshot + SQLite scan) as plain
  * parquet scans so Catalyst can push predicates and prune columns at
  * the source. At cluster scale these would be partitioned tables; the
  * loaders keep that the only difference.
  */
final class Tables(val spark: SparkSession, val dir: String) {
  /** The table read with the schema its file identity resolved once
    * ([[Tables.schemaCache]]): inferring it costs a footer job per
    * read. */
  private def t(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Tables.schemaCache.getOrLoadIdentified(path)(
      spark.read.parquet(path).schema)).parquet(path)
  }

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects outright. Read nanos as raw long
    * (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to
    * microsecond TIMESTAMP_NTZ — exactly what DuckDB does natively
    * (truncation verified, not rounding), so event-time semantics stay
    * oracle-identical. NTZ keeps written output naive, matching the
    * source data's isAdjustedToUTC=false.
    *
    * Note the conf is SESSION-WIDE (Spark offers no per-read option for
    * it): after this call, other NANOS columns in this session read as
    * raw longs instead of erroring. Every reader in this library that
    * can meet a NANOS column (here and streaming.EventStream) therefore
    * branches on LongType and applies the same div-1000 truncation. */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // inferred per read: the conf above decides the inferred ts type,
    // so a schema cached under another session's conf could misread it
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", Tables.ntzFromNanos("ts"))
      case _ => // already a timestamp type (e.g. a directory this library wrote)
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp_ntz"))
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  /** Inferred table schemas by file identity (a single parquet file's
    * own name, length and mtime; a directory's part files), so a table
    * rewritten at the same path resolves its new schema. */
  private[graft] val schemaCache = new TableFormat.IdentityCache[StructType](256)

  /** The `documents` schema, passed EXPLICITLY on every read-back of a
    * documents store: inference must never re-type a column (a
    * numeric-looking partition value), and an empty (fully purged)
    * store must read as an empty frame. */
  private[graft] val docSchema: StructType = StructType.fromDDL(
    "doc_id LONG, text STRING, lang STRING, n_chars LONG, source STRING")

  /** Naive nanos-long → microsecond TIMESTAMP_NTZ truncation,
    * SESSION-TIMEZONE-INDEPENDENT: micros are added onto an NTZ epoch
    * base, instead of `cast(timestamp_micros(..) as timestamp_ntz)`
    * which would render the instant in the session zone and shift the
    * wall-clock outside UTC. Shared by the batch loader above and
    * streaming.EventStream so batch and stream event time agree
    * everywhere. */
  private[graft] def ntzFromNanos(colName: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr(
      s"timestampadd(MICROSECOND, $colName div 1000, " +
        "timestamp_ntz'1970-01-01 00:00:00')")
}
