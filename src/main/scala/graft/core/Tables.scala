package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  *
  * The reference engine's only source is a replicated line-oriented file
  * store ("SDFS", reference `src/SDFSServer.java`); here the source layer is
  * Spark's `FileSourceScanExec` over parquet — columnar, splittable,
  * predicate-pushdown-capable — which is the 100 TB-safe replacement
  * (SURVEY.md §1.4). All queries take the scale-factor directory as a
  * parameter so the same code runs sf0.001 → sf100.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  /** The events table has shipped `ts` in two physical forms across driver
    * testdata generations: parquet TIMESTAMP(NANOS), which Spark only reads
    * as a raw long (`spark.sql.legacy.parquet.nanosAsLong=true`, set by
    * [[sessionDefaults]]), and parquet TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ. Normalize
    * both to session-local TimestampType at µs precision — identical values
    * either way (the session timezone is pinned UTC, so the NTZ cast is a
    * relabel, not a clock shift; DuckDB reads the same µs wall times):
    *  - ns long → `timestamp_micros(ts div 1000)` — truncation, exactly
    *    what DuckDB does reading the same file. `div` not `/`: epoch-nanos
    *    ≈ 1.7e18 exceeds double's 2^53 integer range, so float division
    *    would corrupt low bits.
    *  - TIMESTAMP_NTZ → cast to TimestampType. */
  private def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Session configs every graft session needs (Verify, Bench, tests).
    *
    * AQE is pinned ON explicitly (not inherited from the Spark default):
    * the round-9 posture audit (SCALE_r9.md) ran the plan census and the
    * skew rehearsals both ways — the committed census is AQE-final, and
    * the hand-salted skew twins compose with (not fight) AQE's runtime
    * skew-join splitting, so ON is the standing policy.
    *
    * `spark.graft.stream.statePartitions` sizes STREAMING state stores
    * only (applied around `writeStream.start()` in
    * [[graft.streaming.EventStream.runAppendToFileSink]]; batch shuffle
    * partitioning is untouched). Streaming state partitioning is
    * checkpoint-sticky — a deploy-time parameter sized to peak state, not
    * a per-query tunable — and at gate scale (sf ≤ 1) 8 partitions hold
    * the whole watermark-bounded state with room to spare. The round-9
    * floor measurement: state-store commit cost is per
    * partition × batch × store, so the 32-partition default was pure
    * fixed overhead at gate volume — 3.4× on the interval join
    * (9.8 s → 2.9 s op) with identical results. A 100 TB deployment
    * raises this to its own peak-volume figure. */
  val sessionDefaults: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.graft.stream.statePartitions" -> "8")

  /** Config-matrix overlay for the Bench harness:
    * `SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"` overlays [[sessionDefaults]]
    * for one run — posture experiments (AQE on/off, state-store provider,
    * state-partition floor) vary configs without code edits while the
    * pinned defaults stay the only thing a plain run uses. */
  def envExtraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap {
      _.split(';').map(_.trim).filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        (k.trim, v.trim)
      }
    }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
