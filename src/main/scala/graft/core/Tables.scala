package graft.core

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  *
  * The reference engine's only source is a replicated line-oriented file
  * store ("SDFS", reference `src/SDFSServer.java`); here the source layer is
  * Spark's `FileSourceScanExec` over parquet — columnar, splittable,
  * predicate-pushdown-capable — which is the 100 TB-safe replacement
  * (SURVEY.md §1.4). All queries take the scale-factor directory as a
  * parameter so the same code runs sf0.001 → sf100.
  *
  * Every read gives Spark the table's schema ([[schemaOf]]). Without one,
  * `spark.read.parquet` infers it with a one-task Spark job that reads a
  * footer, on every call: ~50 ms of driver time per table read, paid once
  * per table a query reads and again on every run. The schema is memoized,
  * not the DataFrame or its plan: each call must build a fresh relation
  * with fresh attribute ids, or a self-join of two reads would share them.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.schema(schemaOf(spark, sfDir, name)).parquet(pathOf(sfDir, name))
    if (name == "events") normalizeEventTs(df) else df
  }

  private def pathOf(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** What an inferred schema depends on: the table's files (a table
    * rewritten in place lists other names, lengths or mtimes) and the
    * session's explicitly set conf, since parquet inference reads several
    * confs (`nanosAsLong`, `binaryAsString`, `int96AsTimestamp`,
    * `inferTimestampNTZ`, ...) and keying on all of them needs no list
    * kept in step with Spark. */
  private case class SchemaKey(path: String, files: Seq[(String, Long, Long)],
      conf: Map[String, String])
  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** The schema `spark.read.parquet` infers for table `name`, inferred
    * once per file set and session conf. A missing path is not memoized:
    * it fails in Spark's own read, with its PATH_NOT_FOUND error. */
  def schemaOf(spark: SparkSession, sfDir: String, name: String): StructType = {
    val path = pathOf(sfDir, name)
    def infer() = spark.read.parquet(path).schema
    val key = try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(root, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
      Some(SchemaKey(fs.makeQualified(root).toString, files, spark.conf.getAll))
    } catch { case _: FileNotFoundException => None }
    key.fold(infer()) { k =>
      Option(schemas.get(k)).getOrElse {
        val schema = infer()
        schemas.putIfAbsent(k, schema)
        schema
      }
    }
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
