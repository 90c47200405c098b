package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileInputFormat, JobConf, TextInputFormat}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The reference's only data shape: a string key/value pair.
  *
  * Reference evidence: map output lines are `key,value` CSV, parsed at
  * `src/MapReduceMaster.java:148-149`; final output is `key\tvalue` lines
  * sorted by key (`src/MapReduceMaster.java:449-478`). See SURVEY.md §1.1.
  */
case class KV(key: String, value: String)

object MapleJuice {

  /** Maple contract — reference `src/MapReduceWorker.java:109-135`: the user
    * executable receives a batch of up to 10 input lines and emits zero or
    * more `key,value` pairs. Spark-natively this is a flatMap over a line
    * iterator; strict 10-line batching is an opt-in compat mode (the batch
    * boundary is observable to a stateful fn, SURVEY.md §7.4).
    */
  type MapleFn = Iterator[String] => Iterator[KV]

  /** Juice contract — reference `src/MapReduceWorker.java:235-247`: the user
    * executable receives (key, file-of-values) and emits `key,value` pairs.
    * Spark-natively: group by the `key` column, then `flatMapGroups`.
    */
  type JuiceFn = (String, Iterator[String]) => Iterator[KV]

  val BatchSizeCompat = 10

  /** Lines a written text row reads back as. The text reader ends a line
    * at `\n`, `\r` or `\r\n`, so a value holding breaks spans several; the
    * writer's own `\n` after a trailing `\r` makes one `\r\n`. */
  private def linesIn(row: String): Long = {
    var n = 1L
    var i = 0
    while (i < row.length) {
      val c = row.charAt(i)
      if (c == '\n' || (c == '\r' && i + 1 < row.length && row.charAt(i + 1) != '\n')) n += 1
      i += 1
    }
    n
  }
}

/** Spark-native re-expression of the reference's Maple/Juice dataflow
  * (SURVEY.md §2.1 D1–D12).
  *
  * What the reference hand-builds — input split (D2), master-mediated per-key
  * shuffle files (D4/D5), key→reducer allocation (D6), failure rescheduling
  * (D14) — all falls out of Spark's scan planning, hash shuffle, and task
  * retry. What remains to express is the *semantics*: flatMap over lines,
  * group per key, reduce per key, sorted sink.
  *
  * Scale notes (100 TB):
  *   - the shuffle is executor-to-executor hash partitioning — never one
  *     file per distinct key like the reference (O(keys) files at the
  *     master, `src/MapReduceMaster.java:145-198`, a scalability wall).
  *   - `juice` uses `flatMapGroups` (streamed group iterator, spillable
  *     sort-based aggregation underneath) — values for one key never have
  *     to fit in memory as a materialized list.
  *   - algebraic reduces should use [[juiceAggregated]] (partial map-side
  *     aggregation — the Hadoop-combiner analog, SURVEY.md §2.1 D4).
  *   - sorted single-file output is a compat mode; the scalable sink is
  *     range-partitioned sorted text ([[sinkSorted]]).
  */
class MapleJuice(spark: SparkSession) {
  import MapleJuice._
  import spark.implicits._

  /** D1: directory scan — enumerate + read input lines, as at least
    * `defaultParallelism` balanced, contiguous splits (the reference's
    * contiguous file split, `src/MapReduceMaster.java:70-95`).
    *
    * Not the session's text source: its splits pack files to
    * `spark.sql.files.maxPartitionBytes` with a 4 MB open-cost floor per
    * file, so a 6 MB input `put` as two part files read as 2 splits, and
    * every Maple (and the Juice map side over its cached output) ran 2
    * tasks on 4 slots. Hadoop's `TextInputFormat` with `minPartitions =
    * defaultParallelism` aims each split at total size / parallelism
    * (capped by the block size), so every slot gets a share. The session
    * file settings stay as they are: the SQL tables read through them.
    *
    * Same lines as `spark.read.option("recursiveFileLookup", "true")
    * .textFile(dir)`: the walk recurses into nested directories (`put`
    * writes each name as a directory of part files), skips hidden `_`/`.`
    * names (`_SUCCESS`, `.crc`), and a line ends at `\n`, `\r` or
    * `\r\n`, the last one with or without a terminator. */
  def readLines(dir: String): Dataset[String] = {
    val sc = spark.sparkContext
    val conf = new JobConf(sc.hadoopConfiguration)
    FileInputFormat.setInputPaths(conf, new Path(dir))
    conf.setBoolean(FileInputFormat.INPUT_DIR_RECURSIVE, true)
    sc.hadoopRDD(conf, classOf[TextInputFormat], classOf[LongWritable], classOf[Text],
        sc.defaultParallelism)
      .map(_._2.toString).toDS()
  }

  /** D3: the Maple phase. `strictBatching = true` reproduces the
    * reference's 10-line batch boundary including the short tail batch
    * (`src/MapReduceWorker.java:136-158`). */
  def maple(lines: Dataset[String], fn: MapleFn,
            strictBatching: Boolean = false): Dataset[KV] =
    if (strictBatching)
      lines.mapPartitions(_.grouped(BatchSizeCompat).flatMap(b => fn(b.iterator)))
    else
      lines.mapPartitions(fn(_))

  /** D5–D7: shuffle by key + reduce per key. One hash-shuffle replaces the
    * reference's upload-one-file-per-key publish step
    * (`src/MapReduceMaster.java:276-281`). Keys are disjoint across tasks by
    * construction, so the reference's duplicate-key last-write-wins gather
    * (D8, `src/MapReduceMaster.java:371-374`) cannot trigger — the engine is
    * deterministic where the reference was not (SURVEY.md §7.4). Grouped
    * by the `key` column, not a typed key function: the shuffle carries
    * each pair once, with no deserialized copy of its key beside it. */
  def juice(inter: Dataset[KV], fn: JuiceFn): Dataset[KV] =
    inter.groupBy($"key").as[String, KV]
      .flatMapGroups((k, rows) => fn(k, rows.map(_.value)))

  /** Algebraic fast path for Juice fns that are associative+commutative
    * (e.g. word-count sum, `applications/wc-juice.py:5-14`): a typed
    * `Aggregator` gets map-side partial aggregation (combiner, D4) instead
    * of shipping every raw value through the shuffle. */
  def juiceAggregated[B: org.apache.spark.sql.Encoder, O: org.apache.spark.sql.Encoder](
      inter: Dataset[KV], agg: Aggregator[KV, B, O]): Dataset[(String, O)] =
    inter.groupByKey(_.key).agg(agg.toColumn)

  /** D9+D10: sorted sink; returns the number of lines it wrote.
    * `singleFile = true` is the reference-compat mode (one `key\tvalue`
    * text file sorted by the whole line, `src/MapReduceMaster.java:453-489`):
    * one shuffle into a single partition, sorted there. Not `orderBy` +
    * `coalesce(1)`: `orderBy` range-partitions, and the RangePartitioner's
    * sample job re-runs the whole Juice (shuffle read, grouping, `JuiceFn`)
    * before the exchange runs it again. The default is the scalable form —
    * range-partitioned, sorted within partitions, so output is globally
    * sorted across part files without a single-task bottleneck.
    *
    * The count is taken in the write's own final stage, so nothing is read
    * back. That stage is the write job's result stage, where Spark merges
    * an accumulator update once per partition: a failed attempt's update is
    * dropped and a re-run of a finished partition is not merged again, so
    * the count is exact under task and stage retry. The range sampler reads
    * the stage before the exchange and never touches it. */
  def sinkSorted(result: Dataset[KV], dest: String,
                 singleFile: Boolean = false): Long = {
    val lines = result
      .select(concat_ws("\t", $"key", $"value").as("value"))
    val arranged =
      if (singleFile) lines.repartition(1).sortWithinPartitions($"value")
      else lines.repartitionByRange($"value").sortWithinPartitions($"value")
    val written = spark.sparkContext.longAccumulator("graft.sink.lines")
    arranged.as[String].map { r => written.add(linesIn(r)); r }
      .write.mode("overwrite").text(dest)
    written.value
  }

  /** Sorted result as a DataFrame (what D8–D9 gather+TreeMap produce,
    * minus the single-heap bottleneck). */
  def gatherSorted(result: Dataset[KV]): DataFrame =
    result.toDF("key", "value").orderBy($"key")

  /** End-to-end job: maple → juice → sorted KV DataFrame. The Maple→Juice
    * barrier (D12, reference README.md:10-16) is simply the shuffle-stage
    * boundary Spark inserts under `groupByKey`. */
  def run(inputDir: String, mapleFn: MapleFn, juiceFn: JuiceFn): DataFrame =
    gatherSorted(juice(maple(readLines(inputDir), mapleFn), juiceFn))

  /** Same pipeline but starting from an in-memory/derived line Dataset. */
  def runOn(lines: Dataset[String], mapleFn: MapleFn, juiceFn: JuiceFn): DataFrame =
    gatherSorted(juice(maple(lines, mapleFn), juiceFn))
}

/** External-executable compatibility: the reference's entire UDF surface is
  * "run a user program per batch / per key" (`src/MapReduceWorker.java:114,
  * 235-247`; README.md:130-131). Spark's analog is `RDD.pipe` — one process
  * per *partition* fed via stdin, not one process per 10 lines (the
  * reference's dominant cost, BASELINE.md).
  *
  * Protocol adaptation (SURVEY.md §7.3): reference maple passes the batch as
  * one argv string and juice passes (key, values-file); a piped executable
  * instead reads lines from stdin and writes `key,value` lines to stdout.
  * For juice, each stdin line is `key\tvalue` so one process can reduce
  * every key in its partition (keys arrive grouped after [[groupSorted]]).
  */
object PipeRunner {
  /** Parse one `key,value` stdout line. Default: value = everything after
    * the first comma. `strictCsv = true` reproduces the reference's gather
    * parse (`split(",")[1]`, `src/MapReduceMaster.java:148-149`): a value
    * containing a comma is silently truncated at it — kept only as a
    * compat/negative-test mode, documented divergence (FIXTURES.md A3). */
  private[engine] def parseKv(line: String, strictCsv: Boolean): Option[KV] = {
    val i = line.indexOf(',')
    if (i < 0) None
    else if (strictCsv) {
      val rest = line.substring(i + 1)
      val j = rest.indexOf(',')
      Some(KV(line.substring(0, i), if (j < 0) rest else rest.substring(0, j)))
    } else Some(KV(line.substring(0, i), line.substring(i + 1)))
  }
}

class PipeRunner(spark: SparkSession, strictCsv: Boolean = false) {
  import spark.implicits._

  /** Maple via external command: stdin = input lines, stdout = `key,value`. */
  def mapleExe(lines: Dataset[String], cmd: Seq[String]): Dataset[KV] = {
    val strict = strictCsv // local copy: the closure must not capture `this`
    lines.rdd.pipe(cmd).toDS().flatMap(PipeRunner.parseKv(_, strict))
  }

  /** Group KVs so each key's values are contiguous within a partition
    * (hash-partition by key, sort within partition — no global sort). */
  def groupSorted(inter: Dataset[KV]): Dataset[KV] =
    inter.repartition($"key").sortWithinPartitions($"key")

  /** Juice via external command: stdin = `key\tvalue` lines grouped by key,
    * stdout = `key,value` result lines. */
  def juiceExe(inter: Dataset[KV], cmd: Seq[String]): Dataset[KV] = {
    val strict = strictCsv
    groupSorted(inter)
      .map(kv => s"${kv.key}\t${kv.value}")
      .rdd.pipe(cmd)
      .toDS().flatMap(PipeRunner.parseKv(_, strict))
  }
}
