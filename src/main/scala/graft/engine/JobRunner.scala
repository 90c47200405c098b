package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.Try

/** Reference-compatible job orchestration shell (SURVEY.md §2.1 D12): a
  * FIFO queue running one Maple-or-Juice job at a time, with the hard
  * Maple→Juice barrier (reference `src/MapReduceMaster.java:905-937`,
  * README.md:10-16,30-33).
  *
  * Inside Spark this queue is *semantics compat only* — each submitted job
  * is a blocking Spark action and Spark itself schedules tasks, retries
  * failures (D14) and tracks progress (D13 via SparkListener/StatusTracker).
  * The queue exists so a user of the reference's CLI model (`maple ...`
  * then `juice ...`) gets identical serialized execution order.
  */
class JobRunner(spark: SparkSession, sdfs: graft.sources.Sdfs) {
  import MapleJuice._

  sealed trait Job
  case class MapleJob(srcDir: String, fn: MapleFn, interPrefix: String,
                      strictBatching: Boolean = false) extends Job
  case class JuiceJob(interPrefix: String, fn: JuiceFn, dest: String,
                      deleteInput: Boolean = false,
                      singleFileCompat: Boolean = true) extends Job

  private val engine = new MapleJuice(spark)
  // staged intermediates, keyed by prefix (replaces the reference's
  // master-local per-key files published to SDFS before each Juice)
  private val staged = scala.collection.concurrent.TrieMap[String, DataFrame]()

  /** Enqueue-and-wait (the reference CLI blocks watching progress anyway);
    * returns the Maple's pair count or the lines the Juice wrote, the
    * latter counted by the write itself ([[MapleJuice.sinkSorted]]). One
    * job at a time, FIFO. */
  def submit(job: Job): Long = synchronized { run(job) }

  private def run(job: Job): Long = job match {
    case MapleJob(src, fn, prefix, strict) =>
      val inter = engine.maple(engine.readLines(src), fn, strict)
      val df = inter.toDF("key", "value")
      df.cache()
      val n = df.count() // materialize: the Maple→Juice barrier
      // replacing a staged intermediate releases the old one's cache —
      // repeated jobs on one prefix must not accumulate orphaned storage
      staged.put(prefix, df).foreach(old => Try(old.unpersist()))
      n
    case JuiceJob(prefix, fn, dest, deleteInput, single) =>
      // no staged entry → re-read a PUBLISHED intermediate from SDFS as
      // `key\tvalue` lines (the reference flow where maple output was
      // uploaded before juice ran). Parse contract: key = text before the
      // FIRST tab — keys must not contain tabs, they are the format's
      // delimiter; value = everything after it, so values containing tabs
      // round-trip unchanged (SdfsSpec asserts this). A line with no tab
      // parses as (whole line, "").
      val wasStaged = staged.contains(prefix)
      val interDf = staged.getOrElse(prefix,
        sdfs.get(prefix).selectExpr(
          "substring_index(value, '\t', 1) as key",
          "substring(value, length(substring_index(value, '\t', 1)) + 2) as value"))
      import spark.implicits._
      val inter = interDf.as[KV]
      val result = engine.juice(inter, fn)
      val n = engine.sinkSorted(result, dest, singleFile = single)
      if (deleteInput) {
        // delete-input applies to whichever form the intermediate took:
        // a staged cache entry, or a PUBLISHED SDFS intermediate (the
        // reference's flow deletes the SDFS files, MapReduceMaster's
        // delete-input flag) — dropping only the cache would leave the
        // re-read path's input behind
        staged.remove(prefix).foreach(df => Try(df.unpersist()))
        if (!wasStaged) sdfs.delete(prefix)
      }
      n
  }
}
