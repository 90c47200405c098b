package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Reference-exact external-executable adapter — the **argv protocol**.
  *
  * The reference never pipes stdin to user code; it passes arguments:
  *
  *   - maple: `python <exe> "<batch of up to 10 input lines joined by \n>"`
  *     — the whole batch is ONE argv string
  *     (reference `src/MapReduceWorker.java:114-123`, and
  *     `applications/wc-maple.py:6` reads `sys.argv[1].split()`);
  *   - juice: `python <exe> <key> <valuesFile>` — the key and a path to a
  *     file holding that key's values, one per line
  *     (reference `src/MapReduceWorker.java:235-247`,
  *     `applications/wc-juice.py:6-8`);
  *
  * and collects `key,value` lines from stdout. This adapter reproduces that
  * contract exactly, so the reference's *unmodified* shipped applications
  * (`applications/wc-maple.py`, `wc-juice.py`, `rwlg-maple.py`,
  * `rwlg-juice.py`) run on the engine — the first thing a migrating user
  * tries. [[PipeRunner]] remains the scalable path (one process per
  * partition over stdin); this one is per-batch/per-key process spawn, the
  * reference's own cost model.
  *
  * Process hygiene (the classic pipe-deadlock trap): stdout is consumed on
  * the calling thread while stderr drains concurrently on a daemon thread —
  * stderr is never merged into the parsed stream and can never fill the OS
  * pipe buffer and wedge the child. stdin is closed immediately (the argv
  * protocol has none). A non-zero exit fails the task loudly, with the
  * tail of the child's stderr in the message — the
  * reference silently wrote nothing for a crashed exe
  * (`src/MapReduceWorker.java:159-163` swallows IOException), which turns
  * user bugs into empty results; documented divergence.
  *
  * Values are parsed as `key,value` with value = everything after the first
  * comma (rwlg-juice emits comma-joined adjacency values, so a strict CSV
  * split would truncate them).
  */
/** @param interpreter command prefix the exe path is appended to —
  *   `Seq("python3")` (default, the reference hardcodes `python <exe>`),
  *   an explicit `Seq("/path/to/python2")`, or `Seq.empty` to exec the
  *   file directly (compiled binary / shebang script). */
class ExeRunner(spark: SparkSession,
                interpreter: Seq[String] = Seq("python3")) {
  import spark.implicits._

  /** MapleFn wrapping `exe "<batch>"` — use with
    * `MapleJuice.maple(lines, fn, strictBatching = true)` so the batch
    * boundary matches the reference's 10-line window. */
  def mapleFn(exePath: String): MapleJuice.MapleFn = {
    val interp = interpreter // serialize the Seq, not `this`
    batch => ExeRunner.run(interp ++ Seq(exePath, batch.mkString("\n")))
  }

  /** JuiceFn wrapping `exe <key> <valuesFile>`. The values file is written
    * streaming (never materializing the group as one string) to the
    * executor's temp dir and deleted afterwards. */
  def juiceFn(exePath: String): MapleJuice.JuiceFn = {
    val interp = interpreter
    (key, values) => {
      val tmp = java.nio.file.Files.createTempFile("graft_juice_", ".txt")
      val w = java.nio.file.Files.newBufferedWriter(tmp)
      try values.foreach { v => w.write(v); w.newLine() }
      finally w.close()
      try ExeRunner.run(interp ++ Seq(exePath, key, tmp.toString))
      finally java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  /** End-to-end argv-contract job: 10-line-batched maple exe → juice exe
    * per key → sorted KV DataFrame (the reference's `maple` + `juice`
    * commands back to back). */
  def run(lines: Dataset[String], mapleExe: String, juiceExe: String): DataFrame = {
    val mj = new MapleJuice(spark)
    mj.gatherSorted(mj.juice(mj.maple(lines, mapleFn(mapleExe),
      strictBatching = true), juiceFn(juiceExe)))
  }
}

object ExeRunner {
  /** Bytes of a failed exe's stderr kept for its error message. */
  private val StderrTailBytes = 4096

  /** Spawn, drain stderr concurrently, parse stdout `key,value` lines.
    * Materializes the output before waitFor (bounded by one batch/key's
    * result size — the argv contract already bounds inputs). The drain
    * keeps the last [[StderrTailBytes]] of stderr, which a failure appends
    * to its message (the interpreter's own complaint, e.g. a script it
    * cannot open, is otherwise lost). */
  private[engine] def run(cmd: Seq[String]): Iterator[KV] = {
    val pb = new ProcessBuilder(cmd: _*)
    val p = pb.start()
    p.getOutputStream.close()
    @volatile var errTail = Array.emptyByteArray
    val errSink = new Thread(() => {
      try {
        val buf = new Array[Byte](8192)
        var n = p.getErrorStream.read(buf)
        while (n >= 0) {
          errTail = (errTail ++ buf.take(n)).takeRight(StderrTailBytes)
          n = p.getErrorStream.read(buf)
        }
      } catch { case _: java.io.IOException => }
    })
    errSink.setDaemon(true)
    errSink.start()
    val src = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
    val out =
      try src.getLines().flatMap { line =>
        val i = line.indexOf(',')
        if (i < 0) None else Some(KV(line.substring(0, i), line.substring(i + 1)))
      }.toVector
      finally src.close()
    val rc = p.waitFor()
    if (rc != 0) {
      // the child has exited; a grandchild still holding stderr open must
      // not hang the failure, so the wait for the drain is bounded
      errSink.join(1000)
      val stderr = new String(errTail, "UTF-8").trim
      throw new IllegalStateException(s"external exe failed (exit $rc): ${cmd.mkString(" ")}" +
        (if (stderr.isEmpty) "" else s"\nstderr (tail): $stderr"))
    }
    out.iterator
  }
}
