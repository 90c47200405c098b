package graft

import org.apache.spark.sql.SparkSession
import graft.engine.{Builtins, JobRunner}
import graft.sources.Sdfs

/** Reference-compatible command shell (reference README.md:53-92 command
  * surface) over the engine. One command per input line on stdin, or a
  * single command via args.
  *
  *   put <local> <name>          get <name> <local>      delete <name>
  *   ls <name>                   store                   get-dir <dir> <local>
  *   maple <exe|builtin:wc|builtin:rwlg> <num> <prefix> <srcDir>
  *   juice <exe|builtin:wc|builtin:rwlg> <num> <prefix> <dest> <del=0|1>
  *   upload-data <localDir>          demo-wc <localDir>
  *
  * Cluster verbs of the reference (join/leave/list/id) are no-ops here —
  * membership is the cluster manager's job (SURVEY.md §1.4). External
  * executables follow the reference's argv contract (maple: the 10-line
  * batch as one argv string; juice: `(key, valuesFile)` — see
  * [[graft.engine.ExeRunner]]), so the reference's unmodified Python apps
  * run as-is; the two builtin apps match them in-JVM. `num_tasks` is
  * accepted for CLI compat but Spark sizes tasks itself (reference's
  * count-based splitting is D2, superseded).
  *
  * `get`/`get-dir` collect to the driver to write a LOCAL file — that is
  * the verb's meaning (fetch to my machine), acceptable for a CLI fetch,
  * never a pipeline step.
  *
  * `put` carries the reference's recent-update confirmation
  * (`src/SDFSServer.java:402-421`): overwriting a file written < 60 s ago
  * asks `y/n`, rejecting otherwise. The answer is the NEXT input line
  * (script or stdin); a line that isn't y/yes/n/no counts as "no" and is
  * then executed as the command it is (the prompt never swallows an
  * unrelated command from a script that didn't expect it). Divergence
  * from the reference: no 30-second answer timer — end of input counts
  * as "no", the same abort default.
  *
  * SCOPE — deliberately reference-parity only: the verbs above are the
  * reference's complete command surface, and this shell adds nothing to
  * it. The engine's extension operators (dedup/span/ANN/text/streaming
  * families) are library surface, reached through the Scala API and
  * `SparkEntry.queries`; the rehearsal tooling has its own mains
  * (`graft.ScaleGen`, `graft.SkewRehearsal`, `graft.Bench`). Growing this
  * shell into a general query CLI would duplicate `spark.sql`'s job —
  * a user past the reference's verbs has the whole DataFrame API.
  */
object Cli {
  /** Warehouse root: `-Dgraft.warehouse` beats `GRAFT_WAREHOUSE` beats the
    * default — the property exists so tests can point a Cli run at a fresh
    * temp dir (env can't be set inside a JVM). */
  private[graft] def warehouse: String =
    sys.props.get("graft.warehouse")
      .orElse(sys.env.get("GRAFT_WAREHOUSE"))
      .getOrElse("target/graft-warehouse")

  def main(args: Array[String]): Unit = {
    val preExisting = SparkSession.getActiveSession.isDefined
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
    graft.core.Tables.sessionDefaults.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sdfs = new Sdfs(spark, warehouse)
    val runner = new JobRunner(spark, sdfs)
    // `@file` runs a command script (robust under sbt, which intercepts
    // stdin); bare args run one command; otherwise read stdin
    val in: Iterator[String] =
      if (args.length == 1 && args(0).startsWith("@"))
        scala.io.Source.fromFile(args(0).drop(1)).getLines()
      else if (args.nonEmpty) Iterator(args.mkString(" "))
      else scala.io.Source.stdin.getLines()
    // manual pull loop (not foreach): `put`'s confirmation consumes the
    // NEXT line of the same command stream as its y/n answer. A line that
    // is NOT an answer (a script unaware of the prompt) counts as "no"
    // and is pushed back to run as the command it is — the guard may
    // reject a put, but it never swallows an unrelated command.
    val cmds = in.map(_.trim).filter(_.nonEmpty)
    var pushedBack: Option[String] = None
    val next: () => Option[String] = () =>
      pushedBack match {
        case Some(l) => pushedBack = None; Some(l)
        case None    => if (cmds.hasNext) Some(cmds.next()) else None
      }
    val answer: () => Boolean = () => next() match {
      case Some(l) if l.equalsIgnoreCase("y") || l.equalsIgnoreCase("yes") => true
      case Some(l) if l.equalsIgnoreCase("n") || l.equalsIgnoreCase("no")  => false
      case Some(other) => pushedBack = Some(other); false
      case None => false
    }
    var cont = true
    while (cont) next() match {
      case None | Some("exit") => cont = false
      case Some(line) =>
        try run(spark, sdfs, runner, line.split("\\s+").toSeq, answer)
        catch { case e: Throwable => println(s"error: ${e.getMessage}") }
    }
    if (!preExisting) spark.stop() // keep a caller's (e.g. test) session alive
  }

  private def run(spark: SparkSession, sdfs: Sdfs, runner: JobRunner,
                  cmd: Seq[String], answer: () => Boolean): Unit = {
    import spark.implicits._
    cmd match {
      case Seq("put", local, name) =>
        val ok = sdfs.putGuarded(spark.read.textFile(local), name, () => {
          println(s"$name was updated less than 60 s ago — overwrite? (y/n)")
          answer()
        })
        println(if (ok) s"put $name" else s"put $name rejected (recent update not confirmed)")
      case Seq("get", name, local) =>
        val lines = sdfs.get(name).collect()
        java.nio.file.Files.write(java.nio.file.Paths.get(local),
          lines.mkString("\n").getBytes("UTF-8"))
        println(s"got ${lines.length} lines")
      case Seq("get-dir", dir, local) =>
        val lines = sdfs.getDir(dir).collect()
        java.nio.file.Files.write(java.nio.file.Paths.get(local),
          lines.mkString("\n").getBytes("UTF-8"))
        println(s"got-dir ${lines.length} lines")
      case Seq("delete", name) => println(s"deleted=${sdfs.delete(name)}")
      case Seq("ls", name)     => println(sdfs.ls(name).mkString(" "))
      case Seq("store")        => println(sdfs.store().mkString(" "))
      case Seq("maple", exe, _num, prefix, srcDir) =>
        val n = runner.submit(runner.MapleJob(s"${sdfsPath(sdfs, srcDir)}",
          mapleFn(spark, exe), prefix, strictBatching = !exe.startsWith("builtin:")))
        println(s"maple done, $n intermediate pairs")
      case Seq("juice", exe, _num, prefix, dest, del) =>
        val n = runner.submit(runner.JuiceJob(prefix, juiceFn(spark, exe),
          s"${sdfsPath(sdfs, dest)}", deleteInput = del == "1"))
        println(s"juice done, $n output lines")
      // reference demo conveniences (`src/MapReduceMaster.java:866-889`):
      // `upload-data` stages a local directory's files as mjwc/input{i};
      // `demo-wc` additionally runs the canned word-count job — maple to
      // prefix `prefix`, juice to `output.txt` — via the builtin wc app
      // (the in-JVM twin of the reference's wc-maple.py/wc-juice.py; pass
      // the exes explicitly through `maple`/`juice` to run them as-is)
      case Seq("upload-data", localDir) =>
        uploadData(spark, sdfs, localDir)
      case Seq("demo-wc", localDir) =>
        println("Uploading input data...")
        uploadData(spark, sdfs, localDir)
        val n = runner.submit(runner.MapleJob(sdfsPath(sdfs, "mjwc"),
          mapleFn(spark, "builtin:wc"), "prefix"))
        println(s"maple done, $n intermediate pairs")
        val m = runner.submit(runner.JuiceJob("prefix",
          juiceFn(spark, "builtin:wc"), sdfsPath(sdfs, "output.txt")))
        println(s"demo-wc done, output.txt ($m lines)")
      // reference demo dataset loaders (`src/MapReduceWorker.java:636-649`):
      // stage the canned word-count corpus as `mj~wc~1m/input{i}` (26 × 1 MB)
      // / `mj~wc~2m/input{i}` (13 × 2 MB). The reference copies files from a
      // hard-coded home directory; here the corpus is generated
      // deterministically plan-side (same shape, no local fixture needed).
      // Naming is 0-based ("input" + i) — faithfully matching the
      // reference's own loop, which is 0-based HERE but 1-based in its
      // wc1..wc9 `upload-data` flow; both inconsistent surfaces preserved.
      case Seq(v @ ("word-count-1m" | "word-count-2m")) =>
        val (nFiles, mb, prefix) =
          if (v == "word-count-1m") (26, 1, "mj~wc~1m") else (13, 2, "mj~wc~2m")
        println(s"Experiment - Word Count with $nFiles ${mb}M input data files:")
        demoWordFiles(spark, sdfs, prefix, nFiles, mb.toLong << 20)
        println(s"staged $nFiles files under $prefix/")
      case Seq(v @ ("join" | "leave" | "list" | "id")) =>
        println(s"$v: no-op (cluster membership is managed by Spark)")
      case other => println(s"unknown command: ${other.mkString(" ")}")
    }
  }

  /** Stage every file of a local directory as `mjwc/input{i}` (1-based,
    * name order — the reference's wc1..wc9 upload loop generalized to any
    * local directory instead of its hard-coded home paths). */
  private def uploadData(spark: SparkSession, sdfs: Sdfs, localDir: String): Unit = {
    val files = Option(new java.io.File(localDir).listFiles())
      .getOrElse(Array.empty).filter(_.isFile).sortBy(_.getName)
    require(files.nonEmpty, s"no files to upload under $localDir")
    // clear any previous staging: a smaller re-upload must not leave
    // stale input{i} files from an earlier, larger one in the job's input
    sdfs.delete("mjwc")
    files.zipWithIndex.foreach { case (f, i) =>
      sdfs.put(spark.read.textFile(f.toString), s"mjwc/input${i + 1}")
      println("...")
    }
    println(s"Input files are uploaded to mjwc directory in the SDFS.")
  }

  /** Deterministic demo corpus: `nFiles` text files of ~`bytesPerFile`
    * whitespace-separated words from a fixed vocabulary, word choice keyed
    * on xxhash64(file, line, position) — generated INSIDE the plan
    * (`spark.range` → concat), so no driver-side buffer holds a file. */
  private def demoWordFiles(spark: SparkSession, sdfs: Sdfs, prefix: String,
                            nFiles: Int, bytesPerFile: Long): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    sdfs.delete(prefix) // re-staging must not leave stale inputs behind
    val vocab = Seq("the", "quick", "brown", "fox", "jumps", "over", "lazy",
      "dog", "pack", "my", "box", "with", "five", "dozen", "liquor", "jugs",
      "how", "vexingly", "daft", "zebras", "jump", "sphinx", "of", "black",
      "quartz", "judge", "vow", "bright", "light", "words", "count", "demo")
    val wordsPerLine = 12
    val nLines = math.max(1L, bytesPerFile / 72) // ~6 bytes/word × 12
    (0 until nFiles).foreach { i =>
      val lines = spark.range(nLines).select(
        concat_ws(" ", (0 until wordsPerLine).map { k =>
          element_at(typedLit(vocab),
            (pmod(xxhash64(col("id"), lit(i), lit(k)), lit(vocab.size)) + 1).cast("int"))
        }: _*).as("value")).as[String]
      sdfs.put(lines, s"$prefix/input$i")
    }
  }

  private def sdfsPath(sdfs: Sdfs, name: String): String =
    s"$warehouse/$name"

  /** builtin:wc / builtin:rwlg run in-JVM; anything else is an external
    * executable on the reference's argv contract via [[graft.engine
    * .ExeRunner]]: maple gets each 10-line batch as one argv string, juice
    * gets `(key, valuesFile)`.
    *
    *   - bare path            → run with python3 (the reference hardcodes
    *                            `python <exe>`, so its unmodified apps
    *                            work with zero spelling)
    *   - `interp:<cmd>:<path>` → run with an explicit interpreter
    *   - `exec:<path>`         → run the file DIRECTLY (compiled binary or
    *                            shebang script), no interpreter
    */
  private[graft] def splitExe(exe: String): (Seq[String], String) =
    if (exe.startsWith("interp:")) {
      val rest = exe.stripPrefix("interp:")
      // split at the FIRST colon: the interpreter name/path cannot contain
      // one, while the script path may (and a missing colon is a usage
      // error, not an index crash)
      val i = rest.indexOf(':')
      require(i > 0, s"usage: interp:<interpreter>:<script-path>, got '$exe'")
      (Seq(rest.substring(0, i)), rest.substring(i + 1))
    } else if (exe.startsWith("exec:")) {
      (Seq.empty, exe.stripPrefix("exec:"))
    } else (Seq("python3"), exe)

  private def mapleFn(spark: SparkSession, exe: String): graft.engine.MapleJuice.MapleFn =
    Builtins.byName.get(exe).map(_._1).getOrElse {
      val (interp, path) = splitExe(exe)
      new graft.engine.ExeRunner(spark, interp).mapleFn(path)
    }

  private def juiceFn(spark: SparkSession, exe: String): graft.engine.MapleJuice.JuiceFn =
    Builtins.byName.get(exe).map(_._2).getOrElse {
      val (interp, path) = splitExe(exe)
      new graft.engine.ExeRunner(spark, interp).juiceFn(path)
    }
}
