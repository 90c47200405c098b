package graft

import graft.engine.{ExeRunner, KV, MapleJuice}

/** The argv-contract adapter ([[graft.engine.ExeRunner]]): maple gets each
  * 10-line batch as one argv string, juice gets `(key, valuesFile)` —
  * exactly `src/MapReduceWorker.java:114-123,235-247`.
  *
  * Two faithfulness tests run the reference's shipped applications
  * UNMODIFIED from a reference checkout at `/root/reference/applications`
  * and are canceled where that directory is absent; WC must match the
  * in-JVM engine path bit for bit (same oracle as `wc_maple_juice`). The
  * apps are Python 2 (`print x` statements); a real python2 is preferred
  * when present, else a temp copy gets the minimal print-statement shim —
  * the argv CONTRACT is what's under test either way.
  *
  * The contract, cleanup and CLI tests run on word-count scripts the spec
  * writes itself (Python 2 and 3 alike), so they run on every machine.
  */
class ExeRunnerSpec extends SparkTestBase {
  import spark.implicits._

  private val refApps = java.nio.file.Paths.get("/root/reference/applications")

  /** Locate a python2, or shim the app to python3. */
  private def interpreterFor(app: String): (Seq[String], String) = {
    val py2 = {
      val pyenv = java.nio.file.Paths.get("/root/.pyenv/versions")
      val fromPyenv =
        if (java.nio.file.Files.isDirectory(pyenv))
          scala.jdk.CollectionConverters.IteratorHasAsScala(
            java.nio.file.Files.list(pyenv).iterator()).asScala
            .filter(_.getFileName.toString.startsWith("2."))
            .map(_.resolve("bin/python2"))
            .find(java.nio.file.Files.isExecutable(_))
        else None
      fromPyenv
    }
    py2 match {
      case Some(p) => (Seq(p.toString), refApps.resolve(app).toString)
      case None =>
        // py3 shim: `print expr` → `print(expr)` on a temp copy
        val src = java.nio.file.Files.readString(refApps.resolve(app))
        val shimmed = src.replaceAll("(?m)^(\\s*)print (.+)$", "$1print($2)")
        val tmp = java.nio.file.Files.createTempFile("graft_app_", ".py")
        java.nio.file.Files.writeString(tmp, shimmed)
        (Seq("python3"), tmp.toString)
    }
  }

  /** A Python fixture (2/3-compatible) written to a temp file; returns its path. */
  private def pyScript(prefix: String, body: String): String = {
    val f = java.nio.file.Files.createTempFile(prefix, ".py")
    java.nio.file.Files.writeString(f, body)
    f.toString
  }

  /** argv-contract word count: maple splits the batch `argv[1]` on
    * whitespace, juice sums the ints in the values file `argv[2]`. */
  private lazy val wcMaple = pyScript("graft_wc_maple_",
    """import sys
      |for w in sys.argv[1].split():
      |    sys.stdout.write("%s,1\n" % w)
      |""".stripMargin)
  private lazy val wcJuice = pyScript("graft_wc_juice_",
    """import sys
      |total = 0
      |f = open(sys.argv[2])
      |for line in f:
      |    if line.strip():
      |        total += int(line)
      |f.close()
      |sys.stdout.write("%s,%d\n" % (sys.argv[1], total))
      |""".stripMargin)

  private def runApp(lines: Seq[String], mapleApp: String, juiceApp: String): Map[String, String] = {
    val (mInterp, mPath) = interpreterFor(mapleApp)
    val (jInterp, jPath) = interpreterFor(juiceApp)
    val mj = new MapleJuice(spark)
    val runner = new ExeRunner(spark, mInterp)
    val juiceRunner = new ExeRunner(spark, jInterp)
    val inter = mj.maple(lines.toDS(), runner.mapleFn(mPath), strictBatching = true)
    mj.gatherSorted(mj.juice(inter, juiceRunner.juiceFn(jPath)))
      .as[(String, String)].collect().toMap
  }

  test("reference wc-maple.py + wc-juice.py run unmodified, match engine path") {
    assume(java.nio.file.Files.isDirectory(refApps), s"reference checkout not found at $refApps")
    val lines = Seq("b a", "a c a", "b b", "x", "a b x y", "z z z",
      "one two", "two one", "three", "four five", "tail line after batch")
    val viaExe = runApp(lines, "wc-maple.py", "wc-juice.py")
    // in-JVM twin (same semantics: whitespace split, count per word)
    val mj = new MapleJuice(spark)
    val expected = mj.runOn(lines.toDS(),
        ls => ls.flatMap(_.split("\\s+")).filter(_.nonEmpty).map(w => KV(w, "1")),
        (k, vs) => Iterator.single(KV(k, vs.map(_.toLong).sum.toString)))
      .as[(String, String)].collect().toMap
    assert(viaExe === expected)
    assert(viaExe("a") === "4")
  }

  test("reference rwlg-maple.py + rwlg-juice.py run unmodified (faithful including the newline quirk)") {
    assume(java.nio.file.Files.isDirectory(refApps), s"reference checkout not found at $refApps")
    // rwlg-juice.py never strips newlines from the values it reads
    // (`value = value + "," + line` with `line` still ending in \n), so its
    // stdout is MULTI-LINE: `key,v1`, then `,v2`, `,v3`, ... — and the
    // reference's gather parses those continuation lines as empty-key
    // pairs. The adapter reproduces the reference's observable output
    // exactly, so assert the structural facts that survive shuffle order.
    val edges = Seq("1,10", "2,10", "3,10", "1,20", "4,20", "5,30")
    val (mInterp, mPath) = interpreterFor("rwlg-maple.py")
    val (jInterp, jPath) = interpreterFor("rwlg-juice.py")
    val mj = new MapleJuice(spark)
    val inter = mj.maple(edges.toDS(),
      new ExeRunner(spark, mInterp).mapleFn(mPath), strictBatching = true)
    val rows = mj.juice(inter, new ExeRunner(spark, jInterp).juiceFn(jPath))
      .collect().toSeq
    // every reversed edge's source appears exactly once as a value
    assert(rows.map(_.value).sorted === Seq("1", "1", "2", "3", "4", "5"))
    // each target key leads exactly one output line; continuation lines
    // carry the empty key (the reference's observable behavior)
    val byKey = rows.groupBy(_.key)
    assert(byKey.keySet === Set("", "10", "20", "30"))
    assert(byKey("10").size === 1 && byKey("20").size === 1 && byKey("30").size === 1)
    assert(byKey("").size === 3)
    assert(byKey("30").head.value === "5")
  }

  test("argv batching edge cases: empty input and an exact-10-line batch") {
    val mj = new MapleJuice(spark)
    val runner = new ExeRunner(spark, Seq("python3"))
    // empty input → no process spawned, no output
    assert(mj.maple(Seq.empty[String].toDS(), runner.mapleFn(wcMaple),
      strictBatching = true).collect().isEmpty)
    // exactly 10 lines in one partition → one full batch, all words counted
    val ten = (1 to 10).map(i => s"w$i")
    val inter = mj.maple(ten.toDS().coalesce(1), runner.mapleFn(wcMaple), strictBatching = true)
      .collect()
    assert(inter.map(_.key).sorted.toSeq === ten.sorted)
    assert(inter.forall(_.value == "1"))
    // ... and they reach the exe as ONE argv string of 10 lines
    val countLines = pyScript("graft_count_lines_",
      """import sys
        |sys.stdout.write("lines,%d\n" % len(sys.argv[1].split("\n")))
        |""".stripMargin)
    assert(mj.maple(ten.toDS().coalesce(1), runner.mapleFn(countLines), strictBatching = true)
      .collect().toSeq === Seq(KV("lines", "10")))
  }

  test("juice values file is cleaned up after the exe runs") {
    val before = tmpJuiceFiles()
    val out = new ExeRunner(spark, Seq("python3")).juiceFn(wcJuice)("k", Iterator("1", "2", "3")).toList
    assert(out === List(KV("k", "6")))
    assert(tmpJuiceFiles() === before) // no leaked graft_juice_ temp files
  }

  private def tmpJuiceFiles(): Set[String] = {
    val dir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.nio.file.Files.list(dir).iterator()).asScala
      .map(_.getFileName.toString).filter(_.startsWith("graft_juice_")).toSet
  }

  test("exec: form runs a non-Python executable directly on the argv contract") {
    // a shebang shell script standing in for a compiled binary: echoes one
    // `line,1` pair per batch line (argv[1] = the whole batch)
    val sh = java.nio.file.Files.createTempFile("graft_exe_", ".sh")
    java.nio.file.Files.writeString(sh,
      "#!/bin/sh\nprintf '%s\\n' \"$1\" | while read -r l; do echo \"$l,1\"; done\n")
    sh.toFile.setExecutable(true)
    val (interp, path) = Cli.splitExe(s"exec:$sh")
    assert(interp.isEmpty)
    val mj = new MapleJuice(spark)
    val out = mj.maple(Seq("aa", "bb", "aa").toDS(),
        new ExeRunner(spark, interp).mapleFn(path), strictBatching = true)
      .collect().toSeq
    assert(out.sortBy(_.key) === Seq(KV("aa", "1"), KV("aa", "1"), KV("bb", "1")))
  }

  test("exe failure fails the job loudly (no silent empty output)") {
    val bad = java.nio.file.Files.createTempFile("graft_bad_", ".py")
    java.nio.file.Files.writeString(bad,
      "import sys\nsys.stderr.write(\"graft_bad: giving up\\n\")\nsys.exit(3)\n")
    val mj = new MapleJuice(spark)
    val runner = new ExeRunner(spark, Seq("python3"))
    val ex = intercept[org.apache.spark.SparkException] {
      mj.maple(Seq("x").toDS(), runner.mapleFn(bad.toString),
        strictBatching = true).collect()
    }
    assert(ex.getMessage != null)
    // the child's stderr tail travels with the failure
    assert(ex.getMessage.contains("graft_bad: giving up"))
  }

  test("large exe output (>1 MB, far past the OS pipe buffer) never deadlocks") {
    // the classic pipe-deadlock trap: a child filling the ~64 KB stdout
    // pipe while the parent isn't reading wedges both forever. ExeRunner
    // reads stdout on the calling thread with stdin closed up front and
    // stderr drained concurrently, so a batch emitting 60k pairs (~1 MB)
    // must stream through without a hang.
    val big = java.nio.file.Files.createTempFile("graft_big_", ".py")
    java.nio.file.Files.writeString(big,
      """import sys
        |for i in range(60000):
        |    sys.stdout.write("k%d,%d\n" % (i, i))
        |""".stripMargin)
    val out = new ExeRunner(spark, Seq("python3"))
      .mapleFn(big.toString)(Iterator("one line")).toSeq
    assert(out.length === 60000)
    assert(out.head === KV("k0", "0") && out.last === KV("k59999", "59999"))
  }

  test("stderr is drained separately, never parsed as KV output") {
    // a chatty exe: stderr lines contain commas and would corrupt the
    // result if merged into the parsed stream (and enough of them to fill
    // the stderr pipe if nobody drained it)
    val chatty = java.nio.file.Files.createTempFile("graft_chatty_", ".py")
    java.nio.file.Files.writeString(chatty,
      """import sys
        |for i in range(20000):
        |    sys.stderr.write("warn %d, with, commas\n" % i)
        |sys.stdout.write("real,1\n")
        |""".stripMargin)
    val out = new ExeRunner(spark, Seq("python3"))
      .mapleFn(chatty.toString)(Iterator("x")).toSeq
    assert(out === Seq(KV("real", "1")))
  }

  test("cli external-exe verbs run the argv contract end to end") { graft.testkit.TestWarehouse.withFresh {
    val _ = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft_cli_exe")
    val inFile = tmp.resolve("in.txt")
    java.nio.file.Files.writeString(inFile, "b a\na c a\n")
    val outFile = tmp.resolve("out.txt")
    // both spellings of an external exe: explicit interpreter and bare path
    val mapleExe = s"interp:python3:$wcMaple"
    val juiceExe = wcJuice
    val script = tmp.resolve("script.txt")
    java.nio.file.Files.writeString(script,
      s"""put $inFile exein/f1
         |maple $mapleExe 4 exewc1 exein
         |juice $juiceExe 4 exewc1 exeout 1
         |get exeout $outFile
         |""".stripMargin)
    val shell = new java.io.ByteArrayOutputStream()
    Console.withOut(shell) { Cli.main(Array(s"@$script")) }
    // a failed step prints `error: <msg>` and the shell carries on, so
    // surface it here rather than as a missing out.txt later
    val shellOut = shell.toString("UTF-8")
    assert(!shellOut.linesIterator.exists(_.startsWith("error:")), shellOut)
    val out = java.nio.file.Files.readString(outFile)
    assert(out === "a\t3\nb\t1\nc\t1")
  } }
}
