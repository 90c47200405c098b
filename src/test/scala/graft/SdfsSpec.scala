package graft

import graft.engine.{Builtins, JobRunner, KV}
import graft.sources.Sdfs

class SdfsSpec extends SparkTestBase {
  import spark.implicits._

  private def freshSdfs(): (Sdfs, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_sdfs").toString
    (new Sdfs(spark, wh), wh)
  }

  test("put/get/delete/ls/store verbs round-trip") {
    val (sdfs, _) = freshSdfs()
    sdfs.put(Seq("l1", "l2", "l3").toDS(), "f1")
    assert(sdfs.get("f1").collect().toSet === Set("l1", "l2", "l3"))
    assert(sdfs.store().contains("f1"))
    assert(sdfs.ls("f1").nonEmpty)
    assert(sdfs.delete("f1"))
    assert(sdfs.store().isEmpty)
  }

  test("putGuarded: fresh write proceeds; recent overwrite needs confirmation") {
    val (sdfs, _) = freshSdfs()
    assert(sdfs.putGuarded(Seq("v1").toDS(), "g1"))          // fresh: no guard
    assert(!sdfs.putGuarded(Seq("v2").toDS(), "g1"))          // <60s, default reject
    assert(sdfs.get("g1").collect().toSeq === Seq("v1"))      // content unchanged
    assert(sdfs.putGuarded(Seq("v3").toDS(), "g1", () => true)) // confirmed
    assert(sdfs.get("g1").collect().toSeq === Seq("v3"))
  }

  test("getDir reads a whole prefix directory; getPartDir prunes to named files") {
    val (sdfs, _) = freshSdfs()
    sdfs.put(Seq("a").toDS(), "dir/p1")
    sdfs.put(Seq("b").toDS(), "dir/p2")
    sdfs.put(Seq("c").toDS(), "dir/p3")
    assert(sdfs.getDir("dir").collect().toSet === Set("a", "b", "c"))
    assert(sdfs.getPartDir("dir", Seq("p1", "p3")).collect().toSet === Set("a", "c"))
  }

  test("per-key compat output: one partition dir per sanitized key") {
    val (sdfs, wh) = freshSdfs()
    sdfs.putPerKeyCompat(Seq(KV("x/y", "1"), KV("z", "2")).toDS(), "inter")
    val dirs = new java.io.File(s"$wh/inter").listFiles().map(_.getName)
      .filter(_.startsWith("key=")).sorted
    assert(dirs.toSeq === Seq("key=x-y", "key=z"))
  }

  test("JobRunner juice re-reads a published SDFS intermediate (no staged entry), tabs in values survive") {
    val (sdfs, wh) = freshSdfs()
    // the reference flow where the intermediate was uploaded to the file
    // store before juice ran — not staged by a maple in this session.
    // keys must not contain tabs (the format's delimiter); values may:
    // everything after the FIRST tab is the value, verbatim
    sdfs.put(Seq("k1\tv with\ttab", "k2\tplain", "k1\tsecond").toDS(), "pub_inter")
    val runner = new JobRunner(spark, sdfs)
    val dest = s"$wh/out_reread"
    val n = runner.submit(runner.JuiceJob("pub_inter",
      (k, vs) => Iterator.single(KV(k, vs.toSeq.sorted.mkString("|"))), dest))
    assert(n === 2)
    val lines = spark.read.textFile(dest).collect().toSeq
    assert(lines === Seq("k1\tsecond|v with\ttab", "k2\tplain"))
  }

  test("JobRunner: maple then juice with barrier produces sorted WC output") {
    val (sdfs, wh) = freshSdfs()
    sdfs.put(Seq("b a", "a c a").toDS(), "in/part1")
    val runner = new JobRunner(spark, sdfs)
    val nInter = runner.submit(runner.MapleJob(s"$wh/in",
      ls => ls.flatMap(_.split("\\s+")).filter(_.nonEmpty).map(w => KV(w, "1")),
      "wc_inter"))
    assert(nInter === 5)
    val dest = s"$wh/out"
    val nOut = runner.submit(runner.JuiceJob("wc_inter",
      (k, vs) => Iterator.single(KV(k, vs.map(_.toLong).sum.toString)),
      dest, deleteInput = true))
    assert(nOut === 3)
    val lines = spark.read.textFile(dest).collect().toSeq
    assert(lines === Seq("a\t3", "b\t1", "c\t1"))
  }

  test("JobRunner: empty Maple output gives 0 and 0, and the sink holds no lines") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val (sdfs, wh) = freshSdfs()
    sdfs.put(Seq("", " \t ", "").toDS(), "blank/part0")
    val runner = new JobRunner(spark, sdfs)
    val dest = s"$wh/out_empty"
    // bounded: a count that waits on metrics that never arrive must fail,
    // not hang the suite
    val (nInter, nOut) = Await.result(Future {
      val m = runner.submit(runner.MapleJob(s"$wh/blank", Builtins.wcMaple, "empty_inter"))
      (m, runner.submit(runner.JuiceJob("empty_inter", Builtins.wcJuice, dest, deleteInput = true)))
    }, 3.minutes)
    assert(nInter === 0L)
    assert(nOut === 0L)
    assert(spark.read.textFile(dest).count() === 0L)
  }

  test("JobRunner: juice count equals the lines on disk when keys emit 0, 2 or multi-line values") {
    val (sdfs, wh) = freshSdfs()
    sdfs.put(Seq("k1\ta", "k2\tb", "k3\tc", "k4\td", "k1\te").toDS(), "uneven")
    val runner = new JobRunner(spark, sdfs)
    val dest = s"$wh/out_uneven"
    // k2 emits nothing; k1 and k3 two lines each; k4 values whose line
    // breaks (LF, CRLF, lone CR, trailing CR) make one row read back as
    // several lines, or as one
    val n = runner.submit(runner.JuiceJob("uneven", (k, vs) => k match {
      case "k2" => Iterator.empty
      case "k4" => Iterator(KV(k, "x\ny"), KV(k, "p\r\nq\rr"), KV(k, "t\r"))
      case _ => vs.toSeq.sorted.iterator.flatMap(v => Iterator(KV(k, v), KV(k, v + v)))
    }, dest))
    val onDisk = spark.read.textFile(dest).collect()
    assert(n === onDisk.length.toLong)
    assert(n === 6L + 2 + 3 + 1)
  }
}
