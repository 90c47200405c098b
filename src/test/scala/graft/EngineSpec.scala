package graft

import graft.engine.{KV, MapleJuice, PipeRunner}
import graft.operators.TextOps

/** Maple/Juice engine semantics vs the declarative equivalents. */
class EngineSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  private def mj = new MapleJuice(spark)

  test("maple-juice word count equals groupBy().count()") {
    import spark.implicits._
    val lines = Seq("a b a", "c a", "", "b").toDS()
    val wc = mj.runOn(lines,
      ls => ls.flatMap(_.split("\\s+")).filter(_.nonEmpty).map(w => KV(w, "1")),
      (k, vs) => Iterator.single(KV(k, vs.map(_.toLong).sum.toString)))
    val got = wc.as[(String, String)].collect().toMap
    assert(got === Map("a" -> "3", "b" -> "2", "c" -> "1"))
  }

  test("engine WC matches DataFrame WC on test documents") {
    import spark.implicits._
    val a = TextOps.wcMapleJuice(spark, sf).as[(String, Long)].collect().toMap
    val b = TextOps.wcDataFrame(spark, sf).as[(String, Long)].collect().toMap
    assert(a === b)
  }

  test("engine RWLG matches DataFrame RWLG") {
    import spark.implicits._
    val a = TextOps.rwlgMapleJuice(spark, sf).as[(String, String)].collect().toMap
    val b = TextOps.rwlgDataFrame(spark, sf).as[(String, String)].collect().toMap
    assert(a === b)
  }

  test("strict 10-line batching yields reference batch boundaries incl. short tail") {
    import spark.implicits._
    val lines = (1 to 23).map(_.toString).toDS().repartition(1)
    // a maple fn that observes its batch: emits one KV per batch with size
    val out = mj.maple(lines,
      ls => { val n = ls.size; Iterator.single(KV("batch", n.toString)) },
      strictBatching = true)
      .collect().map(_.value.toInt).sorted
    assert(out.toSeq === Seq(3, 10, 10)) // 23 lines → 10, 10, 3
  }

  test("gatherSorted output is sorted by key") {
    import spark.implicits._
    val kvs = Seq(KV("z", "1"), KV("a", "2"), KV("m", "3")).toDS()
    val keys = mj.gatherSorted(kvs).select("key").as[String].collect()
    assert(keys.toSeq === keys.sorted.toSeq)
  }

  test("sinkSorted writes globally sorted tab-separated lines") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/out"
    val kvs = Seq(KV("b", "2"), KV("a", "1"), KV("c", "3")).toDS()
    mj.sinkSorted(kvs, dir, singleFile = true)
    val lines = spark.read.textFile(dir).collect()
    assert(lines.toSeq === Seq("a\t1", "b\t2", "c\t3"))
  }

  test("sinkSorted single file: 8 input partitions, one data file, whole-line order, count") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink1").toString + "/out"
    val rnd = new scala.util.Random(5)
    val kvs = Seq.fill(2000)(KV(rnd.alphanumeric.take(1 + rnd.nextInt(4)).mkString,
      rnd.nextInt(1000).toString))
    val n = mj.sinkSorted(kvs.toDS().repartition(8), dir, singleFile = true)
    val data = new java.io.File(dir).listFiles()
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith(".")).toSeq
    assert(data.size === 1, data.map(_.getName))
    val lines = java.nio.file.Files.readAllLines(data.head.toPath).toArray.toSeq
    val expected = kvs.map(kv => s"${kv.key}\t${kv.value}").sorted
    assert(lines === expected)
    assert(n === 2000L)
  }

  test("readLines: nested dirs, hidden files, CR/CRLF ends and a bare last line read like the text source") {
    val root = java.nio.file.Files.createTempDirectory("graft_lines")
    def write(rel: String, body: String): Unit = {
      val p = root.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, body.getBytes("UTF-8"))
    }
    write("in/part0/part-00000.txt", "a b\r\nc\r\n\r\nd")
    write("in/part0/_SUCCESS", "hidden\n")
    write("in/part0/.part-00000.txt.crc", "hidden\n")
    write("in/part1/deeper/part-00001.txt", "x\ry\r\n\tz \nlast without newline")
    write("in/part1/_SUCCESS", "")
    write("in/flat.txt", "\n\nflat\n")
    val dir = root.resolve("in").toString
    val got = mj.readLines(dir).collect().toSeq.sorted
    val ref = spark.read.option("recursiveFileLookup", "true").textFile(dir)
      .collect().toSeq.sorted
    assert(got === ref)
    assert(got === Seq("", "", "", "\tz ", "a b", "c", "d", "flat",
      "last without newline", "x", "y"))
  }

  test("readLines: a multi-MB input splits into at least defaultParallelism partitions") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_split").toString
    val sdfs = new graft.sources.Sdfs(spark, wh)
    // two part files, like a put of a 2-partition Dataset
    sdfs.put(spark.range(0, 120000, 1, 2).map(i => s"line $i of the split input"), "in")
    val lines = mj.readLines(s"$wh/in")
    assert(lines.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    assert(lines.count() === 120000L)
  }

  test("pipe runner: external exe maple (cat) preserves kv lines") {
    import spark.implicits._
    val pr = new PipeRunner(spark)
    val lines = Seq("k1,v1", "k2,v2", "not-a-kv-line").toDS()
    val kvs = pr.mapleExe(lines, Seq("cat")).collect().toSet
    assert(kvs === Set(KV("k1", "v1"), KV("k2", "v2")))
  }

  test("pipe runner: external juice over grouped stdin") {
    import spark.implicits._
    val pr = new PipeRunner(spark)
    val inter = Seq(KV("a", "1"), KV("b", "2"), KV("a", "3")).toDS()
    // exe: for each key\tvalue line emit key,value (identity reduce)
    val out = pr.juiceExe(inter, Seq("sh", "-c", """tr '\t' ','""")).collect().toSet
    assert(out === Set(KV("a", "1"), KV("a", "3"), KV("b", "2")))
  }
}
