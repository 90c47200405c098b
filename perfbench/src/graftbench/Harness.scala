package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.engine.{JobRunner, KV, MapleJuice}
import graft.sources.Sdfs

/** The benchmark's JVM side: sets a workload up, runs it as a closed loop
  * with one client for a fixed time, and writes every operation's timing
  * and result to `<out>/result.json` (plus `<out>/spans.jsonl` when traced).
  * Metrics, output checks and the result line are computed by
  * perfbench/run.py, which starts this main.
  *
  * Only graft's public surface is called: `Sdfs.put`/`Sdfs.get`,
  * `JobRunner.submit` and the functions in `SparkEntry.queries`, the latter
  * written to the `noop` sink as graft.Bench does.
  *
  * Usage: graftbench.Harness --workload <name> --input <dir> --out <dir>
  *   --seconds <s> --trace <0|1> --cpus <n> --seed <n> --ops <a,b,..>
  */
object Harness {

  /** Timed passes of an untraced run. A pass count that depends on speed
    * would move the medians with JIT warm-up, so BENCHMARK.json's
    * run_seconds is kept below the time these take. A traced run makes
    * two traced and two untraced passes. */
  val MinPasses = Map("mj_text" -> 3, "sql_mix" -> 3, "sql_all" -> 1, "graph_fixpoint" -> 2, "dedup_lsh" -> 1)

  /** One timed operation. `body` is timed; `post` turns its value into a
    * (result count, digest) pair after the clock has stopped. */
  final case class Op(name: String, layer: String, body: () => Any,
                      post: Any => (Long, String) = _ => (0L, ""))

  trait Workload {
    def setUp(spark: SparkSession): Unit
    def pass(spark: SparkSession): Seq[Op]
    /** The untimed first pass: every operation once, keeping what the
      * independent output check needs. With the warm-up pass after it, it
      * warms the JVM up, so the timed passes all see the same warm state. */
    def checkPass(spark: SparkSession, dir: String): Seq[Op] = pass(spark)
  }

  final case class OpRec(pass: Int, traced: Boolean, op: Op, span: Long,
                         startUs: Long, endUs: Long, error: Option[String],
                         result: Long, digest: String, persisted: Int, storageB: Long)

  /** The tracer and operation id while a traced operation runs. */
  @volatile private var tracing: Option[(Tracer, Long)] = None

  /** Attribute a Dataset's own Catalyst phases to the running traced
    * operation, if any. */
  def noteDataset(ds: Dataset[_]): Unit =
    tracing.foreach { case (t, op) => t.recordPhases(op, ds.queryExecution) }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new File(a("out"))
    out.mkdirs()
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val cpus = a("cpus").toInt
    val input = new File(a("input")).getAbsolutePath
    val wl: Workload = a("workload") match {
      case "mj_text" => new MjText(input, new File(out, "sdfs").getAbsolutePath)
      case w => new Queries(input, a("ops").split(",").toSeq,
        if (w.startsWith("sql_")) Some(new Random(a("seed").toLong)) else None)
    }

    def session(): SparkSession = {
      val b = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graftbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir", new File(out, "spark-warehouse").getAbsolutePath)
      graft.core.Tables.sessionDefaults.foreach { case (k, v) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      s
    }

    // set-up, from JVM start to the first timed operation: session start,
    // table registration, the check pass and a warm-up pass
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val spark = session()
    wl.setUp(spark)
    val sessionUs = Clock.nowUs
    def phase(what: String): Unit =
      System.err.println(f"[graftbench] $what done at ${(Clock.nowUs - jvmStartUs) / 1e6}%.1f s")
    phase("session and tables")

    val tracer = new Tracer
    val sc = spark.sparkContext
    val recs = mutable.ArrayBuffer.empty[OpRec]
    def runPass(passNo: Int, ops: Seq[Op], traced: Boolean): Double = {
      if (traced) tracer.attach(spark)
      val passSpan = tracer.newId()
      val p0 = Clock.nowUs
      val n0 = System.nanoTime()
      for (op <- ops) {
        val id = tracer.newId()
        if (traced) {
          sc.setLocalProperty(tracer.OpProperty, id.toString)
          tracing = Some((tracer, id))
        }
        val t0 = Clock.nowUs
        val res = try Right(op.body()) catch { case e: Throwable => Left(e) }
        val t1 = Clock.nowUs
        if (traced) {
          tracing = None
          sc.setLocalProperty(tracer.OpProperty, null)
          tracer.record(Span(id, passSpan, s"op:${op.layer}.${op.name}", t0, t1))
        }
        val (n, dig) = res.fold(_ => (0L, ""), v => op.post(v))
        val (persisted, storage) =
          if (traced) (sc.getPersistentRDDs.size,
            sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
          else (0, 0L)
        res.left.foreach(e => System.err.println(s"[graftbench] ${op.name} failed: $e"))
        recs += OpRec(passNo, traced, op, id, t0, t1,
          res.left.toOption.map(e => String.valueOf(e.getMessage)), n, dig, persisted, storage)
      }
      val wall = (System.nanoTime() - n0) / 1e9
      if (traced) {
        tracer.record(Span(passSpan, 0L, "pass", p0, Clock.nowUs))
        tracer.detach(spark)
      }
      wall
    }

    runPass(0, wl.checkPass(spark, new File(out, "outputs").getAbsolutePath), traced = false)
    val checkPassS = (Clock.nowUs - sessionUs) / 1e6
    // one untimed pass more: after the check pass alone the JIT is still
    // warming up, and the first timed pass ran up to a third slower
    runPass(0, wl.pass(spark), traced = false)
    val setupS = (Clock.nowUs - jvmStartUs) / 1e6
    phase("check and warm-up passes")
    val heapAfterSetup = heapMb()

    // the measured closed loop; a traced run makes passes in T U U T order,
    // so that neither kind gets the warmer JVM
    val passWalls = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val minPasses = MinPasses(a("workload"))
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    if (traceRun) for ((t, i) <- Seq(true, false, false, true).zipWithIndex)
      passWalls += ((i + 1, t, runPass(i + 1, wl.pass(spark), t)))
    else while (System.nanoTime() < deadline || passWalls.size < minPasses) {
      val passNo = passWalls.size + 1
      passWalls += ((passNo, false, runPass(passNo, wl.pass(spark), traced = false)))
    }
    val heapAfterMeasure = heapMb()
    phase(s"${passWalls.size} timed passes")

    val w = new PrintWriter(new File(out, "result.json"))
    w.println("{")
    w.println(s""" "setup_s": $setupS, "check_pass_s": $checkPassS,""")
    w.println(s""" "heap_after_setup_mb": $heapAfterSetup, "heap_after_measure_mb": $heapAfterMeasure,""")
    w.println(s""" "cpus": $cpus,""")
    w.println(passWalls.map { case (p, t, s) => s"""{"pass":$p,"traced":$t,"wall_s":$s}""" }
      .mkString(" \"passes\": [", ",\n  ", "],"))
    w.println(recs.map { r =>
      val ag = tracer.aggs.get(r.span).map(aggJson).getOrElse("null")
      s"""{"pass":${r.pass},"traced":${r.traced},"span":${r.span},"name":${q(r.op.name)},"layer":${q(r.op.layer)},""" +
        s""""start_us":${r.startUs},"end_us":${r.endUs},"error":${r.error.map(q).getOrElse("null")},""" +
        s""""result":${r.result},"digest":${q(r.digest)},"persisted":${r.persisted},""" +
        s""""storage_b":${r.storageB},"spark":$ag}"""
    }.mkString(" \"ops\": [\n  ", ",\n  ", "],"))
    w.println(tracer.queries.map { r =>
      val ph = r.phases.map { case (k, (s0, s1)) => s"${q(k)}:[$s0,$s1]" }.mkString("{", ",", "}")
      s"""{"op":${r.op},"phases":$ph,"scan_rows":${r.scanRows},"scan_b":${r.scanB}}"""
    }.mkString(" \"queries\": [\n  ", ",\n  ", "]"))
    w.println("}")
    w.close()
    if (traceRun) {
      val sw = new PrintWriter(new File(out, "spans.jsonl"))
      tracer.spans.sortBy(_.startUs).foreach { s =>
        sw.println(s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}""")
      }
      sw.close()
    }
    spark.stop()
  }

  private def aggJson(g: OpAgg): String = {
    val skew = g.stageSkew.map { case (wl, mx, md) => s"[$wl,$mx,$md]" }.mkString("[", ",", "]")
    s"""{"jobs":${g.jobs},"stages":${g.stages},"tasks":${g.tasks},"task_busy_ms":${g.taskBusyMs},""" +
      s""""sched_delay_ms":${g.schedDelayMs},"gc_ms":${g.gcMs},"shuffle_write_b":${g.shuffleWriteB},""" +
      s""""shuffle_read_b":${g.shuffleReadB},"shuffle_records":${g.shuffleRecords},""" +
      s""""spill_mem_b":${g.spillMemB},"spill_disk_b":${g.spillDiskB},"output_b":${g.outputB},""" +
      s""""peak_task_mem_b":${g.peakTaskMemB},""" +
      s""""stage_shuffle_records":${g.stageShuffleRecords.mkString("[", ",", "]")},"stage_skew":$skew}"""
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Heap in use after a full collection, in MB. */
  private def heapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory - rt.freeMemory) / 1e6
  }

  private def sha256(lines: Array[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(lines.sorted.mkString("\n").getBytes("UTF-8"))
    md.digest.map("%02x".format(_)).mkString
  }

  /** The reference's user flow: put the corpus and link list into SDFS,
    * word count and reverse web-link graph as Maple then Juice jobs, get
    * both results. Same function bodies as graft.Cli's builtin:wc and
    * builtin:rwlg. */
  final class MjText(input: String, warehouse: String) extends Workload {
    private val wcMaple: MapleJuice.MapleFn =
      ls => ls.flatMap(_.split("\\s+")).filter(_.nonEmpty).map(w => KV(w, "1"))
    private val wcJuice: MapleJuice.JuiceFn =
      (k, vs) => Iterator.single(KV(k, vs.map(_.toLong).sum.toString))
    private val rwlgMaple: MapleJuice.MapleFn =
      ls => ls.flatMap { l =>
        val i = l.indexOf(',')
        if (i < 0) Iterator.empty else Iterator.single(KV(l.substring(i + 1), l.substring(0, i)))
      }
    private val rwlgJuice: MapleJuice.JuiceFn =
      (k, vs) => Iterator.single(KV(k, vs.toSet.toSeq.sorted.mkString(",")))
    private var sdfs: Sdfs = _
    private var runner: JobRunner = _

    def pass(spark: SparkSession): Seq[Op] = {
      def local(f: String): Dataset[String] = spark.read.textFile(s"$input/$f")
      val r = runner
      val count: Any => (Long, String) = v => (v.asInstanceOf[Long], "")
      val lines: Any => (Long, String) = v => {
        val ls = v.asInstanceOf[Array[String]]
        (ls.length.toLong, sha256(ls))
      }
      Seq(
        Op("put_text", "sources", () => sdfs.put(local("text.txt"), "text")),
        Op("put_links", "sources", () => sdfs.put(local("links.txt"), "links")),
        Op("maple_wc", "engine", () => r.submit(
          r.MapleJob(s"$warehouse/text", wcMaple, "wc")), count),
        Op("juice_wc", "engine", () => r.submit(
          r.JuiceJob("wc", wcJuice, s"$warehouse/wc_out", deleteInput = true)), count),
        Op("maple_rwlg", "engine", () => r.submit(
          r.MapleJob(s"$warehouse/links", rwlgMaple, "rwlg")), count),
        Op("juice_rwlg", "engine", () => r.submit(
          r.JuiceJob("rwlg", rwlgJuice, s"$warehouse/rwlg_out", deleteInput = true)), count),
        Op("get_wc", "sources", () => sdfs.get("wc_out").collect(), lines),
        Op("get_rwlg", "sources", () => sdfs.get("rwlg_out").collect(), lines))
    }

    def setUp(spark: SparkSession): Unit = {
      sdfs = new Sdfs(spark, warehouse)
      runner = new JobRunner(spark, sdfs)
    }
  }

  /** A list of `SparkEntry.queries`, each written to the noop sink. */
  final class Queries(input: String, names: Seq[String], shuffle: Option[Random])
      extends Workload {
    private val fns = names.map { n =>
      n -> graft.SparkEntry.queries.getOrElse(n, sys.error(s"unknown query $n"))
    }

    def setUp(spark: SparkSession): Unit =
      graft.core.Tables.names.foreach(t =>
        graft.core.Tables(spark, input, t).createOrReplaceTempView(t))

    def pass(spark: SparkSession): Seq[Op] =
      shuffle.fold(fns)(_.shuffle(fns)).map { case (n, fn) =>
        Op(n, "operators", () => {
          val df = fn(spark, input)
          df.write.mode("overwrite").format("noop").save()
          noteDataset(df)
        })
      }

    override def checkPass(spark: SparkSession, dir: String): Seq[Op] = {
      val oracles = graft.SparkEntry.oracleSql
      new File(dir).mkdirs()
      val w = new PrintWriter(new File(dir, "oracle_sql.json"))
      w.println(fns.flatMap { case (n, _) => oracles.get(n).map(sql => s"${q(n)}:${q(sql)}") }
        .mkString("{", ",\n", "}"))
      w.close()
      fns.map { case (n, fn) =>
        Op(n, "operators", () => fn(spark, input).write.mode("overwrite").parquet(s"$dir/$n"))
      }
    }
  }
}
