package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{JArray, JBool, JDouble, JInt, JLong, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact, parse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Throughput bench: every `SparkEntry.queries` entry over
  * `SPARK_GRAFT_SF_DIR`, n runs each, reported by its minimum. Prints the
  * full bench line, then a compact headline line as the last stdout line. */
object Bench {
  /** One measured run: wall-clock total and the streaming-execution span
    * inside it ([[graft.streaming.EventStream.drainOpSecs]]; 0 for batch
    * queries). `total - op` for a `stream_*` gate entry is the harness
    * cost (corpus restage + sentinels + checkpoint dirs + read-back). */
  private case class Run(total: Double, op: Double, batches: Long)

  /** The accepted run series of one query, and how the guard reached it. */
  private case class Series(name: String, runs: Seq[Run], retries: Int, escalated: Boolean,
      t0: Double) {
    def min: Double = runs.map(_.total).min
    def max: Double = runs.map(_.total).max
  }

  /** A series is only trustworthy if its runs agree: a >3x max/min spread
    * means co-tenant noise or GC landed on this query. The 0.5 s absolute
    * floor keeps JIT/GC flutter on sub-100 ms queries from counting (a
    * lone 0.4 s outlier on a 0.09 s query cannot have corrupted the min)
    * while still catching sub-second queries whose runs disagree. */
  private def dispersion(rs: Seq[Run]): Double = {
    val ts = rs.map(_.total)
    if (ts.nonEmpty && ts.min > 0 && ts.max - ts.min > 0.5) ts.max / ts.min else 1.0
  }
  private def dispersed(rs: Seq[Run]): Boolean = dispersion(rs) > 3.0

  /** Per-query minima of a prior bench artifact, with the sf and the
    * thread count (`SPARK_GRAFT_CPUS`) they were measured at. */
  case class Prior(sf: String, cpus: Int, minima: Map[String, Double])

  /** The thread count of artifacts whose line predates its `cpus` field:
    * they were all taken at Bench's default. */
  val LegacyCpus = 32

  /** Reads a prior bench artifact. `BENCH_LOCAL_<sf>.json` is one bench
    * line; a `BENCH_r*.json` wrapper holds stdout in `tail`, whose last
    * line is the compact headline. None when neither shape parses. */
  def priorMinima(path: String): Option[Prior] = {
    def minima(line: JValue) = (line \ "sf", line \ "queries") match {
      case (JString(sf), JObject(qs)) => Some(Prior(sf,
        line \ "cpus" match { case JInt(c) => c.toInt; case _ => LegacyCpus },
        qs.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JInt(v))    => k -> v.toDouble
        }.toMap))
      case _ => None
    }
    try {
      val doc = parse(new String(Files.readAllBytes(Paths.get(path)), UTF_8))
      doc \ "tail" match {
        case JString(tail) => minima(parse(tail.trim.linesIterator.toSeq.last))
        case _             => minima(doc)
      }
    } catch { case _: Exception => None }
  }

  /** The minima of `path` when they are comparable with a run at `sf` on
    * `cpus` threads: other data or another thread count moves every query. */
  def diffBase(path: String, sf: String, cpus: Int): Option[Map[String, Double]] =
    priorMinima(path).collect {
      case Prior(`sf`, `cpus`, mins) if mins.nonEmpty => mins
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(LegacyCpus)(_.toInt)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    graft.core.Tables.sessionDefaults.foreach { case (k, v) => builder.config(k, v) }
    graft.core.Tables.envExtraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    // warmup: touch every table (which memoizes its schema,
    // Tables.schemaOf) + one shuffle so JIT/codegen costs don't land on
    // whichever query happens to run first
    graft.core.Tables.names.foreach { t =>
      try graft.core.Tables(spark, sfDir, t).limit(1).count()
      catch { case _: Throwable => }
    }
    try graft.core.Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").count().count()
    catch { case _: Throwable => }
    // n repeats per query, report the min: a single run lets a stray
    // GC/JIT pause land on one query
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt
    // optional comma-separated query filter; unset OR EMPTY = the full
    // suite, so an empty or mistyped filter never yields a plausible-looking
    // empty artifact
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach(_.diff(SparkEntry.queries.keySet).foreach(unknown =>
      System.err.println(s"[bench] WARNING: SPARK_GRAFT_BENCH_ONLY names " +
        s"unknown query '$unknown' — ignored")))
    // only SUCCESSFUL runs may contribute — a failed run's fast abort
    // must never report as a fast query; a fully-failed query reports
    // -1 and is listed in "failed"
    def measure(name: String, fn: (SparkSession, String) => DataFrame, runs: Int): Seq[Run] = {
      val times = (1 to runs).flatMap { _ =>
        graft.streaming.EventStream.drainOpSecs() // zero the span counter
        graft.streaming.EventStream.drainOpBatches()
        val t0 = System.nanoTime()
        // noop sink: computes every output column (a count() would let
        // Catalyst prune the aggregates being benchmarked)
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          Some(Run((System.nanoTime() - t0) / 1e9,
            graft.streaming.EventStream.drainOpSecs(),
            graft.streaming.EventStream.drainOpBatches()))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
      // release operator-level caches (grams/fingerprints) between
      // queries: repeats above keep the intra-query steady-state benefit,
      // but no query's storage lingers under the rest of the suite
      spark.catalog.clearCache()
      times
    }
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "2").toInt
    // a query that stays dispersed after every retry escalates to one long
    // series of escN runs and keeps the n fastest: the min is the min of
    // the WHOLE series (trimming the slow tail cannot invent a faster run),
    // and if even the n fastest disagree >3x the noise is real and the
    // query is listed in still_dispersed
    val escN = math.max(sys.env.getOrElse("SPARK_GRAFT_BENCH_ESC_N", "7").toInt,
      2 * n + 1)
    // bench epoch: every series records its start offset from here, so a
    // cross-run mover can be checked against a transient-load window
    val benchEpochNanos = System.nanoTime()
    val benchEpochMs = System.currentTimeMillis()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val t0Sec = math.round((System.nanoTime() - benchEpochNanos) / 1e9 * 100) / 100.0
        // auto-retry: a dispersed series is re-measured with a FRESH n-run
        // series (up to maxRetries); the accepted series is the one whose
        // runs agree best (lowest max/min; tie -> lowest min), so the
        // committed min is always backed by a mutually-consistent series
        var best = measure(name, fn, n)
        var retries = 0
        while (dispersed(best) && retries < maxRetries) {
          val (mn, mx) = (best.map(_.total).min, best.map(_.total).max)
          System.err.println(f"[bench] $name dispersion ${mx / mn}%.1fx " +
            f"(min $mn%.2fs max $mx%.2fs) — retrying (${retries + 1}/$maxRetries)")
          val fresh = measure(name, fn, n)
          if (fresh.nonEmpty) {
            val (fr, br) = (fresh.map(_.total).max / fresh.map(_.total).min,
              best.map(_.total).max / best.map(_.total).min)
            if (fr < br || (fr == br && fresh.map(_.total).min < best.map(_.total).min))
              best = fresh
          }
          retries += 1
        }
        var escalated = false
        if (dispersed(best)) {
          System.err.println(s"[bench] $name exhausted $maxRetries retries — " +
            s"escalating to one $escN-run series")
          val big = measure(name, fn, escN)
          if (big.nonEmpty) {
            escalated = true
            best = big.sortBy(_.total).take(n)
          }
        }
        Series(name, best, retries, escalated, t0Sec)
      }
    val ok = results.filter(_.runs.nonEmpty)
    val stillDispersed = results.filter(r => dispersed(r.runs)).map(_.name)
    stillDispersed.foreach { name =>
      System.err.println(
        s"[bench] WARNING: $name STILL dispersed after retries AND the " +
          s"$escN-run escalation — genuinely noisy; listed in still_dispersed")
    }
    def round(x: Double, digits: Int): Double = {
      val p = math.pow(10, digits)
      math.round(x * p) / p
    }
    def obj(fields: Seq[(String, JValue)]): JObject = JObject(fields.toList)
    def strs(xs: Seq[String]) = JArray(xs.map(JString(_)).toList)
    val total = ok.map(_.min).sum
    // the quantity the retry guard acts on: a ratio counts only when the
    // absolute spread exceeds the 0.5 s floor, so sub-second flutter that
    // cannot have corrupted a min does not make every artifact read noisy
    // (the full per-query min/max series stays visible in "spread")
    val maxDisp = round(ok.map(r => dispersion(r.runs)).foldLeft(1.0)(math.max), 2)
    val failed = strs(results.filter(_.runs.isEmpty).map(_.name))
    // per query {min,max,n_ok,retries,t0[,esc][,op,harness,batches]}: min
    // alone hides that ALL runs were slow, retries/esc show where the guard
    // intervened, and op/harness/batches split a streaming gate entry's
    // query-execution span (and its per-batch floor) from its scaffolding
    val spread = obj(results.map { r =>
      val (mn, mx) = if (r.runs.nonEmpty) (r.min, r.max) else (-1.0, -1.0)
      val esc = if (r.escalated) Seq("esc" -> JBool(true)) else Nil
      val op = r.runs.sortBy(_.total).headOption.filter(_.op > 0.0).toSeq.flatMap { f =>
        Seq("op" -> JDouble(f.op), "harness" -> JDouble(math.max(0.0, f.total - f.op)),
          "batches" -> JLong(f.batches))
      }
      r.name -> obj(Seq("min" -> JDouble(mn), "max" -> JDouble(mx), "n_ok" -> JInt(r.runs.length),
        "retries" -> JInt(r.retries), "t0" -> JDouble(r.t0)) ++ esc ++ op)
    })
    // cross-run minima diff: a query whose EVERY run lands equally
    // inflated passes every intra-series check, so the only detector is a
    // prior minimum. Diff against $SPARK_GRAFT_BENCH_PREV, else
    // BENCH_LOCAL_<sf>.json (the untruncated full-suite minima every full
    // run writes), else the latest BENCH_r*.json, when it was taken at this
    // sf and thread count (diffBase), and record every >2x mover.
    val sfTag = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse("sf")
    val localName = s"BENCH_LOCAL_$sfTag.json"
    val prevFile = sys.env.get("SPARK_GRAFT_BENCH_PREV").orElse {
      if (new java.io.File(localName).isFile) Some(localName)
      else Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.matches("BENCH_r\\d+\\.json")).sorted.lastOption
    }
    val prev = prevFile.flatMap(f => diffBase(f, sfDir, cpus).map(f -> _))
    val vsPrev = obj(prev.toSeq.flatMap { case (_, mins) =>
      ok.flatMap { r =>
        mins.get(r.name).filter(p => r.min > 0 && p > 0).map(r.min / _)
          .filter(ratio => ratio > 2.0 || ratio < 0.5)
          .map(ratio => r.name -> JDouble(round(ratio, 2)))
      }
    })
    // epoch_ms anchors every spread row's "t0" (seconds after it) to
    // absolute wall-clock, so a mover can be checked against external
    // load records for its exact window
    val line = compact(obj(Seq(
      "metric" -> JString("total"), "value" -> JDouble(total), "unit" -> JString("sec"),
      "n" -> JInt(n), "epoch_ms" -> JLong(benchEpochMs),
      "queries" -> obj(results.map(r => r.name -> JDouble(if (r.runs.nonEmpty) r.min else -1.0))),
      "spread" -> spread, "max_dispersion" -> JDouble(maxDisp),
      "still_dispersed" -> strs(stillDispersed),
      "prev" -> prev.fold[JValue](JNull)(p => JString(p._1)), "vs_prev" -> vsPrev,
      "failed" -> failed, "sf" -> JString(sfDir), "cpus" -> JInt(cpus))))
    println(line)
    // A wrapper that keeps only the last ~2000 chars of stdout loses the
    // head of the full line (~19 KB at 180+ queries), so a COMPACT headline
    // line comes LAST: suite total + the baseline-comparable headline
    // queries (numbered q*, wc_*, rwlg_*). build.sbt passes forked stdout
    // through verbatim with no success trailer, so this is the literal last
    // stdout line; the full detail ships in target/bench.json and
    // BENCH_LOCAL_<sf>.json.
    val headline = ok.filter(r =>
      r.name.matches("q\\d+_.*") || r.name.startsWith("wc_") || r.name.startsWith("rwlg_"))
    println(compact(obj(Seq(
      "metric" -> JString("total"), "value" -> JDouble(round(total, 2)), "unit" -> JString("sec"),
      "n" -> JInt(n), "n_queries" -> JInt(results.size),
      "queries" -> obj(headline.map(r => r.name -> JDouble(round(r.min, 3)))),
      "max_dispersion" -> JDouble(maxDisp), "failed" -> failed, "sf" -> JString(sfDir),
      "cpus" -> JInt(cpus)))))
    // bare copy without any log prefix, for log-scrape-free parsing
    try Files.writeString(Paths.get("target/bench.json"), line)
    catch { case _: Throwable => }
    // only full-suite runs persist the next run's diff base: a subset run
    // must not overwrite the full-suite minima
    if (only.isEmpty)
      try Files.writeString(Paths.get(localName), line)
      catch { case _: Throwable => }
    spark.stop()
  }
}
