package graft
import org.apache.spark.sql.SparkSession
import org.json4s.{JBool, JDouble, JInt, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.compact
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py).
  *
  * Usage: Verify <sfDir> <outDir>; `SPARK_GRAFT_VERIFY_ONLY=a,b` dumps only
  * the named queries (one-query iteration: dump it, then run check.py). */
object Verify {
  /** oracle_sql.json: query name → oracle SQL, one JSON object. */
  def oracleJson(oracles: Map[String, String]): String =
    compact(JObject(oracles.toList.map { case (k, v) => k -> JString(v) }))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.core.Tables.sessionDefaults.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    new java.io.File(outDir).mkdirs()
    // the oracle map goes to disk BEFORE the dumps: if a time budget kills
    // this JVM mid-run, every query dumped so far can still be compared
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    // unset/empty = full suite
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(
            f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // cache hygiene: operators may cache shared subtrees (grams,
        // fingerprints) for intra-query reuse — release between queries so
        // no query's storage lingers under the rest of the run
        spark.catalog.clearCache()
      }
    writeSketchBounds(spark, outDir)
    spark.stop()
  }

  /** The two HLL++ queries have no DuckDB twin BY CONSTRUCTION (different
    * register layouts), so the gate records them `no_oracle` — but their
    * estimates CAN be held against their exact twins:
    * |approx − exact| ≤ max(2, 3·rsd·exact) per group (rsd = 0.02, with a
    * 2-count floor where HLL++ sparse mode is near-exact). tools/check.py
    * computes the same bound; this copy ships the verdict WITH the dumped
    * artifacts, so the correctness directory carries the evidence for its
    * two permanent no-oracle rows even when check.py never runs. */
  private def writeSketchBounds(spark: SparkSession, outDir: String): Unit = try {
    val rsd = 0.02
    val tol = 3 * rsd
    def relErr(a: Double, e: Double): Double =
      if (e != 0) math.abs(a - e) / e else if (a == 0) 0.0 else Double.PositiveInfinity
    // an empty dump or exact = 0 with approx != 0 has no finite worst
    // error: it is written as null, as check.py writes it
    def bound(pairs: Seq[(Double, Double)]): JValue = {
      val worst = pairs.map((relErr _).tupled).maxOption.filterNot(_.isInfinite)
      val ok = pairs.nonEmpty &&
        pairs.forall { case (a, e) => math.abs(a - e) <= math.max(2.0, tol * e) }
      JObject("groups" -> JInt(pairs.size), "max_rel_err" -> worst.fold[JValue](JNull)(JDouble(_)),
        "tol" -> JDouble(tol), "ok" -> JBool(ok))
    }
    def exists(name: String) = Files.isDirectory(Paths.get(s"$outDir/$name"))
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, JValue)]
    if (exists("q25_approx_distinct")) {
      val pairs = spark.read.parquet(s"$outDir/q25_approx_distinct")
        .select("approx_parts", "exact_parts").collect()
        .map(r => (r.getLong(0).toDouble, r.getLong(1).toDouble)).toSeq
      entries += "q25_approx_distinct" -> bound(pairs)
    }
    if (exists("profile_lineitem_approx") && exists("profile_lineitem")) {
      val a = spark.read.parquet(s"$outDir/profile_lineitem_approx")
        .select("column_name", "n_distinct")
      val e = spark.read.parquet(s"$outDir/profile_lineitem")
        .select("column_name", "n_distinct").withColumnRenamed("n_distinct", "exact")
      val pairs = a.join(e, "column_name").select("n_distinct", "exact").collect()
        .map(r => (r.getLong(0).toDouble, r.getLong(1).toDouble)).toSeq
      entries += "profile_lineitem_approx" -> bound(pairs)
    }
    if (entries.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/sketch_bounds.json"), compact(JObject(entries.toList)))
  } catch { case e: Throwable =>
    System.err.println(s"[verify] sketch bounds failed: ${e.getMessage}")
  }
}
