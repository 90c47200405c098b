package graft

import graft.operators.Relational

/** Sketch aggregates: HLL++ estimate must track the exact distinct count
  * within its configured error bound. */
class SketchSpec extends SparkTestBase {
  import spark.implicits._

  test("approx_count_distinct within 5x the configured 2% rsd of exact") {
    val rows = Relational.q25ApproxDistinct(spark, sf)
      .select("l_returnflag", "approx_parts", "exact_parts")
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (flag, approx, exact) =>
      val err = math.abs(approx - exact).toDouble / exact
      assert(err <= 0.10, s"$flag: approx=$approx exact=$exact err=$err")
    }
  }

  test("q25 over distinct (flag, partkey) pairs equals the two-aggregate form") {
    import org.apache.spark.sql.functions._
    // the form q25 had before it aggregated the distinct pairs
    def reference(d: String) = graft.core.Tables.lineitem(spark, d)
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", 0.02).as("approx_parts"),
        countDistinct($"l_partkey").as("exact_parts"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("l_returnflag", "approx_parts", "exact_parts")
        .as[(String, Long, Long)].collect().toSet
    val got = Relational.q25ApproxDistinct(spark, sf)
    assert(got.schema === reference(sf).schema)
    assert(rows(got) === rows(reference(sf)))
    // duplicates and null keys: 'A' has 3 distinct keys in 5 rows, 'B' only nulls
    val d = java.nio.file.Files.createTempDirectory("graft_q25").toString
    Seq(("A", Some(1L)), ("A", Some(1L)), ("A", Some(2L)), ("A", None), ("A", Some(3L)),
      ("B", None)).toDF("l_returnflag", "l_partkey").write.parquet(s"$d/lineitem.parquet")
    assert(rows(Relational.q25ApproxDistinct(spark, d)) === Set(("A", 3L, 3L), ("B", 0L, 0L)))
    assert(rows(Relational.q25ApproxDistinct(spark, d)) === rows(reference(d)))
  }
}
