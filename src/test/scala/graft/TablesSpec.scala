package graft

import graft.core.Tables
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{BinaryType, StringType}

/** The table loader's schema memo: a memoized read has the inferred schema,
  * runs no inference job once warm, and is keyed on the files and the
  * session conf. */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_tables").toString

  /** Spark jobs `body` launches on this thread (its own job group, so a
    * concurrent suite's jobs do not count). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "TablesSpec")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  test("memoized schema equals the inferred one for every table, metadata included") {
    Tables.names.foreach { t =>
      val inferred = spark.read.parquet(s"$sf/$t.parquet").schema
      assert(Tables.schemaOf(spark, sf, t) === inferred, t)
      // StructField equality covers nullability and metadata
      assert(spark.read.schema(Tables.schemaOf(spark, sf, t)).parquet(s"$sf/$t.parquet")
        .schema === inferred, t)
      if (t != "events") assert(Tables(spark, sf, t).schema === inferred, t)
    }
  }

  test("the first read of a table infers its schema, a second launches no Spark job") {
    val d = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$d/t.parquet")
    assert(jobsOf(Tables(spark, d, "t")) >= 1)
    assert(jobsOf(Tables(spark, d, "t")) === 0)
    assert(Tables(spark, d, "t").as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
  }

  test("a self-join of two reads resolves: each read has its own attribute ids") {
    val a = Tables.region(spark, sf)
    val b = Tables.region(spark, sf)
    assert(a.queryExecution.analyzed.output.map(_.exprId).intersect(
      b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    assert(a.join(b, a("r_regionkey") === b("r_regionkey")).count() === a.count())
  }

  test("a table rewritten in place with another schema reads the new schema") {
    val d = tmp()
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$d/t.parquet")
    assert(Tables(spark, d, "t").columns.toSeq === Seq("k", "v"))
    Seq((2.5, 7)).toDF("x", "y").write.mode("overwrite").parquet(s"$d/t.parquet")
    assert(Tables.schemaOf(spark, d, "t") === spark.read.parquet(s"$d/t.parquet").schema)
    assert(Tables(spark, d, "t").as[(Double, Int)].collect().toSeq === Seq((2.5, 7)))
  }

  test("binaryAsString is part of the key: flipping it changes the read type") {
    // a raw parquet BINARY column without a Spark schema in the footer
    // (Spark's own writer stores one, and inference would follow it)
    val d = tmp()
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$d/bin.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hello"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables(spark, d, "bin").schema("b").dataType === BinaryType)
      spark.conf.set(key, "true")
      assert(Tables(spark, d, "bin").schema("b").dataType === StringType)
      assert(Tables(spark, d, "bin").as[String].collect().toSeq === Seq("hello"))
      spark.conf.set(key, "false")
      assert(Tables(spark, d, "bin").schema("b").dataType === BinaryType)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a missing table fails with Spark's own PATH_NOT_FOUND error") {
    val d = tmp()
    val plain = intercept[AnalysisException](spark.read.parquet(s"$d/region.parquet"))
    val e = intercept[AnalysisException](Tables.region(spark, d))
    assert(e.getClass === plain.getClass)
    assert(e.getCondition === "PATH_NOT_FOUND")
    assert(intercept[AnalysisException](Tables.schemaOf(spark, d, "region"))
      .getCondition === "PATH_NOT_FOUND")
  }
}
