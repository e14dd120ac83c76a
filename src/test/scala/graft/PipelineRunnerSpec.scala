package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.sources.PipelineRunner

import scala.jdk.CollectionConverters._

/** Runs the reference-format example pipeline JSON (a fixture checked
  * in as `graft/examples/pivot_file_source_sink_example-cdap-data-pipeline.json`
  * with `graft/examples/sample_data.csv`) end-to-end through the Spark
  * runner — config-level compatibility: a pipeline file in the
  * reference's format works as written. */
class PipelineRunnerSpec extends SparkSpec {

  private val example = PipelineRunner.Example

  /** Input records read by the tasks of the jobs `body` runs. */
  private def recordsRead(body: => Unit): Long = {
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
    }
    BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; BusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    read.get
  }

  test("avro-style schema converts to StructType with nullable unions") {
    val st = PipelineRunner.avroSchemaToStruct(
      """{"type":"record","name":"t","fields":[
        |{"name":"a","type":"string"},
        |{"name":"b","type":["int","null"]}]}""".stripMargin)
    assert(st == StructType(Seq(
      StructField("a", StringType, nullable = false),
      StructField("b", IntegerType, nullable = true))))
  }

  test("reference-format example pipeline runs: csv -> pivot -> sink") {
    val outDir = Files.createTempDirectory("pipeline_out").toString
    val result = PipelineRunner.run(spark, example.json, Map(
      "inputFile" -> example.writeSampleCsv(outDir),
      "outputDirectory" -> s"$outDir/pivoted"))

    // Quarter(Q1..Q4) x Brand(Nike,Reebok,Addidas) cells, alias "Sum"
    val out = result.main
    assert(out.columns.head == "Product")
    assert(out.columns.length == 1 + 12)
    assert(out.columns.contains("Q1_Nike_Sum") && out.columns.contains("Q4_Addidas_Sum"))

    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("Shoes", "Shirts", "Socks"))
    def cell(p: String, c: String): Any =
      rows(p).get(rows(p).fieldIndex(c))
    assert(cell("Shoes", "Q1_Nike_Sum") == 50)
    assert(cell("Shirts", "Q1_Reebok_Sum") == 60)
    assert(cell("Socks", "Q4_Nike_Sum") == 60)
    assert(cell("Shoes", "Q1_Addidas_Sum") == null) // declared, no data
    assert(cell("Shirts", "Q2_Nike_Sum") == null)   // no Shirts in Q2

    // sink written as REAL avro container files (the example's declared
    // sink format), readable back through the avro source
    assert(Files.list(Paths.get(s"$outDir/pivoted")).iterator().asScala
      .exists(_.getFileName.toString.endsWith(".avro")))
    val written = graft.sources.AvroSource.read(spark, s"$outDir/pivoted")
    assert(written.count() == 3)
    assertRowsMatch(written.select("Product", "Q1_Nike_Sum", "Q1_Reebok_Sum"),
      Seq(Row("Shoes", 50, 50), Row("Shirts", 20, 60), Row("Socks", null, 40)))
  }

  test("the source is scanned once per written output") {
    val outDir = Files.createTempDirectory("pipeline_scans").toString
    val input = example.writeSampleCsv(outDir)
    val sampleRows = 18L
    def run(json: String): Long = recordsRead(PipelineRunner.run(spark, json,
      Map("inputFile" -> input, "outputDirectory" -> s"$outDir/pivoted")))
    assert(run(example.json) == sampleRows)
    // send-to-error-port writes the main sink and an `_errors` sink
    val withErrors = example.json.replace("\"skip-error\"", "\"send-to-error-port\"")
    assert(withErrors != example.json)
    assert(run(withErrors) == 2 * sampleRows)
    assert(Files.exists(Paths.get(s"$outDir/pivoted_errors/_SUCCESS")))
  }

  test("an empty result commits an empty sink") {
    val outDir = Files.createTempDirectory("pipeline_empty").toString
    val header = Paths.get(outDir, "header_only.csv")
    Files.write(header, "Quarter,Product,Brand,Sales\n".getBytes("UTF-8"))
    val result = PipelineRunner.run(spark, example.json, Map(
      "inputFile" -> header.toString, "outputDirectory" -> s"$outDir/pivoted"))
    assert(result.main.isEmpty)
    assert(Files.exists(Paths.get(s"$outDir/pivoted/_SUCCESS")))
    assert(graft.sources.AvroSource.read(spark, s"$outDir/pivoted").count() == 0)

    // a frame with no partitions at all, through each sink format
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("k", StringType))))
    assert(none.rdd.getNumPartitions == 0)
    for (format <- Seq("avro", "parquet", "csv")) {
      PipelineRunner.writeSink(none, PipelineRunner.SinkStage(s"$outDir/none_$format", format))
      assert(Files.exists(Paths.get(s"$outDir/none_$format/_SUCCESS")), format)
    }
  }

  test("avro sink/source round-trip preserves values, nulls and logical types") {
    import graft.sources.{AvroSink, AvroSource}
    val tmp = java.nio.file.Files.createTempDirectory("graft_avro")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("flag", BooleanType, nullable = true),
      StructField("ts", TimestampType, nullable = true),
      StructField("day", DateType, nullable = true),
      StructField("amount", DecimalType(10, 2), nullable = true),
      StructField("tags", ArrayType(StringType, containsNull = true), nullable = true),
      StructField("blob", BinaryType, nullable = true)))
    val rows = Seq(
      Row(1L, "a", 1.5, true,
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.123456"),
        java.sql.Date.valueOf("2024-02-29"),
        new java.math.BigDecimal("12345.67"),
        Seq("x", null, "y"), Array[Byte](1, 2, 3)),
      Row(2L, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    AvroSink.write(df, s"$tmp/out")
    val back = AvroSource.read(spark, s"$tmp/out")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    // toString-compare everything except the byte array (whose toString
    // is a JVM reference); the blob is checked bit-exact below
    val cmpCols = schema.fieldNames.filterNot(_ == "blob").map(col)
    val got = back.orderBy("id").select(cmpCols: _*).collect()
    val exp = df.orderBy("id").select(cmpCols: _*).collect()
    assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq)
    val blobs = back.orderBy("id").select("blob").collect()
    assert(blobs(0).getAs[Array[Byte]](0).toSeq == Seq[Byte](1, 2, 3))
    assert(blobs(1).getAs[Array[Byte]](0) == null)
  }

  test("orc source and sink round-trip through the runner stages") {
    import graft.sources.PipelineRunner._
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    writeSink(docs, SinkStage(s"$tmp/docs_orc", "orc"))
    val back = readSource(spark,
      SourceStage(s"$tmp/docs_orc", "orc", ",", skipHeader = false, schema = None))
    assert(back.schema == docs.schema)
    assert(back.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
  }
}
