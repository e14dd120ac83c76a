package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.pivot.{PivotOps, PivotResult, PivotSpec}
import graft.sources.{AvroSink, AvroSource, PipelineRunner}

import scala.jdk.CollectionConverters._

/** Runs the reference-format example pipeline JSON (a fixture checked
  * in as `graft/examples/pivot_file_source_sink_example-cdap-data-pipeline.json`
  * with `graft/examples/sample_data.csv`) end-to-end through the Spark
  * runner — config-level compatibility: a pipeline file in the
  * reference's format works as written. */
class PipelineRunnerSpec extends SparkSpec {

  private val example = PipelineRunner.Example

  /** What the jobs `body` runs did: input records their tasks read, the
    * jobs started and the names of the stages submitted. */
  private final case class Observed(records: Long, jobs: Int, stages: Seq[String])

  private def observe(body: => Unit): Observed = {
    val read = new java.util.concurrent.atomic.AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => read.addAndGet(m.inputMetrics.recordsRead))
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(e.stageInfo.name)
    }
    BusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; BusDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    Observed(read.get, jobs.get, stages.asScala.toSeq)
  }

  private def macros(input: String, out: String): Map[String, String] =
    Map("inputFile" -> input, "outputDirectory" -> out)

  /** The example pipeline under another `on-error` mode, with extra
    * pivot properties spliced in after it. */
  private def exampleWith(onError: String, extra: String = ""): String = {
    val json = example.json.replace("\"skip-error\"", s"\"$onError\"$extra")
    assert(onError == "skip-error" || json != example.json)
    json
  }

  /** The example's sample input plus `lines`, as `dir/sample_data.csv`. */
  private def sampleCsv(dir: String, lines: String*): String = {
    val path = example.writeSampleCsv(dir)
    Files.write(Paths.get(path), lines.map(_ + "\n").mkString.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    path
  }

  /** `p`'s pivot stage through the lazy [[PivotOps.pivotConfig]]. */
  private def lazyPivot(p: PipelineRunner.Pipeline): PivotResult =
    PivotOps.pivotConfig(PipelineRunner.readSource(spark, p.source),
      p.pivot.pivotRow, p.pivot.pivotColumns, p.pivot.aggregates,
      p.pivot.fieldAliases, p.pivot.defaultValue, p.pivot.onError,
      p.pivot.numPartitions)

  private def committed(dir: String): Boolean = Files.exists(Paths.get(dir, "_SUCCESS"))

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

  test("the source is scanned once per run") {
    val outDir = Files.createTempDirectory("pipeline_scans").toString
    val input = example.writeSampleCsv(outDir)
    val sampleRows = 18L
    def run(json: String): Observed = observe(PipelineRunner.run(spark, json,
      macros(input, s"$outDir/pivoted")))
    assert(run(example.json).records == sampleRows)
    // send-to-error-port writes the main sink and an `_errors` sink, both
    // from one materialized cross-tab: the CSV is read once, and each
    // sink re-reads the cross-tab's checkpoint blocks, which the input
    // metrics count as records read too
    val crossTabRows = 3L // Shoes, Shirts, Socks
    val errorPort = run(exampleWith("send-to-error-port"))
    assert(errorPort.records == sampleRows + 2 * crossTabRows)
    assert(errorPort.stages.count(_.startsWith("materialize at PivotOps.scala")) == 1,
      errorPort.stages)
    assert(committed(s"$outDir/pivoted_errors"))
  }

  test("an error-port run's sinks equal the lazy pivot's outputs written separately") {
    val outDir = Files.createTempDirectory("pipeline_once").toString
    // Shirts and Socks each meet an off-list brand and go to the error port
    val input = sampleCsv(outDir, "Q2,Shirts,Puma,5", "Q3,Socks,Adidas,7")
    val json = exampleWith("send-to-error-port", """, "defaultValue": "0"""")
    val result = PipelineRunner.run(spark, json, macros(input, s"$outDir/once"))
    val p = PipelineRunner.parse(json, macros(input, s"$outDir/lazy"))
    val lazyResult = lazyPivot(p)
    PipelineRunner.writeSink(lazyResult.main, p.sink)
    PipelineRunner.writeSink(lazyResult.errors, p.sink.copy(path = s"$outDir/lazy_errors"))
    assert(result.main.schema == lazyResult.main.schema)
    assert(result.errors.schema == lazyResult.errors.schema)
    for (suffix <- Seq("", "_errors")) {
      val got = AvroSource.read(spark, s"$outDir/once$suffix")
      val want = AvroSource.read(spark, s"$outDir/lazy$suffix")
      assert(got.schema == want.schema, suffix)
      assertRowsMatch(got, want.collect().toSeq)
    }
    assertRowsMatch(AvroSource.read(spark, s"$outDir/once_errors"), Seq(
      Row("Shirts", "For columns name: Brand following models are missing Puma"),
      Row("Socks", "For columns name: Brand following models are missing Adidas")))
    assert(AvroSource.read(spark, s"$outDir/once").select("Product").collect()
      .map(_.getString(0)).toSeq == Seq("Shoes"))
  }

  test("an error-port run with no off-list value commits an empty _errors sink") {
    val outDir = Files.createTempDirectory("pipeline_no_errors").toString
    val result = PipelineRunner.run(spark, exampleWith("send-to-error-port"),
      macros(example.writeSampleCsv(outDir), s"$outDir/pivoted"))
    assert(committed(s"$outDir/pivoted_errors"))
    val errors = AvroSource.read(spark, s"$outDir/pivoted_errors")
    assert(errors.count() == 0)
    assert(errors.schema == AvroSource.toStructType(AvroSink.toAvroSchema(result.errors.schema)))
    assert(errors.columns.toSeq == Seq("Product", "__error"))
    assert(AvroSource.read(spark, s"$outDir/pivoted").count() == 3)
  }

  test("a header-only input in error-port mode commits both sinks empty") {
    val outDir = Files.createTempDirectory("pipeline_empty_errorport").toString
    val header = Paths.get(outDir, "header_only.csv")
    Files.write(header, "Quarter,Product,Brand,Sales\n".getBytes("UTF-8"))
    val result = PipelineRunner.run(spark, exampleWith("send-to-error-port"),
      macros(header.toString, s"$outDir/pivoted"))
    for ((suffix, frame) <- Seq("" -> result.main, "_errors" -> result.errors)) {
      assert(committed(s"$outDir/pivoted$suffix"), suffix)
      val back = AvroSource.read(spark, s"$outDir/pivoted$suffix")
      assert(back.count() == 0, suffix)
      assert(back.schema == AvroSource.toStructType(AvroSink.toAvroSchema(frame.schema)), suffix)
    }
  }

  test("PivotOps.pivot runs no job at construction in any error mode") {
    val outDir = Files.createTempDirectory("pipeline_lazy").toString
    val p = PipelineRunner.parse(example.json, macros(example.writeSampleCsv(outDir), outDir))
    val input = PipelineRunner.readSource(spark, p.source)
    for (mode <- Seq("skip-error", "send-to-error-port", "fail-pipeline")) {
      val spec = PivotSpec.parse(p.pivot.pivotRow, p.pivot.pivotColumns,
        p.pivot.aggregates, onError = Some(mode)).toOption.get
      assert(observe(PivotOps.pivot(input, spec)).jobs == 0, mode)
    }
  }

  test("skip-error and fail-pipeline runs take the lazy pivot's jobs and no checkpoint") {
    val outDir = Files.createTempDirectory("pipeline_one_output").toString
    val input = example.writeSampleCsv(outDir)
    for (mode <- Seq("skip-error", "fail-pipeline")) {
      val json = exampleWith(mode)
      val run = observe(PipelineRunner.run(spark, json, macros(input, s"$outDir/$mode")))
      val p = PipelineRunner.parse(json, macros(input, s"$outDir/${mode}_lazy"))
      val lazyWrite = observe(PipelineRunner.writeSink(lazyPivot(p).main, p.sink))
      assert(run.jobs == lazyWrite.jobs, mode)
      assert(!run.stages.exists(_.startsWith("materialize")), s"$mode: ${run.stages}")
      assert(AvroSource.read(spark, s"$outDir/$mode").count() == 3, mode)
    }
    // fail-pipeline still raises when a group meets an off-list value
    val bad = sampleCsv(Files.createTempDirectory("pipeline_fail").toString, "Q1,Shoes,Puma,1")
    val e = intercept[Exception](PipelineRunner.run(spark, exampleWith("fail-pipeline"),
      macros(bad, s"$outDir/failed")))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("Failing pipeline due to error")), e)
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

  /** Every type the avro sink writes, nullable except `id`. */
  private val roundTripSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("score", DoubleType, nullable = true),
    StructField("flag", BooleanType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("day", DateType, nullable = true),
    StructField("amount", DecimalType(10, 2), nullable = true),
    StructField("tags", ArrayType(StringType, containsNull = true), nullable = true),
    StructField("blob", BinaryType, nullable = true),
    StructField("small", ShortType, nullable = true),
    StructField("tiny", ByteType, nullable = true),
    StructField("ratio", FloatType, nullable = true)))

  /** What `schema` reads back as: Avro has no 8- or 16-bit integer, so
    * short and byte columns are written, and read, as `int`. */
  private def avroWidened(schema: StructType): StructType =
    StructType(schema.map(f => f.dataType match {
      case ShortType | ByteType => f.copy(dataType = IntegerType)
      case _ => f
    }))

  test("avro-style schema reads the types the avro sink writes") {
    import graft.sources.AvroSink.toAvroSchema
    val st = avroWidened(roundTripSchema)
    assert(PipelineRunner.avroSchemaToStruct(toAvroSchema(st).toString) == st)
    assert(PipelineRunner.avroSchemaToStruct(toAvroSchema(roundTripSchema).toString) == st)
    // the same types bare, outside a null union
    val bare = StructType(st.map(_.copy(nullable = false)))
    assert(PipelineRunner.avroSchemaToStruct(toAvroSchema(bare).toString) == bare)
  }

  test("avro sink/source round-trip preserves values, nulls and logical types") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_avro")
    val schema = roundTripSchema
    val rows = Seq(
      Row(1L, "a", 1.5, true,
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.123456"),
        java.sql.Date.valueOf("2024-02-29"),
        new java.math.BigDecimal("12345.67"),
        Seq("x", null, "y"), Array[Byte](1, 2, 3), 12.toShort, 5.toByte, 0.25f),
      Row(2L, null, null, null, null, null, null, null, null, null, null, null),
      // before the epoch, sub-millisecond micros, negatives, null elements
      Row(3L, "é€", -0.5, false,
        java.sql.Timestamp.valueOf("1969-07-20 20:17:40.000457"),
        java.sql.Date.valueOf("1931-05-17"),
        new java.math.BigDecimal("-98765.43"),
        Seq(null, "z", null), Array.emptyByteArray, (-7).toShort, (-3).toByte, -2.5e-3f))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    AvroSink.write(df, s"$tmp/out")
    val back = AvroSource.read(spark, s"$tmp/out")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      avroWidened(schema).fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.schema == avroWidened(schema))
    // toString-compare everything except the byte array (whose toString
    // is a JVM reference); the blob is checked bit-exact below
    val cmpCols = schema.fieldNames.filterNot(_ == "blob").map(col)
    val got = back.orderBy("id").select(cmpCols: _*).collect()
    val exp = df.orderBy("id").select(cmpCols: _*).collect()
    assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq)
    val blobs = back.orderBy("id").select("blob").collect()
    assert(blobs(0).getAs[Array[Byte]](0).toSeq == Seq[Byte](1, 2, 3))
    assert(blobs(1).getAs[Array[Byte]](0) == null)
    assert(blobs(2).getAs[Array[Byte]](0).isEmpty)
    // each value reads back equal, not only its string
    val typed = back.orderBy("id").collect()
    assert(typed(2).getAs[java.sql.Timestamp]("ts") ==
      java.sql.Timestamp.valueOf("1969-07-20 20:17:40.000457"))
    assert(typed(2).getAs[java.sql.Date]("day") == java.sql.Date.valueOf("1931-05-17"))
    assert(typed(2).getAs[java.math.BigDecimal]("amount") == new java.math.BigDecimal("-98765.43"))
    assert(typed(2).getSeq[String](typed(2).fieldIndex("tags")) == Seq(null, "z", null))
    assert(typed(2).getAs[Int]("small") == -7 && typed(2).getAs[Int]("tiny") == -3)
    assert(typed(2).getAs[Float]("ratio") == -2.5e-3f)
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
