package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.{NameValidator, Schema}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.pivot.{OnError, PivotOps, PivotResult, PivotSpec}

import scala.jdk.CollectionConverters._

/** Executes the reference's example pipeline shape — File source → Pivot →
  * File sink — from its JSON config (reference:
  * examples/pivot_file_source_sink_example-cdap-data-pipeline.json).
  * A user of the reference can point this runner at a pipeline file of
  * that format and get the same pipeline on Spark; [[Example]] is such a
  * file.
  *
  * Supported subset: `File` batchsource (csv/parquet/json/orc + declared
  * Avro-style schema, delimiter, skipHeader), the `Pivot`
  * batchaggregator (full config grammar via [[graft.pivot.PivotSpec]]),
  * and `File` batchsink (parquet/csv/json/orc/avro — avro through
  * [[AvroSink]], real container files written with avro-core).
  * `${macro}` placeholders are substituted from the caller's map (CDAP
  * runtime arguments).
  */
object PipelineRunner {

  final case class SourceStage(path: String, format: String, delimiter: String,
                               skipHeader: Boolean, schema: Option[StructType])
  final case class PivotStage(pivotRow: String, pivotColumns: String,
                              aggregates: String, fieldAliases: Option[String],
                              defaultValue: Option[String], onError: Option[String],
                              numPartitions: Option[Int])
  final case class SinkStage(path: String, format: String)
  final case class Pipeline(source: SourceStage, pivot: PivotStage, sink: SinkStage)

  /** Avro record schema JSON → StructType: the reference's primitives
    * and `["type","null"]` nullable unions (Pivot.java:274-299), plus the
    * logical and array types [[AvroSink.toAvroSchema]] writes, so a
    * source can declare the schema of a sink's files. Parsed by avro-core
    * without name or default validation (the reference's schemas are
    * not held to them) and mapped as [[AvroSource.toStructType]] maps
    * the schema of a file. */
  def avroSchemaToStruct(json: String): StructType =
    AvroSource.toStructType(new Schema.Parser(NameValidator.NO_VALIDATION)
      .setValidateDefaults(false).parse(json))

  /** Parse the CDAP pipeline JSON (stages + connections) into the
    * supported three-stage shape, applying `${macro}` substitutions. */
  def parse(json: String, macros: Map[String, String] = Map.empty): Pipeline = {
    def subst(s: String): String =
      macros.foldLeft(s) { case (acc, (k, v)) => acc.replace("${" + k + "}", v) }

    val root = new ObjectMapper().readTree(json)
    val stages = root.get("config").get("stages").elements().asScala.toSeq

    def props(st: JsonNode): Map[String, String] =
      st.get("plugin").get("properties").properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap

    def stageOfType(t: String): JsonNode =
      stages.find(_.get("plugin").get("type").asText() == t)
        .getOrElse(throw new IllegalArgumentException(s"No stage of type $t"))

    val src = props(stageOfType("batchsource"))
    val piv = props(stageOfType("batchaggregator"))
    val snk = props(stageOfType("batchsink"))

    Pipeline(
      SourceStage(
        path = subst(src("path")),
        format = src.getOrElse("format", "csv"),
        delimiter = src.getOrElse("delimiter", ","),
        skipHeader = src.get("skipHeader").exists(_.toBoolean),
        schema = src.get("schema").map(avroSchemaToStruct)),
      PivotStage(
        pivotRow = piv("pivotRow"),
        pivotColumns = piv("pivotColumns"),
        aggregates = piv("aggregates"),
        fieldAliases = piv.get("fieldAliases"),
        defaultValue = piv.get("defaultValue"),
        onError = piv.get("on-error"),
        numPartitions = piv.get("numberOfPartitions").map(_.toInt)),
      SinkStage(
        path = subst(snk("path")),
        format = snk.getOrElse("format", "parquet")))
  }

  /** Read the source stage. */
  def readSource(spark: SparkSession, s: SourceStage): DataFrame = {
    val reader = spark.read
    val withSchema = s.schema.fold(reader)(reader.schema)
    s.format match {
      case "csv" | "delimited" =>
        withSchema
          .option("header", s.skipHeader)
          .option("delimiter", s.delimiter)
          .csv(s.path)
      case "parquet" => withSchema.parquet(s.path)
      case "json" => withSchema.json(s.path)
      case "orc" => withSchema.orc(s.path)
      case "avro" => AvroSource.read(spark, s.path) // schema is in the files
      case other => throw new IllegalArgumentException(s"Unsupported source format: $other")
    }
  }

  /** Write the sink stage. `avro` goes through [[AvroSink]] (real Avro
    * container files via avro-core — no spark-avro datasource in this
    * build). At most 32 files: coalesce never raises the partition
    * count, so no partition count is read first (reading it would run
    * the plan's shuffle stages once more, and an empty result has 0). */
  def writeSink(df: DataFrame, s: SinkStage): Unit = {
    val coalesced = df.coalesce(32)
    s.format match {
      case "avro" => AvroSink.write(coalesced, s.path)
      case "csv" => coalesced.write.mode("overwrite").option("header", true).csv(s.path)
      case "json" => coalesced.write.mode("overwrite").json(s.path)
      case "orc" => coalesced.write.mode("overwrite").orc(s.path)
      case _ => coalesced.write.mode("overwrite").parquet(s.path)
    }
  }

  /** A reference-format example pipeline, checked in under
    * `graft/examples/` on the classpath: csv source (`${inputFile}`,
    * declared schema, header skipped) → pivot of `Product` by
    * `Quarter=Q1..Q4` × `Brand=Nike,Reebok,Addidas` with `Sum:sum(Sales)`
    * → avro sink (`${outputDirectory}`), plus its 18-row sample input. */
  object Example {
    private def resource(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/graft/examples/$name")
      require(in != null, s"missing graft/examples/$name resource")
      try in.readAllBytes() finally in.close()
    }

    lazy val json: String = new String(
      resource("pivot_file_source_sink_example-cdap-data-pipeline.json"),
      java.nio.charset.StandardCharsets.UTF_8)

    /** Writes the sample input to `dir/sample_data.csv` and returns that
      * path: the source stage reads files, not classpath entries. */
    def writeSampleCsv(dir: String): String = {
      val path = java.nio.file.Paths.get(dir, "sample_data.csv")
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, resource("sample_data.csv"))
      path.toString
    }
  }

  /** Full run: source → pivot → sink. Returns the pivot result; `main`
    * is what the sink holds. In send-to-error-port mode the routed
    * cross-tab is materialized once ([[PivotOps.pivotForSinks]]) and
    * both the sink and its `_errors` sibling directory are written from
    * it, so a run reads and aggregates the source once, not once per
    * output. The error write is gated on the CONFIG, not on an emptiness
    * probe: an empty error port still commits its schema. */
  def run(spark: SparkSession, json: String,
          macros: Map[String, String] = Map.empty): PivotResult = {
    val p = parse(json, macros)
    val spec = PivotSpec.parseOrThrow(p.pivot.pivotRow, p.pivot.pivotColumns,
      p.pivot.aggregates, p.pivot.fieldAliases, p.pivot.defaultValue,
      p.pivot.onError, p.pivot.numPartitions)
    val result = PivotOps.pivotForSinks(readSource(spark, p.source), spec)
    writeSink(result.main, p.sink)
    if (spec.onError == OnError.SendToErrorPort)
      writeSink(result.errors, p.sink.copy(path = p.sink.path + "_errors"))
    result
  }
}
