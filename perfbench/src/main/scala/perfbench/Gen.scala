package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded benchmark inputs. Every value is a hash of (row id, seed, salt),
  * so one seed gives the same bytes whatever the partitioning; nothing is
  * read from outside the work directory. */
object Gen {

  private def h(seed: Long, salt: Int): Column =
    xxhash64(col("id"), lit(seed), lit(salt))

  /** Uniform integer in [0, m). */
  private def u(seed: Long, salt: Int, m: Long): Column = pmod(h(seed, salt), lit(m))

  private def rows(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, 4).toDF()

  // ---- pipeline_csv_avro ------------------------------------------------

  val Quarters = Seq("Q1", "Q2", "Q3", "Q4")
  val Brands = Seq("Nike", "Reebok", "Addidas")
  val OffListBrand = "Puma"

  val SalesSchema: StructType = StructType(Seq(
    StructField("Quarter", StringType, nullable = false),
    StructField("Product", StringType, nullable = false),
    StructField("Brand", StringType, nullable = false),
    StructField("Sales", IntegerType, nullable = false),
    StructField("ShopID", IntegerType, nullable = false)))

  /** The reference sample's shape at scale: about 1 row in 1000 carries
    * the off-list brand, which routes its product to the error port. */
  def salesCsv(spark: SparkSession, dir: String, seed: Long, n: Long,
               products: Long): Unit = {
    val brand = when(u(seed, 3, 1000) === 0, lit(OffListBrand))
      .otherwise(element_at(array(Brands.map(lit): _*), (u(seed, 4, 3) + 1).cast("int")))
    rows(spark, n).select(
      concat(lit("Q"), (u(seed, 1, 4) + 1).cast("string")).as("Quarter"),
      concat(lit("P"), lpad(u(seed, 2, products).cast("string"), 7, "0")).as("Product"),
      brand.as("Brand"),
      (u(seed, 5, 1000) + 1).cast("int").as("Sales"),
      (u(seed, 6, 50) + 1).cast("int").as("ShopID"))
      .write.mode("overwrite").option("header", true).csv(dir)
  }

  val PipelineAggregates = "Sum:sum(Sales), Avg:avg(Sales), Max:max(Sales)"
  val PipelineColumns: String =
    s"Quarter=${Quarters.mkString(",")};Brand=${Brands.mkString(",")}"

  /** The paper's job as a pipeline config: File(csv) source → Pivot →
    * File(avro) sink, with `${inputFile}` / `${outputDirectory}` macros. */
  def pipelineJson(): String = {
    val m = new ObjectMapper()
    val avroSchema = m.createObjectNode()
    avroSchema.put("type", "record").put("name", "purchase")
    val fields = avroSchema.putArray("fields")
    SalesSchema.fields.foreach { f =>
      fields.addObject().put("name", f.name)
        .put("type", if (f.dataType == StringType) "string" else "int")
    }
    val root = m.createObjectNode()
    root.put("name", "pivot_csv_to_avro")
    val stages = root.putObject("config").putArray("stages")
    def stage(name: String, tpe: String): ObjectNode = {
      val plugin = stages.addObject().put("name", name).putObject("plugin")
      plugin.put("name", if (tpe == "batchaggregator") "Pivot" else "File").put("type", tpe)
      plugin.putObject("properties")
    }
    stage("File", "batchsource").put("path", "${inputFile}").put("format", "csv")
      .put("delimiter", ",").put("skipHeader", "true")
      .put("schema", m.writeValueAsString(avroSchema))
    stage("Pivot", "batchaggregator").put("pivotRow", "Product")
      .put("pivotColumns", PipelineColumns).put("aggregates", PipelineAggregates)
      .put("defaultValue", "0").put("on-error", "send-to-error-port")
    stage("File2", "batchsink").put("path", "${outputDirectory}").put("format", "avro")
    val conns = root.get("config").asInstanceOf[ObjectNode].putArray("connections")
    conns.addObject().put("from", "File").put("to", "Pivot")
    conns.addObject().put("from", "Pivot").put("to", "File2")
    m.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  // ---- pivot_wide -------------------------------------------------------

  /** `rk` row keys, int pivot key `pk` over `values` declared values plus
    * a twentieth more off-list ones (dropped in skip mode), int `v`. */
  def wideParquet(spark: SparkSession, path: String, seed: Long, n: Long,
                  keys: Int, values: Int): Unit =
    rows(spark, n).select(
      u(seed, 1, keys).cast("int").as("rk"),
      u(seed, 2, values + math.max(1, values / 20)).cast("int").as("pk"),
      (u(seed, 3, 1000) + 1).cast("int").as("v"))
      .write.mode("overwrite").parquet(path)

  // ---- registry_mix -----------------------------------------------------

  /** `lineitem`: orders × 1..7 lines over uniform part keys, the shape of
    * the library's test tables. */
  def lineitem(spark: SparkSession, path: String, seed: Long, orders: Long, parts: Long): Unit =
    rows(spark, orders)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (u(seed, 1, 7) + 1).cast("int"))).as("l_linenumber"))
      .select(col("l_orderkey"),
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seed)), lit(parts)).as("l_partkey"),
        col("l_linenumber"))
      .write.mode("overwrite").parquet(path)
}
