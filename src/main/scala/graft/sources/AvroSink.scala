package graft.sources

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.GenericRecord
import org.apache.avro.io.{DatumWriter, Encoder}
import org.apache.avro.util.Utf8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.jdk.CollectionConverters._

/** Avro container-file sink built directly on avro-core (which IS on the
  * Spark classpath) — this build has no spark-avro datasource jar, and
  * the reference's example pipeline writes avro
  * (examples/pivot_file_source_sink_example-cdap-data-pipeline.json:108-125),
  * so falling back to parquet would hand a reference user different
  * output files.
  *
  * Distributed write: each partition opens `part-NNNNN.avro` under the
  * target directory through the Hadoop FileSystem API (works on
  * file:/hdfs:/object stores; the driver's Hadoop conf ships to
  * executors via Writable serialization — no private Spark helpers) and
  * streams its rows through one DataFileWriter. Rows are encoded from
  * the plan's `InternalRow`s (`queryExecution.toRdd`), one field writer
  * per column built once per partition, so no external `Row` or
  * `GenericRecord` is built per row. Task retries re-create
  * (truncate) their own part file, so the write is idempotent per
  * partition. Parallelism = input partitions, same as Spark's own file
  * sinks; no driver collect.
  */
object AvroSink {

  /** StructType → Avro record schema. Nullable fields become
    * `["null", type]` unions with null default (the shape
    * [[PipelineRunner.avroSchemaToStruct]] reads back). Timestamps map
    * to `long/timestamp-micros`, dates to `int/date`, decimals to
    * `bytes/decimal(p,s)` — the standard Avro logical types. Nested
    * arrays of these are supported; maps/structs are not (the pivot
    * pipeline never produces them). Field names are sanitized to Avro's
    * [A-Za-z_][A-Za-z0-9_]* rule. */
  def toAvroSchema(schema: StructType, name: String = "graft_output"): Schema = {
    val sanitized = schema.fieldNames.map(n => n -> sanitize(n))
    val collisions = sanitized.groupBy(_._2).filter(_._2.length > 1)
    require(collisions.isEmpty,
      "AvroSink: column names collide after Avro-name sanitization: " +
        collisions.map { case (s, cols) =>
          s"${cols.map(_._1).mkString("/")} -> $s"
        }.mkString("; ") + " — rename the columns before writing")
    val fields = schema.fields.map { f =>
      val base = baseType(f.dataType)
      val t =
        if (f.nullable) Schema.createUnion(Schema.create(Schema.Type.NULL), base)
        else base
      new Schema.Field(sanitize(f.name), t, null,
        if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord(sanitize(name), null, "graft", false, fields.toSeq.asJava)
  }

  private def sanitize(n: String): String = {
    val s = n.map(c => if (c.isLetterOrDigit && c < 128 || c == '_') c else '_')
    if (s.isEmpty || s.head.isDigit) "_" + s else s
  }

  private def baseType(dt: DataType): Schema = dt match {
    case StringType => Schema.create(Schema.Type.STRING)
    case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
    case LongType => Schema.create(Schema.Type.LONG)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case BinaryType => Schema.create(Schema.Type.BYTES)
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
    case DateType =>
      LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(Schema.create(Schema.Type.BYTES))
    case ArrayType(et, containsNull) =>
      val elem = baseType(et)
      Schema.createArray(
        if (containsNull) Schema.createUnion(Schema.create(Schema.Type.NULL), elem)
        else elem)
    case other => throw new IllegalArgumentException(
      s"AvroSink: unsupported Spark type ${other.simpleString}")
  }

  /** Encodes one value of a row or array (both are `SpecializedGetters`)
    * in Avro binary. */
  private trait FieldWriter {
    def write(in: SpecializedGetters, i: Int, out: Encoder): Unit
  }

  /** The writer of a value of type `dt`, in [[baseType]]'s Avro type,
    * read from Spark's internal representation: strings are UTF-8
    * bytes, timestamps microseconds and dates days since the epoch, and
    * decimals go out as their unscaled two's-complement bytes. */
  private def valueWriter(dt: DataType): FieldWriter = dt match {
    case StringType => (in, i, out) => out.writeString(new Utf8(in.getUTF8String(i).getBytes))
    case IntegerType | DateType => (in, i, out) => out.writeInt(in.getInt(i))
    case ShortType => (in, i, out) => out.writeInt(in.getShort(i))
    case ByteType => (in, i, out) => out.writeInt(in.getByte(i))
    case LongType | TimestampType => (in, i, out) => out.writeLong(in.getLong(i))
    case FloatType => (in, i, out) => out.writeFloat(in.getFloat(i))
    case DoubleType => (in, i, out) => out.writeDouble(in.getDouble(i))
    case BooleanType => (in, i, out) => out.writeBoolean(in.getBoolean(i))
    case BinaryType => (in, i, out) => out.writeBytes(in.getBinary(i))
    case d: DecimalType => (in, i, out) => out.writeBytes(
      in.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.unscaledValue.toByteArray)
    case ArrayType(et, containsNull) =>
      val elem = nullable(valueWriter(et), containsNull)
      (in, i, out) => {
        val a = in.getArray(i)
        val n = a.numElements()
        out.writeArrayStart()
        out.setItemCount(n)
        var j = 0
        while (j < n) {
          out.startItem()
          elem.write(a, j, out)
          j += 1
        }
        out.writeArrayEnd()
      }
    case other => throw new IllegalArgumentException(
      s"AvroSink: unsupported Spark type ${other.simpleString}")
  }

  /** `w` behind [[toAvroSchema]]'s `["null", type]` union when nullable. */
  private def nullable(w: FieldWriter, isNullable: Boolean): FieldWriter =
    if (!isNullable) w
    else (in, i, out) =>
      if (in.isNullAt(i)) out.writeIndex(0)
      else { out.writeIndex(1); w.write(in, i, out) }

  /** Encodes whole rows of `schema`: one writer per column, built once. */
  private def rowWriter(schema: StructType): DatumWriter[InternalRow] = {
    val fields = schema.fields.map(f => nullable(valueWriter(f.dataType), f.nullable))
    new DatumWriter[InternalRow] {
      override def setSchema(s: Schema): Unit = ()
      override def write(row: InternalRow, out: Encoder): Unit = {
        var i = 0
        while (i < fields.length) {
          fields(i).write(row, i, out)
          i += 1
        }
      }
    }
  }

  /** Write `df` as `part-NNNNN.avro` files under `dir` (overwrite). */
  def write(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    val avroSchema = toAvroSchema(df.schema)
    val schemaJson = avroSchema.toString
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val confBytes = {
      val baos = new ByteArrayOutputStream()
      val out = new DataOutputStream(baos)
      hadoopConf.write(out)
      out.flush()
      baos.toByteArray
    }
    val outPath = new Path(dir)
    val fs = outPath.getFileSystem(hadoopConf)
    fs.delete(outPath, true)
    fs.mkdirs(outPath)
    val sparkSchema = df.schema
    val counts = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val conf = new Configuration(false)
      conf.readFields(new DataInputStream(new ByteArrayInputStream(confBytes)))
      val schema = new Schema.Parser().parse(schemaJson)
      // Write-then-rename commit: each task ATTEMPT writes its own
      // temp file and renames into place once complete, so concurrent
      // attempts (speculation, zombie retries) never interleave bytes in
      // the final part file — whichever complete file wins the rename is
      // served; the loser removes its temp.
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      val part = new Path(dir, f"part-$pid%05d.avro")
      val tmp = new Path(dir, f".part-$pid%05d-$attempt.avro.tmp")
      val pfs = part.getFileSystem(conf)
      val out = pfs.create(tmp, true)
      val writer = new DataFileWriter[InternalRow](rowWriter(sparkSchema))
      writer.create(schema, out)
      var n = 0L
      try {
        rows.foreach { row =>
          writer.append(row)
          n += 1
        }
      } finally writer.close() // closes the stream too
      if (!pfs.rename(tmp, part)) {
        // a concurrent attempt committed first (or a stale final file
        // blocks the rename): keep exactly one complete file
        if (!pfs.exists(part)) throw new java.io.IOException(
          s"AvroSink: rename $tmp -> $part failed with no committed file")
        pfs.delete(tmp, false)
      }
      Iterator.single(n)
    }.collect()
    if (counts.isEmpty) {
      // no partitions, so no part file: commit one empty file so the
      // schema survives, as Spark's own file sinks do
      val writer = new DataFileWriter[InternalRow](rowWriter(sparkSchema))
      writer.create(avroSchema, fs.create(new Path(outPath, "part-00000.avro"), true))
      writer.close()
    }
    val written = counts.sum
    // Spark-convention completion marker
    fs.create(new Path(outPath, "_SUCCESS"), true).close()
    org.slf4j.LoggerFactory.getLogger(getClass)
      .info(s"AvroSink: wrote $written rows to $dir")
  }
}

/** Reader for [[AvroSink]] output (and any Avro container files whose
  * schema stays within the [[AvroSink.toAvroSchema]] subset): one Spark
  * partition per part file, records decoded to Rows with logical types
  * mapped back (timestamp-micros → TimestampType, date → DateType,
  * decimal → DecimalType). */
object AvroSource {

  import org.apache.avro.file.DataFileReader
  import org.apache.avro.generic.GenericDatumReader
  import org.apache.avro.mapred.FsInput

  /** Avro schema → StructType (inverse of [[AvroSink.toAvroSchema]]). */
  def toStructType(schema: Schema): StructType =
    StructType(schema.getFields.asScala.map { f =>
      val (t, nullable) = unwrapNullable(f.schema())
      StructField(f.name(), sparkType(t), nullable)
    }.toSeq)

  private def unwrapNullable(s: Schema): (Schema, Boolean) =
    if (s.getType == Schema.Type.UNION) {
      val branches = s.getTypes.asScala
      val nonNull = branches.filterNot(_.getType == Schema.Type.NULL)
      require(nonNull.size == 1, s"unsupported union $s")
      (nonNull.head, branches.size != nonNull.size)
    } else (s, false)

  private def sparkType(s: Schema): DataType = (s.getType, s.getLogicalType) match {
    case (Schema.Type.LONG, _: LogicalTypes.TimestampMicros) => TimestampType
    case (Schema.Type.INT, _: LogicalTypes.Date) => DateType
    case (Schema.Type.BYTES, d: LogicalTypes.Decimal) =>
      DecimalType(d.getPrecision, d.getScale)
    case (Schema.Type.STRING, _) => StringType
    case (Schema.Type.INT, _) => IntegerType
    case (Schema.Type.LONG, _) => LongType
    case (Schema.Type.FLOAT, _) => FloatType
    case (Schema.Type.DOUBLE, _) => DoubleType
    case (Schema.Type.BOOLEAN, _) => BooleanType
    case (Schema.Type.BYTES, _) => BinaryType
    case (Schema.Type.ARRAY, _) =>
      val (elem, containsNull) = unwrapNullable(s.getElementType)
      ArrayType(sparkType(elem), containsNull)
    case other => throw new IllegalArgumentException(
      s"AvroSource: unsupported avro type $other")
  }

  private def toSparkValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (u: org.apache.avro.util.Utf8, StringType) => u.toString
    case (s: String, StringType) => s
    case (l: java.lang.Long, TimestampType) =>
      val ts = new java.sql.Timestamp(Math.floorDiv(l, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(l, 1000000L) * 1000L).toInt)
      ts
    case (i: java.lang.Integer, DateType) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue()))
    case (b: java.nio.ByteBuffer, d: DecimalType) =>
      val bytes = new Array[Byte](b.remaining()); b.duplicate().get(bytes)
      new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale)
    case (b: java.nio.ByteBuffer, BinaryType) =>
      val bytes = new Array[Byte](b.remaining()); b.duplicate().get(bytes)
      bytes
    case (l: java.util.Collection[_], ArrayType(et, _)) =>
      l.asScala.map(toSparkValue(_, et)).toSeq
    case (other, _) => other
  }

  /** Read every `*.avro` part file under `dir` into a DataFrame. */
  def read(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(hadoopConf)
    val files = fs.listStatus(dirPath).map(_.getPath)
      .filter(_.getName.endsWith(".avro")).map(_.toString).sorted
    require(files.nonEmpty, s"AvroSource: no .avro files under $dir")
    val avroSchema = {
      val in = new FsInput(new Path(files.head), hadoopConf)
      val r = new DataFileReader[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      try r.getSchema finally r.close()
    }
    val structSchema = toStructType(avroSchema)
    val confBytes = {
      val baos = new ByteArrayOutputStream()
      val out = new DataOutputStream(baos)
      hadoopConf.write(out)
      out.flush()
      baos.toByteArray
    }
    val fieldTypes = structSchema.fields.map(_.dataType)
    val rdd = spark.sparkContext
      .parallelize(files.toSeq, files.length)
      .flatMap { file =>
        val conf = new Configuration(false)
        conf.readFields(new DataInputStream(new ByteArrayInputStream(confBytes)))
        val reader = new DataFileReader[GenericRecord](
          new FsInput(new Path(file), conf),
          new GenericDatumReader[GenericRecord]())
        // close on task completion, not on iterator exhaustion — a
        // partially-consumed iterator (limit/take/failed downstream)
        // would otherwise leak the file handle
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => reader.close()))
        new Iterator[Row] {
          override def hasNext: Boolean = reader.hasNext
          override def next(): Row = {
            val rec = reader.next()
            Row.fromSeq(fieldTypes.indices.map(i =>
              toSparkValue(rec.get(i), fieldTypes(i))))
          }
        }
      }
    spark.createDataFrame(rdd, structSchema)
  }
}
