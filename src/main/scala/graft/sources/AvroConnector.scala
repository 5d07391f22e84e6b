package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema => ASchema, SchemaBuilder}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Distributed Avro container read/write built on the Avro core libs
  * (no spark-avro in this environment).
  *
  * Semantics follow the reference's Avro connector, re-designed for
  * distribution (S4/T4, `/root/reference/src/connectors/avro.rs`):
  *  - union `["null", T]` → nullable T (avro.rs:72-83);
  *  - logical date / timestamp-millis / timestamp-micros → timestamp
  *    (avro.rs:145-201); time-millis/micros → `"{n}ms"` strings
  *    (avro.rs:158-165);
  *  - array/map/record/bytes/fixed/enum/uuid/duration → strings
  *    (avro.rs:105-144, 202-210) — complex values as their JSON form;
  *  - writer: nullable columns become union `["null", T]`; a null in a
  *    non-nullable field is an error (avro.rs:489-497);
  *  - all int widths → long, floats/decimals → double (SURVEY §1.3).
  *
  * Scale design: the reference re-reads the whole file per batch
  * (avro.rs:314-376) and buffers every row at the sink — both
  * anti-patterns (SURVEY §4.2). The read is SPLIT-AWARE: each task
  * owns a byte range of a container file and uses the Avro sync
  * markers to find record-block boundaries (sync(start) →
  * !pastSync(end), the avro-mapred split contract), so one 10 GB file
  * fans out across executors instead of straggling on a single task.
  * The sink streams one container per partition — no driver
  * materialization in either direction.
  */
object AvroConnector {

  // ----------------------------- read ---------------------------------

  /** Byte range of one container file owned by one task. */
  private case class AvroSplit(file: String, start: Long, end: Long)

  /** Hadoop stream as Avro's random-access input (no avro-mapred dep). */
  private class HadoopSeekableInput(
      fs: FileSystem, p: Path) extends org.apache.avro.file.SeekableInput {
    private val in = fs.open(p)
    private val len = fs.getFileStatus(p).getLen
    override def read(b: Array[Byte], off: Int, n: Int): Int = in.read(b, off, n)
    override def seek(pos: Long): Unit = in.seek(pos)
    override def tell(): Long = in.getPos
    override def length(): Long = len
    override def close(): Unit = in.close()
  }

  def read(spark: SparkSession, path: String,
           splitBytes: Long = 64L << 20): DataFrame = {
    val (_, struct) = readerSchema(path)
    val fs = FileSystem.get(java.net.URI.create(path), new Configuration())
    val p = new Path(path)
    val files: Seq[(String, Long)] =
      (if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.getPath.getName.endsWith(".avro")).toSeq
      else Seq(fs.getFileStatus(p)))
        .map(st => st.getPath.toString -> st.getLen)
    val splits = files.flatMap { case (f, len) =>
      (0L until math.max(len, 1L) by splitBytes)
        .map(s => AvroSplit(f, s, math.min(s + splitBytes, len)))
    }
    val rdd = spark.sparkContext
      .parallelize(splits, math.max(splits.size, 1))
      .flatMap { split =>
        val sfs = FileSystem.get(java.net.URI.create(split.file), new Configuration())
        val reader = org.apache.avro.file.DataFileReader.openReader(
          new HadoopSeekableInput(sfs, new Path(split.file)),
          new GenericDatumReader[GenericRecord]())
        reader.sync(split.start) // first block at-or-after our range start
        val fields = reader.getSchema.getFields.asScala.toArray
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = reader.hasNext && !reader.pastSync(split.end)
            if (!h) reader.close()
            h
          }
          def next(): Row = {
            val rec = reader.next()
            Row.fromSeq(fields.map(f => fromAvro(rec.get(f.pos()), f.schema())).toSeq)
          }
        }
      }
    spark.createDataFrame(rdd, struct)
  }

  /** Writer schema from the first container file (driver-side, one file). */
  private def readerSchema(path: String): (String, StructType) = {
    val fs = FileSystem.get(java.net.URI.create(path), new Configuration())
    val p = new Path(path)
    val first =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.getPath.getName.endsWith(".avro")).head.getPath
      else p
    val in = fs.open(first)
    val reader = new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    val schema = reader.getSchema
    reader.close()
    (schema.toString, toStruct(schema))
  }

  private def unwrapUnion(s: ASchema): (ASchema, Boolean) =
    if (s.getType == ASchema.Type.UNION) {
      val nonNull = s.getTypes.asScala.filterNot(_.getType == ASchema.Type.NULL)
      val nullable = nonNull.size < s.getTypes.size
      if (nonNull.size == 1) (nonNull.head, nullable)
      else (ASchema.create(ASchema.Type.STRING), true) // mixed union → string
    } else (s, false)

  private def toStruct(schema: ASchema): StructType =
    StructType(schema.getFields.asScala.toSeq.map { f =>
      val (s, nullable) = unwrapUnion(f.schema())
      StructField(f.name(), sparkType(s), nullable || true) // inferred ⇒ nullable
    })

  private def sparkType(s: ASchema): DataType = {
    val logical = Option(s.getLogicalType).map(_.getName).getOrElse("")
    s.getType match {
      case ASchema.Type.INT if logical == "date" => TimestampType
      case ASchema.Type.LONG if logical.startsWith("timestamp-") => TimestampType
      case ASchema.Type.INT | ASchema.Type.LONG if logical.startsWith("time-") => StringType
      case ASchema.Type.INT | ASchema.Type.LONG => LongType
      case ASchema.Type.FLOAT | ASchema.Type.DOUBLE => DoubleType
      case ASchema.Type.BOOLEAN => BooleanType
      case _ => StringType // string/enum/uuid/bytes/fixed/array/map/record/duration
    }
  }

  private[sources] def fromAvro(v: Any, fieldSchema: ASchema): Any = {
    val (s, _) = unwrapUnion(fieldSchema)
    if (v == null) return null
    val logical = Option(s.getLogicalType).map(_.getName).getOrElse("")
    s.getType match {
      case ASchema.Type.INT if logical == "date" =>
        java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(
          java.time.Duration.ofDays(v.asInstanceOf[Number].longValue())))
      case ASchema.Type.LONG if logical == "timestamp-millis" =>
        new java.sql.Timestamp(v.asInstanceOf[Number].longValue())
      case ASchema.Type.LONG if logical == "timestamp-micros" =>
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0,
          v.asInstanceOf[Number].longValue() * 1000L))
      case ASchema.Type.INT | ASchema.Type.LONG if logical.startsWith("time-") =>
        s"${v}ms" // avro.rs:158-165
      case ASchema.Type.INT | ASchema.Type.LONG => v.asInstanceOf[Number].longValue()
      case ASchema.Type.FLOAT | ASchema.Type.DOUBLE => v.asInstanceOf[Number].doubleValue()
      case ASchema.Type.BOOLEAN => v
      case ASchema.Type.STRING | ASchema.Type.ENUM => v.toString
      case ASchema.Type.BYTES =>
        // respect position/limit: .array() exposes the whole backing
        // array, which is larger than the live region for sliced buffers
        val bb = v.asInstanceOf[ByteBuffer].duplicate()
        val bytes = new Array[Byte](bb.remaining())
        bb.get(bytes)
        new String(bytes, StandardCharsets.UTF_8)
      case ASchema.Type.FIXED =>
        new String(v.asInstanceOf[org.apache.avro.generic.GenericFixed].bytes(),
          StandardCharsets.UTF_8)
      case _ => v.toString // array/map/record: Avro toString is JSON form
    }
  }

  // ----------------------------- write --------------------------------

  /** Writes one container file per partition; returns rows written. */
  def write(df: DataFrame, path: String, overwrite: Boolean = true): Long = {
    val fs = FileSystem.get(java.net.URI.create(path), new Configuration())
    val out = new Path(path)
    if (overwrite && fs.exists(out)) fs.delete(out, true)
    fs.mkdirs(out)

    val sparkSchema = df.schema
    val avroJson = buildAvroSchema(sparkSchema).toString
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val schema = new ASchema.Parser().parse(avroJson)
        val pfs = FileSystem.get(java.net.URI.create(path), new Configuration())
        val stream = pfs.create(new Path(path, f"part-$idx%05d.avro"))
        val writer = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](schema))
        writer.create(schema, stream)
        var n = 0L
        rows.foreach { r =>
          writer.append(toRecord(r, schema, sparkSchema))
          n += 1
        }
        writer.close()
        Iterator(n)
      }
    }.sum().toLong
  }

  /** Spark schema → Avro record schema with nullable unions (T4). */
  def buildAvroSchema(st: StructType): ASchema = {
    var fields = SchemaBuilder.record("row").namespace("graft").fields()
    st.fields.foreach { f =>
      val base = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => ASchema.create(ASchema.Type.LONG)
        case FloatType | DoubleType | _: DecimalType => ASchema.create(ASchema.Type.DOUBLE)
        case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
        case TimestampType | TimestampNTZType =>
          LogicalTypes.timestampMillis().addToSchema(ASchema.create(ASchema.Type.LONG))
        case DateType =>
          LogicalTypes.date().addToSchema(ASchema.create(ASchema.Type.INT))
        case _ => ASchema.create(ASchema.Type.STRING)
      }
      val s = if (f.nullable) ASchema.createUnion(
        ASchema.create(ASchema.Type.NULL), base) else base
      fields = fields.name(f.name).`type`(s).noDefault()
    }
    fields.endRecord()
  }

  private def toRecord(r: Row, avro: ASchema, st: StructType): GenericRecord = {
    val rec = new org.apache.avro.generic.GenericData.Record(avro)
    st.fields.zipWithIndex.foreach { case (f, i) =>
      val v: Any =
        if (r.isNullAt(i)) {
          if (!f.nullable)
            throw new IllegalStateException(
              s"null value in non-nullable Avro field '${f.name}'") // avro.rs:489-497
          null
        } else f.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            r.get(i).asInstanceOf[Number].longValue()
          case FloatType | DoubleType => r.get(i).asInstanceOf[Number].doubleValue()
          case d: DecimalType => r.getDecimal(i).doubleValue()
          case BooleanType => r.getBoolean(i)
          case TimestampType | TimestampNTZType => toEpochMillis(r.get(i))
          case DateType => r.getDate(i).toLocalDate.toEpochDay.toInt
          case StringType => r.getString(i)
          case _ => String.valueOf(r.get(i))
        }
      rec.put(f.name, v)
    }
    rec
  }

  /** Timestamp columns surface as different external types depending on
    * TZ-ness and the java8 datetime flag — normalize all to epoch ms. */
  private def toEpochMillis(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime
    case i: java.time.Instant => i.toEpochMilli
    case l: java.time.LocalDateTime =>
      l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case other => throw new IllegalStateException(
      s"unexpected timestamp repr: ${other.getClass}")
  }
}
