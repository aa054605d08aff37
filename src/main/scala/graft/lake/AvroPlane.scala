package graft.lake

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** AVRO DATA FILES on the lake's data plane — the reference's actual
  * storage format (it writes partitioned, key-sorted SNAPPY Avro
  * container files and never rewrites them; reference main.go:47-54).
  * The lake's default data plane is parquet (the better answer for
  * analytics: columnar pages, footer stats, row indexes); this module
  * gives an Avro-producing writer the SAME manifest/OCC/time-travel/
  * stat-pruning machinery over snappy Avro container files, scoped to
  * the reference's own semantics: APPEND-ONLY data files (equality
  * deletes still apply — they mask by value downstream of the decode —
  * but positional/DV deletes need parquet's row-index column and are
  * rejected at the read-path choke point).
  *
  * Executor-side codec only: [[LakeTable.appendAvro]] drives the
  * commit. Each write task streams its partition through ONE
  * [[DataFileWriter]] (snappy codec) and reports (path, rows, bytes,
  * min/max per stat column) computed IN-STREAM during the write — the
  * writer's report IS the commit stat, the way the reference's block
  * writer accounts blocks as it seals them; no read-back pass, which
  * matters because Avro has no parquet-style stats footer to re-read.
  */
object AvroPlane {

  /** One column's in-stream write stats. `kind` mirrors
    * [[LakeTable.ColStats]]: "i" long-valued, "s" lexicographic.
    * `any` = false when every value was null (stat omitted; a missing
    * stat keeps the file under pruning — conservative, correct).
    */
  final case class ColStat(name: String, kind: String, minL: Long, maxL: Long,
      minS: String, maxS: String, any: Boolean)

  /** One written file as its write task reports it. */
  final case class FileStat(path: String, rows: Long, bytes: Long,
      cols: Seq[ColStat])

  /** The Spark types the Avro plane serializes. Timestamps travel as
    * Avro longs of epoch micros; the reference's schema declares its
    * `timestamp` field as a plain `long` with no logicalType
    * (main.go), so the physical encoding matches — this plane
    * additionally annotates the long as `timestamp-micros` so
    * self-describing readers recover the type. Column names must
    * also be Avro identifiers — Spark allows names (spaces, dashes,
    * quotes) that would blow up as a SchemaParseException deep in the
    * executor, so the front door rejects them with the reason.
    */
  private val AvroName = "[A-Za-z_][A-Za-z0-9_]*".r
  def validate(schema: StructType): Unit = schema.fields.foreach { f =>
    if (!AvroName.matches(f.name))
      throw new IllegalArgumentException(
        s"avro data plane: column name '${f.name}' is not a valid Avro " +
          "identifier ([A-Za-z_][A-Za-z0-9_]*); rename it before the append")
    f.dataType match {
      case LongType | IntegerType | DoubleType | FloatType | BooleanType |
           StringType | TimestampType => ()
      case dt => throw new IllegalArgumentException(
        s"avro data plane: unsupported type ${dt.simpleString} for column ${f.name}")
    }
  }

  private def avroType(dt: DataType): String = dt match {
    case LongType => "\"long\""
    case IntegerType => "\"int\""
    case DoubleType => "\"double\""
    case FloatType => "\"float\""
    case BooleanType => "\"boolean\""
    case StringType => "\"string\""
    case TimestampType => """{"type":"long","logicalType":"timestamp-micros"}"""
    case other => throw new IllegalArgumentException(
      s"avro data plane: unsupported type ${other.simpleString}")
  }

  /** Avro record schema for a (validated) Spark schema; nullable
    * columns become null-unions, the goavro convention the reference's
    * Location schema uses for its optional fields.
    */
  def avroSchemaJson(schema: StructType): String = {
    val fields = schema.fields.map { f =>
      val t = if (f.nullable) s"""["null", ${avroType(f.dataType)}]"""
      else avroType(f.dataType)
      s"""{ "name": "${f.name}", "type": $t }"""
    }.mkString(", ")
    s"""{ "type": "record", "name": "GraftRow", "fields": [ $fields ] }"""
  }

  private def micros(v: Any): Long = v match {
    case ts: java.sql.Timestamp => ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
    case other => throw new IllegalArgumentException(
      s"unexpected timestamp value ${other.getClass}")
  }

  /** Write one task's rows as ONE snappy Avro container file under
    * `dir`, tracking per-stat-column min/max in-stream. Emits zero or
    * one [[FileStat]] (empty partitions write nothing — an empty file
    * would be a manifest entry with no purpose).
    */
  def writePartition(rows: Iterator[Row], sparkSchemaJson: String, dir: String,
      partIdx: Int, statCols: Seq[String]): Iterator[FileStat] = {
    if (!rows.hasNext) return Iterator.empty
    val schema = DataType.fromJson(sparkSchemaJson).asInstanceOf[StructType]
    val avroSchema = new Schema.Parser().parse(avroSchemaJson(schema))
    val filePath = new org.apache.hadoop.fs.Path(dir, f"part-$partIdx%05d.avro").toString
    val writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](avroSchema))
    writer.setCodec(CodecFactory.snappyCodec())
    // Hadoop-FS stream, like the parquet path: the dir may be plain,
    // file:-schemed, or any registered scheme (object-store ready)
    writer.create(avroSchema, LakeIO.create(filePath))
    val statIdx = statCols.map(c => c -> schema.fieldIndex(c))
    val kinds = statIdx.map { case (c, i) =>
      c -> (schema.fields(i).dataType match {
        case StringType => "s"
        case LongType | IntegerType | TimestampType => "i"
        case dt => throw new IllegalArgumentException(
          s"avro data plane: stat column $c of unstattable type ${dt.simpleString}")
      })
    }.toMap
    val minL = collection.mutable.Map[String, Long]()
    val maxL = collection.mutable.Map[String, Long]()
    val minS = collection.mutable.Map[String, String]()
    val maxS = collection.mutable.Map[String, String]()
    var n = 0L
    try {
      rows.foreach { row =>
        val rec = new GenericData.Record(avroSchema)
        var i = 0
        while (i < schema.length) {
          val v = row.get(i)
          rec.put(i,
            if (v == null) null
            else schema.fields(i).dataType match {
              case TimestampType => java.lang.Long.valueOf(micros(v))
              case _ => v.asInstanceOf[AnyRef]
            })
          i += 1
        }
        writer.append(rec)
        n += 1
        statIdx.foreach { case (c, idx) =>
          val v = row.get(idx)
          if (v != null) kinds(c) match {
            case "s" =>
              val s = v.asInstanceOf[String]
              minS(c) = minS.get(c).map(LakeTable.utf8Min(_, s)).getOrElse(s)
              maxS(c) = maxS.get(c).map(LakeTable.utf8Max(_, s)).getOrElse(s)
            case _ =>
              val l = schema(c).dataType match {
                case TimestampType => micros(v)
                case IntegerType => v.asInstanceOf[Int].toLong
                case _ => v.asInstanceOf[Long]
              }
              minL(c) = math.min(minL.getOrElse(c, Long.MaxValue), l)
              maxL(c) = math.max(maxL.getOrElse(c, Long.MinValue), l)
          }
        }
      }
    } finally writer.close()
    val cols = statCols.map { c =>
      if (kinds(c) == "s")
        ColStat(c, "s", 0L, 0L, minS.getOrElse(c, ""), maxS.getOrElse(c, ""),
          any = minS.contains(c))
      else
        ColStat(c, "i", minL.getOrElse(c, 0L), maxL.getOrElse(c, 0L), "", "",
          any = minL.contains(c))
    }
    Iterator.single(FileStat(filePath, n, LakeIO.sizeOf(filePath), cols))
  }

  /** Snappy/deflate/null codec name recorded in a container file's
    * header (spec surface: proves the reference's snappy contract).
    */
  def codecOf(path: String): String = {
    val r = new DataFileStream(LakeIO.open(path),
      new GenericDatumReader[GenericRecord]())
    try Option(r.getMetaString("avro.codec")).getOrElse("null")
    finally r.close()
  }
}
