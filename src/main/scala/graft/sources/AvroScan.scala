package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 scan support for AVRO data files on the lake's data plane —
  * the format-dispatch half of the front door: a snapshot's `.avro`
  * files (the reference's own ingest format, written by
  * [[graft.lake.LakeTable.appendAvro]]; reference main.go:47-54) plan
  * as their own partitions under the SAME [[GraftScan]] that serves
  * parquet files through Spark's vectorized machinery, so
  * `SELECT … FROM graft.ns.t` / `VERSION AS OF` / `readStream` work
  * on avro-ingested tables by name with manifest-stats pruning,
  * column pruning, and equality-delete masking intact.
  *
  * Column pruning rides Avro SCHEMA RESOLUTION: the reader hands the
  * container decoder a reader schema holding only the scan's
  * requested fields (all as null-unions, which resolve against both
  * nullable and required writer fields), so skipped columns are never
  * decoded — the avro analog of the parquet read schema. One
  * container file per partition: avro plane files are bounded by the
  * write fan-out and [[graft.lake.LakeTable.rewriteAvro]] compaction,
  * and a container decodes strictly serially per sync block anyway.
  *
  * Merge-on-read: equality deletes mask by VALUE downstream of the
  * decode (the reader emits the scan's augmented schema and
  * [[DeleteFilterReader]] probes it unchanged). Positional/DV deletes
  * key on parquet row indexes and cannot target avro files — the
  * avro plane rejects them at the write verbs — so the per-file
  * probe map simply never matches an avro path. The synthesized row
  * index (record ordinal in file) serves the `_graft_row_idx`
  * metadata column for coordinate-emitting reads.
  */
private[sources] final case class AvroPartition(tag: Int, path: String,
    bucket: Int = -1) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

private[sources] object AvroScanSupport {

  /** The reader (projection) schema for one emit schema: only fields
    * the scan asked for, every field a null-union (a union reader
    * field resolves against both `"t"` and `["null","t"]` writer
    * fields, so one shape serves any nullability the writer declared;
    * the record name matches the writer's so resolution never needs
    * aliases). Synthesized fields (the parquet row-index hook, which
    * no avro file carries) are excluded — the reader back-fills them.
    */
  def readerSchemaJson(emit: StructType, synthesized: Set[String]): String = {
    def avroType(dt: DataType): String = dt match {
      case LongType | TimestampType => "\"long\""
      case IntegerType => "\"int\""
      case DoubleType => "\"double\""
      case FloatType => "\"float\""
      case BooleanType => "\"boolean\""
      case StringType => "\"string\""
      case other => throw new UnsupportedOperationException(
        s"graft-lake avro scan: unsupported type ${other.simpleString}")
    }
    val fields = emit.fields.filterNot(f => synthesized(f.name)).map { f =>
      s"""{ "name": "${f.name}", "type": ["null", ${avroType(f.dataType)}], "default": null }"""
    }.mkString(", ")
    s"""{ "type": "record", "name": "GraftRow", "fields": [ $fields ] }"""
  }

}

/** Streams one snappy Avro container file as [[InternalRow]]s of
  * `emit` (the scan's read/augmented schema). Values decode straight
  * to Catalyst representations — strings to [[UTF8String] ] without a
  * char round-trip, timestamps stay the epoch-micros longs the plane
  * serializes ([[graft.lake.AvroPlane]] writes micros; Catalyst's
  * internal timestamp IS micros, so no conversion at all).
  */
private[sources] final class AvroRowReader(path: String, emit: StructType,
    synthesized: Set[String]) extends PartitionReader[InternalRow] {

  private val readerSchema = new Schema.Parser().parse(
    AvroScanSupport.readerSchemaJson(emit, synthesized))
  // Hadoop-FS stream, like the parquet readers: plain, file:-schemed,
  // or any registered scheme resolves to the right store — and the
  // path string is never URI-round-tripped (reserved chars survive)
  private val reader = new DataFileStream[GenericRecord](
    graft.lake.LakeIO.open(path),
    new GenericDatumReader[GenericRecord](null, readerSchema))

  // emit-field ordinal → avro reader-field ordinal, or -1 synthesized
  private val srcOrd: Array[Int] = emit.fields.map { f =>
    if (synthesized(f.name)) -1 else readerSchema.getField(f.name).pos()
  }
  private val isString: Array[Boolean] = emit.fields.map(_.dataType == StringType)

  private var ordinal: Long = -1L
  private var cur: InternalRow = _

  override def next(): Boolean = {
    if (!reader.hasNext) return false
    val rec = reader.next()
    ordinal += 1
    val vals = new Array[Any](srcOrd.length)
    var i = 0
    while (i < srcOrd.length) {
      vals(i) =
        if (srcOrd(i) < 0) java.lang.Long.valueOf(ordinal)
        else {
          val v = rec.get(srcOrd(i))
          if (v == null) null
          else if (isString(i)) {
            val u = v.asInstanceOf[org.apache.avro.util.Utf8]
            UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
          } else v
        }
      i += 1
    }
    cur = new GenericInternalRow(vals)
    true
  }

  override def get(): InternalRow = cur
  override def close(): Unit = reader.close()
}
