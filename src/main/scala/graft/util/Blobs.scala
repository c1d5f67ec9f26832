package graft.util

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.plans.logical.SerializeFromObject
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, ObjectType, StructType}

/** The one blob-to-rows seam of the media and archive operators: each
  * `(id, BINARY content)` record becomes 0..N typed rows carrying the id.
  * The reference drives every batch module through one per-record seam the
  * same way (`EnrichmentPipelineService.java:323-343`) and treats media as
  * opaque bytes (`BeStreamParser.java:40`).
  *
  *  - One `mapPartitions` that reads ONLY the two columns. Over a scan or
  *    projection it first selects them, so the caller's other columns are
  *    never deserialized into JVM rows. Over rows that are already JVM
  *    objects (straight off another Row `mapPartitions`, e.g.
  *    `resizeContent`) it maps the whole row by field index instead: a
  *    select there would sit between the two operators and stop Spark from
  *    dropping the serialize/deserialize pair that joins them.
  *  - The output schema (the id field + `outType`) is declared up front, so
  *    the plan is static regardless of codec internals.
  *  - A non-BINARY content column fails here, on the driver, before any job,
  *    and the message names the column.
  *  - Every blob, NULL included, goes to the per-record function, which owns
  *    the operator's NULL/unparseable contract: a [[facts]] operator emits
  *    one (all-null) row, an [[explode]] operator emits none.
  *
  * Also home of the byte-order helpers the hand-muxed containers share
  * (RIFF/GIF little-endian, PNG big-endian).
  */
object Blobs {

  /** 0..N rows of `outType` per record, each prefixed by the record's id. */
  def explode(df: DataFrame, idCol: String, contentCol: String,
      outType: StructType)(f: Array[Byte] => IterableOnce[Row]): DataFrame = {
    val dt = df.schema(contentCol).dataType
    require(dt == BinaryType,
      s"$contentCol must be BINARY; got ${dt.simpleString}")
    val (src, idIdx, contentIdx) = df.queryExecution.analyzed match {
      case s: SerializeFromObject
          if s.inputObjAttr.dataType == ObjectType(classOf[Row]) =>
        (df, df.schema.fieldIndex(idCol), df.schema.fieldIndex(contentCol))
      case _ => (df.select(col(idCol), col(contentCol)), 0, 1)
    }
    val enc = Encoders.row(
      StructType(src.schema(idIdx) +: outType.fields.toSeq))
    src.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.get(idIdx)
        f(r.getAs[Array[Byte]](contentIdx)).iterator
          .map(o => Row.fromSeq(id +: o.toSeq))
      }
    }(enc)
  }

  /** Exactly one row of `outType` per record; `f` returns the all-null row
    * for NULL or unparseable bytes. */
  def facts(df: DataFrame, idCol: String, contentCol: String,
      outType: StructType)(f: Array[Byte] => Row): DataFrame =
    explode(df, idCol, contentCol, outType)(b => Iterator.single(f(b)))

  def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)

  def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  def be16(v: Int): Array[Byte] = Array((v >>> 8).toByte, v.toByte)

  def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  def readLe16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  def readLe32(b: Array[Byte], off: Int): Int =
    readLe16(b, off) | (readLe16(b, off + 2) << 16)

  def readBe16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  def readBe32(b: Array[Byte], off: Int): Int =
    (readBe16(b, off) << 16) | readBe16(b, off + 2)
}
