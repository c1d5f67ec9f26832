package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.util.Blobs

/** WARC (ISO 28500) web-archive ingestion — the first step of every
  * web-corpus training-data pipeline (CommonCrawl ships WARC). Hand-muxed/
  * demuxed the way [[graft.multimodal.Avi]] does RIFF: the container is
  * `WARC/1.0\r\n` + headers + `\r\n\r\n` + payload + `\r\n\r\n` per record,
  * records concatenated per archive; the compressed form gzips the WHOLE
  * archive (also a standard layout), decoded with the JDK's
  * `GZIPInputStream` — real DEFLATE entropy coding, no native libs.
  *
  * Scale shape: the archive blob is the unit of work (exactly how real
  * WARC files arrive — thousands of records per ~1 GB file); parsing is a
  * narrow per-blob explode on the [[Blobs]] seam, so a 100 TB crawl
  * parses with zero shuffle before the first content operator. Truncated/
  * garbage/NULL archives follow the engine's unparseable-content contract
  * (0 rows). The reference's closest surface is its binary S4 passthrough
  * (`BeStreamParser.java:40`); WARC makes it a typed source.
  */
object Warc {

  final case class Record(url: String, status: Int, body: String)

  /** Serialize records into one (optionally gzipped) WARC archive blob.
    * Writer-side misuse fails HERE with a clear message — a CR/LF in the
    * url would inject header lines and silently corrupt the framing for
    * every subsequent record. */
  def writeArchive(records: Seq[Record], gzip: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { r =>
      require(r.url != null && !r.url.exists(c => c == '\r' || c == '\n'),
        s"url must be non-null without CR/LF: ${r.url}")
      require(r.body != null, s"body must be non-null (url ${r.url})")
      val body = r.body.getBytes(UTF_8)
      val header =
        s"WARC/1.0\r\n" +
          s"WARC-Type: response\r\n" +
          s"WARC-Target-URI: ${r.url}\r\n" +
          s"X-Http-Status: ${r.status}\r\n" +
          s"Content-Length: ${body.length}\r\n" +
          "\r\n"
      out.write(header.getBytes(UTF_8))
      out.write(body)
      out.write("\r\n\r\n".getBytes(UTF_8))
    }
    val raw = out.toByteArray
    if (!gzip) raw
    else {
      val bos = new ByteArrayOutputStream()
      val gz = new GZIPOutputStream(bos)
      gz.write(raw); gz.close()
      bos.toByteArray
    }
  }

  /** Parse one archive blob (gzip auto-detected by magic); None on
    * NULL/garbage, truncated trailing record dropped (partial-fetch
    * tolerance — real crawl files truncate mid-record). */
  def parseArchive(bytes: Array[Byte]): Option[Seq[Record]] = {
    if (bytes == null || bytes.length < 8) return None
    val raw =
      if ((bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
        try {
          val gz = new GZIPInputStream(new ByteArrayInputStream(bytes))
          val bos = new ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = gz.read(buf)
          while (n > 0) { bos.write(buf, 0, n); n = gz.read(buf) }
          bos.toByteArray
        } catch { case _: Exception => return None }
      } else bytes
    val magic = "WARC/1.0\r\n".getBytes(UTF_8)
    if (raw.length < magic.length ||
        !java.util.Arrays.equals(java.util.Arrays.copyOf(raw, magic.length), magic))
      return None
    val records = Seq.newBuilder[Record]
    var pos = 0
    while (pos < raw.length) {
      val headEnd = indexOf(raw, "\r\n\r\n".getBytes(UTF_8), pos)
      if (headEnd < 0) return Some(records.result()) // truncated header: stop
      val head = new String(raw, pos, headEnd - pos, UTF_8)
      if (!head.startsWith("WARC/1.0")) return Some(records.result())
      val fields = head.split("\r\n").iterator.drop(1)
        .map(_.split(": ", 2)).collect { case Array(k, v) => k -> v }.toMap
      val len = fields.get("Content-Length").flatMap(_.toIntOption).getOrElse(-1)
      val bodyStart = headEnd + 4
      // overflow-safe: a crafted Content-Length near Int.MaxValue must hit
      // the truncation path, not wrap negative and blow past the guard
      if (len < 0 || len > raw.length - bodyStart)
        return Some(records.result()) // truncated body: drop trailing record
      records += Record(
        fields.getOrElse("WARC-Target-URI", ""),
        fields.get("X-Http-Status").flatMap(_.toIntOption).getOrElse(0),
        new String(raw, bodyStart, len, UTF_8))
      pos = bodyStart + len + 4 // skip record separator
    }
    Some(records.result())
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = from
    while (i <= hay.length - needle.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  val RecordType: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("status", IntegerType),
    StructField("body", StringType)))

  /** One archive blob row → 0..N typed record rows; narrow explode. */
  def readArchives(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    Blobs.explode(df, idCol, contentCol, RecordType) { bytes =>
      parseArchive(bytes).iterator.flatten.map(w => Row(w.url, w.status, w.body))
    }
}
