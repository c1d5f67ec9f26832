package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.util.Blobs

/** ZIP archive ingestion — the document-bundle companion to [[Warc]]
  * (corpus drops and scraped-site dumps commonly arrive as ZIPs of text
  * files). Pure-JDK `java.util.zip`: per-entry DEFLATE entropy coding
  * plus the central-directory container, complementing WARC's
  * whole-archive gzip layout.
  *
  * Scale shape: identical to [[Warc.readArchives]] — the archive blob is
  * the unit of work and parsing is a narrow per-blob explode on the
  * [[Blobs]] seam, so a shelf of ZIPs unpacks with zero shuffle before the
  * first content operator. The streaming `ZipInputStream` walk reads
  * local headers in file order (no need to buffer the central directory),
  * and a malformed/truncated/NULL blob follows the engine's
  * unparseable-content contract: parsed entries up to the corruption are
  * kept, the rest dropped (None only when nothing parses).
  *
  * Reference analog: none beyond the S4 bytes passthrough
  * (`aleph2_analytic_services_hadoop/.../BeStreamParser.java:40`) — the
  * reference hands archives to user code; here they are a typed source.
  */
object Zips {

  final case class Entry(name: String, body: Array[Byte])

  /** Serialize entries into one ZIP blob (DEFLATE level default). Names
    * must be non-null and unique — `ZipOutputStream` would otherwise
    * throw mid-stream with a half-written archive. */
  def writeZip(entries: Seq[Entry]): Array[Byte] = {
    require(entries.forall(e => e.name != null && e.body != null),
      "entry names and bodies must be non-null")
    val dup = entries.groupBy(_.name).collectFirst { case (n, es) if es.sizeIs > 1 => n }
    require(dup.isEmpty, s"duplicate entry name: ${dup.getOrElse("")}")
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { e =>
      zos.putNextEntry(new ZipEntry(e.name))
      zos.write(e.body)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  /** Parse one ZIP blob. Entries before a corruption point are returned;
    * None when the blob is NULL/garbage (no parseable entry). Directory
    * entries are skipped. CRC32 integrity is `ZipInputStream`'s own:
    * it verifies each entry's stored CRC at entry end and throws, so a
    * DEFLATE slip drops the corrupt entry AND everything after it (the
    * stream position is unrecoverable) — same truncation contract as a
    * physically cut archive. */
  def parseZip(bytes: Array[Byte]): Option[Seq[Entry]] = {
    if (bytes == null || bytes.length < 4) return None
    val out = Seq.newBuilder[Entry]
    var any = false
    try {
      val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
      var e = zis.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          val bos = new ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = zis.read(buf)
          while (n > 0) { bos.write(buf, 0, n); n = zis.read(buf) }
          out += Entry(e.getName, bos.toByteArray)
          any = true
        }
        e = zis.getNextEntry
      }
    } catch { case _: Exception => /* truncated/corrupt: keep what parsed */ }
    if (any) Some(out.result()) else None
  }

  val EntryType: StructType = StructType(Seq(
    StructField("entry_name", StringType),
    StructField("n_bytes", LongType),
    StructField("body", StringType)))

  /** One archive blob row → 0..N typed entry rows (UTF-8 decoded bodies);
    * narrow explode, same contract as [[Warc.readArchives]]. */
  def readZips(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    Blobs.explode(df, idCol, contentCol, EntryType) { bytes =>
      parseZip(bytes).iterator.flatten.map(e =>
        Row(e.name, e.body.length.toLong, new String(e.body, UTF_8)))
    }
}
