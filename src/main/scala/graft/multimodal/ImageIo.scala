package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.{IIOImage, ImageIO, ImageReader, ImageWriteParam, ImageWriter}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

import scala.collection.mutable

/** One ImageIO reader and one writer per (task thread, format) — guide §4.5:
  * heavyweight codec state once per task thread, not per record. The
  * per-call `ImageIO.read`/`write` and `getImage{Readers,Writers}ByFormatName`
  * walk the synchronized IIORegistry and may route through a disk-backed
  * stream cache; under a spread 32-thread encode stage the registry monitor
  * serialized every frame (mm9's task time grew >10× under concurrency).
  * Readers and writers hold per-call state, hence one pool per thread, and
  * every stream here is memory-cached. */
private[graft] object ImageIo {

  private final class Pool {
    val readers = mutable.HashMap.empty[String, ImageReader]
    val writers = mutable.HashMap.empty[String, ImageWriter]
  }

  private val pool = ThreadLocal.withInitial[Pool](() => new Pool)

  def reader(format: String): ImageReader = pool.get.readers.getOrElseUpdate(
    format, ImageIO.getImageReadersByFormatName(format).next())

  def writer(format: String): ImageWriter = pool.get.writers.getOrElseUpdate(
    format, ImageIO.getImageWritersByFormatName(format).next())

  /** Decode with this thread's `format` reader. A forced reader throws where
    * `ImageIO.read` returns null; callers guard with NonFatal. */
  def read(format: String, bytes: Array[Byte]): BufferedImage = {
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    val r = reader(format)
    r.setInput(in, true, true)
    try r.read(0) finally in.close()
  }

  /** Encode with this thread's `format` writer. A null `param` is the
    * writer's defaults — `ImageWriter.write(img)`, byte for byte. */
  def write(format: String, img: BufferedImage,
      param: ImageWriteParam = null): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bos)
    val w = writer(format)
    w.setOutput(out)
    w.write(null, new IIOImage(img, null, null), param)
    out.close()
    bos.toByteArray
  }
}
