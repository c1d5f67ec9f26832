package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.store.LocalFs
import graft.util.Scratch

/** [[LocalFs]]: graft sessions write local files through it, and it leaves
  * the same permission bits Hadoop's own local file system would. */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("graft sessions resolve file: paths to LocalFs") {
    val conf = spark.sessionState.newHadoopConf()
    assert(new Path("file:///").getFileSystem(conf).isInstanceOf[LocalFs])
    assert(FileSystem.getLocal(conf).getRawFileSystem.isInstanceOf[LocalFs.Raw])
  }

  test("setPermission sets exactly the requested mode bits, sticky bit included") {
    val dir = Paths.get(Scratch.dir("graft_localfs"))
    val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf()).getRawFileSystem
    for (m <- Seq("644", "755", "600", "700", "640", "777", "000")) {
      val f = dir.resolve("f" + m)
      Files.write(f, Array[Byte](1))
      val want = new FsPermission(Integer.parseInt(m, 8).toShort)
      fs.setPermission(new Path(f.toUri), want)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) === want.toString, m)
      assert(mode(f) === Integer.parseInt(m, 8), m)
    }
    // the sticky bit has no java.nio form and takes Hadoop's own path
    val d = Files.createDirectory(dir.resolve("sticky"))
    fs.setPermission(new Path(d.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert(mode(d) === Integer.parseInt("1777", 8))
  }

  test("a partitioned Spark write lands files and dirs with Hadoop's default modes") {
    val out = Paths.get(Scratch.dir("graft_localfs")).resolve("t")
    spark.range(20).selectExpr("id", "id % 3 AS p").write.partitionBy("p").parquet(out.toString)
    val conf = spark.sessionState.newHadoopConf()
    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val s = Files.walk(out)
    val all = try s.iterator().asScala.toVector finally s.close()
    val data = all.filter(p => p.getFileName.toString.endsWith(".parquet"))
    val parts = all.filter(p => p.getFileName.toString.startsWith("p="))
    assert(data.nonEmpty && parts.size === 3)
    data.foreach(p => assert(mode(p) === fileMode, p))
    parts.foreach(p => assert(mode(p) === dirMode, p))
    assert(spark.read.parquet(out.toString).count() === 20)
  }
}
