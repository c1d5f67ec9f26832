package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.BenchScale._

/** The scale gate's writer, fed fixed readings without running the gate,
  * renders the committed `BENCH_SCALE.json`'s keys in its order and every
  * value in its format, so no key a gate or flag reads can drop out. */
class BenchScaleArtifactSpec extends AnyFunSuite {

  /** Every key as its path from the root, in document order. */
  private def keyTree(json: String): Seq[String] = {
    def walk(path: String, n: JsonNode): Seq[String] =
      n.properties().asScala.toSeq.flatMap { e =>
        s"$path/${e.getKey}" +: walk(s"$path/${e.getKey}", e.getValue)
      }
    walk("", new ObjectMapper().readTree(json))
  }

  /** Every value's format in document order: int, dec<decimals>, bool, text. */
  private def formats(json: String): Seq[String] =
    """"[^"]*"(:?)|-?\d+(\.\d+)?|true|false""".r.findAllMatchIn(json).toSeq
      .collect {
        case m if m.matched.startsWith("\"") && m.group(1).isEmpty => "text"
        case m if m.matched == "true" || m.matched == "false" => "bool"
        case m if !m.matched.startsWith("\"") =>
          Option(m.group(2)).fold("int")(d => s"dec${d.length - 1}")
      }

  test("the artifact has the committed BENCH_SCALE.json's keys, order and formats") {
    val (t, n) = (Scaled(1.25, 11.5), Scaled(235L, 2350L))
    val rendered = render(artifact(Results(runs = 2,
      queries = Heavy.map(_ -> t), skew = SkewAb(0.4, 0.4, 1.7, 1.2, 16.4, 1.8),
      st13Hdfs = StateRun(4.0, 953440L, 954650L, 314842720L),
      st13RocksDb = StateRun(5.5, 953440L, 954650L, 70113968L),
      ss1Candidates = n, dd16Candidates = n,
      percolator = Percolation(0.17, 0.09, 1.2, 0.75, 8.7),
      knnCandidates = n, knnTime = t,
      append = Scaled(Append(1.0, 0.9, 0.9, 0.4), Append(2.4, 1.9, 2.2, 0.5)),
      pipelines = Pipelines.map(_._1 -> t),
      merge = Scaled(Merge(0.7, 1.8, 102368L, 1608788L), Merge(1.2, 2.0, 980056L, 16595448L)),
      skewMerge = Scaled(SkewMerge(0.7, 0.5, 2.2, 97000L, 1600000L, true, 16.4, 2.5),
        SkewMerge(0.7, 0.5, 2.7, 973809L, 16592488L, true, 16.4, 2.5)),
      rotation = Scaled(Rotation(1.8, 0.5, 0.6, 0.5, 3), Rotation(2.2, 0.6, 0.8, 0.5, 4)))))
    val committed = new String(Files.readAllBytes(Paths.get("BENCH_SCALE.json")), "UTF-8")
    assert(keyTree(committed).contains("/u20_merge_skew/reduce_or_merge_wrong"))
    assert(keyTree(rendered) === keyTree(committed))
    assert(formats(rendered) === formats(committed))
  }
}
