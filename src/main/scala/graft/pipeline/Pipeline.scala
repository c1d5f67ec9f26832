package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.types.StructType

/** The enrichment pipeline engine — SURVEY §2.4/§2.9: an ordered chain of
  * user batch modules with flatMap semantics, at most one *grouping* stage
  * (shuffle), optional combiner pass, executed as a single Dataset plan.
  *
  * Reference semantics being re-expressed:
  *  - batches of ≤`batchSize` records stream through each module
  *    (`BatchEnrichmentJob.java:222-287` checkBatch; Spark variant
  *    `EnrichmentPipelineService.java:323-343` javaInMapPartitions),
  *  - the grouping stage receives (key, value-stream) per group
  *    (`BatchEnrichmentJob.java:591-665` reducer),
  *  - group keys are built from dot-path `grouping_fields`
  *    (`BatchEnrichmentJob.java:499-527`); the reference shuffles on the
  *    *serialized JSON string* of the key object, where field order matters
  *    (`ObjectNodeWritableComparable.java:34-91`) — we canonicalize (sorted
  *    field names) and document the divergence (SURVEY §7 hard-part 5),
  *  - optional combiner = same module run map-side first (`use_combiner`,
  *    `BatchEnrichmentJob.java:634-639,762-784`) — only legal when the module
  *    declares itself re-entrant/associative (`combinable`), the associativity
  *    gate of SURVEY §7 hard-part 3.
  *
  * Scale notes: non-grouped stages are narrow (`mapPartitions`, no shuffle);
  * the grouping stage is exactly one shuffle on the canonical key; the
  * combiner turns it into partial-agg-shaped work (map-side reduction before
  * exchange). No driver-side collection anywhere.
  */
trait EnrichStage extends Serializable {
  def name: String = getClass.getSimpleName
  /** Output schema for a given input schema (identity by default). */
  def outputSchema(in: StructType): StructType = in
  /** Called once per partition before batches flow. */
  def onStageInitialize(cfg: StageConfig): Unit = {}
  /** Process one batch (≤ batchSize rows); grouping stages get the group key.
    * 0..N rows out (flatMap semantics — X1 UDTF shape). */
  def onObjectBatch(batch: Seq[Row], groupKey: Option[Row]): Iterator[Row]
  def onStageComplete(): Unit = {}
  /** Re-entrant/associative — may run as combiner (A4 gate). */
  def combinable: Boolean = false
}

/** X6: pipeline elements with no module run passthrough. */
class PassthroughStage extends EnrichStage {
  def onObjectBatch(batch: Seq[Row], groupKey: Option[Row]): Iterator[Row] =
    batch.iterator
}

final case class StageConfig(
    name: String = "stage",
    config: Map[String, String] = Map.empty,
    /** reference default 100 (`BatchEnrichmentJob.java:134`), overridable
      * like `requested_batch_size`. */
    batchSize: Int = 100,
    /** non-empty → this is THE grouping stage (dot-paths; "?" = engine
      * choice = full-record hash). */
    groupingFields: Seq[String] = Nil,
    useCombiner: Boolean = false,
    /** Hard cap on rows buffered per key-group in a NON-associative grouping
      * stage (the whole-group contract requires buffering; a skewed key must
      * fail loudly naming itself rather than OOM an executor). Combinable
      * modules stream in ≤batchSize chunks and never hit this. */
    maxGroupBuffer: Int = 4000000)

final case class PipelineStage(stage: EnrichStage, cfg: StageConfig = StageConfig())

/** One element of a mixed pipeline: an imperative user module or a
  * declarative expression "script" stage (the reference interleaves JS and
  * Java modules in one job the same way). */
sealed trait ChainStage
final case class ModuleStage(ps: PipelineStage) extends ChainStage
final case class ScriptStage(es: ExprStage) extends ChainStage

object Pipeline {

  /** Run the stage chain. Validates the reference's job-graph rule of at most
    * one grouping stage (`HadoopTechnologyUtils.java:58-229`). */
  def run(input: DataFrame, stages: Seq[PipelineStage]): DataFrame =
    runChain(input, stages.map(ModuleStage))

  /** Mixed chain: module stages and expression script stages interleave
    * freely; script stages stay fully declarative (Catalyst sees through
    * them — pushdown/codegen apply), module stages run in their
    * mapPartitions/flatMapGroups seams. Same one-grouping-stage rule. */
  def runChain(input: DataFrame, stages: Seq[ChainStage]): DataFrame = {
    require(stages.count {
      case ModuleStage(ps) => ps.cfg.groupingFields.nonEmpty
      case _ => false
    } <= 1, "at most one grouping stage per pipeline")
    stages.foldLeft(input) {
      case (df, ScriptStage(es)) => es.run(df)
      case (df, ModuleStage(ps)) =>
        if (ps.cfg.groupingFields.isEmpty) runMapStage(df, ps)
        else runGroupedStage(df, ps)
    }
  }

  /** Narrow stage: mapPartitions, batching `batchSize` rows per module call. */
  private def runMapStage(df: DataFrame, ps: PipelineStage): DataFrame = {
    val outSchema = ps.stage.outputSchema(df.schema)
    val stage = ps.stage
    val cfg = ps.cfg
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    df.mapPartitions { it =>
      stage.onStageInitialize(cfg)
      val out = it.grouped(cfg.batchSize).flatMap(b => stage.onObjectBatch(b, None))
      completing(out)(stage.onStageComplete())
    }(enc)
  }

  /** Grouping stage: one shuffle on the canonical key; module sees each
    * key-group as a single batch stream. Combiner-eligible modules run
    * map-side first. */
  private def runGroupedStage(df: DataFrame, ps: PipelineStage): DataFrame = {
    val stage = ps.stage
    val cfg = ps.cfg
    val inSchema = df.schema
    val keyFields = cfg.groupingFields.sorted // canonical order
    val keyOf = (r: Row) => KeyExtractor.canonicalKey(r, inSchema, keyFields)

    implicit val rowEnc: Encoder[Row] = Encoders.row(inSchema)
    val strEnc: Encoder[String] = Encoders.STRING

    val preCombined: DataFrame =
      if (cfg.useCombiner && stage.combinable) {
        // Map-side partial, STREAMING: never materialize the partition.
        // Combine within ≤batchSize chunks — the module is declared
        // re-entrant/associative, so partials-of-partials are legal and the
        // grouping stage below completes the reduction (the reference
        // combiner likewise works on bounded batches,
        // `BatchEnrichmentJob.java:762-784`). Peak memory = one chunk.
        require(stage.outputSchema(inSchema) == inSchema,
          "combiner-eligible modules must be schema-preserving")
        df.mapPartitions { it =>
          stage.onStageInitialize(cfg)
          val out = it.grouped(cfg.batchSize).flatMap { chunk =>
            chunk.groupBy(keyOf).iterator.flatMap { case (_, rows) =>
              stage.onObjectBatch(rows,
                Some(KeyExtractor.keyRow(rows.head, inSchema, keyFields)))
            }
          }
          completing(out)(stage.onStageComplete())
        }(rowEnc)
      } else df

    val outSchema = stage.outputSchema(inSchema)
    val outEnc: Encoder[Row] = Encoders.row(outSchema)
    preCombined
      .groupByKey(keyOf)(strEnc)
      .flatMapGroups { (groupKey: String, it: Iterator[Row]) =>
        stage.onStageInitialize(cfg)
        val out =
          if (stage.combinable && outSchema == inSchema) {
            // Associative, schema-preserving module: fold the group through
            // ≤batchSize chunks, re-feeding each call's partial output with
            // the next chunk (legal by the re-entrancy contract). A hot key
            // never buffers its whole group — peak memory is one chunk plus
            // the module's own collapsed partial.
            var key: Option[Row] = None
            var acc: Seq[Row] = Seq.empty
            it.grouped(cfg.batchSize).foreach { b =>
              if (key.isEmpty)
                key = Some(KeyExtractor.keyRow(b.head, inSchema, keyFields))
              // modules emit schema-less GenericRows; re-attach the schema so
              // a re-fed partial supports name-based access like the inputs
              acc = stage.onObjectBatch(acc ++ b, key).map { r =>
                if (r.schema != null) r
                else new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
                  r.toSeq.toArray, inSchema)
              }.toSeq
            }
            acc.iterator
          } else {
            // Non-associative module: the whole-group-as-one-batch contract
            // (the reference reducer's value-stream, which user modules may
            // consume in one pass). Buffering the group is inherent to that
            // contract, so a skewed key is bounded by an explicit cap that
            // fails loudly NAMING the key — an executor OOM would not —
            // and points at the streaming escape hatch (`combinable`).
            val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
            while (it.hasNext) {
              if (buf.size >= cfg.maxGroupBuffer)
                throw new IllegalStateException(
                  s"grouping stage '${cfg.name}': key [$groupKey] exceeds " +
                    s"maxGroupBuffer=${cfg.maxGroupBuffer} rows; mark the " +
                    "module `combinable` to stream it, raise the cap, or " +
                    "pre-aggregate the hot key")
              buf += it.next()
            }
            stage.onObjectBatch(buf.toSeq,
              Some(KeyExtractor.keyRow(buf.head, inSchema, keyFields)))
          }
        completing(out)(stage.onStageComplete())
      }(outEnc)
  }

  /** Iterator that invokes `f` once exhausted. */
  private def completing[T](it: Iterator[T])(f: => Unit): Iterator[T] =
    new Iterator[T] {
      private var done = false
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && !done) { done = true; f }
        h
      }
      def next(): T = it.next()
    }
}

/** Dot-path key extraction (F11 applied to grouping — the analog of
  * `JsonUtils.getProperty` at `BatchEnrichmentJob.java:512`). */
object KeyExtractor {
  /** `"?"` = engine-chosen key (`BatchEnrichmentJob.java` "?" convention) —
    * we use the full record's hash. */
  def resolve(r: Row, schema: StructType, path: String): Any =
    if (path == "?") r.hashCode()
    else {
      val parts = path.split('.')
      var cur: Any = r
      var curSchema: StructType = schema
      parts.foreach { p =>
        cur match {
          case row: Row =>
            val idx = curSchema.fieldIndex(p)
            curSchema = curSchema(idx).dataType match {
              case s: StructType => s
              case _ => null
            }
            cur = if (row.isNullAt(idx)) null else row.get(idx)
          case _ => cur = null
        }
      }
      cur
    }

  /** Canonical string key: sorted field names, name=value pairs — stable
    * across field-order permutations (unlike the reference's raw JSON
    * string compare). */
  def canonicalKey(r: Row, schema: StructType, sortedFields: Seq[String]): String =
    sortedFields.map(f => f + "=" + String.valueOf(resolve(r, schema, f))).mkString("\u0001")

  /** The key as a Row (module-visible group key, like the reference's key
    * ObjectNode). */
  def keyRow(r: Row, schema: StructType, sortedFields: Seq[String]): Row =
    Row.fromSeq(sortedFields.map(f => resolve(r, schema, f)))
}
