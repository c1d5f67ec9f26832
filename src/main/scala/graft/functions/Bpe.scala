package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer — TRAINED as a Spark job, APPLIED as a
  * native codegen expression. The missing piece between the engine's token
  * counting (tx3's BPE-ish regex) and a real training-data pipeline, where
  * the tokenizer itself is learned from the corpus at scale.
  *
  * Train (Sennrich et al. 2016, word-internal merges with an explicit
  * end-of-word unit): the ONLY full-corpus pass is the word-frequency
  * aggregation (co-keyed on the word, map-side combined). Everything after
  * runs on the DISTINCT-WORD table — vocabulary-sized (Heaps' law, orders
  * of magnitude below the corpus) and kept DISTRIBUTED: each merge round is
  * one adjacent-pair count aggregate (weighted by word frequency) of which
  * exactly ONE row — the arg-max pair — reaches the driver (KMeans-codebook
  * regime), then a narrow map rewrites the unit sequences. Lineage is
  * truncated per round.
  *
  * Apply: [[BpeEncode]]/[[BpeDecode]] run the merge list inside whole-stage
  * codegen. Train and encode share ONE merge-pass implementation
  * ([[Bpe.mergePass]]), so `encode(word)` reproduces the trained unit
  * sequence exactly and decode∘encode is the identity on single-space
  * text (the corpus contract; the end-of-word marker must not occur in the
  * input).
  *
  * The reference has no tokenizer (its text handling stops at ES analyzer
  * config); this is part of the LLM-pipeline surface.
  */
object Bpe {

  /** End-of-word marker unit (never a substring of corpus text). */
  final val Eow = "</w>"

  /** One left-to-right, non-overlapping merge pass of (a,b) → a+b —
    * THE shared semantics of training and encoding. */
  def mergePass(units: IndexedSeq[String], a: String, b: String): IndexedSeq[String] = {
    val out = new ArrayBuffer[String](units.length)
    var i = 0
    while (i < units.length) {
      if (i + 1 < units.length && units(i) == a && units(i + 1) == b) {
        out += a + b; i += 2
      } else { out += units(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** A word as its initial unit sequence: chars + the end-of-word marker. */
  def wordUnits(w: String): IndexedSeq[String] =
    (w.map(_.toString) :+ Eow).toIndexedSeq

  /** Learn `numMerges` merges from the corpus, most-frequent pair first.
    * Deterministic: ties break on the lexicographically smallest pair.
    * Stops early when no pair occurs twice. */
  def train(docs: DataFrame, textCol: String, numMerges: Int): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the one full-corpus pass: word frequencies, co-keyed + partial agg
    var vocab = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .as[(String, Long)]
      .map { case (w, f) => (wordUnits(w), f) }
      .localCheckpoint(true)

    val merges = ArrayBuffer.empty[(String, String)]
    var done = false
    for (_ <- 0 until numMerges if !done) {
      // adjacent-pair counts over the vocab, weighted by word frequency;
      // only the arg-max row is collected (ties: smallest pair wins)
      val best = vocab.flatMap { case (units, f) =>
          units.iterator.sliding(2).withPartial(false)
            .map(p => (p.head, p(1), f))
        }
        .groupBy("_1", "_2").agg(sum("_3").as("n"))
        .orderBy(desc("n"), asc("_1"), asc("_2"))
        .limit(1).as[(String, String, Long)]
        .collect()
      best.headOption match {
        case Some((a, b, n)) if n >= 2 =>
          merges += ((a, b))
          vocab = vocab.map { case (units, f) => (mergePass(units, a, b), f) }
            .localCheckpoint(true) // truncate the per-round map lineage
        case _ => done = true
      }
    }
    merges.toSeq
  }

  /** Encode one document: per word, chars+Eow folded through the merge
    * list in priority order. Static worker shared by eval and codegen. */
  def encodeDoc(s: String, ma: Array[String], mb: Array[String]): Array[String] = {
    val out = new ArrayBuffer[String]()
    var start = 0
    while (start <= s.length) {
      val sp = s.indexOf(' ', start)
      val end = if (sp < 0) s.length else sp
      var units: IndexedSeq[String] = wordUnits(s.substring(start, end))
      var m = 0
      while (m < ma.length) { units = mergePass(units, ma(m), mb(m)); m += 1 }
      out ++= units
      start = end + 1
    }
    out.toArray
  }

  /** Decode = concatenate units, turn markers back into spaces. */
  def decodeDoc(units: Array[String]): String = {
    val sb = new java.lang.StringBuilder
    units.foreach(u => sb.append(if (u.endsWith(Eow))
      u.substring(0, u.length - Eow.length) + " " else u))
    val s = sb.toString
    if (s.endsWith(" ")) s.substring(0, s.length - 1) else s
  }
}

/** `text → array<string>` BPE units under a fixed learned merge list. */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType)
  override def nullIntolerant: Boolean = true

  private lazy val ma = merges.map(_._1).toArray
  private lazy val mb = merges.map(_._2).toArray

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(Bpe.encodeDoc(
      input.asInstanceOf[UTF8String].toString, ma, mb)
      .map(UTF8String.fromString(_)): Array[Any])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val maRef = ctx.addReferenceObj("bpeMa", ma, "java.lang.String[]")
    val mbRef = ctx.addReferenceObj("bpeMb", mb, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c => {
      val u = ctx.freshName("units")
      val o = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |java.lang.String[] $u = graft.functions.Bpe.encodeDoc($c.toString(), $maRef, $mbRef);
         |Object[] $o = new Object[$u.length];
         |for (int $i = 0; $i < $u.length; $i++) {
         |  $o[$i] = org.apache.spark.unsafe.types.UTF8String.fromString($u[$i]);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($o);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** `array<string> → text` inverse of [[BpeEncode]]. */
case class BpeDecode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  private def toStrings(a: ArrayData): Array[String] =
    a.toArray[UTF8String](StringType).map(_.toString)

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Bpe.decodeDoc(toStrings(input.asInstanceOf[ArrayData])))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.freshName("strs")
    val i = ctx.freshName("i")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |java.lang.String[] $s = new java.lang.String[$c.numElements()];
         |for (int $i = 0; $i < $s.length; $i++) {
         |  $s[$i] = $c.getUTF8String($i).toString();
         |}
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  graft.functions.Bpe.decodeDoc($s));
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeDecode =
    copy(child = newChild)
}
