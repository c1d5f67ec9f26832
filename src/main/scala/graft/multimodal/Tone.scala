package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.util.Blobs

/** Spectral tone analysis over the REAL WAV round-trip: synthesize a
  * square-wave tone per record (integer-exact sample math), wrap it with
  * [[Multimodal.PcmWavEncoder]], decode with the real
  * `javax.sound` path ([[Multimodal.WavDecoder]]), and detect the dominant
  * frequency with the Goertzel recurrence — the DTMF-style
  * frequency-classification step of an audio pipeline, end-to-end through
  * the container.
  *
  * Detection is robust by construction: candidate tones complete an
  * integer number of cycles over the analysis window (no spectral
  * leakage into other bins) and no candidate is a harmonic of another,
  * so the true bin's power exceeds the rest by orders of magnitude —
  * libm ulp differences cannot flip the argmax. The oracle therefore
  * predicts the detected index (and the exact high-sample count, from
  * the same integer phase formula) without replicating floating point.
  *
  * Scale shape: per-record codec work on the [[Blobs]] seam, narrow, like
  * every mm operator — scales with input bytes only.
  */
object Tone {

  /** Candidate tones (Hz). At [[Rate]] 8000 / [[N]] 800 samples each
    * completes 50/70/90/110 full cycles; none is a harmonic of another. */
  val Freqs: Seq[Int] = Seq(500, 700, 900, 1100)
  val Rate = 8000
  val N = 800
  val Amp = 50

  /** content(0) = ASCII digit tone index → 8-bit unsigned PCM square wave
    * (integer phase: sample i is high iff ⌊i·2f/rate⌋ is even — exact,
    * reproducible in plain SQL). Non-digit/empty content → empty payload
    * (decodes to 0 rows downstream, the unparseable-content contract). */
  final case class ToneGen(rate: Int = Rate, n: Int = N, amp: Int = Amp)
      extends Multimodal.MediaTransform {
    def transformBatch(batch: Seq[Array[Byte]]): Seq[Array[Byte]] =
      batch.map { bytes =>
        val k = if (bytes == null || bytes.isEmpty) -1 else bytes(0) - '0'
        if (k < 0 || k >= Freqs.size) Array.emptyByteArray
        else {
          val f = Freqs(k)
          Array.tabulate[Byte](n) { i =>
            val high = (i.toLong * 2 * f / rate) % 2 == 0
            (if (high) 128 + amp else 128 - amp).toByte
          }
        }
      }
  }

  /** Goertzel power of `freq` in zero-centered integer samples. */
  def goertzelPower(xs: Array[Int], rate: Int, freq: Double): Double = {
    val w = 2.0 * math.Pi * freq / rate
    val coeff = 2.0 * math.cos(w)
    var s1 = 0.0
    var s2 = 0.0
    var i = 0
    while (i < xs.length) {
      val s0 = xs(i) + coeff * s1 - s2
      s2 = s1; s1 = s0
      i += 1
    }
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  val ToneFeatureType: StructType = StructType(Seq(
    StructField("n_samples", LongType),
    StructField("n_high", LongType),
    StructField("tone_idx", IntegerType)))

  /** Decode each WAV blob and classify its dominant candidate tone;
    * undecodable or NULL blobs contribute 0 rows. */
  def extractToneFeatures(df: DataFrame, idCol: String,
      contentCol: String): DataFrame =
    Blobs.explode(df, idCol, contentCol, ToneFeatureType) { bytes =>
      Multimodal.WavDecoder.samples8(bytes).filter(_.nonEmpty).map { xs =>
        val powers = Freqs.map(f => goertzelPower(xs, Rate, f.toDouble))
        Row(xs.length.toLong, xs.count(_ > 0).toLong,
          powers.indexOf(powers.max))
      }
    }
}
