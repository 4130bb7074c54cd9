package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's audio input row — the audio leg of the multimodal contract
  * (image/audio/video as opaque binary + typed metadata): PCM16-LE payload,
  * sample rate, sample count, caption carried byte-for-byte. */
final case class AudioRow(
  audio_id: String, bytes: Array[Byte], sr: Int, n_samples: Int,
  caption: String)

/** Deterministic synthetic audio table. Waveforms are INTEGER closed forms
  * (triangle fundamental + small arithmetic dither — no transcendentals), so
  * every sample is exactly reproducible in the DuckDB twins with pure modular
  * arithmetic, the way ImageTable's affine surfaces make raster oracles
  * exact. Seeded by (clip index, sample index) only: identical at any
  * parallelism (FIXTURES.md F7 determinism rule). */
object AudioTable {
  val Sr = 8000
  val N = 1024 // samples per clip (power of 2: FFT-ready)

  /** Fundamental period in samples for clip i: 16..64, step 4. */
  def periodOf(i: Int): Int = 16 + (i % 13) * 4

  /** Sample t of clip i — triangle wave of period P, amplitude 400·P
    * (≤ 25,600 < 2¹⁵), plus a bounded arithmetic dither in [-8, 8]. */
  def sample(i: Int, t: Int): Int = {
    val p = periodOf(i)
    val m = t % p
    val tri = (math.abs(2 * m - p) * 2 - p) * 400
    val dither = (t * (7 + i % 5) + i) % 17 - 8
    tri + dither
  }

  def audioIdOf(i: Int): String = f"aud_$i%07d"

  def captionOf(i: Int): String =
    s"synthetic clip $i period=${periodOf(i)} sr=$Sr"

  /** PCM16-LE encode — the REAL codec for this modality (unlike the video
    * stub): two bytes per sample, little-endian, two's complement. */
  def encodePcm16(samples: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val s = samples(i)
      out(2 * i) = (s & 0xff).toByte
      out(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  def decodePcm16(bytes: Array[Byte]): Array[Int] = {
    val out = new Array[Int](bytes.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((bytes(2 * i + 1).toInt << 8) | (bytes(2 * i).toInt & 0xff))
      i += 1
    }
    out
  }

  def row(i: Int): AudioRow = {
    val s = Array.tabulate(N)(t => sample(i, t))
    AudioRow(audioIdOf(i), encodePcm16(s), Sr, N, captionOf(i))
  }

  /** Distributed generation: spark.range → map, index-seeded; partitioned
    * like the session unless `partitions` is positive
    * (`ImageTable.indices`). */
  def generate(spark: SparkSession, n: Int, partitions: Int = 0): DataFrame = {
    import spark.implicits._
    ImageTable.indices(spark, n, partitions).map(ii => row(ii.toInt)).toDF()
  }
}
