package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AudioFeatures

/** Windowed-sinc resampler exactness against analytic signals: identity,
  * length contract, tone reconstruction (sample-level, mid-clip), spectral
  * preservation across a rate change, and anti-alias suppression of
  * above-target-Nyquist energy on the downsample path. */
class ResampleSpec extends AnyFunSuite {

  private def tone(n: Int, f: Double, rate: Double, amp: Double = 8000.0) =
    Array.tabulate[Short](n)(i =>
      math.round(amp * math.sin(2.0 * math.Pi * f * i / rate)).toShort)

  test("same-rate resample is the identity") {
    val s = tone(1024, 440.0, 8000)
    assert(AudioFeatures.resample(s, 8000, 8000).toSeq == s.toSeq)
  }

  test("output length is exactly floor(n * dst / src)") {
    val s = tone(1000, 440.0, 8000)
    assert(AudioFeatures.resample(s, 8000, 16000).length == 2000)
    assert(AudioFeatures.resample(s, 16000, 8000).length == 500)
    assert(AudioFeatures.resample(s, 8000, 11025).length ==
      (1000L * 11025 / 8000).toInt) // non-integer ratio: 1378
  }

  test("upsampled tone matches the analytic tone sample-by-sample mid-clip") {
    val f = 500.0
    val s = tone(4096, f, 8000)
    val up = AudioFeatures.resample(s, 8000, 16000)
    // skip the kernel half-width at both edges (16/0.5... here scale=1 up,
    // halfWidth=16 input samples = 32 output samples); compare the middle
    val err = (64 until up.length - 64).map { j =>
      math.abs(up(j) - 8000.0 * math.sin(2.0 * math.Pi * f * j / 16000.0))
    }
    assert(err.max < 80.0, s"max mid-clip error ${err.max}") // < 1% of amp
  }

  test("downsampling keeps the passband tone's frequency and amplitude") {
    val f = 1200.0
    val s = tone(8192, f, 16000)
    val down = AudioFeatures.resample(s, 16000, 8000)
    val dom = AudioFeatures.dominantFftBin(down, 2048)
    assert(dom == math.round(f * 2048 / 8000).toInt)
    var sum = 0.0
    down.foreach(v => sum += v.toDouble * v)
    val rms = math.sqrt(sum / down.length)
    assert(math.abs(rms - 8000.0 / math.sqrt(2.0)) < 0.05 * 8000.0 / math.sqrt(2.0))
  }

  test("polyphase path == memoized direct evaluation, bitwise (r19)") {
    // the r19 polyphase table must reproduce the r18 memo path EXACTLY —
    // the p79 oracle hash rides on these samples. Cover: pow2-denominator
    // pairs (the table path: up, down, integer-factor, and the
    // non-integer-halfWidth 48k->32k case), a non-pow2 pair (falls back,
    // trivially equal), degenerate lengths, and hostile content.
    val rnd = new scala.util.Random(42)
    val noisy = Array.fill[Short](8192)((rnd.nextInt(65536) - 32768).toShort)
    val clipping = Array.tabulate[Short](4096)(i =>
      if (i % 3 == 0) Short.MaxValue else if (i % 3 == 1) Short.MinValue
      else 0)
    val pairs = Seq((8000, 16000), (16000, 8000), (48000, 16000),
      (48000, 32000), (22050, 44100), (44100, 16000), (8000, 11025),
      (12000, 16000), (24000, 32000), (48000, 64000))
    for ((src, dst) <- pairs; s <- Seq(noisy, clipping,
        tone(8192, 440.0, src), Array.empty[Short], Array[Short](7))) {
      val a = AudioFeatures.resample(s, src, dst)
      val b = AudioFeatures.resampleMemo(s, src, dst, 16)
      assert(a.toSeq == b.toSeq, s"$src->$dst diverged on n=${s.length}")
    }
    // the pairs we claim take the table path actually have a table,
    // and the non-pow2 pair does not
    assert(AudioFeatures.polyTable(8000, 16000, 16).isDefined)
    assert(AudioFeatures.polyTable(16000, 8000, 16).isDefined)
    assert(AudioFeatures.polyTable(48000, 32000, 16).isDefined)
    assert(AudioFeatures.polyTable(44100, 16000, 16).isEmpty) // q=160
    assert(AudioFeatures.polyTable(8000, 11025, 16).isEmpty)  // q=441
  }

  test("above-target-Nyquist energy is filtered out, not folded") {
    // 6 kHz at 16 kHz source; naive decimation to 8 kHz folds it to 2 kHz
    val s = tone(8192, 6000.0, 16000)
    val down = AudioFeatures.resample(s, 16000, 8000)
    var sum = 0.0
    down.foreach(v => sum += v.toDouble * v)
    val rms = math.sqrt(sum / down.length)
    assert(rms < 0.02 * 8000.0, s"stopband rms $rms") // -34 dB floor at least
    // and the naive comparison: dropping every other sample keeps full power
    val naive = Array.tabulate[Short](4096)(i => s(2 * i))
    var nsum = 0.0
    naive.foreach(v => nsum += v.toDouble * v)
    assert(math.sqrt(nsum / naive.length) > 0.5 * 8000.0)
  }
}
