package perfbench

import graft.fixtures.AcquisitionFixture
import graft.fixtures.AcquisitionFixture.Spec

/** Seeded acquisition specs and their closed-form expected outputs. */
object Fixture {

  /** Whole-second UTC start within one day, so 1-s RMS windows align
    * with the samples and a run's acquisitions never cross midnight. */
  def startIso(epochSecond: Long): String =
    java.time.Instant.ofEpochSecond(epochSecond).toString

  /** A seeded spec: amplitude in [0.95, 1.05) g, start at a seeded
    * second of 2025-07-11 between 01:00 and 20:00 UTC, the fixture's
    * 50 Hz sine (whole periods per 1-s window). Amplitude and frequency
    * set how well the sine axis compresses, so they stay in a narrow
    * band: every seed then writes about the same Parquet bytes (a
    * 0.5-2 g, 10-100 Hz range moved the enriched output by ~10 %). */
  def spec(rnd: scala.util.Random, alias: String, seconds: Double): Spec = {
    val day = java.time.Instant.parse("2025-07-11T00:00:00Z").getEpochSecond
    Spec(alias = alias,
      startTime = startIso(day + 3600L + rnd.nextInt(19 * 3600)),
      seconds = seconds,
      amplitudeG = 0.95 + 0.1 * rnd.nextDouble())
  }

  def startNs(spec: Spec): Long =
    java.time.Instant.parse(spec.startTime).getEpochSecond * 1000000000L

  /** (enriched rows, RMS rows) the pipeline must emit for `spec`,
    * derived from the fixture's time law (sample j at j/odr s after
    * the start, complete blocks only) and the reference's window rule
    * (a 1-s window counts when its samples span ≥ 0.999 s). */
  def expectedCounts(spec: Spec): (Long, Long) = {
    val total = (spec.seconds * spec.odr).toLong
    val rows = total / spec.samplesPerTs * spec.samplesPerTs
    var windows = 0L
    var bucket = -1L
    var tmin = 0L
    var tmax = 0L
    var j = 1L
    while (j <= rows) {
      val t = math.rint(j.toDouble / spec.odr * 1e9).toLong
      val b = t / 1000000000L
      if (b != bucket) {
        if (bucket >= 0 && tmax - tmin >= 999000000L) windows += 1
        bucket = b; tmin = t
      }
      tmax = t
      j += 1
    }
    if (bucket >= 0 && tmax - tmin >= 999000000L) windows += 1
    (rows, windows)
  }

  /** Closed-form RMS (FIXTURES.md): x = the quantized constant, y =
    * that amplitude / √2, z = 0. Tolerances follow PipelineSpec. */
  def rmsProblem(spec: Spec, rx: Double, ry: Double, rz: Double): Option[String] = {
    val aQ = AcquisitionFixture.quantize(spec.amplitudeG) * AcquisitionFixture.Sensitivity
    if (math.abs(rx - aQ) >= 1e-7) Some(s"rms_x $rx != $aQ")
    else if (math.abs(ry - aQ / math.sqrt(2)) >= 2e-3) Some(s"rms_y $ry != ${aQ / math.sqrt(2)}")
    else if (rz != 0.0) Some(s"rms_z $rz != 0")
    else None
  }
}
