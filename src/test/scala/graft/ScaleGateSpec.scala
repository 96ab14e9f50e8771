package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** CI scale gate: every registry query in [[ScaleProbe.Gated]] — the
  * bench's top-cost dedup/merge/sessionize family plus the training,
  * ANN and image lanes, run exactly as `SparkEntry.queries` ships them
  * — is timed by [[ScaleProbe.ratios]] on a 1× and a k× copy of sf0.01
  * written by [[AmplifyCorpus.amplify]], and must stay SUB-QUADRATIC:
  * wall-time ratio ≤ GateRatio = 2.5·k (the 30× manual probe measures
  * ≤ 0.72·k on every op, SURVEY §5; a quadratic pair blowup at k=8
  * reads ≳ 4·k even with fixed costs amortized). A super-linear plan
  * regression in any gated query fails HERE instead of waiting for the
  * next manual runMain probe.
  *
  * The bound is deliberately loose (≈ 3.5× headroom over measured) so
  * host throttling can't flake the suite — the gate exists to catch
  * complexity-class regressions, not percent-level drift; the
  * committed 30× probe results remain the precision instrument.
  */
class ScaleGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val K = 8
  private val GateRatio: Double = 2.5 * K
  private val Sf = "/root/testdata/sf0.01"

  test(s"scale gate: probed operator family stays sub-quadratic at ${K}x " +
    s"(wall-time ratio <= $GateRatio)") {
    // both scales through the SAME amplification so the per-row copy
    // suffix hits numerator and denominator identically (ScaleProbe's
    // unbiased-baseline rule)
    val dir1 = Files.createTempDirectory("graft-gate-x1").toString
    val dirK = Files.createTempDirectory(s"graft-gate-x$K").toString
    AmplifyCorpus.amplify(spark, Sf, dir1, 1)
    AmplifyCorpus.amplify(spark, Sf, dirK, K)
    val failures = ScaleProbe.ratios(spark, dir1, dirK, ScaleProbe.Gated)
      .flatMap { case (name, t1, tk) =>
        val ratio = tk / t1
        info(f"$name%-18s x1=$t1%6.2fs x$K=$tk%6.2fs ratio=$ratio%6.2f")
        if (ratio > GateRatio)
          Some(f"$name: ratio $ratio%.1f > $GateRatio (x1=$t1%.2fs x$K=$tk%.2fs)")
        else None
      }
    assert(failures.isEmpty,
      "super-linear scale regression:\n" + failures.mkString("\n"))
  }
}
