package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("self time counts overlapping job spans once and clips them to the parent") {
    val jobs = Seq((10L, 30L), (20L, 50L), (60L, 70L), (95L, 120L), (-5L, 2L))
    // covered: [0,2) + [10,50) + [60,70) + [95,100) = 2 + 40 + 10 + 5
    assert(Stats.selfTime(0L, 100L, jobs) == 43L)
    assert(Stats.selfTime(0L, 100L, Nil) == 100L)
    assert(Stats.selfTime(0L, 100L, Seq((0L, 100L), (10L, 20L))) == 0L)
  }

  test("union length ignores empty intervals and merges touching ones") {
    assert(Stats.unionLength(Seq((5L, 5L), (0L, 3L), (3L, 4L), (9L, 7L))) == 4L)
  }

  test("tail is the highest percentile that leaves at least 10 samples beyond it") {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    assert(Stats.tail(xs(19)).isEmpty)
    assert(Stats.tail(xs(20)).contains((50.0, 10.0, 10)))
    assert(Stats.tail(xs(100)).contains((90.0, 90.0, 10)))
    assert(Stats.tail(xs(199)).contains((90.0, 180.0, 19)))
    assert(Stats.tail(xs(1000)).contains((99.0, 990.0, 10)))
    assert(Stats.tail(xs(10000)).contains((99.9, 9990.0, 10)))
    // order of the samples does not matter
    assert(Stats.tail(xs(100).reverse) == Stats.tail(xs(100)))
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}

class RunnerSpec extends AnyFunSuite {
  private val good = Digest(3L, 0x1234L)
  private val pin = Some(Pin(3L, good.hex))

  private def run(build: () => String, exec: String => Digest) =
    Runner.execute[String]("q", pin)(build, _ => (), exec)

  test("failed_share counts a throw and a digest mismatch, not a match") {
    val outcomes = Seq(
      run(() => "df", _ => good),
      run(() => throw new IllegalStateException("boom"), _ => good),
      run(() => "df", _ => Digest(3L, 0x9999L)),
      run(() => "df", _ => Digest(4L, 0x1234L)))
    assert(outcomes.map(_.ok) == Seq(true, false, false, false))
    assert(Runner.failedShare(outcomes) == 0.75)
    assert(outcomes(1).error.exists(_.contains("boom")))
    assert(outcomes(2).error.exists(_.startsWith("digest mismatch")))
  }

  test("every phase that started is timed, in order") {
    val ok = run(() => "df", _ => good)
    assert(ok.phases.map(_.phase) == Runner.Phases)
    assert(ok.phases.forall(p => p.seconds >= 0 && p.endMs >= p.startMs))
    val thrown = run(() => "df", _ => throw new RuntimeException("exec failed"))
    assert(thrown.phases.map(_.phase) == Runner.Phases)
    assert(thrown.digest.isEmpty && !thrown.ok)
  }

  test("the phase hook sees each phase before it runs") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    Runner.execute[String]("q", None, p => seen += p)(
      () => { seen += "b"; "df" }, _ => seen += "p", _ => { seen += "e"; good })
    assert(seen.toSeq == Seq("build", "b", "plan", "p", "exec", "e"))
  }
}
