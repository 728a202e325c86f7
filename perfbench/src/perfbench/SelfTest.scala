package perfbench

/** The benchmark's own tests: generator determinism per seed, the tail
  * and rate-step rules on synthetic latencies, and span self time.
  * Exits non-zero on the first failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    System.err.println(s"[self-test] ${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val n = 80
    check("opinions: same seed, same documents") {
      Gen.digest(Gen.opinions(7, n)) == Gen.digest(Gen.opinions(7, n))
    }
    check("opinions: another seed, other documents") {
      Gen.digest(Gen.opinions(7, n)) != Gen.digest(Gen.opinions(8, n))
    }
    check("opinions: every seed has the same heavy-tailed length distribution") {
      val medians = Seq(1L, 2L, 3L).map(s => Stats.median(Gen.opinions(s, 200).map(_.text.length.toDouble)))
      medians.forall(m => math.abs(m / Gen.OpinionMedianChars - 1) < 0.15) &&
        Gen.opinions(4, 200).map(_.text.length).max > 10 * Gen.OpinionMedianChars
    }
    check("batches: every document once, sizes within 10 %") {
      val docs = Gen.opinions(5, 200)
      val bs = Gen.batches(docs, 8)
      val sizes = bs.map(_.map(_.text.length.toLong).sum)
      bs.flatten.map(_.id).sorted == docs.map(_.id) && sizes.max < 1.1 * sizes.min
    }
    check("snippets: same seed, same texts and planted set") {
      Gen.snippets(5, 5000) == Gen.snippets(5, 5000)
    }
    check("snippets: another seed, other texts") {
      Gen.digest(Gen.snippets(5, 5000)._1) != Gen.digest(Gen.snippets(6, 5000)._1)
    }
    check("snippets: planted texts are blank, the rest 100-600 chars") {
      val (docs, planted) = Gen.snippets(9, 20000)
      val share = planted.size.toDouble / docs.size
      share > 0.01 && share < 0.03 &&
        docs.forall(d => if (planted(d.id)) d.text.trim.isEmpty else d.text.length >= 100 && d.text.length <= 600)
    }
    check("queries: same seed, same distinct queries of 5-30 words") {
      val q = Gen.queries(4, 500)
      q == Gen.queries(4, 500) && q.distinct.size == 500 &&
        q.forall { s => val n = s.split(' ').length; n >= 5 && n <= 30 }
    }

    val lat100 = (1 to 100).map(_.toDouble)
    check("tail: 100 samples give p90") { Stats.tail(lat100)._1 == 90.0 }
    check("tail: 1000 samples give p99") { Stats.tail((1 to 1000).map(_.toDouble))._1 == 99.0 }
    check("tail: too few samples fall back to the median") {
      Stats.tail(Seq(1.0, 2.0, 3.0)) == ((50.0, 2.0))
    }

    val slo = 500.0
    def step(rate: Double, ms: Double, backlog: Int = 0, failed: Int = 0) =
      Stats.Step(rate, 100, failed, Seq.fill(100)(ms), backlog)
    check("rate steps: the highest passing rate is reported") {
      Stats.qpsAtSlo(Seq(step(4, 100), step(8, 200), step(16, 900)), slo, 4) == 8.0
    }
    check("rate steps: a growing backlog fails a step") {
      Stats.qpsAtSlo(Seq(step(4, 100), step(8, 200, backlog = 5)), slo, 4) == 4.0
    }
    check("rate steps: a failed request fails a step") {
      Stats.qpsAtSlo(Seq(step(4, 100), step(8, 200, failed = 1)), slo, 4) == 4.0
    }
    check("rate steps: no step above a failed one counts") {
      Stats.qpsAtSlo(Seq(step(4, 100), step(8, 900), step(16, 100)), slo, 4) == 4.0
    }
    check("rate steps: the tail, not the median, is held to the limit") {
      val mixed = Stats.Step(8, 100, 0, Seq.fill(80)(100.0) ++ Seq.fill(20)(900.0), 0)
      !Stats.meetsSlo(mixed, slo, 4)
    }

    check("arrivals: one per slot, ascending, seeded") {
      val t = Stats.arrivals(new scala.util.Random(3), 50, 10.0)
      t == Stats.arrivals(new scala.util.Random(3), 50, 10.0) && t.size == 50 &&
        t.zipWithIndex.forall { case (x, i) => x >= i * 0.2 && x < (i + 1) * 0.2 }
    }

    check("spans: self time excludes the children's union") {
      val s = new Spans(true)
      s("parent", "op") { root =>
        s("child", "op", root)(_ => Thread.sleep(30))
        s("child", "op", root)(_ => Thread.sleep(30))
        Thread.sleep(30)
      }
      val self = s.selfSeconds
      math.abs(self("parent") - 0.03) < 0.02 && math.abs(self("child") - 0.06) < 0.02
    }
    check("spans: overlapping intervals are counted once") {
      Spans.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L
    }

    if (failures > 0) { System.err.println(s"[self-test] $failures failed"); sys.exit(1) }
  }
}
