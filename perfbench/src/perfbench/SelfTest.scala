package perfbench

import java.io.File

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** Tests of the benchmark's own pieces: percentile selection, span
  * arithmetic, fingerprints, the fake transport's determinism under a
  * seed, the corpus generator's predicted counts against the program's
  * clean and dedup stages on a small corpus, and the enrichment output
  * check against the fake and against a client that always fails.
  *
  *   perfbench.SelfTest <scratch dir>
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def assertEq[A](got: A, want: A, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    val scratch = new File(args.headOption.getOrElse("perfbench-selftest")).getAbsoluteFile

    test("quantile interpolates between closest ranks") {
      val xs = (1 to 10).map(_.toDouble)
      assertEq(Stats.median(xs), 5.5)
      assert(math.abs(Stats.quantile(xs, 0.9) - 9.1) < 1e-9, "p90")
      assertEq(Stats.quantile(Seq(3.0), 0.9), 3.0)
    }

    test("tail percentile keeps ten samples beyond it") {
      assertEq(Stats.tailPercentile(19), None, "19 samples")
      assertEq(Stats.tailPercentile(20), Some(0.5), "20")
      assertEq(Stats.tailPercentile(40), Some(0.75), "40")
      assertEq(Stats.tailPercentile(99), Some(0.75), "99")
      assertEq(Stats.tailPercentile(100), Some(0.9), "100")
      assertEq(Stats.tailPercentile(1000), Some(0.99), "1000")
      assertEq(Stats.tailPercentile(10000), Some(0.999), "10000")
    }

    test("self time subtracts the union of child spans") {
      val spans = Seq(Span(0, -1, "op", "l", 0, 100), Span(1, 0, "build", "l", 0, 30),
        Span(2, 0, "action", "l", 30, 90), Span(3, 2, "job", "j", 40, 60),
        Span(4, 2, "job", "j", 50, 70))
      val self = Tracer.selfTimes(spans)
      assertEq(self(0), 10L, "op")
      assertEq(self(2), 30L, "action")
      assertEq(Tracer.maxConcurrent(Seq((40L, 60L), (50L, 70L), (70L, 80L))), 2)
    }

    test("fingerprints ignore row order and float summation order") {
      val a = Seq(Row(1L, 0.1 + 0.2, "x"), Row(2L, 1.5, null))
      val b = Seq(Row(2L, 1.5, null), Row(1L, 0.3, "x"))
      assertEq(Fingerprint.ofRows(a), Fingerprint.ofRows(b))
      assert(Fingerprint.ofRows(a) != Fingerprint.ofRows(a.take(1)))
      assertEq(Fingerprint.parse(Fingerprint.ofRows(a).toString), Fingerprint.ofRows(a))
    }

    val cfg = FakeLlmConfig(seed = 7L, latencyMicros = 0L, failRate = 0.05,
      hangRate = 0.01, hangMs = 10L)
    val pairs = (0 until 20000).map(i => (s"Title $i", s"body of article $i"))

    test("fake transport answers deterministically under a seed") {
      val once = pairs.map { case (t, c) => FakeLlm.outcome(cfg, t, c) }
      assertEq(pairs.map { case (t, c) => FakeLlm.outcome(cfg, t, c) }, once, "same seed")
      val other = pairs.map { case (t, c) => FakeLlm.outcome(cfg.copy(seed = 8L), t, c) }
      assert(other != once, "another seed gives the same outcomes")
      val fails = once.count(_ == FakeOutcome.Fail).toDouble / pairs.size
      val hangs = once.count(_ == FakeOutcome.Hang).toDouble / pairs.size
      assert(math.abs(fails - 0.05) < 0.01, s"failure rate $fails")
      assert(math.abs(hangs - 0.01) < 0.005, s"hang rate $hangs")
    }

    test("fake transport's answers reach the client unchanged and counted") {
      FakeLlm.resetCounters()
      val client = new graft.etl.HttpLlmClient(FakeLlm.factory(cfg))
      val sample = pairs.take(400)
      for ((t, c) <- sample) {
        assertEq(FakeLlm.parsePrompt(graft.etl.LlmClient.promptFor(t, c)), (t, c), "prompt")
        val got = client.enrich(t, c)
        FakeLlm.outcome(cfg, t, c) match {
          case FakeOutcome.Answer(want) => assertEq(got, want, t)
          case _ => assertEq(got.sentiment, "ERROR_API", t)
        }
      }
      assertEq(FakeLlm.calls.get, sample.size.toLong, "calls")
      assertEq(FakeLlm.answered.get + FakeLlm.failed.get + FakeLlm.hung.get,
        sample.size.toLong, "outcomes")
    }

    test("corpus generator is seeded") {
      val docs = Fixtures.documents(1L, 200)
      assertEq(NewsCorpus.generate(docs, 2, 5L, 0.05), NewsCorpus.generate(docs, 2, 5L, 0.05))
      assert(NewsCorpus.generate(docs, 2, 5L, 0.05) != NewsCorpus.generate(docs, 2, 6L, 0.05))
    }

    val spark = Main.session(scratch)
    try {
      val corpus = NewsCorpus.generate(Fixtures.documents(3L, 400), 2, 11L, 0.05)
      val clean = graft.etl.Clean.run(spark, corpus.writeJsonl(scratch)).cache()

      test("generator predicts the clean and exact-duplicate counts") {
        assert(corpus.exactDupRows > 0 && corpus.cleanRows < corpus.articles.size,
          "corpus lacks duplicates or edge cases")
        assertEq(clean.count(), corpus.cleanRows, "clean rows")
        val verdicts = graft.queries.TextOps.corpusClean(
          clean.select(col("id_news").as("doc_id"), col("content").as("text")))
        assertEq(verdicts.filter(col("is_exact_dup")).count(), corpus.exactDupRows,
          "exact duplicates")
      }

      def enriched(client: graft.etl.LlmClient) = {
        FakeLlm.resetCounters()
        NewsWorkload.enrichedRows(graft.etl.Enrich.run(spark, clean,
          graft.etl.Enrich.Config(client = client, maxConcurrentPerTask = 4,
            waveTimeoutMs = 200L)))
      }
      val hanging = cfg.copy(latencyMicros = 100L, hangRate = 0.02, hangMs = 2000L)

      test("enriched rows from the fake pass the output check") {
        val rows = enriched(new graft.etl.HttpLlmClient(FakeLlm.factory(hanging)))
        val (errors, failed) = NewsWorkload.checkEnriched(hanging, rows, FakeLlm.hung.get, 4)
        assertEq(failed, Nil, "failed checks")
        assert(errors > 0 && FakeLlm.hung.get > 0, "no injected errors")
      }

      test("the output check fails a client that always fails") {
        val broken = new graft.etl.HttpLlmClient(
          () => throw new IllegalStateException("no endpoint"))
        val rows = enriched(broken)
        assertEq(rows.count(_._3.sentiment == "ERROR_API"), rows.size, "error rows")
        val (_, failed) = NewsWorkload.checkEnriched(hanging, rows, FakeLlm.hung.get, 4)
        assert(failed.exists(_.contains("ERROR_API")), s"not flagged: $failed")
      }
    } finally Main.stopSession(spark)

    Files.deleteTree(scratch)
    println(s"$passed passed, $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
