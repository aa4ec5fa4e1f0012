package perfbench

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import graft.etl.{LlmResult, LlmTransport}

/** Knobs of the fake model endpoint. `latencyMicros` is paid by every
  * answered or failed call; a hung call blocks for `hangMs` (longer than
  * the enrichment wave timeout) unless interrupted first.
  */
final case class FakeLlmConfig(
    seed: Long,
    latencyMicros: Long,
    failRate: Double,
    hangRate: Double,
    hangMs: Long)

/** What the fake does for one (title, content) pair. */
sealed trait FakeOutcome
object FakeOutcome {
  final case class Answer(result: LlmResult) extends FakeOutcome
  case object Fail extends FakeOutcome
  case object Hang extends FakeOutcome
}

/** A seeded stand-in for the model behind `graft.etl.HttpLlmClient`.
  *
  * The outcome of a call is a pure function of (seed, title, content):
  * the same pair always gets the same answer, failure or hang, so a run
  * can be checked row by row against [[FakeLlm.outcome]]. Calls are
  * counted by cause on the fake's side; in `local[N]` mode the executors
  * share the driver JVM, so the counters are read directly.
  */
object FakeLlm {
  private val Sentiments = Array("Positive", "Negative", "Neutral")
  private val Categories = graft.schema.Schemas.categoriesToKeep.toArray

  val calls = new AtomicLong
  val answered = new AtomicLong
  val failed = new AtomicLong
  val hung = new AtomicLong
  private val latencies = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]

  def resetCounters(): Unit = {
    Seq(calls, answered, failed, hung).foreach(_.set(0L))
    latencies.clear()
  }

  /** Per-call wall times in milliseconds since the last reset. */
  def latencyMs: Seq[Double] = {
    val it = latencies.iterator()
    val out = Seq.newBuilder[Double]
    while (it.hasNext) out += it.next() / 1e6
    out.result()
  }

  private def hash(seed: Long, salt: Int, title: String, content: String): Int =
    scala.util.hashing.MurmurHash3.stringHash(
      s"$title\u0000$content", (seed * 31 + salt).toInt ^ (seed >>> 32).toInt)

  private def unit(h: Int): Double = (h.toLong & 0xffffffffL) / 4294967296.0

  def outcome(cfg: FakeLlmConfig, title: String, content: String): FakeOutcome = {
    val u = unit(hash(cfg.seed, 1, title, content))
    if (u < cfg.hangRate) FakeOutcome.Hang
    else if (u < cfg.hangRate + cfg.failRate) FakeOutcome.Fail
    else {
      val h = hash(cfg.seed, 2, title, content)
      FakeOutcome.Answer(LlmResult(
        Sentiments(math.floorMod(h, Sentiments.length)),
        Categories(math.floorMod(h >>> 8, Categories.length)),
        s"Impact ${math.floorMod(h >>> 16, 1000)}: ${Option(title).getOrElse("").take(32)}"))
    }
  }

  /** Recovers (title, content) from `LlmClient.promptFor`'s layout. */
  def parsePrompt(prompt: String): (String, String) = {
    val t = prompt.indexOf("\nTitle: ")
    val c = prompt.indexOf("\nContent: ", t)
    require(t >= 0 && c >= 0, "prompt without Title/Content sections")
    (prompt.substring(t + 8, c), prompt.substring(c + 10))
  }

  final class Transport(cfg: FakeLlmConfig) extends LlmTransport {
    override def complete(model: String, prompt: String, temperature: Double): String = {
      val t0 = System.nanoTime()
      calls.incrementAndGet()
      val (title, content) = parsePrompt(prompt)
      try outcome(cfg, title, content) match {
        case FakeOutcome.Hang =>
          hung.incrementAndGet()
          Thread.sleep(cfg.hangMs)
          throw new java.io.IOException("injected hang outlived the caller")
        case FakeOutcome.Fail =>
          LockSupport.parkNanos(cfg.latencyMicros * 1000L)
          failed.incrementAndGet()
          throw new java.io.IOException("injected failure")
        case FakeOutcome.Answer(r) =>
          LockSupport.parkNanos(cfg.latencyMicros * 1000L)
          answered.incrementAndGet()
          s"""{"sentiment":${Json.str(r.sentiment)},"category":${Json.str(r.category)},""" +
            s""""summary":${Json.str(r.summary)}}"""
      } finally latencies.add(System.nanoTime() - t0)
    }
  }

  /** A serializable factory for `HttpLlmClient`. */
  def factory(cfg: FakeLlmConfig): () => LlmTransport = () => new Transport(cfg)
}
