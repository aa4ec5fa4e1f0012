package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One seeded workload. The benchmark calls `prepare` once (untimed
  * input generation), `register` in every set-up rep, `warmUp` once,
  * then `runUnit` in a closed loop: the next unit starts when the
  * previous one returns.
  */
abstract class Workload(val name: String) {
  /** (unit name, seconds) of every successful unit in the current phase. */
  val samples = mutable.ArrayBuffer[(String, Double)]()
  /** (unit name, error) of every failed unit in the current phase. */
  val failures = mutable.ArrayBuffer[(String, String)]()
  /** Output checks that did not hold, over the whole run. */
  val checkFailures = mutable.ArrayBuffer[String]()
  /** Units run in the current phase. */
  def units: Int = samples.size + failures.size

  def prepare(spark: SparkSession): Unit
  /** Makes the inputs known to a new session (timed in every set-up rep). */
  def register(spark: SparkSession): Unit
  def warmUp(spark: SparkSession, tracer: Tracer): Unit
  def runUnit(spark: SparkSession, tracer: Tracer): Unit
  /** True once the phase covers every kind of unit at least once. */
  def covered: Boolean
  /** Throughput and latency percentiles of the current phase. */
  def endToEnd: ListMap[String, Double]
  /** The phase's latency samples behind `query_p50_s` and `query_p90_s`. */
  def latencySamples: Seq[Double]
  /** This workload's stage metrics for the traced phase (news stages). */
  def stageMetrics(tracer: Tracer, rec: Recorder): ListMap[String, Double]
  /** Checks the outputs once more after the timed reps. */
  def recheck(spark: SparkSession): Unit = ()
  /** Checks that need the whole run (e.g. fingerprint stability). */
  def finish(): Unit = ()

  def newPhase(): Unit = { samples.clear(); failures.clear() }

  protected def check(ok: Boolean, what: => String): Unit =
    if (!ok) checkFailures += what

  protected def error(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
}

object Workload {
  /** The median of each name's samples, in order of first appearance. */
  def perNameMedians(samples: Seq[(String, Double)]): Seq[Double] =
    samples.map(_._1).distinct.map(n => Stats.median(samples.collect { case (`n`, x) => x }))

  /** Drops everything a finished unit left cached, as `graft.Bench` does
    * between queries: SQL caches and the RDD-level persists of
    * `GlobalIndex` and the CC fixpoint's checkpoints. */
  def dropStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}

/** A closed loop over a fixed list of catalog queries at sf0.05, each
  * round in a seeded order, timed with `graft.Bench.exhaust`. */
final class CatalogWorkload(name: String, queries: Seq[String], seed: Long,
    fixtures: File, expected: Map[String, Fingerprint])
    extends Workload(name) {

  private val rnd = new scala.util.Random(seed)
  private var round = Seq.empty[String]
  /** every fingerprint seen per "<fixture dir>/<query>", over the run */
  val fingerprints = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Fingerprint]]()

  def prepare(spark: SparkSession): Unit =
    Fixtures.ensure(spark, fixtures.getPath, Fixtures.CatalogSeed, Main.CatalogScale)

  /** The loaders' schema inference, once per table. */
  def register(spark: SparkSession): Unit =
    for (t <- Fixtures.Tables) graft.Tables.load(spark, fixtures.getPath, t)

  private def fn(q: String) = graft.SparkEntry.queries(q)

  private def fingerprint(s: SparkSession, q: String): Either[String, (String, Fingerprint)] = {
    val key = s"${fixtures.getName}/$q"
    try Right(key -> Fingerprint.of(fn(q)(s, fixtures.getPath)))
    catch { case e: Throwable => Left(s"$key: ${error(e)}") }
  }

  private def record(results: Seq[Either[String, (String, Fingerprint)]]): Unit =
    results.foreach {
      case Right((key, fp)) => fingerprints.getOrElseUpdate(key, mutable.ArrayBuffer()) += fp
      case Left(failure) => check(false, failure)
    }

  /** Runs every query once at full size and fingerprints its rows, three
    * queries at a time, each in its own session of the same context (the
    * engine registers its functions per session, so sessions never race
    * on that): the cold first executions generate and compile the
    * queries' code in parallel. */
  def warmUp(spark: SparkSession, tracer: Tracer): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try record(queries.map(q => pool.submit(() => fingerprint(spark.newSession(), q)))
      .map(_.get()))
    finally pool.shutdown()
    Workload.dropStorage(spark)
  }

  /** Fingerprints every query again, one at a time in the loop's own
    * session, which also readies that session for the loop. */
  override def recheck(spark: SparkSession): Unit = {
    record(queries.map { q =>
      val r = fingerprint(spark, q)
      Workload.dropStorage(spark)
      r
    })
  }

  def runUnit(spark: SparkSession, tracer: Tracer): Unit = {
    if (round.isEmpty) round = rnd.shuffle(queries)
    val q = round.head
    round = round.tail
    val t0 = System.nanoTime()
    try {
      tracer.op(q, "query")(fn(q)(spark, fixtures.getPath))(graft.Bench.exhaust)
      samples += q -> (System.nanoTime() - t0) / 1e9
      Main.log(f"$name: $q ${samples.last._2}%.2f s")
    } catch { case e: Throwable => failures += q -> error(e) }
    Workload.dropStorage(spark)
  }

  def covered: Boolean = queries.forall(q => samples.exists(_._1 == q))

  def latencySamples: Seq[Double] = samples.map(_._2).toSeq

  /** Each query at its median over the phase; rates and percentiles are
    * over the query mix of one round, so a phase that ends part-way
    * through a round weighs every query the same. */
  def endToEnd: ListMap[String, Double] = {
    val m = Workload.perNameMedians(samples.toSeq)
    ListMap(
      "throughput_per_s" -> m.size / m.sum,
      "query_p50_s" -> Stats.median(m),
      "query_p90_s" -> Stats.quantile(m, 0.9))
  }

  def stageMetrics(tracer: Tracer, rec: Recorder): ListMap[String, Double] = ListMap()

  override def finish(): Unit =
    for ((key, fps) <- fingerprints) {
      check(fps.distinct.size == 1,
        s"$key: fingerprint changed across reps: ${fps.distinct.mkString(", ")}")
      expected.get(key) match {
        case Some(want) => check(fps.forall(_ == want), s"$key: fingerprint ${fps.head} != recorded $want")
        case None => check(false, s"$key: no recorded fingerprint")
      }
    }
}

/** The paper's job on one seeded corpus: clean → enrich (through
  * `HttpLlmClient` over the fake transport, which fails `failRate` and
  * hangs `hangRate` of the calls) → dedup verdicts
  * (`TextOps.corpusClean`) → partitioned publish → dashboard SQL. */
final class NewsWorkload(name: String, seed: Long, work: File, failRate: Double,
    hangRate: Double) extends Workload(name) {

  val cores = Main.Cores
  val llm = FakeLlmConfig(seed, latencyMicros = NewsWorkload.LatencyMicros,
    failRate = failRate, hangRate = hangRate, hangMs = 5000L)
  val concurrency = 8
  val waveTimeoutMs = 100L

  private var corpus: NewsCorpus = _
  private var corpusPath: String = _
  private var warmCorpusPath: String = _
  private var iteration = 0

  /** per-iteration stage numbers of the current phase */
  val stageRows = mutable.ArrayBuffer[ListMap[String, Double]]()
  val dashboardSamples = mutable.ArrayBuffer[(String, Double)]()
  val articlesPerS = mutable.ArrayBuffer[Double]()

  override def newPhase(): Unit = {
    super.newPhase(); stageRows.clear(); dashboardSamples.clear(); articlesPerS.clear()
  }

  def prepare(spark: SparkSession): Unit = {
    val docs = Fixtures.documents(Fixtures.CatalogSeed, 5000)
    corpus = NewsCorpus.generate(docs, NewsWorkload.Replicas, seed, dupRate = 0.03)
    corpusPath = corpus.writeJsonl(new File(work, "corpus"))
    warmCorpusPath = NewsCorpus.generate(docs.take(300), 1, seed, 0.03)
      .writeJsonl(new File(work, "corpus-warm"))
  }

  def register(spark: SparkSession): Unit = ()

  /** One pipeline iteration over a 300-article corpus. */
  def warmUp(spark: SparkSession, tracer: Tracer): Unit = {
    val dir = new File(work, "warm")
    pipeline(spark, tracer, warmCorpusPath, dir, None)
    Files.deleteTree(dir)
  }

  def runUnit(spark: SparkSession, tracer: Tracer): Unit = {
    iteration += 1
    val dir = new File(work, s"iter-$iteration")
    try tracer.span("pipeline", "etl")(pipeline(spark, tracer, corpusPath, dir, Some(corpus)))
    catch { case e: Throwable => failures += "pipeline" -> error(e) }
    finally {
      Workload.dropStorage(spark)
      Files.deleteTree(dir)
    }
  }

  def covered: Boolean = samples.nonEmpty

  def latencySamples: Seq[Double] = dashboardSamples.map(_._2).toSeq

  /** One pipeline iteration. With `expect` set, records its numbers and
    * checks its outputs against the generator and the fake. */
  private def pipeline(spark: SparkSession, tracer: Tracer, jsonl: String, dir: File,
      expect: Option[NewsCorpus]): Unit = {
    import graft.etl.{Catalog, Clean, Enrich, HttpLlmClient}
    val t0 = System.nanoTime()
    var stageS = ListMap[String, Double]()
    def timed[A](stage: String)(body: => A): A = {
      val s0 = System.nanoTime()
      try body finally stageS += (s"${stage}_s" -> (System.nanoTime() - s0) / 1e9)
    }
    FakeLlm.resetCounters()

    val cleanPath = timed("clean")(tracer.op("clean", "etl.Clean")(
      Clean.run(spark, jsonl))(df => Clean.write(df, s"$dir/clean")))
    val enrichCfg = Enrich.Config(
      client = new HttpLlmClient(FakeLlm.factory(llm)),
      maxConcurrentPerTask = concurrency,
      waveTimeoutMs = waveTimeoutMs)
    val enrichedPath = timed("enrich")(tracer.op("enrich", "etl.Enrich")(
      Enrich.run(spark, spark.read.parquet(cleanPath).repartition(cores), enrichCfg))(
      df => Enrich.write(df, s"$dir/enriched")))
    val enriched = spark.read.parquet(enrichedPath)
    val verdictsPath = s"$dir/verdicts"
    timed("dedup")(tracer.op("dedup", "dedup")(graft.queries.TextOps.corpusClean(
      enriched.select(col("id_news").as("doc_id"), col("content").as("text"))))(
      _.write.parquet(verdictsPath)))
    val verdicts = spark.read.parquet(verdictsPath)
    val publishPath = s"$dir/published"
    timed("publish")(tracer.op("publish", "etl.Catalog")(
      enriched.join(verdicts, col("id_news") === col("doc_id")).drop("doc_id"))(
      df => {
        Catalog.writePartitioned(df, publishPath)
        Catalog.registerView(spark.read.parquet(publishPath))
      }))
    // each dashboard twice, so every run holds a few samples per query
    val dashboards = for (_ <- 1 to 2; (q, sql) <- NewsWorkload.Dashboards) yield {
      val s0 = System.nanoTime()
      val rows = tracer.op(s"dashboard:$q", "dashboard")(spark.sql(sql))(_.collect())
      if (expect.isDefined) dashboardSamples += q -> (System.nanoTime() - s0) / 1e9
      q -> rows
    }
    val wallS = (System.nanoTime() - t0) / 1e9

    expect.foreach { c =>
      samples += "pipeline" -> wallS
      articlesPerS += c.articles.size / wallS
      val cleanRows = spark.read.parquet(cleanPath).count()
      val enrichedRows = outputsChecked(enriched)
      val published = spark.table("enriched_news")
      val v = verdicts.agg(count(lit(1)), sum(when(col("is_exact_dup"), 1L).otherwise(0L)),
        sum(when(col("kept"), 1L).otherwise(0L))).head()
      check(cleanRows == c.cleanRows, s"clean rows $cleanRows != predicted ${c.cleanRows}")
      check(v.getLong(1) == c.exactDupRows,
        s"exact duplicates ${v.getLong(1)} != predicted ${c.exactDupRows}")
      check(v.getLong(0) == enrichedRows._1, s"dedup verdicts ${v.getLong(0)} != enriched rows")
      val publishedRows = published.count()
      check(publishedRows == enrichedRows._1,
        s"published rows $publishedRows != enriched rows ${enrichedRows._1}")
      for ((q, rows) <- dashboards) {
        val want = NewsWorkload.dashboardViaApi(q, published)
        check(rows.map(_.toSeq).toSet == want.map(_.toSeq).toSet && rows.length == want.length,
          s"dashboard $q differs from its DataFrame API aggregate")
      }
      val lat = FakeLlm.latencyMs
      val files = Option(new File(publishPath)).toSeq.flatMap(Files.walk)
        .filter(f => f.isFile && f.getName.startsWith("part-"))
      stageRows += stageS ++ ListMap(
        "clean_rows_in" -> c.articles.size.toDouble,
        "clean_rows_kept" -> cleanRows.toDouble,
        "enrich_rows" -> enrichedRows._1.toDouble,
        "enrich_error_rows" -> enrichedRows._2.toDouble,
        "llm_calls" -> FakeLlm.calls.get.toDouble,
        "llm_call_p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
        "llm_failed_injected" -> FakeLlm.failed.get.toDouble,
        "llm_hung_injected" -> FakeLlm.hung.get.toDouble,
        "dedup_kept_frac" -> v.getLong(2).toDouble / math.max(1L, v.getLong(0)),
        "publish_bytes" -> files.map(_.length).sum.toDouble,
        "publish_files" -> files.size.toDouble)
    }
  }

  /** Checks every enriched row against the fake (see
    * [[NewsWorkload.checkEnriched]]); returns (rows, ERROR_API rows). */
  private def outputsChecked(enriched: DataFrame): (Long, Long) = {
    val rows = NewsWorkload.enrichedRows(enriched)
    val (errors, failed) = NewsWorkload.checkEnriched(llm, rows, FakeLlm.hung.get, concurrency)
    failed.foreach(f => check(false, f))
    (rows.size.toLong, errors)
  }

  /** Latency percentiles are over the three dashboards, each at its
    * median, as for the catalog mix. */
  def endToEnd: ListMap[String, Double] = {
    val m = Workload.perNameMedians(dashboardSamples.toSeq)
    ListMap(
      "throughput_per_s" -> Stats.median(articlesPerS.toSeq),
      "query_p50_s" -> Stats.median(m),
      "query_p90_s" -> Stats.quantile(m, 0.9))
  }

  def stageMetrics(tracer: Tracer, rec: Recorder): ListMap[String, Double] = {
    def med(k: String): Double = Stats.median(stageRows.map(_(k)).toSeq)
    def total(k: String): Double = stageRows.map(_(k)).sum
    val bound = cores * concurrency / (llm.latencyMicros / 1e6)
    val enrichRate = total("clean_rows_kept") / total("enrich_s")
    val dedupJobs = tracer.ops.filter(_.span.name == "dedup")
      .map(o => rec.byTag.get(o.tag).map(_.jobs).getOrElse(0L).toDouble)
    val planS = tracer.ops.filter(_.span.name.startsWith("dashboard:"))
      .map(o => (o.buildEndUs - o.span.startUs) / 1e6)
    ListMap(
      "clean_s" -> med("clean_s"),
      "clean_rows_in" -> med("clean_rows_in"),
      "clean_rows_kept" -> med("clean_rows_kept"),
      "enrich_s" -> med("enrich_s"),
      "enrich_rows_per_s" -> enrichRate,
      "enrich_bound_rows_per_s" -> bound,
      "enrich_efficiency" -> enrichRate / bound,
      "enrich_error_frac" -> total("enrich_error_rows") / total("enrich_rows"),
      "llm_calls" -> med("llm_calls"),
      "llm_call_p50_ms" -> med("llm_call_p50_ms"),
      "llm_failed_injected" -> med("llm_failed_injected"),
      "llm_hung_injected" -> med("llm_hung_injected"),
      "dedup_s" -> med("dedup_s"),
      "dedup_jobs" -> Stats.median(dedupJobs.toSeq),
      "dedup_kept_frac" -> med("dedup_kept_frac"),
      "publish_s" -> med("publish_s"),
      "publish_bytes" -> med("publish_bytes"),
      "publish_files" -> med("publish_files"),
      "dashboard_plan_s" -> Stats.median(planS.toSeq))
  }
}

object NewsWorkload {
  /** Fixed per-call latency of the fake model (8 ms). */
  val LatencyMicros = 8000L

  /** Copies of the 5,000 documents in the corpus: 10,000 raw articles. */
  val Replicas = 2

  val Dashboards: Seq[(String, String)] = Seq(
    "sentiment_by_month" ->
      """SELECT date_trunc('MONTH', publish_date) AS month, sentiment_llm,
        |  COUNT(*) AS articles
        |FROM enriched_news WHERE NOT is_exact_dup
        |GROUP BY date_trunc('MONTH', publish_date), sentiment_llm""".stripMargin,
    "category_distribution" ->
      """SELECT category, COUNT(*) AS articles,
        |  SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS kept_articles
        |FROM enriched_news GROUP BY category""".stripMargin,
    "market_impact_by_category" ->
      """SELECT category, category_llm, COUNT(*) AS articles,
        |  SUM(CASE WHEN sentiment_llm = 'Negative' THEN 1 ELSE 0 END) AS negative,
        |  MAX(market_impact_summary) AS sample_summary
        |FROM enriched_news WHERE sentiment_llm <> 'ERROR_API'
        |GROUP BY category, category_llm""".stripMargin)

  /** (title, content, model result) of every enriched row. */
  def enrichedRows(enriched: DataFrame): Seq[(String, String, graft.etl.LlmResult)] =
    enriched.select("title", "content", "sentiment_llm", "category_llm",
      "market_impact_summary").collect().toSeq.map(r =>
      (r.getString(0), r.getString(1),
        graft.etl.LlmResult(r.getString(2), r.getString(3), r.getString(4))))

  /** Checks enriched rows against the fake configured by `cfg`:
    *   - every non-error row is the fake's answer for its (title, content);
    *   - every injected failure or hang is an ERROR_API row;
    *   - error rows the fake would have answered are collateral of a wave
    *     timeout, which takes down at most the other `concurrency - 1`
    *     calls of a wave per hung call, so there are at most that many
    *     per hang the fake saw (`hungInjected`).
    * Returns the ERROR_API row count and the checks that failed. */
  def checkEnriched(cfg: FakeLlmConfig, rows: Seq[(String, String, graft.etl.LlmResult)],
      hungInjected: Long, concurrency: Int): (Long, Seq[String]) = {
    var errors = 0L
    var wrong = 0L
    var collateral = 0L
    for ((title, content, got) <- rows) {
      val isError = got.sentiment == "ERROR_API"
      if (isError) errors += 1
      FakeLlm.outcome(cfg, title, content) match {
        case FakeOutcome.Answer(want) =>
          if (isError) collateral += 1 else if (got != want) wrong += 1
        case _ => if (!isError) wrong += 1
      }
    }
    val allowed = (concurrency - 1).toLong * hungInjected
    (errors,
      (if (wrong > 0) Seq(s"$wrong enriched rows differ from the fake's answer") else Nil) ++
      (if (collateral > allowed) Seq(s"$collateral answerable rows are ERROR_API, more than " +
        s"the $allowed that $hungInjected hung calls can take down") else Nil))
  }

  /** Each dashboard's aggregate restated with the DataFrame API. */
  def dashboardViaApi(q: String, t: DataFrame): Array[Row] = q match {
    case "sentiment_by_month" =>
      t.filter(!col("is_exact_dup"))
        .groupBy(date_trunc("MONTH", col("publish_date")).as("month"), col("sentiment_llm"))
        .agg(count(lit(1)).as("articles")).collect()
    case "category_distribution" =>
      t.groupBy(col("category"))
        .agg(count(lit(1)).as("articles"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept_articles")).collect()
    case "market_impact_by_category" =>
      t.filter(col("sentiment_llm") =!= "ERROR_API")
        .groupBy(col("category"), col("category_llm"))
        .agg(count(lit(1)).as("articles"),
          sum(when(col("sentiment_llm") === "Negative", 1L).otherwise(0L)).as("negative"),
          max(col("market_impact_summary")).as("sample_summary")).collect()
  }
}
