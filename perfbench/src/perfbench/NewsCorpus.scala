package perfbench

import java.io.File
import java.util.SplittableRandom

/** One raw news article as the reference's JSONL carries it; null
  * fields are written as JSON nulls. */
final case class RawArticle(link: String, headline: String, category: String,
    body: String, authors: String, date: String)

/** A generated corpus and the counts the generator predicts for it. */
final case class NewsCorpus(articles: IndexedSeq[RawArticle], cleanRows: Long,
    exactDupRows: Long) {

  /** Writes the JSONL the clean stage reads; returns its path. */
  def writeJsonl(dir: File): String = {
    val f = new File(dir, "news.jsonl")
    Files.write(f, articles.map(NewsCorpus.jsonLine).mkString("", "\n", "\n"))
    f.getPath
  }
}

/** Seeded news-JSONL generator over the `documents` fixture, in the way
  * the sf1 replicator scales it: replica k > 0 prefixes "r<k> " to every
  * text, which keeps each replica's internal near-duplicate structure
  * and breaks collisions across replicas. On top it plants the edge
  * cases the clean stage must handle (null headline or body, off-list
  * categories, unparseable and repeated dates) and a rate of exact
  * duplicates (a copy of an earlier article under a new link).
  *
  * The generator applies the clean stage's filters to its own rows to
  * predict the clean row count, and counts repeated bodies among the
  * surviving rows to predict how many the dedup stage flags as exact
  * duplicates.
  */
object NewsCorpus {
  val OffList: Seq[String] = Seq("SPORTS", "COMEDY", "ENTERTAINMENT")
  private val Kept = graft.schema.Schemas.categoriesToKeep
  private val BadDates = Seq("not-a-date", "TBD", "31/31/2023")
  private val Epoch = java.time.LocalDate.of(2022, 1, 1)

  def generate(docs: IndexedSeq[Doc], replicas: Int, seed: Long,
      dupRate: Double): NewsCorpus = {
    val rnd = new SplittableRandom(seed)
    val out = new Array[RawArticle](docs.size * replicas)
    for (k <- 0 until replicas; d <- docs) {
      val i = k * docs.size + d.docId.toInt
      val link = s"https://news.example/a/$i"
      out(i) =
        if (i > 0 && rnd.nextDouble() < dupRate) out(rnd.nextInt(i)).copy(link = link)
        else {
          val body = if (k == 0) d.text else s"r$k ${d.text}"
          RawArticle(
            link = link,
            headline = if (rnd.nextInt(17) == 0) null
              else body.split(' ').take(8).mkString(" ").capitalize,
            category = if (rnd.nextInt(7) < 2) OffList(rnd.nextInt(OffList.size))
              else Kept(rnd.nextInt(Kept.size)),
            body = if (rnd.nextInt(13) == 0) null else body,
            authors = s"Desk ${rnd.nextInt(40)}",
            date = if (rnd.nextInt(31) == 0) BadDates(rnd.nextInt(BadDates.size))
              else Epoch.plusDays(rnd.nextInt(730).toLong).toString)
        }
    }
    val clean = out.filter(survivesClean)
    NewsCorpus(out.toIndexedSeq, clean.length.toLong,
      (clean.length - clean.map(_.body).distinct.length).toLong)
  }

  /** The clean stage's row filter, restated from its documented contract. */
  def survivesClean(a: RawArticle): Boolean =
    a.headline != null && a.body != null && a.category != null &&
      Kept.contains(a.category) && !BadDates.contains(a.date)

  def jsonLine(a: RawArticle): String = {
    import Json.str
    s"""{"link":${str(a.link)},"headline":${str(a.headline)},"category":${str(a.category)},""" +
      s""""short_description":${str(a.body)},"authors":${str(a.authors)},"date":${str(a.date)}}"""
  }
}
