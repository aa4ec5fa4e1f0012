package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One generated `documents` row. */
final case class Doc(docId: Long, text: String, lang: String, source: String)

/** Seeded stand-ins for the sf0.1 fixture tables the benchmark's queries
  * read (TESTDATA.md shapes and row counts: 600k lineitem, 150k orders,
  * 15k customers, 5k documents, 2k embeddings). The distributions follow
  * the reference fixtures: uniform keys and prices, unit 64-d
  * embeddings, and word-salad documents over a 30-word vocabulary with
  * 5 % planted near-duplicates (`<text> dup`) and a few exact ones.
  *
  * Every value is a pure function of (seed, table, row), so the same
  * seed writes the same rows on any partitioning.
  */
object Fixtures {

  /** The catalog workloads always read this seed's tables; their own
    * seed only orders the query loop. That keeps each query's recorded
    * result fingerprint valid for every workload seed.
    */
  val CatalogSeed = 42L

  /** The tables the benchmark's catalog queries read. */
  val Tables: Seq[String] = Seq("region", "nation", "customer", "orders", "lineitem",
    "documents", "embeddings")

  val Vocabulary: IndexedSeq[String] = ("a agg batch big column customer data fast filter " +
    "group hash join key line merge order part query row scan slow small sort spark " +
    "stream table the value vector window").split(" ").toIndexedSeq

  private val Langs = Seq("en" -> 0.41, "fr" -> 0.15, "zh" -> 0.15, "de" -> 0.14,
    "es" -> 0.15)

  /** `n` documents: 10–100 words each; 5 % are an earlier document plus
    * " dup", 0.2 % an exact copy of an earlier one.
    */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new SplittableRandom(seed ^ 0x646f6373L)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val roll = rnd.nextDouble()
      val text =
        if (i > 0 && roll < 0.05) texts(rnd.nextInt(i)) + " dup"
        else if (i > 0 && roll < 0.052) texts(rnd.nextInt(i))
        else Iterator.fill(10 + rnd.nextInt(91))(Vocabulary(rnd.nextInt(Vocabulary.size)))
          .mkString(" ")
      texts(i) = text
      var u = rnd.nextDouble()
      val lang = Langs.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("en")
      Doc(i.toLong, text, lang, s"src${i % 20}")
    }
  }

  /** Writes every table as one parquet file per table under `dir`
    * (`<dir>/<table>.parquet`, the layout `graft.Tables.load` reads).
    * `scale` multiplies the sf0.1 row counts of the scaled tables.
    */
  def write(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    def rows(sf01: Int): Long = math.max(1L, math.round(sf01 * scale))
    val nOrders = rows(150000)
    val nCust = rows(15000)
    val nPart = rows(20000)
    val nSupp = rows(1000)

    // uniform [0, 1) from (seed, salt, id): partitioning-independent
    def u(salt: Int): Column =
      xxhash64(lit(seed), lit(salt), col("id")).bitwiseAND(lit((1L << 53) - 1)).cast("double") /
        lit(9007199254740992.0)
    def int(salt: Int, lo: Long, hi: Long): Column =
      (floor(u(salt) * (hi - lo + 1)) + lo).cast("long")
    def money(salt: Int, lo: Double, hi: Double): Column =
      round(u(salt) * (hi - lo) + lo, 2)
    def pick(salt: Int, values: String*): Column =
      element_at(array(values.map(lit): _*), (int(salt, 1, values.size)).cast("int"))
    def day(salt: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), int(salt, 0, days - 1).cast("int")).cast("timestamp")
    def range(n: Long): DataFrame = spark.range(0L, n, 1L, 4).toDF()
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", spark.createDataFrame(java.util.Arrays.asList(
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
          .map { case (n, i) => Row(i, n) }: _*),
      StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType)))))
    save("nation", range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      int(1, 0, 24).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .as("c_mktsegment")))
    save("orders", range(nOrders).select(col("id").as("o_orderkey"),
      int(1, 0, nCust - 1).as("o_custkey"),
      pick(2, "O", "F", "P").as("o_orderstatus"),
      money(3, 1000.0, 500000.0).as("o_totalprice"),
      day(4, "1995-01-01", 2404).as("o_orderdate"),
      pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority")))
    save("lineitem", range(rows(600000)).select(
      int(1, 0, nOrders - 1).as("l_orderkey"),
      int(2, 0, nPart - 1).as("l_partkey"),
      int(3, 0, nSupp - 1).as("l_suppkey"),
      int(4, 1, 7).cast("int").as("l_linenumber"),
      int(5, 1, 50).cast("double").as("l_quantity"),
      money(6, 900.0, 105000.0).as("l_extendedprice"),
      (int(7, 0, 10) / 100.0).as("l_discount"),
      (int(8, 0, 8) / 100.0).as("l_tax"),
      pick(9, "A", "N", "R").as("l_returnflag"),
      pick(10, "O", "F").as("l_linestatus"),
      day(11, "1995-01-02", 2499).as("l_shipdate")))
    val docs = documents(seed, rows(5000).toInt)
    save("documents", spark.createDataFrame(java.util.Arrays.asList(docs.map(d =>
        Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)): _*),
      graft.schema.Schemas.documents))
    val rnd = new SplittableRandom(seed ^ 0x656d62L)
    val embeddings = (0 until rows(2000).toInt).map { i =>
      val v = Array.fill(64)(rnd.nextDouble() * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    save("embeddings", spark.createDataFrame(java.util.Arrays.asList(embeddings: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, containsNull = false)),
        StructField("label", IntegerType)))))
  }

  /** Generates the tables into `dir` unless a finished copy is already
    * there: written to a sibling temp dir, then renamed, so an
    * interrupted run never leaves a half-written set behind.
    */
  def ensure(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    val target = new File(dir)
    if (!new File(target, "_COMPLETE").isFile) {
      val tmp = new File(target.getParentFile, target.getName + ".tmp")
      Files.deleteTree(tmp)
      write(spark, tmp.getPath, seed, scale)
      new File(tmp, "_COMPLETE").createNewFile()
      Files.deleteTree(target)
      if (!tmp.renameTo(target)) sys.error(s"cannot move fixtures into $dir")
    }
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def walk(f: File): Seq[File] =
    f +: Option(f.listFiles()).toSeq.flatMap(_.toSeq.sortBy(_.getName).flatMap(walk))

  def write(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(text) finally w.close()
  }
}
