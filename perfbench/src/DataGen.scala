package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes the benchmark's input tables as one parquet file each, in the
  * layout the engine's `Tables` loaders read (`<dir>/<name>.parquet`).
  *
  * The corpus is fixed: it is generated from [[CorpusSeed]], never from
  * the run seed, so every run serves the same index and the batch
  * digests recorded in [[Expected]] stay valid. The run seed only picks
  * the serve queries and the write batches. Shapes follow
  * the sf0.1 fixtures: 2,000 64-d unit vectors in 10 labels, 5,000
  * documents from 20 sources over a 30-word vocabulary (each source a
  * 12-word window of it) with some exact and near duplicates, and a TPC-H-like star at half that scale (300,000 line
  * items).
  */
object DataGen {

  val CorpusSeed = 42L
  val Dim = 64
  val NVectors = 2000
  val NDocs = 5000
  val NSources = 20
  /** Words one source draws from: a window of the vocabulary. */
  val SourceVocab = 12

  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** The corpus vectors, row i = vec_id i, unit length as floats. */
  def vectors(): Array[Array[Float]] = {
    val rng = new java.util.SplittableRandom(CorpusSeed)
    Array.fill(NVectors) {
      val g = Array.fill(Dim)(Inputs.gaussian(rng))
      val n = math.sqrt(g.map(x => x * x).sum)
      g.map(x => (x / n).toFloat)
    }
  }

  def embeddings(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(CorpusSeed + 1)
    vectors().zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq, rng.nextInt(10)) }
      .toSeq.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def documents(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(CorpusSeed + 2)
    val langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
    val texts = new Array[String](NDocs)
    for (i <- 0 until NDocs) {
      // each source writes from its own window of the vocabulary, so word
      // pairs from far-apart windows never form a bigram: the Kneser-Ney
      // continuation counts then differ from the plain bigram counts
      val from = (i % NSources) * 3
      texts(i) =
        if (i % 625 == 624) texts(i - 300)                    // exact duplicate
        else if (i % 40 == 39) texts(i - 1) + " dup"          // near duplicate
        else Seq.fill(10 + rng.nextInt(91))(
          Vocab((from + rng.nextInt(SourceVocab)) % Vocab.size)).mkString(" ")
    }
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, langs(rng.nextInt(langs.size)), s"src${i % NSources}", t.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Uniform [0, 1) per (row id, column salt): partitioning-independent. */
  private def u(salt: Int): Column =
    pmod(xxhash64(col("id"), lit(salt), lit(CorpusSeed)), lit(1000000L)) / 1e6
  private def pick(salt: Int, n: Long): Column = floor(u(salt) * n).cast("long")
  private def day(salt: Int, from: String, days: Int): Column =
    to_timestamp(date_add(lit(from).cast("date"), pick(salt, days).cast("int")))

  def star(spark: SparkSession, dir: String): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val nCust = 7500L; val nSupp = 500L; val nPart = 10000L; val nOrd = 75000L
    write("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    write("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    write("customer", spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(1, 25).cast("int").as("c_nationkey"),
      round(u(2) * 10000 - 1000, 2).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(lit): _*),
        (pick(3, 5) + 1).cast("int")).as("c_mktsegment")))
    write("supplier", spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(4, 25).cast("int").as("s_nationkey"), round(u(5) * 10000 - 1000, 2).as("s_acctbal")))
    val colors = Seq("large", "hot", "blue", "green", "red", "ivory", "khaki", "lemon")
    val things = Seq("ring", "bolt", "nut", "gear", "pipe", "valve")
    write("part", spark.range(nPart).select(col("id").as("p_partkey"),
      concat(element_at(array(colors.map(lit): _*), (pick(6, colors.size) + 1).cast("int")), lit(" "),
        element_at(array(things.map(lit): _*), (pick(7, things.size) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), pick(8, 25) + 1).as("p_brand"),
      element_at(array(Seq("LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD").map(lit): _*),
        (pick(9, 5) + 1).cast("int")).as("p_type"),
      (pick(10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice")))
    write("orders", spark.range(nOrd).select(col("id").as("o_orderkey"),
      pick(11, nCust).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")), (pick(12, 3) + 1).cast("int")).as("o_orderstatus"),
      round(u(13) * 400000 + 1000, 2).as("o_totalprice"),
      day(14, "1995-01-01", 2405).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (pick(15, 5) + 1).cast("int")).as("o_orderpriority")))
    write("lineitem", spark.range(nOrd * 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      pick(16, nPart).as("l_partkey"), pick(17, nSupp).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (pick(18, 50) + 1).cast("double").as("l_quantity"),
      round(u(19) * 100000 + 900, 2).as("l_extendedprice"),
      (pick(20, 11) / 100.0).as("l_discount"), (pick(21, 9) / 100.0).as("l_tax"),
      element_at(array(lit("N"), lit("A"), lit("R")), (pick(22, 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (pick(23, 2) + 1).cast("int")).as("l_linestatus"),
      day(24, "1995-01-02", 2498).as("l_shipdate")))
  }
}
