package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `analytics`: warm passes over the downstream query set on tables
  * generated from the seed (the columns the query set reads of the
  * TPC-H-like `lineitem`/`part`, `events`, `documents`, `embeddings`).
  */
object AnalyticsBench {

  val querySet: Seq[String] = Seq(
    "q01_pricing_summary", "q05_join_agg", "q08_exact_dedup",
    "q12_sessionize", "q13_ngram_jaccard", "q14_cosine_topk",
    "q16_minhash_lsh", "q20_window_rollup",
    "q31_ann_ivf", "q37_ann_pq", "q41_ann_ivfpq", "q42_dedup_corpus")

  final case class Scale(lineitem: Int, parts: Int, events: Int,
                         users: Int, docs: Int, vectors: Int)
  val normal = Scale(lineitem = 40000, parts = 2000, events = 15000,
    users = 400, docs = 600, vectors = 600)
  val tiny = Scale(lineitem = 3000, parts = 200, events = 1000,
    users = 40, docs = 120, vectors = 300)

  private val words = ("notizia governo città mercato lavoro scuola sport " +
    "squadra partita elezioni regione sindaco ospedale medico tempo pioggia " +
    "strada traffico treno porto museo mostra teatro musica festival libro " +
    "autore ricerca università studenti prezzo benzina energia gas acqua " +
    "fiume montagna mare spiaggia turismo albergo cucina vino pane olio").split(" ")

  /** Writes the five tables under `dir`, all a pure function of
    * (variant, scale).
    */
  def generate(spark: SparkSession, dir: String, variant: Int, s: Scale): Unit = {
    val seed = 7919L * (variant + 1)
    def rnd(salt: Int): org.apache.spark.sql.Column =
      rand(seed + salt)
    val t0 = lit(883612800L) // 1998-01-01
    spark.range(0, s.lineitem, 1, 4).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (floor(rnd(1) * s.parts) + 1).cast("long").as("l_partkey"),
      (floor(rnd(2) * 50) + 1).cast("double").as("l_quantity"),
      (floor(rnd(3) * 9000000) / 100 + 900).as("l_extendedprice"),
      (floor(rnd(4) * 11) / 100).as("l_discount"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (floor(rnd(5) * 3) + 1).cast("int")).as("l_returnflag"),
      when(rnd(6) < 0.5, "F").otherwise("O").as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + floor(rnd(7) * 2500 * 86400).cast("long"))
        .as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    spark.range(1, s.parts + 1L, 1, 4).select(col("id").as("p_partkey"),
      concat(lit("Brand#"), (floor(rnd(8) * 5) + 1).cast("int"),
        (floor(rnd(9) * 5) + 1).cast("int")).as("p_brand"))
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    spark.range(0, s.events, 1, 4).select(col("id").as("event_id"),
      timestamp_seconds(t0 + floor(rnd(10) * 30 * 86400).cast("long")).as("ts"),
      floor(rnd(11) * s.users).cast("long").as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("purchase"), lit("error")),
        (floor(rnd(12) * 4) + 1).cast("int")).as("event_type"),
      (floor(rnd(13) * 100000) / 100).as("value"),
      lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // documents: each base text appears in a few near-duplicate variants
    // (one word swapped), so the dedup and Jaccard queries find pairs
    val w = words
    val docs = (0 until s.docs).map { i =>
      val r = new scala.util.Random(seed * 31 + i / 3)
      val base = Array.fill(25 + r.nextInt(30))(w(r.nextInt(w.length)))
      if (i % 3 == 2) base(i % base.length) = w((i * 7) % w.length)
      val text = base.mkString(" ")
      Row(i.toLong, text, "it", s"src${(i / 3) % 8}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 4), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val vecs = (0 until s.vectors).map { i =>
      val r = new scala.util.Random(seed * 17 + i)
      val label = i % 10
      Row(i.toLong, (0 until 64).map(d =>
        ((if (d % 10 == label) 1.0 else 0.0) + r.nextGaussian() * 0.3).toFloat),
        label)
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(vecs, 4), vecSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Forces every column of a query's result: row count and an
    * order-independent hash checksum.
    */
  def checksum(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), bit_xor(h)).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  final case class QueryRun(name: String, wallS: Double, cpuS: Double,
                            checksum: String)

  def pass(spark: SparkSession, dir: String,
           group: Option[String => Unit] = None): Seq[QueryRun] =
    querySet.map { q =>
      group.foreach(_(q))
      val c0 = Probe.cpuS(); val t0 = Probe.now()
      val sum = checksum(SparkEntry.queries(q)(spark, dir))
      QueryRun(q, Probe.now() - t0, Probe.cpuS() - c0, sum)
    }

  def run(a: Main.Args): Map[String, Any] = {
    val s = if (a.scale == "tiny") tiny else normal
    val spark = Sessions.open(a.cores4N, a.work, aqe = true)
    val data = s"${a.work}/sf"
    generate(spark, data, a.variant, s)
    val setupS = Probe.sinceJvmStart()

    val first = pass(spark, data)
    // warm passes until the time budget is spent (at least one)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[QueryRun]]
    val c0 = Probe.counters()
    val t0 = Probe.now()
    while (passes.isEmpty || Probe.now() - t0 < a.seconds)
      passes += pass(spark, data)
    val window = Probe.counters()
    val windowS = Probe.now() - t0
    val expected = first.map(_.checksum)
    val badPasses = passes.count(p => p.map(_.checksum) != expected)

    val traced =
      if (a.trace) Some(AnalyticsTrace.run(spark, data, passes.toSeq)) else None
    Sessions.close(spark)

    def passJson(p: Seq[QueryRun]) = Map(
      "pass_s" -> p.map(_.wallS).sum,
      "cpu_s" -> p.map(_.cpuS).sum,
      "query_s" -> p.map(r => r.name -> r.wallS).toMap)
    Map("workload" -> "analytics", "setup_s" -> setupS,
      "peak_rss_mb" -> Probe.peakRssMb(),
      "queries" -> querySet.length,
      "first_pass" -> passJson(first),
      "passes" -> passes.map(passJson),
      "window_s" -> windowS,
      "window_cpu_s" -> c0.to(window).cpu,
      "window_gc_s" -> c0.to(window).gc,
      "window_steal_s" -> c0.to(window).steal,
      "bad_passes" -> badPasses,
      "digests" -> first.map(r => r.name -> r.checksum).toMap) ++
      traced.map(t => Map("trace" -> t)).getOrElse(Map.empty)
  }
}
