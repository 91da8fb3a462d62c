package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.crawl.{CrawlJob, FrontierStore, Status}
import graft.synth.WebGen

/** `crawl_steady`: cap-bound waves resumed from a pristine post-ramp
  * snapshot, timed at N and at 4N cores over the same waves.
  *
  * One run: set-up (session, web, a one-wave ramp at 4N cores), then one
  * leg per core level. Each core level opens a fresh
  * session, copies the ramp store, and resumes it with [[CrawlJob.run]]
  * for one whole compaction cycle (`compactEvery` waves, the first of
  * which compacts). The window spans the `run` call to the last wave's
  * ready instant, so it holds the resume too.
  */
object CrawlBench {

  final case class Geometry(hosts: Int, pages: Long, budget: Int)

  val normal = Geometry(hosts = 64, pages = 6400, budget = 16)
  val tiny = Geometry(hosts = 8, pages = 800, budget = 4)
  val compactEvery = 2
  val rampWaves = 1
  val timedWaves: Int = compactEvery

  /** The seed reaches the engine only through the seed list's order,
    * which sets `hostRank`. Hosts are crawled independently, so every
    * variant does the same work; run-to-run spread is then the machine's.
    */
  def seedList(webCfg: WebGen.Config, variant: Int): Seq[String] = {
    val rnd = new scala.util.Random(0x5eed0000L + variant)
    rnd.shuffle(WebGen.seeds(webCfg).toVector)
  }

  final case class Leg(cores: Int, waveReady: Seq[(Int, Double)],
                       published: Map[Int, Double], startS: Double,
                       counters: Probe.Counters,
                       articles: Long, firstWave: Int, lastWave: Int,
                       store: String, epochStartMs: Long, epochEndMs: Long) {
    def windowS: Double = waveReady.last._2 - startS
    def resumeS: Double = waveReady.head._2 - startS
    def urlsPerS: Double = articles / windowS
    /** Per-wave walls; the first one starts at the `run` call. */
    def waveSecs: Seq[Double] = {
      val ts = waveReady.map(_._2)
      (startS +: ts).zip(ts).map { case (a, b) => b - a }
    }
    /** Ready → `_LATEST` lag per wave; a compaction wave publishes before
      * its ready instant (compaction waits for the commit), lag 0.
      */
    def publishLags: Seq[Double] = waveReady.flatMap { case (w, t) =>
      published.get(w).map(p => math.max(0.0, p - t)) }
  }

  /** Polls `_LATEST` and records the first instant each wave id shows. */
  private final class PublishWatch(store: FrontierStore) extends Thread {
    val seen = mutable.LinkedHashMap.empty[Int, Double]
    @volatile var running = true
    setDaemon(true)
    override def run(): Unit = while (running) {
      try store.latestWave().foreach { w =>
        seen.synchronized(if (!seen.contains(w)) seen(w) = Probe.now())
      } catch { case _: Exception => () }
      Thread.sleep(2)
    }
    def stopAndGet(): Map[Int, Double] = {
      running = false; join()
      seen.synchronized(seen.toMap)
    }
  }

  def config(web: String, store: String, webCfg: WebGen.Config,
             g: Geometry, variant: Int): CrawlJob.Config =
    CrawlJob.Config(pagesPath = web, storeRoot = store,
      seeds = seedList(webCfg, variant), hostBudget = g.budget,
      compactEvery = compactEvery, expectedTotalUrls = webCfg.nPages * 3)

  /** Shared inputs for one session: bucketed pages + robots rules,
    * materialized before any timing (a fixed bucket count keeps the plan
    * the same at every core level).
    */
  def inputs(spark: SparkSession, cfg: CrawlJob.Config): (DataFrame, DataFrame) = {
    val pages = CrawlJob.bucketedPages(spark, cfg, buckets = 8)
    pages.count()
    val rules = CrawlJob.robotsRulesDf(spark, cfg)
      .persist(StorageLevel.MEMORY_AND_DISK)
    rules.count()
    (pages, rules)
  }

  /** One resumed leg of `waves` waves on a copy of the ramp store, in
    * `store`, over the session's `inputs`. A `listener` is attached for
    * the `run` call only; `onWave` runs after each wave's ready instant
    * is taken.
    */
  def leg(spark: SparkSession, cores: Int, cfg: CrawlJob.Config,
          rampStore: String, store: String, inputs: (DataFrame, DataFrame),
          waves: Int = timedWaves,
          listener: Option[LayerListener] = None,
          onWave: Int => Unit = _ => ()): Leg = {
    Fs.copyDir(rampStore, store)
    val c = cfg.copy(storeRoot = store)
    val (pages, rules) = inputs
    val fs = new FrontierStore(store)
    val first = fs.latestWave().get
    val watch = new PublishWatch(fs)
    watch.start()
    System.gc()
    val ready = mutable.ArrayBuffer.empty[(Int, Double)]
    var c1: Probe.Counters = null
    val sc = spark.sparkContext
    listener.foreach(sc.addSparkListener)
    val c0 = Probe.counters()
    val e0 = System.currentTimeMillis()
    val t0 = Probe.now()
    val last = CrawlJob.run(spark, c, stopAfterWaves = waves,
      sharedPages = Some(pages), sharedRules = Some(rules),
      onWaveDone = { w =>
        c1 = Probe.counters()
        ready += ((w, Probe.now()))
        onWave(w)
      })
    val e1 = System.currentTimeMillis()
    listener.foreach { l =>
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(l)
    }
    val published = watch.stopAndGet()
    require(last == first + waves,
      s"frontier exhausted at wave $last (expected ${first + waves})")
    val timed = (first + 1) to last
    val articles = timed.map { w =>
      if (Files.exists(Paths.get(fs.articlesPath(w))))
        spark.read.parquet(fs.articlesPath(w)).count()
      else 0L
    }.sum
    Leg(cores, ready.toSeq, published, t0, c0.to(c1), articles, first, last,
      store, e0, e1)
  }

  /** Order-independent digest of a column set: count, xor and modular
    * sum of the row hashes.
    */
  def digest(df: DataFrame, cols: String*): String = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), bit_xor(h),
      sum(pmod(h, lit(1000000007L)))).head()
    def orZero(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${r.getLong(0)}:${orZero(1)}:${orZero(2)}"
  }

  /** Digests of a finished leg's store: the seen-set keys, every timed
    * wave's fetch set, and the article text of the timed waves.
    */
  def digests(spark: SparkSession, leg: Leg): Map[String, String] = {
    val fs = new FrontierStore(leg.store)
    val timed = (leg.firstWave + 1) to leg.lastWave
    // a wave committed as store wave w holds the pages fetched by the
    // wave computed from w - 1 (their fetchWave)
    val fetchSets = timed.map { w =>
      s"fetch_w$w" -> digest(fs.readOutcomes(spark, w)
        .filter(col("scheduledRank") >= 0), "urlKey")
    }
    val arts = fs.readArticles(spark, leg.lastWave).get
      .filter(col("fetchWave") >= leg.firstWave)
    (Seq("seen_keys" -> digest(fs.allKeys(spark, leg.lastWave), "urlKey"),
      "articles" -> digest(arts, "url", "text")) ++ fetchSets).toMap
  }

  /** Articles whose text differs from the input table's `text` (or that
    * have no input row). Articles attributed through a canonical redirect
    * carry the redirecting page's text, so they are compared with the
    * text of the pages that redirected to them.
    */
  def textMismatches(spark: SparkSession, web: String, leg: Leg): Long = {
    val fs = new FrontierStore(leg.store)
    val state = (1 to leg.lastWave).map(w => fs.readOutcomes(spark, w))
      .reduce(_ unionByName _)
    val truth = spark.read.parquet(web).select(col("url"), col("text").as("expected"))
    val arts = fs.readArticles(spark, leg.lastWave).get.select("url", "text")
    val attributed = state
      .filter(col("status") === Status.Fetched && col("scheduledRank") === -1L)
      .select("url").distinct()
    val own = arts.join(attributed, Seq("url"), "left_anti")
    val ownBad = own.join(truth, Seq("url"), "left")
      .filter(col("expected").isNull || col("text") =!= col("expected")).count()
    val sources = state.filter(col("status") === Status.Redirected)
      .select(col("urlToRefer").as("url"), col("url").as("src"))
      .join(truth.withColumnRenamed("url", "src"), Seq("src"))
    val attrBad = arts.join(attributed, Seq("url"), "left_semi")
      .join(sources, Seq("url"), "left")
      .groupBy("url")
      .agg(max(coalesce(col("text") === col("expected"), lit(false))).as("ok"))
      .filter(!col("ok")).count()
    ownBad + attrBad
  }

  def setup(spark: SparkSession, work: String, g: Geometry, variant: Int)
      : (WebGen.Config, String, CrawlJob.Config, String) = {
    val webCfg = WebGen.Config(nPages = g.pages, nHosts = g.hosts, megaShare = 0.05)
    val web = s"$work/web"
    Fs.rmrf(web)
    WebGen.generate(spark, webCfg).write.parquet(web)
    Main.log("web written")
    val ramp = s"$work/store_ramp"
    Fs.rmrf(ramp)
    val cfg = config(web, ramp, webCfg, g, variant)
    val (pages, rules) = inputs(spark, cfg)
    val w = CrawlJob.run(spark, cfg, stopAfterWaves = rampWaves,
      sharedPages = Some(pages), sharedRules = Some(rules))
    require(w == rampWaves && (w + 1) % compactEvery == 0,
      s"ramp ended at wave $w: the timed cycle must start with a compaction wave")
    pages.unpersist(); rules.unpersist()
    (webCfg, web, cfg, ramp)
  }

  def run(a: Main.Args): Map[String, Any] = {
    val g = if (a.scale == "tiny") tiny else normal
    var spark = Sessions.open(a.cores4N, a.work, aqe = false)
    val (webCfg, web, cfg, ramp) = setup(spark, a.work, g, a.variant)
    val setupS = Probe.sinceJvmStart()
    Main.log("set-up done")
    Sessions.close(spark)

    // The end-to-end run times one 4N leg, the JVM's first. The traced
    // run first runs a discarded one-wave 4N leg, which takes the bulk of
    // the JIT and code-generation warm-up, then the traced 4N leg (the
    // same leg with the layer listener attached, CrawlTrace), the 4N leg
    // and the N leg. The JVM keeps warming from leg to leg, so the
    // tracing overhead (traced before untraced) errs high and the scaling
    // efficiency (N after 4N) errs low. The 4N legs share a session and
    // its inputs.
    var in: (DataFrame, DataFrame) = null
    def session(cores: Int): Unit = {
      if (in != null) {
        in._1.unpersist(); in._2.unpersist()
        Sessions.close(spark)
      }
      spark = Sessions.open(cores, a.work, aqe = false)
      in = inputs(spark, cfg)
    }
    def timedLeg(cores: Int): Leg = {
      val l = leg(spark, cores, cfg, ramp, s"${a.work}/store_c$cores", in)
      Main.log(f"leg $cores cores: window ${l.windowS}%.2f s, ${l.articles} articles, " +
        f"waves ${l.waveSecs.map(s => f"$s%.2f").mkString(" ")}")
      l
    }
    session(a.cores4N)
    val traced = if (!a.trace) None else {
      leg(spark, a.cores4N, cfg, ramp, s"${a.work}/store_warm", in, waves = 1)
      Some(CrawlTrace.run(spark, a.cores4N, cfg, ramp, web, a.work, in))
    }
    val l4 = timedLeg(a.cores4N)
    val legs = if (!a.trace) Seq(l4) else {
      session(a.coresN)
      Seq(l4, timedLeg(a.coresN))
    }
    Main.log("legs done")
    // every leg, the traced one too, must commit the same crawl
    val checked = legs.map(l => l.cores.toString -> l) ++
      traced.map(t => "traced" -> t._1)
    val dig = checked.map { case (k, l) => k -> digests(spark, l) }.toMap
    val mismatches = textMismatches(spark, web, l4)
    Main.log("checks done")
    in._1.unpersist(); in._2.unpersist()
    Sessions.close(spark)

    val legJson = legs.map { l =>
      Map("cores" -> l.cores, "window_s" -> l.windowS, "articles" -> l.articles,
        "urls_per_s" -> l.urlsPerS, "wave_s" -> l.waveSecs,
        "publish_lag_s" -> l.publishLags, "resume_s" -> l.resumeS,
        "cpu_s" -> l.counters.cpu, "gc_s" -> l.counters.gc,
        "steal_s" -> l.counters.steal,
        "cpu_ms_per_page" -> 1e3 * l.counters.cpu / l.articles.max(1L))
    }
    Map("workload" -> "crawl_steady", "setup_s" -> setupS,
      "peak_rss_mb" -> Probe.peakRssMb(),
      "geometry" -> Map("hosts" -> g.hosts, "pages" -> webCfg.nPages,
        "budget" -> g.budget, "compact_every" -> compactEvery,
        "ramp_waves" -> rampWaves, "timed_waves" -> timedWaves),
      "legs" -> legJson,
      "digests" -> dig,
      "text_mismatches" -> mismatches) ++
      traced.map(t => Map("trace" -> (t._2 ++ Map("trace.overhead_ratio" ->
        (t._1.windowS / l4.windowS - 1))))).getOrElse(Map.empty)
  }
}
