package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.crawl.{CrawlJob, FrontierSchema, FrontierStore, PageParse, ShardedBloom}

/** Traced run of `crawl_steady`: the engine's own 4N leg
  * ([[CrawlBench.leg]], i.e. `CrawlJob.run`) once more, with
  * [[LayerListener]] attached for the `run` call. Every Spark stage is
  * credited to a layer by the call site Spark records for it:
  *
  *  - `ShardedBloom` in the call stack: `bloom` (the Bloom update);
  *  - `FrontierStore.commitWave`: `commit` (delta write + lineage);
  *  - `FrontierStore.compactFrom` / `expireSnapshots`: `compact`;
  *  - created at a `localCheckpoint` call: `pending_view` (the shuffle
  *    stages of the incremental pending-view upkeep; its last step runs
  *    inside the next wave's first job and counts to `scheduler`);
  *  - broadcasts (Spark threads, no engine frame): the layer of their
  *    SQL execution's last stage, or `pending_view` when the execution
  *    has no other stage (a plan prepared by the lazy `localCheckpoint`);
  *  - an action inside `CrawlJob.runWave`: by the action's rank in
  *    source order. The first action is the politeness count
  *    (`scheduler`), the second the parse count (`fetch` for its
  *    stages without a `MapPartitions` operator, `parse` for the stage
  *    that runs the parser, which also probes the fetch join), the third
  *    the new-entries count (`expand` for the stage that writes the
  *    candidate exchange, `seen` for the rest: dedup, Bloom probe,
  *    anti-join), later ones the wave's metric counts (`wave_stats`).
  *
  * Wall time of a layer is the union of its stages' intervals; CPU, GC
  * and shuffle bytes are its tasks' sums. Row counts come from the
  * committed wave manifests; the Bloom filter's realized false-positive
  * rate comes from snapshots of the filter taken at each wave's ready
  * instant.
  */
object CrawlTrace {

  type Stage = LayerListener#Stage

  private val crawlLine = """CrawlJob\.scala:(\d+)""".r

  private def site(s: Stage): Either[String, Int] =
    if (s.details.contains("ShardedBloom")) Left("bloom")
    else if (s.details.contains("commitWave")) Left("commit")
    else if (s.details.contains("compactFrom") || s.details.contains("expireSnapshots"))
      Left("compact")
    else if (s.name.startsWith("localCheckpoint at")) Left("pending_view")
    else if (s.details.contains("CrawlJob$.runWave"))
      crawlLine.findFirstMatchIn(s.name).map(m => Right(m.group(1).toInt))
        .getOrElse(Left("other"))
    else Left("other")

  /** Layer of every recorded stage (see the object doc). */
  def layers(stages: Seq[Stage]): Seq[(Stage, String)] = {
    val sites = stages.map(s => s -> site(s))
    val rank = sites.flatMap(_._2.toOption).distinct.sorted.zipWithIndex.toMap
    // the new-entries job: its candidate exchange is its largest
    // shuffle write outside the keys-log scan
    val expandStages = sites.collect {
      case (s, Right(line)) if rank(line) == 2 && !s.scopes.exists(_.startsWith("Scan ")) => s
    }.groupBy(_.execution).values.map(_.maxBy(_.shuffleBytes).id).toSet
    val direct = sites.map {
      case (s, Left(layer)) => s -> layer
      case (s, Right(line)) => s -> (rank(line) match {
        case 0 => "scheduler"
        case 1 => if (s.scopes.contains("MapPartitions")) "parse" else "fetch"
        case 2 => if (expandStages(s.id)) "expand" else "seen"
        case _ => "wave_stats"
      })
    }
    // broadcasts run on Spark's own threads, with no engine frame in
    // their call site: they join the layer of their SQL execution's
    // last stage (the action that needed them). An execution of
    // broadcasts alone is a plan prepared without an action: the lazy
    // localCheckpoint of the next pending view.
    val byExecution = direct.filter(_._2 != "other")
      .groupBy(_._1.execution).map { case (e, v) => e -> v.maxBy(_._1.id)._2 }
    direct.map {
      case (s, "other") if s.execution != "none" && !s.details.contains("graft.") =>
        s -> byExecution.getOrElse(s.execution, "pending_view")
      case x => x
    }
  }

  /** Single-thread parse cost over a fixed sample of pages (ms/page,
    * second of two passes, so the JIT has compiled the parser).
    */
  def parseMsPerPage(spark: SparkSession, web: String): Double = {
    val sample = spark.read.parquet(web)
      .filter(col("url").contains("/news/") || col("url").contains("/sezione/"))
      .orderBy(xxhash64(col("url"))).limit(300)
      .select("url", "html").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    def once(): Double = {
      val t0 = System.nanoTime()
      sample.foreach { case (u, h) => PageParse.parse(h, u, graft.NewsUrl.isNewsUrl(u)) }
      (System.nanoTime() - t0) / 1e6 / sample.length.max(1)
    }
    once(); once()
  }

  /** Numeric fields of a committed wave's `manifest.json`. */
  private def manifest(fs: FrontierStore, w: Int): Map[String, Double] = {
    val p = Paths.get(fs.deltaPath(w)).getParent.resolve("manifest.json")
    """"(\w+)":\s*(-?[0-9.]+)""".r.findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Runs the traced leg in `spark`'s session (`cores` cores) over its
    * `inputs`; returns the leg with its per-layer metrics.
    */
  def run(spark: SparkSession, cores: Int, cfg: CrawlJob.Config, ramp: String,
          web: String, work: String,
          inputs: (DataFrame, DataFrame)): (CrawlBench.Leg, Map[String, Any]) = {
    val listener = new LayerListener
    val store = s"$work/store_traced"
    val fs = new FrontierStore(store)
    val snaps = s"$work/bloom_snapshots"
    def snapshot(w: Int): Unit = Fs.copyDir(fs.bloomDir, s"$snaps/w$w")
    // the filter each timed wave probes: the ramp's, then the one
    // written before each wave's ready instant
    val leg = CrawlBench.leg(spark, cores, cfg, ramp, store, inputs,
      listener = Some(listener), onWave = snapshot)
    Fs.copyDir(new FrontierStore(ramp).bloomDir, s"$snaps/w${leg.firstWave}")

    Main.log(f"traced leg: window ${leg.windowS}%.2f s")
    val waves = (leg.lastWave - leg.firstWave).toDouble
    val byLayer = layers(listener.stages).groupBy(_._2)
      .map { case (k, v) => k -> v.map(_._1) }.withDefaultValue(Nil)
    def wall(l: String) = Spans.coveredS(byLayer(l).map(s => (s.start, s.end)))
    def perWave(l: String) = wall(l) / waves
    def cpu(l: String) = byLayer(l).map(_.cpuNs).sum / 1e9 / waves
    def shuffle(l: String) = byLayer(l).map(_.shuffleBytes).sum / waves
    val stages = listener.stages

    // counts of the committed timed waves (wave w + 1 holds the outcome
    // of the wave computed from state w)
    val timed = leg.firstWave until leg.lastWave
    val m = timed.map(w => manifest(fs, w + 1))
    def total(k: String) = m.map(_(k)).sum
    val rowsIn = timed.map(w => fs.pendingView(spark, w).count()).sum
    val bloomMeta = ShardedBloom.ensure(fs.bloomDir, cfg.bloomShards,
      cfg.expectedTotalUrls, cfg.bloomFpp, fs.allKeys(spark, leg.lastWave))
    val newPositive = timed.map { w =>
      val snap = ShardedBloom.ensure(s"$snaps/w$w", bloomMeta.shards,
        bloomMeta.expectedPerShard * bloomMeta.shards, bloomMeta.fpp,
        fs.allKeys(spark, w))
      spark.read.schema(FrontierSchema.keySchema).parquet(fs.keysPath(w + 1))
        .filter(snap.probe(w)(col("urlKey"))).count()
    }.sum
    val arts = fs.readArticles(spark, leg.lastWave).get
      .filter(col("fetchWave") >= leg.firstWave)
      .agg(count(lit(1)), coalesce(sum(col("nLinks")), lit(0L))).head()
    val deltas = (leg.firstWave + 1 to leg.lastWave).map(w => Fs.usage(fs.deltaPath(w)))
    val compactions =
      (leg.firstWave + 1 to leg.lastWave).count(_ % cfg.compactEvery == 0).max(1)

    val raw = layers(stages).map { case (s, l) =>
      Map("stage" -> s.id, "layer" -> l, "name" -> s.name, "execution" -> s.execution,
        "start_ms" -> (s.start - leg.epochStartMs), "wall_ms" -> (s.end - s.start),
        "tasks" -> s.tasks, "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs,
        "shuffle_bytes" -> s.shuffleBytes, "scopes" -> s.scopes.toSeq.sorted)
    }
    val metrics = Map(
      "scheduler.wall_s" -> perWave("scheduler"),
      "scheduler.cpu_s" -> cpu("scheduler"),
      "scheduler.rows_in" -> rowsIn / waves,
      "scheduler.rows_out" -> total("scheduled") / waves,
      "fetch.wall_s" -> perWave("fetch"),
      "fetch.shuffle_bytes" -> shuffle("fetch"),
      "fetch.hit_ratio" -> total("fetched") / total("scheduled").max(1.0),
      "parse.wall_s" -> perWave("parse"),
      "parse.cpu_s" -> cpu("parse"),
      "parse.gc_s" -> byLayer("parse").map(_.gcMs).sum / 1e3 / waves,
      "parse.ms_per_page" -> parseMsPerPage(spark, web),
      "parse.links_per_page" -> arts.getLong(1).toDouble / arts.getLong(0).max(1L),
      "expand.wall_s" -> perWave("expand"),
      "expand.cpu_s" -> cpu("expand"),
      "expand.candidates" -> (total("new_links") + total("dup_links")) / waves,
      "expand.disallowed" -> total("disallowed") / waves,
      "expand.shuffle_bytes" -> shuffle("expand"),
      "seen.wall_s" -> perWave("seen"),
      "seen.cpu_s" -> cpu("seen"),
      "seen.new" -> total("new_links") / waves,
      // every already-seen candidate probes positive (the filter is a
      // superset of the seen keys), plus the new keys that do
      "seen.bloom_positive" -> (total("dup_links") + newPositive) / waves,
      "seen.bloom_fp_ratio" -> newPositive / total("new_links").max(1.0),
      "bloom.update_s" -> perWave("bloom"),
      "bloom.bytes" -> Fs.usage(fs.bloomDir)._1.toDouble,
      "store.commit_s" -> perWave("commit"),
      "store.commit_bytes" -> deltas.map(_._1).sum / waves,
      "store.commit_files" -> deltas.map(_._2).sum / waves,
      "store.pending_view_s" -> perWave("pending_view"),
      "store.compact_s" -> wall("compact") / compactions,
      "store.resume_s" -> leg.resumeS,
      "spark.jobs_per_wave" -> listener.jobs / waves,
      "spark.stages_per_wave" -> stages.size / waves,
      "spark.tasks_per_wave" -> stages.map(_.tasks).sum / waves,
      "spark.driver_gap_s" ->
        (leg.windowS - listener.jobCoveredS(leg.epochStartMs, leg.epochEndMs)) / waves,
      "jvm.gc_s" -> leg.counters.gc,
      "host.steal_s" -> leg.counters.steal,
      "trace.window_s" -> leg.windowS,
      "trace.other_s" -> perWave("other"),
      "trace.wave_stats_s" -> perWave("wave_stats"))
    (leg, metrics ++ Map("stages" -> raw))
  }
}
