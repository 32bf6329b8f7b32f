package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.html.HtmlExtract
import graft.plans.{CrawlConfig, CrawlEngine}
import graft.robots.Robots
import graft.sketch.{BloomSketch, SeenUrlStore}
import graft.snapshot.SnapshotStore
import graft.synth.SiteGen
import graft.url.UrlOps

final class CrawlInput(val pages: DataFrame)

/** A crawl of a seeded SiteGen site (32 hosts, out-degree 12) from
  * https://example.com to fixpoint. Only the fields that define the workload
  * are set on CrawlConfig: domain, budget, depthPriority, numPartitions.
  */
final class CrawlWorkload(val name: String, nPages: Long, budget: Option[Int],
    depthPriority: Boolean, robots: Option[String], warmupEpochs: Option[Int])
    extends Workload {
  type Input = CrawlInput

  val domain = "example.com"
  val hosts = 32
  val outDegree = 12
  /** Pages whose links the html/url/robots probes time. */
  val SamplePages = 1000

  def size: Map[String, Any] = Map("pages" -> nPages, "hosts" -> hosts,
    "out_degree" -> outDegree, "budget" -> budget.getOrElse(0),
    "depth_priority" -> depthPriority, "robots" -> robots.isDefined,
    "domain" -> domain)

  private def config(k: Int) = CrawlConfig(domain, budget = budget,
    numPartitions = k, depthPriority = depthPriority)

  def setup(spark: SparkSession, o: Main.Opts): Input =
    new CrawlInput(Main.cache(SiteGen.pages(spark, domain, nPages, hosts = hosts,
      outDegree = outDegree, seed = o.seed, numPartitions = o.cores,
      robotsBody = robots).repartition(o.cores, col("url"))))

  /** An unmeasured crawl into a scratch warehouse: the whole crawl, or its
    * first `warmupEpochs` epochs when that is set.
    */
  def warmup(spark: SparkSession, in: Input, o: Main.Opts): Unit = {
    val wh = s"${o.out}/wh/warmup"
    val cfg = warmupEpochs.fold(config(o.cores))(e => config(o.cores).copy(maxEpochs = e))
    try new CrawlEngine(spark, cfg).run(in.pages, s"https://$domain", wh)
    finally Main.deleteDir(wh)
  }

  def release(in: Input): Unit = in.pages.unpersist(blocking = true)

  def rep(spark: SparkSession, in: Input, o: Main.Opts, i: Int, t: Tracer): Map[String, Any] = {
    val wh = s"${o.out}/wh/rep$i"
    Main.deleteDir(wh)
    val cpu0 = Main.cpuNs()
    val t0 = System.nanoTime()
    val r = t.span("plans.CrawlEngine.run") {
      new CrawlEngine(spark, config(o.cores)).run(in.pages, s"https://$domain", wh)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Main.cpuNs() - cpu0) / 1e9
    val store = new SnapshotStore(spark, wh)
    val epochs = (0 until r.epochs).map(e => store.snapshotAt(e).getOrElse(
      throw new IllegalStateException(s"no snapshot manifest for epoch $e")).metrics)
    val visited = Main.digest(r.visited.select("epoch", "url").collect().iterator
      .map(row => s"${row.get(0)}\t${row.getString(1)}"))
    val links = Main.digest(r.links.select("url").collect().iterator.map(_.getString(0)))
    val whBytes = Main.dirBytes(wh)
    // only the last traced warehouse is kept, for the layer probes
    if (!t.enabled) Main.deleteDir(wh)
    Map("ok" -> true, "wall_s" -> wallS, "cpu_s" -> cpuS,
      "items" -> epochs.map(_("candidates_in")).sum,
      "steps_ms" -> epochs.map(_("wall_ms")),
      "epochs" -> r.epochs, "epoch_metrics" -> epochs,
      "digest_visited" -> visited, "digest_links" -> links,
      "warehouse_bytes" -> whBytes, "warehouse" -> wh)
  }

  override def export(spark: SparkSession, in: Input, path: String): Unit =
    Main.writeSiteTsv(in.pages, path)

  def layers(spark: SparkSession, in: Input, o: Main.Opts, t: Tracer,
      reps: Seq[Map[String, Any]]): Map[String, Any] = {
    import spark.implicits._
    val k = o.cores
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    val (_, genMs) = t.span("synth.SiteGen.pages") {
      Main.timedMs(SiteGen.pages(spark, domain, nPages, hosts = hosts,
        outDegree = outDegree, seed = o.seed, numPartitions = k, robotsBody = robots).count())
    }
    out("synth.gen_s") = genMs / 1000.0

    // html + url + robots: single-threaded over a fixed sample of the pages
    val sampleUrls = (0L until math.min(SamplePages.toLong, nPages))
      .map(i => SiteGen.pageUrl(domain, hosts, i))
    val sample = in.pages.filter(col("url").isin(sampleUrls: _*))
      .select("url", "html").as[(String, Array[Byte])].collect().sortBy(_._1)
    val hrefs = sample.map { case (u, h) => (u, HtmlExtract.extractLinks(h)) }
    val extractMs = t.span("html.HtmlExtract.extractLinks") {
      Main.medianMs(7)(sample.foreach { case (_, h) => HtmlExtract.extractLinks(h) })
    }
    val nLinks = hrefs.map(_._2.size).sum
    out("html.extract_us_per_page") = extractMs * 1000.0 / sample.length
    out("html.links_per_page") = nLinks.toDouble / sample.length
    val pairs = hrefs.flatMap { case (u, hs) =>
      val b = UTF8String.fromString(u)
      hs.map(h => (b, UTF8String.fromString(h)))
    }
    val resolveMs = t.span("url.UrlOps.resolveClean") {
      Main.medianMs(7)(pairs.foreach { case (b, h) => UrlOps.resolveClean(b, h) })
    }
    val resolved = pairs.flatMap { case (b, h) => Option(UrlOps.resolveClean(b, h)) }
    out("url.resolve_clean_ns") = resolveMs * 1e6 / pairs.length
    out("url.kept_ratio") = resolved.length.toDouble / pairs.length
    robots match {
      case Some(body) =>
        val parseMs = t.span("robots.Robots.parseAll") {
          Main.medianMs(7)((0 until 1000).foreach(_ => Robots.parseAll(body)))
        }
        val rules = Robots.parseAll(body).rules
        val urls = resolved.map(_.toString)
        val allowedMs = t.span("robots.Robots.allowed") {
          Main.medianMs(7)(urls.foreach(u => Robots.allowed(u, rules)))
        }
        out("robots.parse_us") = parseMs
        out("robots.allowed_ns") = allowedMs * 1e6 / urls.length
      case None =>
        out("robots.parse_us") = 0.0
        out("robots.allowed_ns") = 0.0
    }

    // sketch + snapshot: against the last traced repetition's warehouse
    val wh = reps.filter(r => r("traced") == true && r("ok") == true).last("warehouse").toString
    val store = new SnapshotStore(spark, wh)
    val latest = store.latest().getOrElse(throw new IllegalStateException(s"no snapshot in $wh"))
    val snaps = (0 to latest.epoch).map(e => store.snapshotAt(e).get)
    val largestFetch = snaps.maxBy(_.metrics("fetched")).epoch
    val peak = snaps.maxBy(_.metrics("candidates_in")).epoch
    val visited = store.readTable(latest, "visited")
    val fetch = Main.cache(visited.filter(col("epoch") === largestFetch).select("url"))
    val fresh = s"${o.out}/layer-seenstore"
    Main.deleteDir(fresh)
    val (_, writeMs) = t.span("sketch.SeenUrlStore.writeDelta") {
      Main.timedMs(new SeenUrlStore(fresh, k).writeDelta(fetch, 0))
    }
    out("sketch.store_write_ms") = writeMs
    // the peak epoch's candidates: its in-domain links delta
    val before = if (peak == 0) Set.empty[String]
      else snaps(peak - 1).tables("links").files.toSet
    val deltaFiles = snaps(peak).tables("links").files.filterNot(before)
    val candidates = Main.cache(spark.read.parquet(deltaFiles: _*)
      .filter(graft.url.urlfns.url_in_domain(col("url"), lit(domain))).select("url"))
    val probeRows = candidates.count()
    // both probes see the seen set as it was at the peak epoch
    val seen = new SeenUrlStore(s"$wh/seenstore", k)
    val (_, probeMs) = t.span("sketch.SeenUrlStore.filterUnseen") {
      Main.timedMs(seen.filterUnseen(candidates, "url", peak).count())
    }
    out("sketch.store_probe_ms") = probeMs
    out("sketch.store_probe_rows") = probeRows
    val visitedUrls = visited.filter(col("epoch") <= peak).select("url").as[String].rdd.cache()
    val nVisited = visitedUrls.count()
    val (bloom, bloomMs) = t.span("sketch.BloomSketch.build") {
      Main.timedMs(BloomSketch.build(visitedUrls, nVisited))
    }
    val probes = candidates.as[String].collect()
    out("sketch.bloom_build_ms") = bloomMs
    out("sketch.bloom_maybe_ratio") =
      probes.count(bloom.mightContain).toDouble / math.max(probes.length, 1)
    visitedUrls.unpersist()
    candidates.unpersist()
    fetch.unpersist()
    Main.deleteDir(fresh)

    val (_, readMs) = t.span("snapshot.SnapshotStore.readTable") {
      Main.timedMs(store.readTable(latest, "visited").count() +
        store.readTable(latest, "suppressed").count())
    }
    out("snapshot.read_state_ms") = readMs
    out("snapshot.data_files") =
      latest.tables.values.map(_.dataFiles.size).sum.toDouble / latest.tables.size
    Main.deleteDir(s"${o.out}/wh")
    out.toMap
  }
}
