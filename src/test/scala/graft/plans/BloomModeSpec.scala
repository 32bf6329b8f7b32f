package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Seen-sketch mode equivalence + the warm-up-gap regression: URLs fetched
  * BEFORE the bloom activates must still be covered by the sketch when it
  * does (ADVICE r1-high) — otherwise cyclic back-links re-enter the frontier
  * and produce duplicate (epoch, url) visits.
  */
class BloomModeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val domain = "example.com"
  private val n = 24

  private val seed = s"https://$domain/p/0"

  /** n pages on one host; page i links to `links(i)`. */
  private def sitePages(links: Int => Seq[Int]): DataFrame = {
    def url(i: Int) = s"https://$domain/p/$i"
    (0 until n).map { i =>
      val html = links(i).map(j => s"""<a href="${url(j)}">$j</a>""").mkString("\n")
      val bytes = html.getBytes("UTF-8")
      (url(i), new java.sql.Timestamp(1700000000000L), bytes,
        graft.html.HtmlExtract.extractText(bytes), "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
  }

  /** Chain 0→1→…→n-1→0, every page also back-links to pages 0 and 1: one new
    * fetch per epoch, and every epoch re-proposes the earliest URLs.
    */
  private def cyclicPages: DataFrame = sitePages(i => Seq((i + 1) % n, 0, 1))

  /** Fan-out: page i links to 3i+1..3i+3 (mod n) and back to 0 — the frontier
    * outgrows a per-host budget, so the budget decides each epoch's fetch.
    */
  private def fanPages: DataFrame =
    sitePages(i => Seq((3 * i + 1) % n, (3 * i + 2) % n, (3 * i + 3) % n, 0))

  private def collected(r: CrawlResult): (Seq[(Int, String)], Seq[String]) =
    (r.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
      r.links.select("url").orderBy("url").as[String].collect().toSeq)

  private def crawl(cfg: CrawlConfig): (Seq[(Int, String)], Seq[String]) = {
    val wh = Files.createTempDirectory("graft-bloommode-").toString
    collected(new CrawlEngine(spark, cfg).run(cyclicPages, seed, wh))
  }

  private lazy val plain = crawl(CrawlConfig(domain, numPartitions = 4,
    bloomMinSeen = Long.MaxValue, // sketch never activates…
    seenDedup = "anti")) // …and the authoritative check is the left_anti join

  test("bucket-local sorted-shard dedup ≡ plain anti-join (sketch off and on)") {
    // default seenDedup=bucketlocal: the authoritative check reads only the
    // SeenUrlStore shard files — never re-shuffles the cumulative seen set
    val noSketch = crawl(CrawlConfig(domain, numPartitions = 4,
      bloomMinSeen = Long.MaxValue)) // every candidate takes the store probe
    assert(noSketch == plain)
    val withSketch = crawl(CrawlConfig(domain, numPartitions = 4,
      bloomMinSeen = 4, bloomExpectedTotal = 1024)) // only maybe-seen rows probe
    assert(withSketch == plain)
  }

  test("periodic seen-shard compaction mid-crawl and across truncate-resume " +
    "keeps the trace exact") {
    val cfg = CrawlConfig(domain, numPartitions = 4, bloomMinSeen = 4,
      bloomExpectedTotal = 1024, seenCompactEvery = 2)
    // ~n epochs on the cyclic site ⇒ many compaction points
    val (trace, links) = crawl(cfg)
    assert((trace, links) == plain)
    // truncate past several compactions and resume: bases newer than the
    // resumed epoch are ignored (epoch-bounded reader) and the re-run
    // regenerates identical state
    val wh = Files.createTempDirectory("graft-seencompact-").toString
    new CrawlEngine(spark, cfg.copy(maxEpochs = 8))
      .run(cyclicPages, s"https://$domain/p/0", wh)
    new graft.snapshot.SnapshotStore(spark, wh).truncateAfter(3)
    val resumed = new CrawlEngine(spark, cfg).run(cyclicPages, s"https://$domain/p/0", wh)
    val got = (resumed.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
      resumed.links.select("url").orderBy("url").as[String].collect().toSeq)
    assert(got == plain)
    // compaction actually produced base files
    val buckets = new java.io.File(s"$wh/seenstore").listFiles()
    assert(buckets != null &&
      buckets.exists(d => d.isDirectory &&
        d.listFiles().exists(_.getName.startsWith("c"))), "no base files written")
  }

  test("resume with a changed seen-store bucket count rebuilds the index " +
    "from the authoritative parquet (trace exact)") {
    // the store's _meta.json records its bucket count; a resume under a
    // different count must NOT trust the mis-bucketed shards — the gate
    // clears and rebuilds from visited, and the crawl stays exact
    val wh = Files.createTempDirectory("graft-bucketchange-").toString
    new CrawlEngine(spark, CrawlConfig(domain, numPartitions = 4,
      seenStoreBuckets = 3, maxEpochs = 8))
      .run(cyclicPages, s"https://$domain/p/0", wh)
    new graft.snapshot.SnapshotStore(spark, wh).truncateAfter(5)
    val resumed = new CrawlEngine(spark, CrawlConfig(domain, numPartitions = 4,
      seenStoreBuckets = 7)).run(cyclicPages, s"https://$domain/p/0", wh)
    val got = (resumed.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
      resumed.links.select("url").orderBy("url").as[String].collect().toSeq)
    assert(got == plain)
  }

  test("truncate-resume under a changed budget drops the truncated " +
    "timeline's seen deltas") {
    // the re-run of epoch k+1 fetches fewer urls than the truncated
    // timeline did, so its delta leaves buckets empty where the old
    // timeline's e(k+1) shards still sit — those must not mark urls the new
    // timeline never fetched as seen
    val (budgetA, budgetB, k) = (4, 1, 2)
    def run(wh: String, budget: Int, maxEpochs: Int = Int.MaxValue) =
      new CrawlEngine(spark, CrawlConfig(domain, budget = Some(budget),
        numPartitions = 4, maxEpochs = maxEpochs)).run(fanPages, seed, wh)
    val wh = Files.createTempDirectory("graft-budgetresume-").toString
    run(wh, budgetA, maxEpochs = 6)
    new graft.snapshot.SnapshotStore(spark, wh).truncateAfter(k)
    val got = collected(run(wh, budgetB))
    val ref = Files.createTempDirectory("graft-budgetresume-ref-").toString
    run(ref, budgetA, maxEpochs = k + 1)
    assert(got == collected(run(ref, budgetB)))
  }

  test("warm-up: bloom activating mid-crawl never re-visits early URLs") {
    // activates around epoch 3; pages 0..2 were fetched before activation
    val (trace, links) = crawl(CrawlConfig(domain, numPartitions = 4,
      bloomMinSeen = 4, bloomExpectedTotal = 1024))
    val urls = trace.map(_._2)
    assert(urls.distinct.size == urls.size, "duplicate visits")
    assert((trace, links) == plain)
  }

  test("broadcast bloom auto-resizes when the crawl outgrows bloomExpectedTotal") {
    // 24 urls vs a sketch designed for 8: the resize branch must rebuild
    // from the full seen set (results stay exact) and the recorded capacity
    // must have grown past the configured expectation
    val wh = Files.createTempDirectory("graft-bloomresize-").toString
    val r = new CrawlEngine(spark, CrawlConfig(domain, numPartitions = 4,
      bloomMinSeen = 4, bloomExpectedTotal = 8))
      .run(cyclicPages, s"https://$domain/p/0", wh)
    val got = (r.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
      r.links.select("url").orderBy("url").as[String].collect().toSeq)
    assert(got == plain)
    val cap = new graft.snapshot.SnapshotStore(spark, wh)
      .latest().get.metrics("sketch_capacity")
    assert(cap > 8, s"sketch capacity never grew: $cap")
  }

  test("over-cap bloom sizing leaves the sketch off: the exact store probe " +
    "alone ≡ plain anti-join") {
    // 2^31 expected urls ⇒ a ~2.4 GiB bloom, far over the broadcast cap: no
    // sketch is ever allocated and the exact bucket-local probe works alone
    assert(!CrawlEngine.bloomFits(1L << 31))
    assert(CrawlEngine.bloomFits(CrawlConfig(domain).bloomExpectedTotal))
    val wh = Files.createTempDirectory("graft-bloomovercap-").toString
    val r = new CrawlEngine(spark, CrawlConfig(domain, numPartitions = 4,
      bloomMinSeen = 4, bloomExpectedTotal = 1L << 31))
      .run(cyclicPages, seed, wh)
    assert(collected(r) == plain)
    val cap = new graft.snapshot.SnapshotStore(spark, wh)
      .latest().get.metrics("sketch_capacity")
    assert(cap == 0L, s"sketch active at capacity $cap")
    assert(!new java.io.File(s"$wh/sketch").exists(), "sketch files written")
  }

  test("cuckoo seen-sketch probe ≡ plain anti-join (north_star fallback wired)") {
    val (trace, links) = crawl(CrawlConfig(domain, numPartitions = 4,
      sketchKind = "cuckoo", bloomMinSeen = 4, bloomExpectedTotal = 1024))
    val urls = trace.map(_._2)
    assert(urls.distinct.size == urls.size, "duplicate visits")
    assert((trace, links) == plain)
  }

  test("saturated (degraded) cuckoo sketch still crawls exactly") {
    // expectedTotal 1 ⇒ 64-bucket filter saturates mid-crawl and degrades to
    // always-maybe; every row then takes the authoritative anti-join — the
    // trace must stay identical (correctness never rides on the sketch)
    val (trace, links) = crawl(CrawlConfig(domain, numPartitions = 4,
      sketchKind = "cuckoo", bloomMinSeen = 4, bloomExpectedTotal = 1))
    assert((trace, links) == plain)
  }
}
