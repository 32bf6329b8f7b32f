package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.synth.SiteGen
import graft.textops.textfns._

/** The docs table and, for the verifier, every doc's text by id. */
final class DedupInput(val docs: DataFrame, val texts: Map[Long, String])

/** A training-data pass over the text of a seeded SiteGen site: annotate
  * (lang, quality, fingerprint) and write the corpus, then Dedup.exact,
  * Dedup.minHashLsh and Dedup.simHash at their default settings. Seeded
  * copies are added so the operators have duplicates to find: one page in
  * eight gets a near-duplicate (one word appended), one in sixteen an exact
  * copy. The crawl engine is not involved.
  */
final class DedupWorkload(val name: String, nDocs: Long) extends Workload {
  type Input = DedupInput

  val domain = "example.com"

  def size: Map[String, Any] = Map("pages" -> nDocs, "hosts" -> 32,
    "out_degree" -> 12, "near_dup_every" -> 8, "exact_dup_every" -> 16)

  private def corpus(spark: SparkSession, n: Long, seed: Long, k: Int): DataFrame = {
    val pages = SiteGen.pages(spark, domain, n, hosts = 32, outDegree = 12,
      seed = seed, numPartitions = k)
    val base = pages.select(
      coalesce(regexp_extract(col("url"), "/p/(\\d+)$", 1).try_cast("long"), lit(n)).as("id"),
      col("text"))
    // copies of site pages only (the seed page's text is one long token)
    val pick = when(col("id") < n, pmod(xxhash64(col("id"), lit(seed)), lit(16L)))
    val near = base.filter(pick < 2)
      .select((col("id") + lit(n + 1)).as("id"), concat(col("text"), lit(" addendum")).as("text"))
    val exact = base.filter(pick === 2)
      .select((col("id") + lit(2 * (n + 1))).as("id"), col("text"))
    Main.cache(base.union(near).union(exact).repartition(k))
  }

  def setup(spark: SparkSession, o: Main.Opts): Input = {
    val docs = corpus(spark, nDocs, o.seed, o.cores)
    val texts = docs.collect().iterator.map(r => r.getLong(0) -> r.getString(1)).toMap
    new DedupInput(docs, texts)
  }

  /** One unmeasured pass over the corpus. */
  def warmup(spark: SparkSession, in: Input, o: Main.Opts): Unit = {
    val wh = s"${o.out}/wh/warmup"
    try pass(in.docs, wh, new Tracer("warmup")) finally Main.deleteDir(wh)
  }

  def release(in: Input): Unit = in.docs.unpersist(blocking = true)

  private def pass(docs: DataFrame, wh: String, t: Tracer): (Array[Row], Array[Row], Array[Row]) = {
    t.span("textops.annotate") {
      docs.select(col("id"), lang_id(col("text")).as("lang"),
        quality_score(col("text")).as("quality"), fingerprint(col("text")).as("fp"))
        .write.mode("overwrite").parquet(s"$wh/annotated")
    }
    val exact = t.span("operators.Dedup.exact") { Dedup.exact(docs, "id", "text").collect() }
    val minhash = t.span("operators.Dedup.minHashLsh") {
      Dedup.minHashLsh(docs, "id", "text").collect()
    }
    val simhash = t.span("operators.Dedup.simHash") { Dedup.simHash(docs, "id", "text").collect() }
    (exact, minhash, simhash)
  }

  def rep(spark: SparkSession, in: Input, o: Main.Opts, i: Int, t: Tracer): Map[String, Any] = {
    val wh = s"${o.out}/wh/rep$i"
    Main.deleteDir(wh)
    val cpu0 = Main.cpuNs()
    val t0 = System.nanoTime()
    val (exact, minhash, simhash) = t.span("corpus_dedup.pass") { pass(in.docs, wh, t) }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Main.cpuNs() - cpu0) / 1e9
    val whBytes = Main.dirBytes(wh)
    Main.deleteDir(wh)
    Verify.exact(in.texts, exact.map(r => (r.getLong(0), r.getLong(2))))
    Verify.minhash(in.texts, minhash.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))), 0.8)
    Verify.simhash(in.texts, simhash.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))), 3)
    Verify.recall(in.texts, minhash.map(r => (r.getLong(0), r.getLong(1))), nDocs)
    Map("ok" -> true, "wall_s" -> wallS, "cpu_s" -> cpuS,
      "items" -> in.texts.size, "steps_ms" -> Seq(wallS * 1000.0),
      "exact_groups" -> exact.length, "minhash_pairs" -> minhash.length,
      "simhash_pairs" -> simhash.length, "warehouse_bytes" -> whBytes)
  }

  def layers(spark: SparkSession, in: Input, o: Main.Opts, t: Tracer,
      reps: Seq[Map[String, Any]]): Map[String, Any] = {
    // candidate pairs before verification: the same calls with the
    // thresholds opened fully (every candidate pair passes)
    val last = reps.filter(r => r("ok") == true).last
    val mhAll = t.span("operators.candidates.minHashLsh") {
      Dedup.minHashLsh(in.docs, "id", "text", threshold = 0.0).count()
    }
    val shAll = t.span("operators.candidates.simHash") {
      Dedup.simHash(in.docs, "id", "text", maxHamming = 64).count()
    }
    val kept = last("minhash_pairs").asInstanceOf[Int] + last("simhash_pairs").asInstanceOf[Int]
    val (_, genMs) = t.span("synth.SiteGen.pages") {
      Main.timedMs(SiteGen.pages(spark, domain, nDocs, hosts = 32, outDegree = 12,
        seed = o.seed, numPartitions = o.cores).count())
    }
    Map("synth.gen_s" -> genMs / 1000.0,"operators.candidate_pairs" -> (mhAll + shAll),
      "operators.verified_ratio" -> kept.toDouble / math.max(mhAll + shAll, 1L))
  }
}

/** The corpus pass's independent checks: every emitted pair and group is
  * recomputed from the texts with this file's own shingling, SimHash and
  * Hamming code, not the engine's. Any mismatch throws.
  */
object Verify {
  private def tokens(s: String): Array[String] =
    s.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  def shingles(s: String, k: Int = 3): Set[String] = {
    val t = tokens(s)
    if (t.length < k) (if (t.isEmpty) Set.empty else Set(t.mkString(" ")))
    else t.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val u = (x | y).size
    if (u == 0) 0.0 else (x & y).size.toDouble / u
  }

  private def fnv(s: String, seed: Long): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    s.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
    var z = h + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 64-bit SimHash: one vote per unigram (seed 1) and bigram (seed 2). */
  def simhash(s: String): Long = {
    val t = tokens(s)
    val grams = t.map(fnv(_, 1L)) ++ t.sliding(2).filter(_.length == 2).map(p => fnv(p.mkString(" "), 2L))
    (0 until 64).foldLeft(0L) { (acc, b) =>
      val v = grams.count(h => ((h >>> b) & 1L) == 1L) * 2 - grams.length
      if (v > 0) acc | (1L << b) else acc
    }
  }

  def exact(texts: Map[Long, String], groups: Array[(Long, Long)]): Unit = {
    val want = texts.groupBy(_._2).values.map(g => (g.keys.min, g.size.toLong)).toSet
    val got = groups.toSet
    if (got.size != groups.length || got != want)
      throw new IllegalStateException(s"Dedup.exact: ${groups.length} groups, want ${want.size}")
  }

  def minhash(texts: Map[Long, String], pairs: Array[(Long, Long, Double)], threshold: Double): Unit =
    pairs.foreach { case (a, b, j) =>
      val own = jaccard(texts(a), texts(b))
      if (!(a < b) || math.abs(own - j) > 1e-9 || own < threshold)
        throw new IllegalStateException(s"Dedup.minHashLsh pair ($a, $b): jaccard $j, own $own")
    }

  def simhash(texts: Map[Long, String], pairs: Array[(Long, Long, Int)], maxHamming: Int): Unit =
    pairs.foreach { case (a, b, h) =>
      val own = java.lang.Long.bitCount(simhash(texts(a)) ^ simhash(texts(b)))
      if (!(a < b) || own != h || own > maxHamming)
        throw new IllegalStateException(s"Dedup.simHash pair ($a, $b): hamming $h, own $own")
    }

  /** Every seeded copy (near or exact) of Jaccard >= 0.9 with its original
    * must be paired with it: at 16 bands of 4 rows a pair that similar
    * misses every band with probability below 1e-7.
    */
  def recall(texts: Map[Long, String], pairs: Array[(Long, Long)], n: Long): Unit = {
    val found = pairs.toSet
    val missing = texts.keys.filter(_ > n).map(c => (c % (n + 1), c))
      .filter { case (a, c) => jaccard(texts(a), texts(c)) >= 0.9 }.filterNot(found)
    if (missing.nonEmpty)
      throw new IllegalStateException(s"Dedup.minHashLsh missed ${missing.size} seeded copies, e.g. ${missing.head}")
  }
}
