package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One benchmark process: set up a workload's input from its seed, run it
  * repeatedly for the requested time, verify every repetition, and write the
  * raw measurements to `<out>/result.json` (run.py turns them into metrics).
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --cores <k> --out <dir> [--export <site.tsv>]
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, out: String, export: Option[String])

  /** Setups per run; setup_s is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, "arguments come in --key value pairs")
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, kv("out"), kv.get("export"))
    val w = Workloads.fromArgs(kv)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.out}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result = try measure(spark, w, o) finally spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(o.out, "result.json"), result)
  }

  def log(msg: String): Unit = System.err.println(s"graftbench: $msg")

  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def measure(spark: SparkSession, w: Workload, o: Opts): Map[String, Any] = {
    val tracer = new Tracer(s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")
    val cost = if (o.trace) Some(new SparkCost) else None
    cost.foreach(spark.sparkContext.addSparkListener)

    // set-up: generation + caching, repeated (setup_s is the median); the
    // last input is kept and warmed up before anything is timed
    val setupS = ArrayBuffer.empty[Double]
    var input: w.Input = null.asInstanceOf[w.Input]
    for (s <- 0 until SetupReps) {
      if (input != null) w.release(input)
      val t0 = System.nanoTime()
      input = w.setup(spark, o)
      setupS += (System.nanoTime() - t0) / 1e9
      log(f"setup $s: ${setupS.last}%.2f s")
    }
    val tw = System.nanoTime()
    w.warmup(spark, input, o)
    val warmupS = (System.nanoTime() - tw) / 1e9
    log(f"warm-up: $warmupS%.2f s")

    // measured repetitions; a traced run also makes untraced ones, so the
    // difference gives the tracing overhead
    val reps = ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def runRep(traced: Boolean): Unit = {
      tracer.enabled = traced
      val i = reps.size
      val rec =
        try w.rep(spark, input, o, i, tracer)
        catch {
          case e: Exception =>
            System.err.println(s"graftbench: repetition $i failed")
            e.printStackTrace()
            Map("ok" -> false, "error" -> e.toString)
        }
      tracer.enabled = false
      reps += (rec ++ Map("rep" -> i, "traced" -> traced))
      log(s"rep $i (traced=$traced): ${rec.filter(_._1 != "epoch_metrics")}")
    }
    if (o.trace) {
      // untraced and traced repetitions alternate, at least one of each
      while (reps.size < 2 || elapsed < o.seconds) runRep(traced = reps.size % 2 == 1)
    } else {
      while (reps.isEmpty || elapsed < o.seconds) runRep(traced = false)
    }
    val measuredS = elapsed

    // per-layer probes run after the measured window, traced runs only
    val layers: Map[String, Any] =
      if (o.trace) {
        tracer.enabled = true
        try w.layers(spark, input, o, tracer, reps.toSeq) finally tracer.enabled = false
      } else Map.empty
    cost.foreach(_.drain(spark.sparkContext))
    o.export.foreach(p => w.export(spark, input, p))

    Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "trace" -> o.trace, "size" -> w.size,
      "setup_s" -> setupS.toSeq, "warmup_s" -> warmupS,
      "measured_s" -> measuredS, "reps" -> reps.toSeq, "layers" -> layers,
      "spans" -> tracer.spans.toSeq,
      "jobs" -> cost.map(_.jobs.toSeq).getOrElse(Nil),
      "tasks" -> cost.map(_.tasks.toSeq).getOrElse(Nil),
      "peak_rss_kb" -> peakRssKb(), "process_cpu_s" -> cpuNs() / 1e9)
  }

  /** VmHWM: the process's peak resident set so far. */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val line = try src.getLines().find(_.startsWith("VmHWM:")) finally src.close()
    line.getOrElse(throw new IllegalStateException("no VmHWM")).split("\\s+")(1).toLong
  }

  // ---- helpers shared by the workloads --------------------------------------

  /** Order-independent digest of a set of strings: count and the sum mod
    * 2^64 of the first 8 bytes (big-endian) of each string's SHA-256. The
    * same function is in metrics.py, where the oracle's digests are made.
    */
  def digest(items: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var n = 0L
    var sum = 0L
    items.foreach { s =>
      val h = md.digest(s.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      n += 1
    }
    f"$n:${sum}%016x"
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally s.close()
    }
  }

  /** Median wall milliseconds of `passes` runs of `body` (single thread). */
  def medianMs(passes: Int)(body: => Unit): Double = {
    val t = (0 until passes).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }.sorted
    t(t.size / 2)
  }

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def cache(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_AND_DISK)
    c.count()
    c
  }

  def writeSiteTsv(pages: DataFrame, path: String): Unit = {
    val out = Files.newBufferedWriter(Paths.get(path), UTF_8)
    val b64 = java.util.Base64.getEncoder
    try pages.select("url", "html").toLocalIterator().asScala.foreach { r =>
      out.write(r.getString(0)); out.write('\t')
      out.write(b64.encodeToString(r.getAs[Array[Byte]](1))); out.write('\n')
    } finally out.close()
  }
}

/** A workload: its input, one measured repetition, and its layer probes. */
abstract class Workload {
  type Input <: AnyRef
  def name: String
  def size: Map[String, Any]
  def setup(spark: SparkSession, o: Main.Opts): Input
  def warmup(spark: SparkSession, in: Input, o: Main.Opts): Unit
  def release(in: Input): Unit
  def rep(spark: SparkSession, in: Input, o: Main.Opts, i: Int, t: Tracer): Map[String, Any]
  def layers(spark: SparkSession, in: Input, o: Main.Opts, t: Tracer,
      reps: Seq[Map[String, Any]]): Map[String, Any]
  def export(spark: SparkSession, in: Input, path: String): Unit = ()
}

object Workloads {
  /** The workload run.py describes on the command line. */
  def fromArgs(kv: Map[String, String]): Workload = kv("kind") match {
    case "crawl" => new CrawlWorkload(kv("workload"), kv("pages").toLong,
      budget = Some(kv("budget").toInt).filter(_ > 0),
      depthPriority = kv("depth-priority").toBoolean,
      robots = Some(kv("robots")).filter(_.nonEmpty),
      warmupEpochs = Some(kv("warmup-epochs").toInt).filter(_ > 0))
    case "dedup" => new DedupWorkload(kv("workload"), kv("pages").toLong)
    case k => throw new IllegalArgumentException(s"unknown workload kind $k")
  }
}
