package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's own calls into the engine's public
  * API. Times are microseconds on the wall clock (a nanoTime offset from one
  * currentTimeMillis base) so they share a time base with Spark's listener
  * events. Spans are kept in memory and written out with the run's result;
  * self time and job attribution are computed from the dump (metrics.py).
  * A disabled tracer records nothing and only runs the body.
  */
final class Tracer(val runId: String) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  @volatile var enabled = false
  private var nextId = 1
  private val open = scala.collection.mutable.Stack.empty[Int]
  val spans = ArrayBuffer.empty[Map[String, Any]]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (open.isEmpty) 0 else open.top
      val start = nowUs
      open.push(id)
      try body
      finally {
        open.pop()
        spans += Map("id" -> id, "parent" -> parent, "name" -> name,
          "start_us" -> start, "end_us" -> nowUs, "run" -> runId)
      }
    }
}

/** Spark job and task records for the traced run: one row per job (start,
  * end, stages) and per finished task (stage, launch/finish, run, cpu, gc,
  * shuffle and spill bytes). It is registered only in traced runs and
  * records every job; attribution to spans happens by start time.
  */
final class SparkCost extends SparkListener {
  val jobs = ArrayBuffer.empty[Map[String, Any]]
  val tasks = ArrayBuffer.empty[Map[String, Any]]
  private val SentinelKey = "graftbench.sentinel"
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val sentinels = scala.collection.mutable.HashMap.empty[String, Int]
  private val ended = scala.collection.mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    if (e.properties != null && e.properties.getProperty(SentinelKey) != null)
      sentinels(e.properties.getProperty(SentinelKey)) = e.jobId
    else
      jobs += Map("job" -> e.jobId, "start_ms" -> e.time, "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += e.jobId
    notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += Map(
        "stage" -> e.stageId,
        "job" -> stageJob.getOrElse(e.stageId, -1),
        "launch_ms" -> e.taskInfo.launchTime,
        "finish_ms" -> e.taskInfo.finishTime,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_bytes" -> m.diskBytesSpilled)
    }
  }

  /** Listener events arrive asynchronously. A sentinel job runs after the
    * traced work; its end event is queued behind every earlier event, so
    * once it is seen the records are complete.
    */
  def drain(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(SentinelKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SentinelKey, null)
    synchronized {
      val deadline = System.currentTimeMillis() + 60000L
      def seen = sentinels.get(token).exists(ended.contains)
      while (!seen && System.currentTimeMillis() < deadline) wait(100L)
      if (!seen) throw new IllegalStateException("listener bus did not drain within 60 s")
    }
  }
}
