package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** One timed interval. `parent` is -1 for an operation's root span; all
  * spans of one operation share `op`. Times are microseconds since the
  * epoch, so driver-side spans and Spark's event times share a clock.
  */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String, val label: String,
    val start: Long) {
  @volatile var end: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  def add(key: String, v: Double): Unit = counters.synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
}

/** In-memory span recorder for the traced run. The benchmark opens a
  * span around each call it makes into a layer; a Spark listener adds
  * job and task spans under the span that was open when the job started
  * (read back from the job's local properties) and tags block-manager
  * and streaming-progress counts with the span open when they arrive.
  * Nothing is written until the run ends. With `on == false` every call
  * is a pass-through, which is how untraced operations run.
  */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  private val SpanKey = "graftbench.span"
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000
  def nowMicros: Long = baseMicros + (System.nanoTime() - baseNanos) / 1000

  private val all = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private var stack: List[Span] = Nil
  @volatile private var current: Span = _
  private var opCount = 0

  def spans: Seq[Span] = all.synchronized(all.toList)

  private def newSpan(parent: Int, op: Int, name: String, start: Long, label: String = ""): Span =
    all.synchronized {
      val s = new Span(all.size, parent, op, name, label, start)
      all += s; byId(s.id) = s; s
    }

  /** Root span of one operation. */
  def op[T](label: String)(f: => T): T = {
    if (on) opCount += 1
    span("op", label)(f)
  }

  def span[T](name: String, label: String = "")(f: => T): T =
    if (!on) f
    else {
      val s = newSpan(stack.headOption.map(_.id).getOrElse(-1), opCount, name, nowMicros, label)
      stack = s :: stack
      current = s
      spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.end = nowMicros
        stack = stack.tail
        current = stack.headOption.orNull
        spark.sparkContext.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Add to a counter of the innermost open span. */
  def count(key: String, v: Double): Unit = if (on && current != null) current.add(key, v)

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.BenchBus.drain(spark.sparkContext)

  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val owner = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .flatMap(id => all.synchronized(byId.get(id.toInt))).orElse(Option(current))
      owner.foreach { p =>
        val j = newSpan(p.id, p.op, "spark.job", e.time * 1000)
        jobSpan.put(e.jobId, j)
        e.stageIds.foreach(s => stageJob.put(s, j))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach(_.end = e.time * 1000)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val info = e.taskInfo
        val t = newSpan(j.id, j.op, "spark.task", info.launchTime * 1000)
        t.end = info.finishTime * 1000
        val m = e.taskMetrics
        if (m != null) {
          t.add("cpu_s", m.executorCpuTime / 1e9)
          t.add("gc_s", m.jvmGCTime / 1e3)
          t.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          t.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          t.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          t.add("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (on && b.blockId.isRDD && b.storageLevel.isValid && current != null) {
        current.add("materialize_blocks", 1)
        current.add("materialize_bytes", (b.memSize + b.diskSize).toDouble)
      }
    }
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on && current != null) current.add("streaming_batches", 1)
  }

  /** Register the listeners; only the traced run does this. */
  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }
}
