package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Task-metric totals of the Spark jobs run under one span. */
final class JobTotals {
  var jobs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  /** [start, end] wall intervals of the jobs, epoch ms */
  val intervals = mutable.ArrayBuffer[(Long, Long)]()

  /** wall ms covered by at least one job */
  def jobWallMs: Long = {
    var covered = 0L; var curS = -1L; var curE = -1L
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** A timed region of the run: workload → operation → layer call →
  * Spark job. Jobs become spans of their own, parented to the span
  * whose job group they ran under. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      startMs: Long, var endMs: Long = -1L,
                      counts: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap())

/** SparkListener that folds task metrics into per-span totals. A job
  * is attributed to the span named by its job group; jobs whose group
  * is not a span's (streaming queries set their own group) go to the
  * innermost span open on the driver when they start. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val totals = new ConcurrentHashMap[Int, JobTotals]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  @volatile private var current = 0
  /** while false the listener ignores events: untraced passes of a traced run */
  @volatile var active = true
  private val GroupPrefix = "perfbench-span-"

  sc.addSparkListener(this)

  private def spanOfGroup(g: String): Option[Int] =
    Option(g).filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (!active) return
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val id = spanOfGroup(group).getOrElse(current)
    jobSpan.put(e.jobId, id)
    jobStartMs.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageSpan.put(s, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (!active) return
    val id = jobSpan.getOrDefault(e.jobId, current)
    val start = jobStartMs.getOrDefault(e.jobId, e.time)
    val t = totalsOf(id)
    t.synchronized { t.jobs += 1; t.intervals += ((start, e.time)) }
    spans.synchronized {
      spans += Span(spans.size + 1, id, s"job ${e.jobId}", "job", start, e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!active) return
    val m = e.taskMetrics
    if (m == null) return
    val t = totalsOf(stageSpan.getOrDefault(e.stageId, current))
    t.synchronized {
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  private def totalsOf(id: Int): JobTotals = totals.computeIfAbsent(id, _ => new JobTotals)

  /** Runs `body` as a child span of the innermost open one; its jobs run
    * under the span's job group. Returns the body's value, the span and
    * the totals of the jobs that ran inside it (children included). */
  def span[T](name: String, kind: String)(body: => T): (T, Span, JobTotals) = {
    val s = spans.synchronized {
      val sp = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0), name, kind,
        System.currentTimeMillis())
      spans += sp
      sp
    }
    val outer = current
    stack.push(s)
    current = s.id
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    val v =
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        stack.pop()
        current = outer
        if (outer == 0) sc.clearJobGroup()
        else sc.setJobGroup(GroupPrefix + outer, "", interruptOnCancel = false)
      }
    org.apache.spark.perfbench.ListenerBusBridge.drain(sc)
    val t = subtreeTotals(s.id)
    val mib = 1048576.0
    s.counts ++= Seq("jobs" -> t.jobs, "task_cpu_s" -> t.cpuNs / 1e9, "task_gc_s" -> t.gcMs / 1e3,
      "input_mib" -> t.inputBytes / mib, "shuffle_read_mib" -> t.shuffleReadBytes / mib,
      "shuffle_write_mib" -> t.shuffleWriteBytes / mib, "spill_mib" -> t.spillBytes / mib,
      "output_mib" -> t.outputBytes / mib, "job_wall_s" -> t.jobWallMs / 1e3)
    (v, s, t)
  }

  /** totals of span `id` and every span below it */
  def subtreeTotals(id: Int): JobTotals = {
    val ids = mutable.Set(id)
    spans.synchronized {
      spans.filter(_.kind != "job").sortBy(_.id).foreach(s => if (ids(s.parent)) ids += s.id)
    }
    val out = new JobTotals
    ids.foreach { i =>
      Option(totals.get(i)).foreach { t =>
        t.synchronized {
          out.jobs += t.jobs; out.cpuNs += t.cpuNs; out.gcMs += t.gcMs
          out.inputBytes += t.inputBytes; out.shuffleReadBytes += t.shuffleReadBytes
          out.shuffleWriteBytes += t.shuffleWriteBytes; out.spillBytes += t.spillBytes
          out.outputBytes += t.outputBytes; out.intervals ++= t.intervals
        }
      }
    }
    out
  }

  /** span tree as JSON: one object per span with name, kind, start,
    * end, parent, self time and counts */
  def toJson: String = {
    org.apache.spark.perfbench.ListenerBusBridge.drain(sc)
    val all = spans.synchronized(spans.toList)
    val childMs = mutable.HashMap[Int, Long]().withDefaultValue(0L)
    all.foreach(s => if (s.parent != 0 && s.endMs >= 0) childMs(s.parent) += s.endMs - s.startMs)
    all.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> (if (s.kind == "job") s.endMs - s.startMs
                      else math.max(0L, s.endMs - s.startMs - childMs(s.id))),
        "counts" -> s.counts.toMap)
    }.mkString("[\n", ",\n", "\n]")
  }

  def close(): Unit = sc.removeSparkListener(this)
}
