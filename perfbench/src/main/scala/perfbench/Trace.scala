package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One layer call: name, start and end (ns, monotonic), the span that
  * caused it, and the run it belongs to. */
final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)

/** Per-task figures summed over the jobs a span started. */
final class Agg {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shufWrite = 0L; var shufWriteRecs = 0L; var shufRead = 0L
  var spill = 0L; var inRecs = 0L; var outBytes = 0L
  def add(o: Agg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shufWrite += o.shufWrite
    shufWriteRecs += o.shufWriteRecs; shufRead += o.shufRead; spill += o.spill
    inRecs += o.inRecs; outBytes += o.outBytes
  }
}

/** Attributes every Spark job, stage and task to the span that started the
  * job. The span id travels as a job local property, so jobs started from
  * helper threads (broadcasts, subqueries) land on the right span too. */
final class SpanListener extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  val bySpan = mutable.Map.empty[Int, Agg]
  /** Task durations (ms) per (span, stage), for the skew ratio. */
  val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def agg(s: Int) = bySpan.getOrElseUpdate(s, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(0)
    jobSpan(e.jobId) = s
    agg(s).jobs += 1
    e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, s))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stageSpan.getOrElse(e.stageInfo.stageId, 0)
    if (e.stageInfo.numTasks > 0) agg(s).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stageSpan.getOrElse(e.stageId, 0)
    val a = agg(s)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shufWrite += m.shuffleWriteMetrics.bytesWritten
      a.shufWriteRecs += m.shuffleWriteMetrics.recordsWritten
      a.shufRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.inRecs += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      taskMs.getOrElseUpdate((s, e.stageId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }
}

/** Span recorder. Off (the default, used for every end-to-end figure) it
  * only runs the body. On, it records spans in memory, tags the jobs each
  * span starts, and materializes layer inputs before a layer's span opens,
  * so the span covers that layer alone. */
final class Tracer(val on: Boolean, val runId: String, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener: Option[SpanListener] =
    if (on) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None
  private var current = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sp = Span(spans.size + 1, name, current, System.nanoTime(), 0L)
      spans += sp
      val parent = current
      current = sp.id
      sc.setLocalProperty(Tracer.Prop, sp.id.toString)
      try body
      finally {
        sp.end = System.nanoTime()
        current = parent
        sc.setLocalProperty(Tracer.Prop, if (parent == 0) null else parent.toString)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (on) org.apache.spark.PerfbenchBridge.drain(sc)

  def children(id: Int): Seq[Span] = spans.toSeq.filter(_.parent == id)

  def descendants(id: Int): Seq[Int] = {
    val kids = children(id).map(_.id)
    kids ++ kids.flatMap(descendants)
  }

  def seconds(sp: Span): Double = (sp.end - sp.start) / 1e9

  /** Self time: the span's time minus what its children cover. */
  def selfSeconds(sp: Span): Double = {
    val iv = children(sp.id).map(c => (c.start, c.end)).sortBy(_._1)
    var covered = 0L; var lo = Long.MinValue; var hi = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > hi) { covered += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    seconds(sp) - covered / 1e9
  }

  /** Spark figures of a span and everything under it. */
  def inclusive(id: Int): Agg = {
    val out = new Agg
    listener.foreach { l =>
      l.synchronized {
        (id +: descendants(id)).foreach(s => l.bySpan.get(s).foreach(out.add))
      }
    }
    out
  }

  /** Longest task / median task in the slowest stage under the span. */
  def maxTaskRatio(ids: Seq[Int]): Double = listener.map { l =>
    l.synchronized {
      val set = ids.flatMap(i => i +: descendants(i)).toSet
      val stages = l.taskMs.filter { case ((s, _), v) => set(s) && v.nonEmpty }
      if (stages.isEmpty) 0.0
      else {
        val slowest = stages.values.maxBy(_.sum)
        val sorted = slowest.sorted
        val med = sorted(sorted.size / 2).toDouble
        sorted.last / math.max(med, 1.0)
      }
    }
  }.getOrElse(0.0)

  def toJson(counts: Map[String, Double]): String = {
    val sb = new StringBuilder
    sb ++= s"""{"run_id":${Json.str(runId)},"spans":["""
    sb ++= spans.map { s =>
      val a = inclusive(s.id)
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""run_id":${Json.str(runId)},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_s":${Json.num(selfSeconds(s))},"jobs":${a.jobs},"stages":${a.stages},""" +
        s""""tasks":${a.tasks},"shuffle_write_bytes":${a.shufWrite},""" +
        s""""shuffle_read_bytes":${a.shufRead},"spill_bytes":${a.spill}}"""
    }.mkString(",")
    sb ++= "],\"counts\":"
    sb ++= Json.obj(counts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    sb ++= "}"
    sb.toString
  }
}

object Tracer { val Prop = "perfbench.span" }

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
