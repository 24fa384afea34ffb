package refbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-side counts accumulated for one span (and, rolled up, its parents). */
final class Counts {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var shuffleBytes = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
}

/** A wall-clock span around one call into the engine's public API. */
final case class Span(id: Int, name: String, parent: Int, request: Long,
                      startNs: Long, var endNs: Long = 0L) {
  val counts = new Counts
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder plus the Spark listener that attributes jobs, tasks,
  * shuffle bytes, task CPU and GC to the innermost open span of the thread
  * that submitted the job (through a job-group local property). Spans are
  * kept in memory and written out at exit. With `enabled = false` every
  * call is a plain passthrough: no listener is installed and nothing is
  * recorded, so untraced runs measure the engine alone.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val Prop = "refbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  val total = new Counts

  private def bump(s: Span, f: Counts => Unit): Unit = {
    f(total)
    var cur = s
    while (cur != null) {
      f(cur.counts)
      cur = if (cur.parent < 0) null else spans.synchronized(spans(cur.parent))
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(id => spans.synchronized(spans(id.toInt))).orNull
      e.stageIds.foreach(sid => if (span != null) stageSpan.put(sid, span))
      if (span != null) bump(span, _.jobs += 1) else total.jobs += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val span = stageSpan.get(e.stageId)
      def add(c: Counts): Unit = {
        c.tasks += 1
        if (m != null) {
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
        }
      }
      if (span != null) bump(span, add) else add(total)
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `f` inside a span named `name`; returns its result. */
  def span[A](name: String, request: Long = -1L)(f: => A): A =
    if (!enabled) f
    else {
      val parent = open.get().headOption
      val s = spans.synchronized {
        val s = Span(spans.length, name, parent.map(_.id).getOrElse(-1), request, System.nanoTime())
        spans += s; s
      }
      open.set(s :: open.get())
      val prevProp = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        open.set(open.get().tail)
        sc.setLocalProperty(Prop, prevProp)
      }
    }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.RefbenchBus.drain(sc)

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Spans as JSON lines: name, start/end (ms since the first span), parent,
    * request id and the span's Spark counts.
    */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val ss = all
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val lines = ss.map { s =>
      f"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"request":${s.request},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,""" +
        f""""jobs":${s.counts.jobs},"tasks":${s.counts.tasks},"shuffle_bytes":${s.counts.shuffleBytes},""" +
        f""""cpu_ms":${s.counts.cpuNs / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Streaming-query progress collector (trigger, planning and addBatch
  * durations, state rows), for the live workload's traced run.
  */
final class ProgressLog extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
