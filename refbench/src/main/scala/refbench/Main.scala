package refbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line options (see README.md for the workloads they select). */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      smoke: Boolean, perturb: Boolean, work: Path, spans: Option[Path])

/** What a workload reports: operations attempted/failed, whether every check
  * passed, its end-to-end metrics and (traced runs only) its per-layer ones.
  */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
                         e2e: Seq[(String, Double, String)],
                         layers: Seq[(String, Double, String)])

/** Shared state of one benchmark process. */
final class Ctx(val opts: Opts, val spark: SparkSession, val tracer: Tracer,
                jvmStartMs: Long) {
  val problems = mutable.ArrayBuffer.empty[String]
  def fail(msg: String): Unit = {
    if (problems.length < 20) System.err.println(s"[refbench] CHECK FAILED: $msg")
    problems += msg
  }
  def dir(name: String): String = opts.work.resolve(name).toString

  /** Bytes of the parquet files under `dir`. */
  def parquetBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => f.toString.endsWith(".parquet")).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
  }

  /** Seconds since the JVM started: read at the start of a timed phase, it
    * is the run's set-up time.
    */
  def sinceStartS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0
}

object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = parse(args)
    System.setProperty("derby.system.home", opts.work.resolve("derby").toString)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("refbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", opts.work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(opts, spark, new Tracer(spark.sparkContext, opts.trace), jvmStartMs)

    val outcome =
      try opts.workload match {
        case "backfill" => Backfill.run(ctx)
        case "serve" => Serve.run(ctx)
        case "live" => Live.run(ctx)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          spark.stop()
          sys.exit(3)
      }
    opts.spans.foreach(p => ctx.tracer.write(p))
    val rss = peakRssMb()
    val heap = retainedHeapMb(spark)
    spark.stop()

    val e2e = outcome.e2e :+ (("retained_heap_mb", heap, "MB"))
    // the peak resident size follows the collector's heap sizing more than
    // the engine's demand, so it is shown but not reported as a metric
    System.err.println(s"[refbench] peak_rss_mb=${fmt(rss)}")
    // a traced run reports per-layer metrics; its end-to-end figures go to
    // stderr only, to show the tracing overhead
    if (opts.trace) System.err.println("[refbench] traced end-to-end: " +
      e2e.map { case (n, v, _) => s"$n=${fmt(v)}" }.mkString(" "))
    val metrics = if (opts.trace) Layers.complete(outcome.layers) else e2e
    val correct = outcome.correct && ctx.problems.isEmpty
    val json = "{" +
      s""""correct": $correct, "attempted": ${outcome.attempted}, """ +
      s""""failed": ${if (correct) outcome.failed else math.max(1L, outcome.failed)}, """ +
      """"metrics": {""" + metrics.map { case (n, v, u) =>
        s"""${Json.str(n)}: {"value": ${fmt(v)}, "unit": ${Json.str(u)}}"""
      }.mkString(", ") + "}}"
    println(json)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Heap still in use, in MB, after the workload: what the engine and
    * Spark keep, not how far the collector let the heap grow. Spark's
    * listener queues are drained first; the second collection follows the
    * cleaner's removal of the blocks (broadcasts, shuffles) whose owners the
    * first one found unreachable.
    */
  private def retainedHeapMb(spark: SparkSession): Double = {
    org.apache.spark.RefbenchBus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** VmHWM of this process, in MB. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else {
      val it = Files.readAllLines(status).iterator()
      var kb = 0.0
      while (it.hasNext) {
        val l = it.next()
        if (l.startsWith("VmHWM:")) kb = l.split("\\s+")(1).toDouble
      }
      kb / 1024.0
    }
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Set("backfill", "serve", "live").contains(w), s"unknown workload $w")
    Opts(w, need("seed").toLong, need("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m.getOrElse("size", "full") == "smoke", m.getOrElse("perturb", "none") == "drop-row",
      Paths.get(need("work")), m.get("spans").map(Paths.get(_)))
  }
}
