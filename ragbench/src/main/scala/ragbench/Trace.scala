package ragbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. Times are epoch milliseconds, so they
  * line up with the job start and end times Spark reports.
  */
final case class Span(id: Int, name: String, parent: Int, request: Long,
    startMs: Double, endMs: Double) {
  def wallMs: Double = endMs - startMs
}

/** What one Spark job did, summed over its tasks. */
final class JobRec(val id: Int, val startMs: Long, val span: Int) {
  var endMs: Long = -1L
  var cpuNs, gcMs, shuffleBytes, inBytes, inRecords, outBytes, outRecords = 0L
}

/** Attributes each job to the innermost span whose tag it carries, and
  * each task to the job that first listed the task's stage.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags"))).toSeq
      .flatMap(_.split(","))
    val span = tags.filter(_.startsWith(Tracer.TagPrefix))
      .map(_.drop(Tracer.TagPrefix.length).toInt).foldLeft(-1)(math.max)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, span)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); r <- jobs.get(j);
         m <- Option(e.taskMetrics)) {
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      r.inBytes += m.inputMetrics.bytesRead
      r.inRecords += m.inputMetrics.recordsRead
      r.outBytes += m.outputMetrics.bytesWritten
      r.outRecords += m.outputMetrics.recordsWritten
    }
  }

  def snapshot: Seq[JobRec] = synchronized(jobs.values.toSeq)
}

/** Span recorder for the traced run. Disabled, [[span]] only runs its
  * body, so the untraced runs that give the end-to-end numbers carry no
  * listener and no job tags.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val counts = mutable.Map[String, Long]().withDefaultValue(0L)
  private var stack = List.empty[Int]
  private var nextId = 0
  private val listener = if (enabled) Some(new JobListener) else None
  listener.foreach(sc.addSparkListener)
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble

  /** The request the following spans belong to. */
  var request: Long = -1L

  def nowMs: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val tag = Tracer.TagPrefix + id
      sc.addJobTag(tag)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        sc.removeJobTag(tag)
        stack = stack.tail
        spans += Span(id, name, parent, request, t0, t1)
      }
    }

  /** A value read after a step, such as the file count of an index; not
    * read at all when tracing is off.
    */
  def sample(name: String, value: => Double): Unit =
    if (enabled) samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += value

  /** A count the benchmark itself observes, such as results returned. */
  def count(name: String, n: Long): Unit = if (enabled) counts(name) += n

  /** Everything recorded, once the listener bus has drained. */
  def finish(): TraceResult = {
    org.apache.spark.ragbench.BusDrain.drain(sc)
    val jobs = listener.map(_.snapshot).getOrElse(Nil)
    listener.foreach(sc.removeSparkListener)
    TraceResult(spans.toVector, jobs.toVector, samples.map { case (k, v) =>
      k -> v.toVector }.toMap, counts.toMap)
  }
}

object Tracer {
  val TagPrefix = "ragbench-span-"

  /** A disabled tracer, for work outside the measured loop. */
  def off(spark: SparkSession): Tracer = new Tracer(spark, enabled = false)
}

final case class TraceResult(spans: Vector[Span], jobs: Vector[JobRec],
    samples: Map[String, Vector[Double]], counts: Map[String, Long]) {

  private lazy val jobsBySpan: Map[Int, Vector[JobRec]] = jobs.groupBy(_.span)

  def jobsOf(s: Span): Vector[JobRec] = jobsBySpan.getOrElse(s.id, Vector.empty)

  /** Span wall time not covered by any of its jobs. */
  def driverOnlyMs(s: Span): Double = {
    val ivs = jobsOf(s).map(j => (math.max(j.startMs.toDouble, s.startMs),
      math.min((if (j.endMs < 0) s.endMs else j.endMs.toDouble), s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    ivs.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) covered += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) covered += ce - cs
    s.wallMs - covered
  }

  def named(name: String): Vector[Span] = spans.filter(_.name == name)

  /** Per-call means of one span name's metrics; zero when it never ran. */
  def perCall(name: String, f: Span => Double): Double = {
    val ss = named(name)
    if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.length
  }

  def jobSum(s: Span, f: JobRec => Long): Double = jobsOf(s).map(f).sum.toDouble

  def spanLines: Seq[String] = spans.sortBy(_.id).map { s =>
    val js = jobsOf(s)
    Json.obj(Seq("id" -> Json.num(s.id.toLong), "name" -> Json.str(s.name),
      "parent" -> Json.num(s.parent.toLong), "request" -> Json.num(s.request),
      "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
      "jobs" -> Json.num(js.length.toLong),
      "driver_only_ms" -> Json.num(driverOnlyMs(s)),
      "task_cpu_ms" -> Json.num(js.map(_.cpuNs).sum / 1e6),
      "gc_ms" -> Json.num(js.map(_.gcMs).sum),
      "shuffle_bytes" -> Json.num(js.map(_.shuffleBytes).sum),
      "input_bytes" -> Json.num(js.map(_.inBytes).sum),
      "output_bytes" -> Json.num(js.map(_.outBytes).sum)))
  }
}
