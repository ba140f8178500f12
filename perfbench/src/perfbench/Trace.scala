package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into the program, recorded from outside it. */
final case class Span(name: String, parent: String, start: Long, end: Long,
    startMs: Long, endMs: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span log; written out once, when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]
  def apply[T](name: String)(f: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      synchronized { buf += Span(name, parent, t0, t1, t0Ms, System.currentTimeMillis()) }
    }
  }
  def all: Seq[Span] = synchronized(buf.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def toJson: String = all.map { s =>
    s"""{"name":"${s.name}","parent":"${s.parent}","start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Per-job record kept by [[JobListener]]. Times are listener-event wall
  * clock ms; `desc` is the job description (`g:<phase>` for engine-labelled
  * operator phases). */
final class JobRec(val id: Int, val desc: String, val start: Long) {
  @volatile var end: Long = -1L
  var tasks = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
}

/** Job / stage / task counters through Spark's public listener API. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, desc, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    lastEventMs = System.currentTimeMillis()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    lastEventMs = System.currentTimeMillis()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); r <- jobs.get(j)) {
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.outputBytes += m.outputMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    lastEventMs = System.currentTimeMillis()
  }

  /** Jobs that started inside [t0Ms, t1Ms]. Waits for the listener bus to
    * go quiet first, so events of jobs that already ended are counted. */
  def jobsBetween(t0Ms: Long, t1Ms: Long): Seq[JobRec] = {
    quiesce()
    synchronized(jobs.values.filter(j => j.start >= t0Ms && j.start <= t1Ms).toList)
  }
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() - lastEventMs < 300 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }
}

object JobListener {
  /** Wall of [t0, t1] covered by no job (union of job intervals subtracted). */
  def idleSeconds(jobs: Seq[JobRec], t0Ms: Long, t1Ms: Long): Double = {
    val iv = jobs.map(j => (math.max(j.start, t0Ms), math.min(if (j.end < 0) t1Ms else j.end, t1Ms)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (t1Ms - t0Ms) - covered) / 1e3
  }
}

/** Streaming micro-batch phase durations (`durationMs`) per progress event. */
final class BatchListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    progress.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap +
      ("numInputRows" -> e.progress.numInputRows))
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
