package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval of a request. Times are System.nanoTime. */
final case class SpanRec(id: Int, parent: Int, req: Int, name: String,
    layer: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** A Spark job and the task totals of its stages. */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0
  val taskMs = mutable.ArrayBuffer[Long]()
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
}

/** Graft frames of a request thread at one instant, innermost first. */
final case class StackSample(req: Int, t: Long, frames: Array[String])

/** Peak bytes of cached RDD blocks, from block-update events. */
final class CacheGauge extends SparkListener {
  private val sizes = mutable.HashMap[String, Long]()
  private var now = 0L
  @volatile var peak = 0L
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      val size =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      now += size - sizes.getOrElse(key, 0L)
      if (size > 0) sizes(key) = size else sizes.remove(key)
      peak = math.max(peak, now)
    }
  }
}

/** CPU time of finished Spark tasks, by the job group of their stage. */
final class TaskCpu extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val nanos = new ConcurrentHashMap[String, java.lang.Long]()
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(stageGroup.put(e.stageInfo.stageId, _))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics))
      nanos.merge(g, m.executorCpuTime + m.executorDeserializeCpuTime, _ + _)
  def seconds(group: String): Double =
    Option(nanos.get(group)).map(_.longValue / 1e9).getOrElse(0.0)
}

/** The traced run's recorder.
  *
  *  - Spans are opened by the benchmark around each call it makes into
  *    a layer, and kept in memory.
  *  - A SparkListener attributes jobs to requests by job group, and
  *    task totals to jobs by stage.
  *  - A sampler reads the request thread's stack every few
  *    milliseconds while a traced request runs; runs of samples with
  *    the same innermost `graft.*` frame become child spans, so time
  *    inside calls the benchmark cannot split (`Cli.run`) is still
  *    attributed to a module.
  *
  * Event-derived numbers are read only after [[stop]] has drained the
  * listener bus, so a request's job-end events have all arrived.
  */
final class Tracer(spark: SparkSession, sampleMicros: Long = 4000L) {
  private val sc = spark.sparkContext
  private val originNanos = System.nanoTime()
  private val originMillis = System.currentTimeMillis()
  def epochMs(nanos: Long): Double = originMillis + (nanos - originNanos) / 1e6

  val spans = new ConcurrentLinkedQueue[SpanRec]()
  private val ids = new AtomicInteger()

  def span[A](req: Int, parent: Int, name: String, layer: String)(
      body: Int => A): A = {
    val id = ids.incrementAndGet()
    val s = System.nanoTime()
    try body(id)
    finally spans.add(SpanRec(id, parent, req, name, layer, s, System.nanoTime()))
  }

  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val j = new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""), e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
        }
      }
  }

  private val watched = new ConcurrentHashMap[Thread, Integer]()
  val samples = new ConcurrentLinkedQueue[StackSample]()
  @volatile private var running = true
  private val sampler = new Thread(() => {
    while (running) {
      watched.forEach { (th, req) =>
        val fr = th.getStackTrace.iterator
          .filter(_.getClassName.startsWith("graft.")).map(Tracer.frame).toArray
        samples.add(StackSample(req, System.nanoTime(), fr))
      }
      LockSupport.parkNanos(sampleMicros * 1000L)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)

  /** Sample the calling thread's stack while `body` runs. */
  def sampled[A](req: Int)(body: => A): A = {
    watched.put(Thread.currentThread, req)
    try body finally watched.remove(Thread.currentThread)
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    sampler.start()
  }

  /** Stop sampling and wait until every posted event was delivered. */
  def stop(): Unit = {
    running = false
    sampler.join()
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
  }

  // ---- analysis, after stop() ----

  private lazy val samplesByReq: Map[Int, IndexedSeq[StackSample]] =
    samples.asScala.toIndexedSeq.groupBy(_.req)
      .map { case (r, ss) => r -> ss.sortBy(_.t) }

  /** (start, duration, frames) per sample of a request. */
  def intervals(req: Int): IndexedSeq[(Long, Long, Array[String])] = {
    val ss = samplesByReq.getOrElse(req, IndexedSeq.empty)
    ss.indices.map { i =>
      val dt = if (i + 1 < ss.size) ss(i + 1).t - ss(i).t else sampleMicros * 1000L
      (ss(i).t, dt, ss(i).frames)
    }
  }

  /** Sampled time during which a frame matching `pred` was on the stack. */
  def inclusiveMs(req: Int, pred: String => Boolean): Double =
    intervals(req).collect { case (_, dt, fr) if fr.exists(pred) => dt }.sum / 1e6

  /** Merged intervals (start, end) during which `pred` held. */
  def windows(req: Int, pred: String => Boolean): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer[(Long, Long)]()
    intervals(req).foreach { case (t, dt, fr) =>
      if (fr.exists(pred)) {
        if (out.nonEmpty && out.last._2 >= t - 1000L) out(out.size - 1) = (out.last._1, t + dt)
        else out += ((t, t + dt))
      }
    }
    out.toSeq
  }

  /** Distinct calls into frames matching `pred`: a new call starts when
    * the outermost matching method or any of its callers (with call
    * line) changes, so two back-to-back calls from different lines
    * count twice.
    */
  def entries(req: Int, pred: String => Boolean): Int = {
    var last: String = null
    var n = 0
    intervals(req).foreach { case (_, _, fr) =>
      val i = fr.lastIndexWhere(pred)
      val sig =
        if (i < 0) null
        else Tracer.method(fr(i)) + "|" + fr.drop(i + 1).mkString("|")
      if (sig != null && sig != last) n += 1
      last = sig
    }
    n
  }

  /** Child spans derived from samples: one per run of samples with the
    * same innermost graft method, layer = that method's module.
    */
  def sampledSpans(req: Int, parentAt: Long => Int): Seq[SpanRec] = {
    val out = mutable.ArrayBuffer[SpanRec]()
    var key: String = null
    var s0 = 0L
    var s1 = 0L
    def flush(): Unit = if (key != null) {
      out += SpanRec(ids.incrementAndGet(), parentAt(s0), req,
        "sampled:" + key, Tracer.module(key), s0, s1)
    }
    intervals(req).foreach { case (t, dt, fr) =>
      val k = fr.headOption.map(Tracer.method).orNull
      if (k != key || t > s1 + 1000000L) { flush(); key = k; s0 = t }
      s1 = t + dt
    }
    flush()
    out.toSeq
  }

  def jobsOf(group: String): Seq[JobRec] =
    jobs.values.filter(_.group == group).toSeq
}

object Tracer {
  /** `pkg.Class.method:line`, with Scala's object `$` and lambda
    * wrappers folded into the enclosing method name.
    */
  def frame(e: StackTraceElement): String = {
    val cls = e.getClassName.takeWhile(_ != '$')
    val m = e.getMethodName
    val name =
      if (m.startsWith("$anonfun$")) m.stripPrefix("$anonfun$").takeWhile(_ != '$')
      else m
    s"$cls.$name:${e.getLineNumber}"
  }

  def method(frame: String): String = frame.takeWhile(_ != ':')

  /** The repository module a frame belongs to (`graft.<module>.X`);
    * top-level classes such as `graft.Cli` report as `cli`.
    */
  def module(frame: String): String = {
    val parts = method(frame).split('.')
    if (parts.length >= 4) parts(1) else "cli"
  }

  val Layers: Set[String] = Set("catalog", "exec", "render", "profile", "ext")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Self time per layer of one request's spans: each span's duration
    * minus the part its direct children cover.
    */
  def selfTimes(spans: Seq[SpanRec]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var cov = 0L
      var reach = Long.MinValue
      covered.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) cov += b - from
        reach = math.max(reach, b)
      }
      s.layer -> (s.end - s.start - cov) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
