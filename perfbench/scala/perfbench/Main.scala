package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One request of a closed loop, as the harness hands it to a
  * workload: spans opened through [[span]] become children of the
  * request's root span when the request is traced, and cost nothing
  * otherwise.
  */
final class Req(val rid: Int, val tracer: Option[Tracer], val root: Int) {
  def span[A](name: String, layer: String)(body: => A): A = tracer match {
    case Some(t) => t.span(rid, root, name, layer)(_ => body)
    case None => body
  }
}

/** A finished request, the `seq`-th of its client. Times are
  * System.nanoTime; `cpuS` is the CPU time of the client thread plus
  * that of the Spark tasks the request ran.
  */
final case class Done(rid: Int, client: Int, seq: Int, start: Long, end: Long,
    traced: Boolean, error: Option[String], parts: Map[String, Double],
    cpuS: Double) {
  def wallS: Double = (end - start) / 1e9
}

trait Workload {
  def name: String
  def clients: Int
  /** Requests the seeded inputs can serve; the loop stops there. */
  def capacity: Int = Int.MaxValue
  /** Write this run's seeded inputs under `dir` and register what the
    * requests need. Runs once per set-up round, each time on a fresh
    * session.
    */
  def prepare(spark: SparkSession, dir: Path): Unit
  def warmUp(): Unit
  /** One request; throws on failure. Returns named sub-timings (s). */
  def request(r: Req): Map[String, Double]
  /** After the window: write what the output check needs under `out`
    * and return its description for the report.
    */
  def finish(out: Path, done: Seq[Done]): Map[String, Any]
  /** Per-layer metrics from the traced requests. */
  def layers(t: Tracer, traced: Seq[Done]): Map[String, Double]
}

/** Runs one workload: a cold set-up round, an untimed warm-up, several
  * timed set-up rounds on the warm JVM, then closed-loop clients for
  * the measured window, and writes the run report (`report.json`) for
  * run.py.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR
  */
object Main {
  val Cores = 4
  /** Set-up rounds per run: a cold one, then warm ones whose median is
    * the run's set-up time.
    */
  val SetupRounds = 6
  val SetupGroup = "setup"

  val SessionConf: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cores]",
    "spark.sql.shuffle.partitions" -> Cores.toString,
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def session(): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    SessionConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val work = Paths.get(opt("work"))
    val w: Workload = opt("workload") match {
      case "vimdiff" => new Vimdiff(seed, data)
      case "cdc_merge" => new Cdc(seed)
      case other => sys.error(s"unknown workload $other")
    }

    val threadCpu = java.lang.management.ManagementFactory.getThreadMXBean
    val setupS = mutable.ArrayBuffer[Double]()
    val setupCpuS = mutable.ArrayBuffer[Double]()
    val registerS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var warmupS = 0.0
    for (round <- 0 until SetupRounds) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      val c0 = threadCpu.getCurrentThreadCpuTime
      spark = session()
      val roundCpu = new TaskCpu
      spark.sparkContext.addSparkListener(roundCpu)
      spark.sparkContext.setJobGroup(SetupGroup, "set-up")
      val t1 = System.nanoTime()
      graft.catalog.Tables.register(spark, data)
      registerS += (System.nanoTime() - t1) / 1e9
      w.prepare(spark, work.resolve(s"setup-$round"))
      spark.sparkContext.clearJobGroup()
      setupS += (System.nanoTime() - t0) / 1e9
      val c1 = threadCpu.getCurrentThreadCpuTime
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      setupCpuS += (c1 - c0) / 1e9 + roundCpu.seconds(SetupGroup)
      spark.sparkContext.removeSparkListener(roundCpu)
      // The warm-up follows the cold round, so the rounds after it
      // time set-up on a compiled JVM.
      if (round == 0) {
        val tw = System.nanoTime()
        w.warmUp()
        warmupS = (System.nanoTime() - tw) / 1e9
      }
    }

    val gauge = new CacheGauge
    spark.sparkContext.addSparkListener(gauge)
    val taskCpu = new TaskCpu
    spark.sparkContext.addSparkListener(taskCpu)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    val (requests, windowS, cpuS) = window(spark, w, seconds, tracer)
    tracer.foreach(_.stop())
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val done = requests.map(d => d.copy(cpuS = d.cpuS + taskCpu.seconds(Groups.of(d.rid))))

    val out = work.resolve("out")
    Files.createDirectories(out)
    val checks = w.finish(out, done)
    val traced = done.filter(d => d.traced && d.error.isEmpty)
    val layerMetrics = tracer.map { t =>
      w.layers(t, traced) ++ sparkMetrics(t, traced, gauge) ++
        reconcile(t, traced, done, out.resolve("trace.jsonl")) +
        ("catalog.register_s" -> Tracer.median(registerS.drop(1).toSeq))
    }

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name,
      "clients" -> w.clients,
      "seed" -> seed,
      "seconds" -> seconds,
      "trace" -> trace,
      "config" -> (SessionConf.toMap ++ Map(
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "jvm" -> System.getProperty("java.vm.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString)),
      "setup_rounds_s" -> setupS.toSeq,
      "setup_rounds_cpu_s" -> setupCpuS.toSeq,
      "register_s" -> registerS.toSeq,
      "warmup_s" -> warmupS,
      "window_s" -> windowS,
      "window_cpu_s" -> cpuS,
      "cache_peak_mb" -> gauge.peak / 1e6,
      "requests" -> done.map(d => Map(
        "rid" -> d.rid, "client" -> d.client, "wall_s" -> d.wallS, "cpu_s" -> d.cpuS,
        "traced" -> d.traced, "error" -> d.error, "parts" -> d.parts)),
      "checks" -> checks,
      "layers" -> layerMetrics)
    Files.writeString(work.resolve("report.json"), Json(report))
    spark.stop()
  }

  /** The measured window: `w.clients` closed-loop clients, each
    * sending its next request only after the previous one returned,
    * until `seconds` have passed; a request in flight at the deadline
    * completes and counts. In a traced run every other request of a
    * client is traced, so traced and untraced walls can be compared.
    * Returns the requests, with the CPU time of their client thread,
    * the window's wall time and the CPU time the whole JVM used in it.
    */
  def window(spark: SparkSession, w: Workload, seconds: Double,
      tracer: Option[Tracer]): (Seq[Done], Double, Double) = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val threadCpu = java.lang.management.ManagementFactory.getThreadMXBean
    val cpu0 = os.getProcessCpuTime
    val next = new AtomicInteger()
    val done = new ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        var k = 0
        var rid = next.getAndIncrement()
        // A traced run goes on until the client has sent TracedMin
        // requests, so that after its first one (which pays for the
        // fresh session) both traced and untraced requests remain.
        while ((System.nanoTime() < deadline || (tracer.isDefined && k < TracedMin)) &&
            rid < w.capacity) {
          val traced = tracer.isDefined && k % 2 == 0
          val t = if (traced) tracer else None
          // Single-client requests start from an empty CacheManager:
          // a persisted plan from the previous request must not be
          // read back as if computed (untimed).
          if (w.clients == 1) spark.sharedState.cacheManager.clearCache()
          spark.sparkContext.setJobGroup(Groups.of(rid), w.name)
          val s = System.nanoTime()
          val c0 = threadCpu.getCurrentThreadCpuTime
          val res =
            try {
              Right(t match {
                case Some(tr) =>
                  tr.span(rid, 0, "request", "bench") { root =>
                    val r = new Req(rid, t, root)
                    tr.sampled(rid)(w.request(r))
                  }
                case None => w.request(new Req(rid, None, 0))
              })
            } catch {
              case e: Throwable =>
                System.err.println(s"[perfbench] request $rid failed: $e")
                Left(e.toString)
            }
          val e = System.nanoTime()
          val c1 = threadCpu.getCurrentThreadCpuTime
          spark.sparkContext.clearJobGroup()
          done.add(Done(rid, c, k, s, e, traced, res.left.toOption,
            res.getOrElse(Map.empty), (c1 - c0) / 1e9))
          k += 1
          rid = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val all = done.asScala.toSeq.sortBy(_.rid)
    val end = if (all.isEmpty) System.nanoTime() else all.map(_.end).max
    (all, (end - t0) / 1e9, (os.getProcessCpuTime - cpu0) / 1e9)
  }

  /** Spark execution of the traced requests, by job group. */
  def sparkMetrics(t: Tracer, traced: Seq[Done],
      gauge: CacheGauge): Map[String, Double] = {
    val per = traced.map(d => t.jobsOf(Groups.of(d.rid)))
    val all = per.flatten
    val wallMs = traced.map(_.wallS * 1000).sum
    def med(f: Seq[JobRec] => Double) = Tracer.median(per.map(f))
    Map(
      "spark.tasks" -> med(_.map(_.tasks).sum.toDouble),
      "spark.task_p50_ms" -> Tracer.median(all.flatMap(_.taskMs).map(_.toDouble)),
      "spark.busy_frac" ->
        (if (wallMs > 0) all.map(_.runMs).sum / (wallMs * Cores) else 0.0),
      "spark.shuffle_write_mb" -> med(_.map(_.shuffleWrite).sum / 1e6),
      "spark.spill_mb" -> med(_.map(_.spill).sum / 1e6),
      "spark.gc_ms" -> med(_.map(_.gcMs).sum.toDouble),
      "spark.cache_peak_mb" -> gauge.peak / 1e6)
  }

  /** Layer self times per traced request, the check that they add up
    * to the request's wall time, and the tracing overhead. Spans (with
    * the Spark jobs each one started) are written to `file`.
    */
  def reconcile(t: Tracer, traced: Seq[Done], all: Seq[Done],
      file: Path): Map[String, Double] = {
    val byReq = t.spans.asScala.toSeq.groupBy(_.req)
    val lines = mutable.ArrayBuffer[String]()
    val selfMs = mutable.LinkedHashMap(Tracer.Layers.toSeq.sorted.map(_ -> 0.0): _*)
    val unattributed = traced.flatMap { d =>
      byReq.get(d.rid).map { explicit =>
        val root = explicit.find(_.parent == 0).get
        def parentAt(ts: Long): Int =
          explicit.filter(s => s.start <= ts && ts < s.end)
            .sortBy(-_.start).headOption.map(_.id).getOrElse(root.id)
        // a request's last sample may reach past its end
        val spans = explicit ++ t.sampledSpans(d.rid, parentAt)
          .map(s => s.copy(end = math.min(s.end, root.end)))
        val self = Tracer.selfTimes(spans)
        val jobs = t.jobsOf(Groups.of(d.rid))
        val leafAt = (ms: Long) => spans
          .filter(s => t.epochMs(s.start) <= ms && ms <= t.epochMs(s.end))
          .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(root.id)
        val jobsBySpan = jobs.groupBy(j => leafAt(j.startMs))
        spans.sortBy(_.start).foreach { s =>
          val js = jobsBySpan.getOrElse(s.id, Nil)
          lines += Json(Map("req" -> s.req, "id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "layer" -> s.layer,
            "start_ms" -> t.epochMs(s.start), "end_ms" -> t.epochMs(s.end),
            "jobs" -> js.size, "tasks" -> js.map(_.tasks).sum,
            "task_ms" -> js.map(_.runMs).sum))
        }
        Tracer.Layers.foreach(l => selfMs(l) += self.getOrElse(l, 0.0))
        val named = self.filter { case (l, _) => Tracer.Layers(l) }.values.sum
        1.0 - named / root.ms
      }
    }
    Files.write(file, lines.asJava)
    // the first request of each client is left out: it pays for the
    // fresh session, and it is always a traced one
    val later = all.filter(d => d.seq > 0 && d.error.isEmpty)
    val tracedWall = later.filter(_.traced).map(_.wallS)
    val plainWall = later.filterNot(_.traced).map(_.wallS)
    val n = math.max(unattributed.size, 1)
    selfMs.map { case (l, ms) => s"self.${l}_ms" -> ms / n }.toMap ++ Map(
      "trace.unattributed_frac" -> Tracer.median(unattributed),
      "trace.unreconciled_requests" ->
        unattributed.count(_ > ReconcileTolerance).toDouble) ++
      (if (tracedWall.isEmpty || plainWall.isEmpty) Map.empty
       else Map("trace.overhead_ratio" -> Tracer.median(tracedWall) / Tracer.median(plainWall)))
  }

  /** Requests each client sends at least, in a traced run. */
  val TracedMin = 4

  /** Share of a traced request's wall time that may fall outside the
    * five measured layers before the request counts as unreconciled.
    */
  val ReconcileTolerance = 0.10
}

/** The job group the harness runs each request under. */
object Groups {
  def of(rid: Int): String = s"req-$rid"
}
