package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** vimdiff: one closed-loop client runs the CLI's flagship command,
  * profiling `orders` against `orders_v2`, a seed-drifted copy written
  * during set-up (~1% of rows dropped, `o_totalprice` perturbed on
  * another ~1%).
  */
final class Vimdiff(seed: Long, data: String) extends Workload {
  val name = "vimdiff"
  val clients = 1

  val Base = "spark_catalog.default.orders"
  val Target = "spark_catalog.default.orders_v2"

  private var spark: SparkSession = _
  private var inputs: Path = _
  private var tableBytes = 0L

  def prepare(s: SparkSession, dir: Path): Unit = {
    spark = s
    inputs = dir
    val v2 = dir.resolve("orders_v2.parquet").toString
    spark.table("orders")
      .where(expr(s"pmod(hash(o_orderkey, ${seed}L, 1), 100) <> 0"))
      .withColumn("o_totalprice", expr(
        s"""IF(pmod(hash(o_orderkey, ${seed}L, 2), 100) = 0,
           |   o_totalprice + pmod(hash(o_orderkey, ${seed}L, 3), 100000) / 100.0 + 0.01,
           |   o_totalprice)""".stripMargin))
      .coalesce(1).write.parquet(v2)
    spark.read.parquet(v2).createOrReplaceTempView("orders_v2")
    tableBytes = Files.size(java.nio.file.Paths.get(data, "orders.parquet")) +
      Files.list(java.nio.file.Paths.get(v2)).filter(_.toString.endsWith(".parquet"))
        .mapToLong(Files.size(_)).sum
  }

  /** Rendered outputs per request: (base, target, stdout). */
  private val outputs = new ConcurrentHashMap[Int, (String, String, String)]()

  private def run(rid: Int, r: Req): Unit = {
    val work = inputs.resolve("vimdiff")
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val rc = r.span("cli.vimdiff", "cli") {
      graft.Cli.run(Array("vimdiff", Base, Target), spark,
        new PrintStream(out, true, "UTF-8"), new PrintStream(err, true, "UTF-8"), work)
    }
    require(rc == 0, s"vimdiff exited $rc: ${err.toString("UTF-8")}")
    if (rid >= 0) outputs.put(rid, (
      Files.readString(work.resolve("base_result.tsv")),
      Files.readString(work.resolve("target_result.tsv")),
      out.toString("UTF-8")))
  }

  /** Two requests: after one, the JIT is still compiling vimdiff's
    * hot paths.
    */
  def warmUp(): Unit = (0 until 2).foreach(_ => run(-1, new Req(-1, None, 0)))

  def request(r: Req): Map[String, Double] = { run(r.rid, r); Map.empty }

  def finish(out: Path, done: Seq[Done]): Map[String, Any] = {
    val dir = out.resolve("vimdiff")
    Files.createDirectories(dir)
    val distinct = new ConcurrentHashMap[(String, String, String), String]()
    val reqs = done.filter(_.error.isEmpty).flatMap(d => Option(outputs.get(d.rid)).map { o =>
      val key = distinct.computeIfAbsent(o, _ => {
        val k = s"r${d.rid}"
        Files.writeString(dir.resolve(s"$k.base.tsv"), o._1)
        Files.writeString(dir.resolve(s"$k.target.tsv"), o._2)
        Files.writeString(dir.resolve(s"$k.stdout.txt"), o._3)
        k
      })
      Map("rid" -> d.rid, "output" -> s"vimdiff/$key")
    })
    Map("kind" -> "vimdiff", "requests" -> reqs,
      "orders_v2" -> inputs.resolve("orders_v2.parquet").toString,
      "rows" -> (spark.table("orders").count() + spark.table("orders_v2").count()))
  }

  def layers(t: Tracer, traced: Seq[Done]): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val profiler = (f: String) => f.startsWith("graft.profile.TableProfiler.")
    val per = traced.map { d =>
      val jobs = t.jobsOf(Groups.of(d.rid))
      val build = t.windows(d.rid, profiler).map { case (a, b) => (t.epochMs(a), t.epochMs(b)) }
      val o = Option(outputs.get(d.rid))
      Map(
        "profile.build_ms" -> t.inclusiveMs(d.rid, profiler),
        "profile.exec_ms" -> t.inclusiveMs(d.rid, _.startsWith("graft.exec.ResultSet.fromDataFrame")),
        "profile.diff_ms" -> t.inclusiveMs(d.rid, _.startsWith("graft.profile.TableDiff.differences")),
        "profile.calls" -> t.entries(d.rid, profiler).toDouble,
        "profile.eager_jobs" -> jobs.count(j =>
          build.exists { case (a, b) => a <= j.startMs && j.startMs <= b }).toDouble,
        "profile.scan_amp" -> jobs.map(_.inputBytes).sum.toDouble / tableBytes,
        "render.aligned_ms" -> t.inclusiveMs(d.rid, _.startsWith("graft.render.TsvRenderer.aligned")),
        "render.mb" -> o.map(x => (x._1.length + x._2.length + x._3.length) / 1e6).getOrElse(0.0))
    }
    if (per.isEmpty) Map.empty
    else per.head.keys.map(k => k -> mean(per.map(_(k)))).toMap
  }
}
