package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.expr
import graft.exec.{MergeSql, TableLogSql}
import graft.ext.TableLog

/** cdc_merge: one closed-loop client applies seeded change batches to
  * a TableLog table initialised from `orders`. Each request is one
  * MERGE statement through `MergeSql.execute`, then a read of the new
  * version and of the one before it (`FOR VERSION AS OF`) through
  * `TableLogSql.select`, then `TableLog.compact`. Every request does
  * the same steps, so the mean over a window does not depend on how
  * many requests fit into it.
  */
final class Cdc(seed: Long) extends Workload {
  val name = "cdc_merge"
  val clients = 1
  /** Change batches written per run; request i applies batch i. */
  val Batches = 48
  override def capacity: Int = Batches

  private var spark: SparkSession = _
  private var dir: Path = _
  private var table: String = _
  private var batchRows: Map[Int, Long] = Map.empty
  private var batchFileBytes = 0L

  /** ~1% of keys per batch (each key in at most one batch): 70% of
    * those updated, 30% deleted, plus fresh keys inserted, as many as
    * 1% of the table's rows. Updated and inserted customer keys are
    * drawn from the range `orders` uses.
    */
  def prepare(s: SparkSession, d: Path): Unit = {
    spark = s
    dir = d
    val batches = d.resolve("cdc_batches.parquet").toString
    val orders = spark.table("orders")
    val stats = orders.selectExpr("count(*)", "max(o_custkey) + 1").head
    val inserts = stats.getLong(0) / 100
    val custkeys = stats.getLong(1)
    val changed = orders
      .withColumn("batch_id", expr(s"pmod(hash(o_orderkey, ${seed}L), 100)"))
      .where(s"batch_id <= $Batches")
      .selectExpr("batch_id", "o_orderkey",
        s"IF(pmod(hash(o_orderkey, batch_id, ${seed}L, 1), 10) < 7, 'U', 'D') AS op",
        s"pmod(hash(o_orderkey, batch_id, ${seed}L, 2), $custkeys) AS o_custkey",
        s"round(o_totalprice * (0.9 + pmod(hash(o_orderkey, batch_id, ${seed}L, 3), 2000) / 10000.0), 2) AS o_totalprice",
        "o_orderdate")
    val inserted = spark.range(Batches + 1).withColumnRenamed("id", "batch_id")
      .crossJoin(spark.range(inserts).withColumnRenamed("id", "i"))
      .selectExpr("batch_id", s"1000000000 + batch_id * $inserts + i AS o_orderkey", "'I' AS op",
        s"pmod(hash(batch_id, i, ${seed}L), $custkeys) AS o_custkey",
        s"round(1000 + pmod(hash(batch_id, i, ${seed}L, 1), 49900000) / 100.0, 2) AS o_totalprice",
        "CAST(timestamp_micros(788918400000000 + pmod(hash(batch_id, i), 2400) * 86400000000)" +
          " AS TIMESTAMP_NTZ) AS o_orderdate")
    changed.unionByName(inserted).coalesce(1).write.parquet(batches)
    spark.read.parquet(batches).createOrReplaceTempView("cdc_batches")
    batchRows = spark.table("cdc_batches").groupBy("batch_id").count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    batchFileBytes = Files.list(Paths.get(batches)).iterator.asScala
      .filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum
    val base = orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    table = d.resolve("orders_cdc").toString
    TableLog.init(base, table)
  }

  def mergeSql(batch: Int): String =
    s"""MERGE INTO orders_cdc t
       |USING (SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, op
       |       FROM cdc_batches WHERE batch_id = $batch) s
       |ON t.o_orderkey = s.o_orderkey
       |WHEN MATCHED AND s.op = 'D' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET o_custkey = s.o_custkey, o_totalprice = s.o_totalprice
       |WHEN NOT MATCHED AND s.op = 'I' THEN
       |  INSERT (o_orderkey, o_custkey, o_totalprice, o_orderdate)
       |  VALUES (s.o_orderkey, s.o_custkey, s.o_totalprice, s.o_orderdate)""".stripMargin

  def readSql(version: Option[Int]): String =
    s"""SELECT count(*) AS n, sum(o_custkey) AS sum_custkey,
       |  sum(o_totalprice) AS sum_price, max(o_orderkey) AS max_key
       |FROM orders_cdc${version.map(v => s" FOR VERSION AS OF $v").getOrElse("")}""".stripMargin

  /** Per request: batch, merge version, current and previous reads. */
  private val reads = new ConcurrentHashMap[Int, (Int, Int, Row, Row)]()
  /** Per request: files and bytes of the merge commit, data-dir and live bytes. */
  private val storage = new ConcurrentHashMap[Int, (Int, Long, Long, Long)]()

  private def run(batch: Int, dirOf: String, r: Req): Map[String, Double] = {
    val tables = Map("orders_cdc" -> dirOf)
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9)
    }
    val (v, mergeS) = timed(r.span("merge", "exec")(MergeSql.execute(spark, mergeSql(batch), dirOf)))
    val ((cur, prev), readS) = timed {
      (r.span("read_current", "exec")(TableLogSql.select(spark, readSql(None), tables).collect().head),
        r.span("read_previous", "exec")(TableLogSql.select(spark, readSql(Some(v - 1)), tables).collect().head))
    }
    val compactS = timed(r.span("compact", "ext")(TableLog.compact(spark, dirOf)))._2
    if (r.rid >= 0) reads.put(r.rid, (batch, v, cur, prev))
    Map("merge_s" -> mergeS, "read_s" -> readS, "compact_s" -> compactS)
  }

  /** Two requests on a separate table: the first merges of a JVM are
    * still compiling.
    */
  def warmUp(): Unit = {
    val warm = dir.resolve("orders_warm").toString
    TableLog.init(spark.table("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"), warm)
    (0 until 2).foreach(_ => run(Batches, warm, new Req(-1, None, 0)))
  }

  def request(r: Req): Map[String, Double] = {
    val parts = run(r.rid, table, r)
    recordStorage(r.rid)
    parts
  }

  /** Commit-log and file-system facts after a request (untimed). */
  private def recordStorage(rid: Int): Unit = {
    val (_, v, _, _) = reads.get(rid)
    val commits = TableLog.commits(table)
    val data = Paths.get(table, "data")
    def size(f: String) = Files.size(data.resolve(f))
    val live = commits.foldLeft(Set.empty[String])((s, c) => s -- c.remove ++ c.add)
    val added = commits.find(_.version == v).map(_.add).getOrElse(Nil)
    val all = Files.list(data).iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .map(Files.size(_)).sum
    storage.put(rid, (added.size, added.map(size).sum, all, live.toSeq.map(size).sum))
  }

  def finish(out: Path, done: Seq[Done]): Map[String, Any] = {
    val snapshot = out.resolve("cdc_final.parquet").toString
    TableLog.read(spark, table).write.parquet(snapshot)
    def row(x: Row) = Seq(x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3))
    val reqs = done.filter(_.error.isEmpty).flatMap(d => Option(reads.get(d.rid)).map {
      case (b, v, cur, prev) => Map("rid" -> d.rid, "batch" -> b, "version" -> v,
        "current" -> row(cur), "previous" -> row(prev))
    })
    Map("kind" -> "cdc", "requests" -> reqs,
      "batches" -> dir.resolve("cdc_batches.parquet").toString,
      "applied" -> reads.size, "snapshot" -> snapshot)
  }

  def layers(t: Tracer, traced: Seq[Done]): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val spans = t.spans.asScala.toSeq.groupBy(_.req)
    val per = traced.flatMap(d => for {
      ss <- spans.get(d.rid)
      (files, written, all, live) <- Option(storage.get(d.rid))
    } yield {
      val byName = ss.groupMapReduce(_.name)(_.ms)(_ + _)
      val batchBytes = batchFileBytes.toDouble * batchRows(d.rid) / batchRows.values.sum
      Map(
        "exec.merge_ms" -> byName.getOrElse("merge", 0.0),
        "exec.timetravel_ms" -> (byName.getOrElse("read_current", 0.0) +
          byName.getOrElse("read_previous", 0.0)),
        "ext.tablelog.write_amp" -> written / batchBytes,
        "ext.tablelog.files_per_commit" -> files.toDouble,
        "ext.tablelog.space_amp" -> all.toDouble / live)
    })
    val compactMs = traced.flatMap(d => spans.getOrElse(d.rid, Nil)).filter(_.name == "compact").map(_.ms)
    if (per.isEmpty) Map.empty
    else per.head.keys.map(k => k -> mean(per.map(_(k)))).toMap +
      ("ext.tablelog.compact_ms" -> mean(compactMs))
  }
}
