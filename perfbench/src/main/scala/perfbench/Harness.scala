package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{Checkpoints, GraftSession, SparkEntry, Verify}

/** Drives graft from outside through its public API and records raw timings.
  *
  * One invocation: start a session, dump every workload query once (the
  * untimed warm-up pass, whose parquet output the caller checks against the
  * DuckDB oracle), then run the timed window. With `--trace 1` a second,
  * traced window follows, with a [[Tracer]] on the listener bus. The raw
  * record goes to `<out>/result.json`; `run.py` turns it into metrics.
  *
  * Every query phase runs under its own job group, so listener events can
  * be attributed to the query and phase that launched them:
  * build (`SparkEntry.queries(name)(spark, dir)`), plan
  * (`df.queryExecution.executedPlan`) and execute (a `noop` write).
  */
object Harness {

  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, cores: Int,
      batch: Seq[String], minPasses: Int, warmPasses: Int, launchedMs: Long)

  /** One query execution; `ms` holds the wall-clock phase boundaries. */
  final case class Sample(id: String, query: String, pass: Int,
      ms: Array[Long], buildS: Double, planS: Double, execS: Double, jitS: Double) {
    def json: Map[String, Any] = Map("id" -> id, "query" -> query, "pass" -> pass,
      "ms" -> ms.toSeq, "build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS,
      "jit_s" -> jitS)
  }

  /** A timed window: its passes, samples, errors and calibration times. */
  final class Window(val traced: Boolean) {
    val samples = ArrayBuffer.empty[Sample]
    val errors = ArrayBuffer.empty[(String, String)]
    val passes = ArrayBuffer.empty[(Long, Long)]
    val cal = ArrayBuffer.empty[Double]
    var startMs = 0L
    var endMs = 0L
    def json: Map[String, Any] = Map(
      "traced" -> traced, "start_ms" -> startMs, "end_ms" -> endMs,
      "passes" -> passes.toSeq.map { case (a, b) => Seq(a, b) },
      "samples" -> samples.toSeq.map(_.json),
      "errors" -> errors.toSeq.map { case (q, e) => Seq(q, e) },
      "cal_s" -> cal.toSeq)
  }

  private var ids = 0L
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  @volatile private var sink = 0L

  /** Seconds a fixed single-thread integer loop takes: the host's speed at
    * this moment. It runs on the driver between passes, while no job runs,
    * so the caller can take the host's drift out of the query walls. */
  def calibrate(): Double = {
    val t = System.nanoTime()
    var x = 0L
    var i = 0
    while (i < 20000000) { x = x * 6364136223846793005L + i; x ^= x >>> 17; i += 1 }
    sink = x
    (System.nanoTime() - t) / 1e9
  }

  /** Builds, plans and executes `name`; a query that throws is recorded as
    * an error and never timed. */
  def runQuery(spark: SparkSession, c: Conf, w: Window, name: String, pass: Int): Unit = {
    val sc = spark.sparkContext
    ids += 1
    val id = s"q$ids"
    val ms = new Array[Long](4)
    val ns = new Array[Long](4)
    def mark(i: Int): Unit = { ms(i) = System.currentTimeMillis(); ns(i) = System.nanoTime() }
    val jit0 = jit.getTotalCompilationTime
    try {
      mark(0)
      sc.setJobGroup(s"$id.build", name)
      val df = SparkEntry.queries(name)(spark, c.data)
      mark(1)
      sc.setJobGroup(s"$id.plan", name)
      df.queryExecution.executedPlan
      mark(2)
      sc.setJobGroup(s"$id.execute", name)
      df.write.format("noop").mode("overwrite").save()
      mark(3)
      w.samples += Sample(id, name, pass, ms,
        (ns(1) - ns(0)) / 1e9, (ns(2) - ns(1)) / 1e9, (ns(3) - ns(2)) / 1e9,
        (jit.getTotalCompilationTime - jit0) / 1e3)
    } catch {
      case NonFatal(e) =>
        w.errors += name -> s"${e.getClass.getName}: ${e.getMessage}"
    } finally sc.clearJobGroup()
  }

  /** Sequential passes over the batch list, each in a seed-drawn order,
    * until the window has run `seconds` and holds `minPasses` passes.
    * Before each pass, outside its interval, the host's speed is sampled
    * once per query of the pass. Checkpoint blocks are released after every
    * query: none is in flight. With no query left to run (every one failed
    * its dump) the window ends at once. */
  def batchWindow(spark: SparkSession, c: Conf, w: Window, skip: Set[String]): Unit = {
    val queries = c.batch.filterNot(skip)
    val deadline = w.startMs + (c.seconds * 1000).toLong
    var pass = 0
    while (queries.nonEmpty && (pass < c.minPasses || System.currentTimeMillis() < deadline)) {
      val order = new Random(c.seed * 7919 + pass + (if (w.traced) 100003 else 0)).shuffle(queries)
      order.foreach(_ => w.cal += calibrate())
      val start = System.currentTimeMillis()
      order.foreach { q =>
        runQuery(spark, c, w, q, pass)
        Checkpoints.releaseAll()
      }
      w.passes += start -> System.currentTimeMillis()
      pass += 1
    }
  }

  def runWindow(spark: SparkSession, c: Conf, traced: Boolean, skip: Set[String]): Window = {
    val w = new Window(traced)
    w.startMs = System.currentTimeMillis()
    batchWindow(spark, c, w, skip)
    w.endMs = System.currentTimeMillis()
    w
  }

  def parse(args: Array[String]): Conf = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = kv.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("out"), kv.getOrElse("cores", "4").toInt,
      list("batch"), kv.getOrElse("min-passes", "1").toInt, kv.getOrElse("warm-passes", "0").toInt,
      kv.get("launched-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val unknown = c.batch.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val work = Paths.get(c.out).toAbsolutePath
    Files.createDirectories(work)

    val builder = SparkSession.builder().master(s"local[${c.cores}]").appName("perfbench")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
    val spark = GraftSession.tune(builder, c.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    // from process launch: JVM start, class loading and session start
    val sessionS = (System.currentTimeMillis() - c.launchedMs) / 1e3

    // untimed warm-up pass, which is also the once-per-run correctness dump
    val t1 = System.nanoTime()
    val names = c.batch.distinct
    val dumpDir = work.resolve("dump").toString
    val dumpFailures = Verify.dumpAll(spark, SparkEntry.queries.view.filterKeys(names.toSet).toMap,
      c.data, dumpDir)
    Verify.writeJsonMap(s"$dumpDir/oracle_sql.json", SparkEntry.oracleSql.view.filterKeys(names.toSet).toMap)
    val skip = dumpFailures.map(_._1).toSet
    // more untimed passes through the noop sink, until the JIT settles
    val warm = new Window(traced = false)
    for (pass <- 0 until c.warmPasses; q <- names.filterNot(skip)) {
      runQuery(spark, c, warm, q, pass)
      Checkpoints.releaseAll()
    }
    for (_ <- 0 until 5) calibrate()
    val warmupS = (System.nanoTime() - t1) / 1e9

    val windows = Seq.newBuilder[Window]
    windows += runWindow(spark, c, traced = false, skip)
    var spans = Seq.empty[Map[String, Any]]
    var blocks = Map.empty[String, Any]
    if (c.trace) {
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      windows += runWindow(spark, c, traced = true, skip)
      tracer.drain()
      spark.sparkContext.removeSparkListener(tracer)
      spans = tracer.spans
      blocks = Map("new_blocks" -> tracer.newBlocks, "new_bytes" -> tracer.newBlockBytes,
        "peak_bytes" -> tracer.peakBlockBytes)
    }
    spark.stop()

    val result = Map[String, Any](
      "workload" -> c.workload, "seed" -> c.seed, "data" -> c.data, "cores" -> c.cores,
      "session_s" -> sessionS, "warmup_s" -> warmupS,
      "dump_failures" -> dumpFailures.map { case (q, e) => Seq(q, e) },
      "warmup_errors" -> warm.errors.toSeq.map { case (q, e) => Seq(q, e) },
      "windows" -> windows.result().map(_.json),
      "spans" -> spans, "blocks" -> blocks)
    Files.writeString(work.resolve("result.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
  }
}
