package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one closed-loop client.
  *
  * Runs one untimed warm pass (the end of which closes set-up), then the
  * requested passes. A pass runs every lane of the workload once, one lane
  * at a time, in an order permuted by (seed, pass). Each lane is timed from
  * outside in two parts: the call into the program (`build`) and one
  * aggregate that computes and hashes every output column (`action`).
  *
  * With `--trace 1` it runs `--passes` pairs of an untraced and a traced
  * pass (listeners attached, spans recorded), and a fresh `local[1]`
  * session runs one untimed warm pass and one pass for the scaling ratio.
  * Raw samples, passes, spans and counters go to `--out` as JSON; `run.py`
  * turns them into metrics and checks the hashes.
  *
  *   graftbench.Harness --workload W --seed N --passes P --data DIR
  *                      --work DIR --out FILE --cpus C --trace 0|1
  */
object Harness {

  final case class Sample(pass: Int, kind: String, lane: String, status: String,
                          rows: Long, hash: String, buildS: Double, actionS: Double,
                          error: String)

  /** A lane that returns no result within this time counts as failed. */
  val LaneTimeoutS = 60L

  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms with sub-ms resolution, on Spark's event clock. */
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state",
      org.apache.logging.log4j.Level.OFF)
    spark
  }

  /** Per-action scheduler floor: min of 10 warmed 1-row counts. */
  def floorMs(spark: SparkSession): Double = {
    val one = spark.range(1).toDF("x")
    one.count()
    (1 to 10).map { _ =>
      val t = System.nanoTime(); one.count(); (System.nanoTime() - t) / 1e6
    }.min
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val passes = opt("passes").toInt
    val dir = Paths.get(opt("data")).toAbsolutePath.toString
    val work = Paths.get(opt("work")).toAbsolutePath
    val cpus = opt("cpus").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    Files.createDirectories(work)

    val runStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark = session(cpus, work)
    val floor = if (traced) floorMs(spark) else -1.0
    val lanes = Workloads.lanes(workload, work)
    val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "graftbench-lane"); t.setDaemon(true); t
    }
    val samples = ArrayBuffer[Sample]()
    val passLog = ArrayBuffer[(Int, String, Double)]()
    val spans = ArrayBuffer[Span]()
    def span(name: String, parent: Int, start: Double, end: Double): Int = {
      spans += Span(spans.size + 1, name, parent, start, end); spans.size
    }
    val trace = new Trace
    val runSpan = 0 // the run span's id; it is built at exit, when its end is known

    def runLane(lane: Lane, pass: Int, kind: String, passSpan: Int): Unit = {
      lane.reset()
      val s = spark
      // the candidate funnel covers the pair lanes only
      val pairLane = Workloads.llmPairs.contains(lane.name)
      trace.countJoins = passSpan > 0 && pairLane
      val fut = pool.submit(new Callable[(Double, Double, Double, OutputHash.Result)] {
        def call() = {
          val a = now()
          val df = lane.build(s, dir)
          val b = now()
          val r = OutputHash.of(df)
          (a, b, now(), r)
        }
      })
      val sample = try {
        val (a, b, c, r) = fut.get(LaneTimeoutS, TimeUnit.SECONDS)
        if (passSpan > 0) {
          val l = span(s"lane ${lane.name}", passSpan, a, c)
          span("build", l, a, b)
          span("action", l, b, c)
          trace.add("sources.output_bytes", lane.outputBytes.toDouble)
          if (pairLane) trace.add("operators.result_rows", r.rows.toDouble)
        }
        Sample(pass, kind, lane.name, "ok", r.rows, r.hash, (b - a) / 1e3, (c - b) / 1e3, "")
      } catch {
        case _: TimeoutException =>
          s.sparkContext.cancelAllJobs()
          s.streams.active.foreach(q => scala.util.Try(q.stop()))
          fut.cancel(true)
          Sample(pass, kind, lane.name, "timeout", -1, "", -1, -1, s"no result in $LaneTimeoutS s")
        case e: ExecutionException =>
          Sample(pass, kind, lane.name, "error", -1, "", -1, -1, String.valueOf(e.getCause))
      }
      samples += sample
      s.catalog.clearCache()
      if (passSpan > 0) {
        // deliver this lane's listener events before the next lane starts,
        // so per-lane counters such as the join output are attributed exactly
        Trace.drain(s)
        trace.countJoins = false
      }
    }

    def runPass(pass: Int, kind: String): Unit = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(lanes)
      val tracing = kind == "traced"
      if (tracing) trace.register(spark)
      val a = now()
      val passSpan = if (tracing) span(s"pass $pass", runSpan, a, a) else 0
      order.foreach(l => runLane(l, pass, kind, passSpan))
      val b = now()
      if (tracing) {
        spans(passSpan - 1) = spans(passSpan - 1).copy(end = b)
        trace.unregister(spark)
      }
      passLog += ((pass, kind, (b - a) / 1e3))
    }

    runPass(0, "warm")
    val setupS = (now() - runStart) / 1e3
    val expect = lanes.flatMap(l => l.expected(spark, dir).map(df => l.name -> OutputHash.of(df)))

    val gcBefore = gcSeconds()
    if (!traced) (1 to passes).foreach(p => runPass(p, "timed"))
    else {
      // alternate which kind goes first in each pair, so drift within the
      // run (JIT, page cache) does not bias the trace overhead
      (1 to passes).foreach { p =>
        val kinds = if (p % 2 == 1) Seq("untraced", "traced") else Seq("traced", "untraced")
        kinds.zipWithIndex.foreach { case (k, i) => runPass(2 * p - 1 + i, k) }
      }
    }
    val driverGcS = gcSeconds() - gcBefore
    val heapMb = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    if (traced) {
      spark.stop()
      spark = session(1, work)
      // the new session has its own memos and broadcasts: warm it as well
      runPass(2 * passes + 1, "warm")
      runPass(2 * passes + 2, "scaling")
    }
    val rssMb = peakRssMb()
    val runEnd = now()
    spark.stop()
    pool.shutdownNow()

    val allSpans = (Span(0, "run", -1, runStart, runEnd) +: spans.toSeq) ++
      trace.leafSpans.asScala.toSeq.zipWithIndex.map { case ((n, a, b), i) =>
        Span(spans.size + 1 + i, n, -1, a, b) // parent resolved by interval in run.py
      }
    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload":${Json.str(workload)},"seed":$seed,"cpus":$cpus,"traced":$traced,"""
    json ++= s""""setup_s":$setupS,"peak_rss_mb":$rssMb,"floor_ms":$floor,"""
    json ++= s""""driver_gc_s":$driverGcS,"heap_after_gc_mb":$heapMb,"""
    json ++= "\"expect\":" + expect.map { case (n, r) =>
      Json.str(n) + s""":{"rows":${r.rows},"hash":${Json.str(r.hash)}}"""
    }.mkString("{", ",", "}") + ","
    json ++= "\"passes\":" + passLog.map { case (p, k, w) =>
      s"""{"pass":$p,"kind":${Json.str(k)},"wall_s":$w}"""
    }.mkString("[", ",", "]") + ","
    json ++= "\"samples\":" + samples.map { s =>
      s"""{"pass":${s.pass},"kind":${Json.str(s.kind)},"lane":${Json.str(s.lane)},""" +
      s""""status":${Json.str(s.status)},"rows":${s.rows},"hash":${Json.str(s.hash)},""" +
      s""""build_s":${s.buildS},"action_s":${s.actionS},"error":${Json.str(s.error)}}"""
    }.mkString("[", ",", "]") + ","
    json ++= "\"counts\":" + trace.counts.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
      Json.str(k) + ":" + v
    }.mkString("{", ",", "}") + ","
    json ++= "\"spans\":" + (if (!traced) Seq.empty else allSpans).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"start":${s.start},"end":${s.end}}"""
    }.mkString("[", ",", "]")
    json ++= "}"
    Files.writeString(Paths.get(opt("out")), json.toString)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** The process's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
