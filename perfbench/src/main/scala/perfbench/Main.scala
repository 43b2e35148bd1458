package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Raw measurements of one benchmark run, written as JSON for `run.py`,
  * which turns them into the reported metrics. Each measured phase is
  * either `untraced` or `traced`. */
final class Result {
  val setupS = mutable.ArrayBuffer[Double]()
  /** Work done (records or queries), busy seconds and per-operation
    * latency samples (ms), per phase. */
  val work = mutable.Map("untraced" -> 0.0, "traced" -> 0.0)
  val busyS = mutable.Map("untraced" -> 0.0, "traced" -> 0.0)
  val latencyMs = Map("untraced" -> mutable.ArrayBuffer[Double](),
    "traced" -> mutable.ArrayBuffer[Double]())
  var attempted = 0L
  val failures = mutable.ArrayBuffer[(String, String)]()
  /** Exact per-layer counts and self-measured layer values. */
  val counters = mutable.LinkedHashMap[String, Double]()
  /** Extra per-layer samples, e.g. front-door ack latencies (ms). */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val progress = mutable.ArrayBuffer[Map[String, Any]]()
  /** Per query: row counts seen on every execution, and oracle SQL. */
  val rows = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Long]]()
  val oracle = mutable.LinkedHashMap[String, String]()
  /** Registry module of each query operation (analytics only). */
  val family = mutable.LinkedHashMap[String, String]()
  /** Tables the oracle SQL runs over (analytics only). */
  var tablesDir = ""
  var spans: Seq[Span] = Nil
  var windowMs: (Double, Double) = (0, 0)

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer()) += v

  def add(key: String, v: Double): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + v

  /** Count one attempted operation; a thrown exception or a failed
    * check marks it failed with its class and first message line. */
  def attempt(op: String)(f: => Boolean): Boolean = {
    attempted += 1
    val ok = try f catch { case e: Throwable => fail(op, e); return false }
    if (!ok) failures += op -> "check failed"
    ok
  }

  def fail(op: String, e: Throwable): Unit = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val line = Option(root.getMessage).getOrElse("").linesIterator
      .find(_.trim.nonEmpty).getOrElse("").trim.take(300)
    failures += op -> s"${root.getClass.getName}: $line"
  }

  def json(meta: Map[String, Any]): String = {
    def j(v: Any): AnyRef = v match {
      case m: collection.Map[_, _] =>
        val out = new java.util.LinkedHashMap[String, AnyRef]()
        m.foreach { case (k, x) => out.put(k.toString, j(x)) }
        out
      case s: Iterable[_] => s.map(j).toSeq.asJava
      case (a, b) => Seq(j(a), j(b)).asJava
      case d: Double => java.lang.Double.valueOf(d)
      case l: Long => java.lang.Long.valueOf(l)
      case i: Int => java.lang.Integer.valueOf(i)
      case b: Boolean => java.lang.Boolean.valueOf(b)
      case null => null
      case x => x.toString
    }
    val spanRows = spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "attrs" -> s.attrs))
    new ObjectMapper().writeValueAsString(j(meta ++ Map(
      "setup_s" -> setupS, "work" -> work, "busy_s" -> busyS,
      "latency_ms" -> latencyMs, "attempted" -> attempted,
      "failures" -> failures.map { case (o, e) => Map("op" -> o, "error" -> e) },
      "counters" -> counters, "samples" -> samples, "progress" -> progress,
      "rows" -> rows, "oracle" -> oracle, "family" -> family,
      "tables_dir" -> tablesDir,
      "spans" -> spanRows,
      "traced_window_ms" -> Seq(windowMs._1, windowMs._2))))
  }
}

/** One workload. `setup` makes its inputs in `dir` and runs the smallest
  * operation once; `measure` runs operations for about `seconds`. */
trait Workload {
  def setup(): Unit
  def warm(): Unit
  def measure(seconds: Double, phase: String): Unit
  /** Traced-run extras measured outside the timed operations. */
  def probe(): Unit = ()
  def close(): Unit
}

object Main {
  /** At most four task threads, so hosts with more cores run the same
    * plans with the same parallelism. */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(warehouse: Path, local: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toAbsolutePath.toString)
      .config("spark.local.dir", local.toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM in MB (Linux VmHWM). */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val dir = Paths.get(opts("dir"))
    val res = new Result
    val setupReps = 4
    var mark = System.nanoTime()
    def phase(what: String): Unit = {
      val now = System.nanoTime()
      println(f"perfbench: $what took ${(now - mark) / 1e9}%.2f s")
      mark = now
    }

    def make(spark: SparkSession, tracer: Tracer, d: Path): Workload = workload match {
      case "dns_drain" => new DnsDrain(spark, tracer, res, d, seed)
      case "dns_frontdoor" => new FrontDoorLoop(spark, tracer, res, d, seed)
      case "analytics_mix" => new AnalyticsMix(spark, tracer, res, d, seed, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up is repeated from a fresh session and a fresh directory each
    // time (so no store generations carry over); the last one is kept.
    // The first also loads and compiles the JVM's classes (seconds, not
    // set-up work of the program), so set-up time is the median of the
    // three after it.
    var spark: SparkSession = null
    var w: Workload = null
    var tracer: Tracer = null
    for (rep <- 1 to setupReps) {
      if (w != null) { w.close(); spark.stop(); phase("close") }
      val d = dir.resolve(s"setup$rep")
      Files.createDirectories(d)
      val t0 = System.nanoTime()
      spark = session(d.resolve("warehouse"), d.resolve("spark-local"))
      tracer = new Tracer(spark.sparkContext)
      w = make(spark, tracer, d)
      w.setup()
      if (rep > 1) res.setupS += (System.nanoTime() - t0) / 1e9
      phase(s"setup $rep")
    }
    w.warm()
    phase("warm")
    if (!trace) w.measure(seconds, "untraced")
    else {
      // Same-length untraced and traced halves: their difference is the
      // tracing overhead; per-layer numbers come from the traced half.
      w.measure(seconds / 2, "untraced")
      tracer.enable()
      val t0 = tracer.now
      w.measure(seconds / 2, "traced")
      res.windowMs = (t0, tracer.now)
      w.probe()
      tracer.disable()
      res.spans = tracer.spans.asScala.toSeq
    }
    phase("measure")
    w.close()
    spark.stop()
    phase("close")
    val out = res.json(Map("workload" -> workload, "seed" -> seed,
      "seconds" -> seconds, "trace" -> trace, "cores" -> cores,
      "peak_rss_mb" -> peakRssMb()))
    Files.writeString(Paths.get(opts("out")), out)
  }
}
