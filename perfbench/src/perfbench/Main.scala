package perfbench

import graft.HostSteal
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** A metric as printed: name, value, unit. */
final case class M(name: String, value: Double, unit: String)

/** What a workload run returns. `notes` go on the line above the result. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[M],
                         notes: Seq[(String, Any)] = Nil, traceLines: Seq[String] = Nil)

/** The command line of one benchmark run. */
final case class Args(workload: String, seed: Long, trace: Boolean,
                      work: Path, size: String, inject: String, cpus: Int,
                      record: Option[Path], benchDir: Path, traceOut: Path) {
  def tiny: Boolean = size == "tiny"
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Long => n.toString
    case n: Int => n.toString
    case Some(x) => value(x)
    case None => "null"
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/**
 * One benchmark run in one JVM: set up the named workload, measure its
 * fixed work, check its outputs, and print one JSON result as the last
 * line of stdout. `run.py` builds the classes and calls this.
 */
object Main {
  val Workloads = Seq("ingest_backfill", "query_suite")

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val work = Paths.get(need("work")).toAbsolutePath
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      trace = need("trace") == "1",
      work = work,
      size = m.getOrElse("size", "normal"),
      inject = m.getOrElse("inject", "none"),
      cpus = need("cpus").toInt,
      record = m.get("record").map(Paths.get(_).toAbsolutePath),
      benchDir = Paths.get(need("bench-dir")).toAbsolutePath,
      traceOut = Paths.get(need("trace-out")).toAbsolutePath)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    Files.createDirectories(a.work)
    val spark = session(a)
    val out =
      try a.workload match {
        case "ingest_backfill" => Ingest.run(spark, a)
        case "query_suite" => QuerySuite.run(spark, a)
      } finally spark.stop()
    if (a.trace) Trace.write(a.traceOut, out.traceLines)
    val correct = out.failed == 0 && out.attempted > 0
    // the notes (host steal, sizes) sit on the line above the result
    println(Json.obj(Seq("workload" -> a.workload, "seed" -> a.seed,
      "trace" -> a.trace) ++ out.notes))
    println(Json.obj(Seq(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> out.metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)))
    System.out.flush()
    sys.exit(0)
  }

  // ── helpers shared by the workloads ────────────────────────────────────

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `body` and return its wall seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0))
  }

  /** Readings over a timed phase: wall, process CPU, host steal. */
  final class Phase {
    private val steal0 = HostSteal.ticks()
    private val cpu0 = Host.cpuSeconds
    private val t0 = System.nanoTime()
    private var done: Option[(Double, Double, Option[Double])] = None
    def end(): Unit = done = Some((seconds(t0), Host.cpuSeconds - cpu0,
      HostSteal.stolenFrac(steal0, HostSteal.ticks())))
    def wall: Double = done.get._1
    def cpu: Double = done.get._2
    def steal: Option[Double] = done.get._3
  }

  /** Per-layer metrics every traced workload reports from its timed phase. */
  def sparkLayer(): Seq[M] = {
    val c = Trace.timed
    Seq(M("spark.executor_cpu_s", c.cpuNs / 1e9, "s"), M("spark.gc_s", c.gcMs / 1e3, "s"),
      M("spark.shuffle_bytes", c.shuffleBytes.toDouble, "bytes"),
      M("spark.spill_bytes", c.spillBytes.toDouble, "bytes"))
  }
}
