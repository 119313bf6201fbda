package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * Benchmark main (driver contract): runs every SparkEntry query on
 * SPARK_GRAFT_SF_DIR, prints one JSON line with per-query seconds.
 * Queries run in sorted order after a warmup pass over EVERY query; each
 * is then timed as the min of two runs. The full warmup matters: queries
 * over JIT-heavy custom code (EC point math, fused vector expressions)
 * run 5-6x slower on their first execution while C2 compiles the hot
 * loops — a partial warmup would charge that one-time cost to whichever
 * queries happen to run first.
 *
 * Both timed runs are also counted by [[WorkCounters]], and each counter
 * keeps the smaller of its two values, as the wall-clock does. The
 * counters go to the artifact under `counters` and are the bench's
 * regression gate: [[regressions]] compares them with the committed
 * reference's, which must have been taken at the same core count and
 * scale factor (see [[reference]]). Wall-clock is the end-to-end number
 * only: on a shared host it moves with co-tenant load far more than the
 * counters do.
 */
object Bench {
  /** One row's counters by their JSON names (see [[WorkCounters.Counters.named]]). */
  type Work = Map[String, Double]

  /** Counters that repeated exactly over every row of two runs of the
    * same code. */
  private val exact = Seq("files", "input_records", "memory_spill_bytes", "disk_spill_bytes")

  /** Counters that moved between two runs of the same code: the CPU
    * times with the host; on a few rows the job, stage and task counts and
    * the input bytes; on many the shuffle bytes, by a few hundred bytes.
    * Flagged only above 1.5x the reference and at least 0.25 over it
    * (0.25 s for the times, so sub-second job-overhead constants do not
    * trip it; any increase for a count). */
  private val ratio = Seq("jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "cpu_s", "driver_cpu_s")

  private def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Per row of `run` that `ref` also has, each gated counter that moved:
    * an exact counter that differs in either direction, or a ratio counter
    * past the ratio rule, as `"<counter> <ref> -> <run>"`. A counter
    * missing on one side differs. Rows clean on every counter are left out. */
  def regressions(ref: Map[String, Work], run: Map[String, Work]): Map[String, Seq[String]] = {
    def show(k: String, v: Option[Double]) =
      v.fold("none")(x => if (k.endsWith("_s")) fmt(x) else x.toLong.toString)
    run.flatMap { case (q, now) =>
      ref.get(q).map { was =>
        val moved = exact.filter(k => now.get(k) != was.get(k)) ++ ratio.filter { k =>
          (was.get(k), now.get(k)) match {
            case (Some(r), Some(v)) => v > 1.5 * r && v - r >= 0.25
            case (r, v) => r != v
          }
        }
        q -> moved.map(k => s"$k ${show(k, was.get(k))} -> ${show(k, now.get(k))}")
      }
    }.filter(_._2.nonEmpty)
  }

  /** The per-row counters of a committed artifact, when it was taken at
    * `cpus` cores on `sf`; otherwise why this run cannot be compared with
    * it (a task count or a CPU time at another core count or scale factor
    * says nothing about this run). A text that is not JSON throws. */
  def reference(txt: String, cpus: String, sf: String): Either[String, Map[String, Work]] = {
    val root = new ObjectMapper().readTree(txt)
    def field(k: String) = Option(root.get(k)).fold("unset")(_.asText)
    val counters = Option(root.get("counters")).filter(_.isObject)
    if (field("cpus") != cpus) Left(s"cpus ${field("cpus")} != $cpus")
    else if (field("sf") != sf) Left(s"sf ${field("sf")} != $sf")
    else counters.toRight("reference has no counters").map(_.properties.asScala.map { e =>
      e.getKey -> e.getValue.properties.asScala.map(c => c.getKey -> c.getValue.asDouble).toMap
    }.toMap)
  }

  /** The summary line's per-query entries: `"name":seconds`, slowest
    * first, as a true prefix of that order that fits in `room` chars
    * (entries joined by commas). Packing stops at the first entry that
    * does not fit; skipping it and adding faster ones after it would
    * make the line look like a slowest-N list when it is not. */
  def summaryEntries(results: Seq[(String, Double)], room: Int): Seq[String] = {
    val ordered = results.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
    val ends = ordered.scanLeft(-1)(_ + _.length + 1).tail // length with separators
    ordered.zip(ends).takeWhile(_._2 <= room).map(_._1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Bench READS the committed reference but never writes it: the run
    // goes to BENCH_LAST_RUN.json (gitignored), and the only path into the
    // reference is `tools/adopt_bench.py CANDIDATE --adopt`, which reads
    // this run's own verdict (`reference`, `regressed`, `failed`).
    val qfile = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_QUERIES.json")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST_RUN.json")
    // default 32 = the documented local[32] target (and every other
    // runner's default); the reference is only comparable at its own
    // core count, so a run at another count compares nothing
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Only an absent file reads as "no reference"; any other read or
    // parse failure stops the run here, before a session starts, instead
    // of silently disarming the gate.
    val ref =
      try reference(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(qfile)), "UTF-8"), cpus, sfDir)
      catch { case _: java.nio.file.NoSuchFileException => Left(s"no $qfile") }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.ts is TIMESTAMP(NANOS); see graft.Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
    // warmup: run every query once (scan + shuffle + codegen + JIT)
    qs.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
    }

    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop sink: materializes every output column (count() would let
      // Catalyst prune projections and under-measure map-only queries)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    val raw = qs.map { case (name, fn) =>
      val (a, workA) = WorkCounters.of(spark)(timeOnce(fn))
      val (b, workB) = WorkCounters.of(spark)(timeOnce(fn))
      (name, if (a < 0 || b < 0) -1.0 else math.min(a, b), workA.min(workB))
    }
    val results = raw.map { case (name, v, _) => name -> v }
    // a row whose timed runs threw is in `failed`, not compared
    val run = raw.collect { case (name, v, work) if v >= 0 => name -> work.named.toMap }.toMap
    val regressed = ref.fold(_ => Map.empty[String, Seq[String]], regressions(_, run))
    def quote(s: String) = "\"" + s + "\""
    val regressedJson = regressed.toSeq.sortBy(_._1).map { case (n, moved) =>
      quote(n) + ":" + moved.map(quote).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val verdict = quote(ref.fold(identity, _ => "ok"))
    val qjson = results.map { case (k, v) => quote(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    val countersJson = raw.map { case (k, _, work) => quote(k) + ":" + work.json }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // a query whose timed runs threw reads -1 in the map and stays out of
    // `total`; naming it here keeps a breakage from passing as a speed-up
    val failedJson = results.collect { case (n, v) if v < 0 => quote(n) }.mkString("[", ",", "]")

    // The harness capturing this output keeps only a bounded (~2000 char)
    // tail of stdout AND parses the bench contract from the last line; a
    // single line with all 151 per-query timings at full precision
    // overflows the tail and its head (and thus JSON validity) is lost. So:
    //  1. persist the COMPLETE run to a one-line JSON file,
    //  2. print it (greppable; most survives in a tail),
    //  3. END stdout with a self-contained summary line sized to fit
    //     whole inside the tail window, packing as many per-query entries
    //     (slowest first) as fit the budget. build.sbt's StdoutOutput +
    //     showSuccess=false guarantee this line is the LAST line of
    //     stdout, unprefixed — the two properties the parser needs.
    val head = s""""metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","cpus":$cpus,"reference":$verdict"""
    val full = s"""{$head,"regressed":$regressedJson,"failed":$failedJson,"queries":$qjson,"counters":$countersJson}"""
    // the summary line names this file: a failed write fails the run
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile), (full + "\n").getBytes("UTF-8"))
    spark.stop() // before the contract lines: nothing may print after them
    println(full)
    val prefix = s"""{$head,"n_queries":${results.size},"n_regressed":${regressed.size},"failed":$failedJson,"queries_file":"$outFile","queries":"""
    val budget = 1900 // < the harness's 2000-char stdout tail, with margin
    val entries = summaryEntries(results, budget - prefix.length - 3) // "{" + closing "}}"
    println(prefix + entries.mkString("{", ",", "}") + "}")
    System.out.flush()
  }
}
