package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/**
 * Measurement runner: one Spark session, three verbs.
 *
 *   amplify <srcDir> <outDir> <factor> <table>...
 *     key-shifted copies of each table (the scale fixtures of SCALING.md)
 *   time [--runs N] <dir>[,<dir>...] [query...]
 *     one untimed warm-up per query on the first dir, then N >= 1 timed
 *     runs (default 3) on every dir: per run the wall-clock and the
 *     [[WorkCounters]] JSON, then the minimum per (query, dir)
 *   explain <dir> [query...]
 *     the formatted physical plan of each query under a
 *     `========== name ==========` header (`tools/split_plans.py` splits them)
 *
 * Queries are SparkEntry names plus the pseudo-queries `walread` and
 * `waldecode`; naming none means every registered query. Bad arguments
 * (an unknown name, a run count below 1 or not a number) print the usage
 * and exit 2 before a session starts; a query that throws exits 1.
 *
 * Session: local[SPARK_GRAFT_CPUS] (default 32), shuffle partitions =
 * cores, plus any `SPARK_GRAFT_CONF="k=v,k=v"` settings (the 1000x
 * protocols set `spark.sql.shuffle.partitions=64` or `=256` this way).
 *
 *   sbt "runMain graft.Measure time --runs 4 <sf0.1 dir> q_dedup_embed"
 */
object Measure {
  private type Query = (SparkSession, String) => DataFrame

  /** Per-copy key shift: above any sf0.1 key, and the same for every
    * table, so foreign keys keep joining within a copy. */
  private val KeyShift = 100000000L

  /** `factor` key-shifted copies of each table: every `*key` / `*_id`
    * column of copy i is shifted by i * `KeyShift`, payloads are
    * byte-identical across copies (the worst case for dedup operators).
    * One explode(sequence) pass, so a 1000x plan stays one narrow
    * operator. Reuse is gated per table on a marker recording (factor,
    * source snapshot): a changed factor, a changed source or a torn
    * write (no marker) rebuilds instead of reusing the wrong corpus. */
  def amplify(spark: SparkSession, srcDir: String, outDir: String, factor: Int,
              tables: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    for (t <- tables) {
      val out = Paths.get(outDir, s"$t.parquet")
      val marker = Paths.get(outDir, s"$t.parquet.marker")
      val srcFp = graft.core.FsUtil.snapshotFingerprint(Paths.get(srcDir, s"$t.parquet"))
      val want = s"factor=$factor;src=$srcFp"
      val upToDate = Files.exists(out) && Files.exists(marker) &&
        new String(Files.readAllBytes(marker), "UTF-8").trim == want
      if (!upToDate) {
        val df = spark.read.parquet(s"$srcDir/$t.parquet")
        val keyCols = df.columns.filter(c => c.endsWith("key") || c.endsWith("_id"))
        val copies = df
          .withColumn("__copy", explode(sequence(lit(0L), lit(factor - 1L))))
          .repartition(spark.sparkContext.defaultParallelism)
        keyCols.foldLeft(copies) { (d, c) =>
            d.withColumn(c, (col(c) + col("__copy") * KeyShift).cast(df.schema(c).dataType))
          }
          .drop("__copy")
          .write.mode("overwrite").parquet(out.toString)
        // marker AFTER the data: a crash mid-write leaves no marker
        Files.write(marker, (want + "\n").getBytes("UTF-8"))
      }
    }
  }

  private def walLines(spark: SparkSession, dir: String): DataFrame =
    spark.read.text(CdcQueries.walLinesDir(spark, dir))

  /** Pseudo-queries isolating q_cdc_roundtrip's first two stages. */
  private val pseudoQueries: Map[String, Query] = Map(
    "walread" -> walLines,
    "waldecode" -> ((s, dir) => graft.cdc.WalDecoder.decodeTables(s,
      walLines(s, dir), Seq(CdcQueries.eventsSchema))("events")))

  private val known: Map[String, Query] = SparkEntry.queries ++ pseudoQueries

  /** A parsed command line; query names are resolved and known. */
  sealed trait Command
  final case class Amplify(src: String, out: String, factor: Int, tables: Seq[String])
    extends Command
  final case class Time(dirs: Seq[String], queries: Seq[String], runs: Int) extends Command
  final case class Explain(dir: String, queries: Seq[String]) extends Command

  private val Usage: String = "usage: Measure amplify <srcDir> <outDir> <factor> <table>... | " +
    "time [--runs N] <dir>[,<dir>...] [query...] | explain <dir> [query...]"

  /** The command `args` name, or why they name none. Needs no session. */
  def parse(args: List[String]): Either[String, Command] = {
    def positive(what: String, n: String) =
      n.toIntOption.filter(_ >= 1).toRight(s"$what must be an integer >= 1, got '$n'")
    def names(ns: List[String]) =
      if (ns.isEmpty) Right(SparkEntry.queries.keys.toSeq.sorted)
      else ns.find(!known.contains(_)).map(n =>
        s"unknown query $n; known: ${known.keys.toSeq.sorted.mkString(",")}").toLeft(ns)
    args match {
      case "amplify" :: src :: out :: factor :: tables if tables.nonEmpty =>
        positive("factor", factor).map(Amplify(src, out, _, tables))
      case "time" :: "--runs" :: n :: dirs :: qs =>
        for (runs <- positive("--runs", n); q <- names(qs)) yield Time(dirs.split(",").toSeq, q, runs)
      case "time" :: dirs :: qs if dirs != "--runs" =>
        names(qs).map(Time(dirs.split(",").toSeq, _, runs = 3))
      case "explain" :: dir :: qs => names(qs).map(Explain(dir, _))
      case _ => Left("bad arguments")
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Times `queries`; returns false if any of them threw. */
  private def time(spark: SparkSession, dirs: Seq[String], queries: Seq[String],
                   runs: Int): Boolean = {
    var ok = true
    def attempt(name: String, dir: String, what: String)(body: => Unit): Boolean =
      try { body; true } catch { case NonFatal(e) =>
        println(s"[measure] $name $dir $what FAILED: $e"); ok = false; false }
    def timedRun(name: String, dir: String, fn: Query, i: Int): Option[Double] = {
      val ((done, wall), work) = WorkCounters.of(spark) {
        val t0 = System.nanoTime()
        (attempt(name, dir, s"run $i")(noop(fn(spark, dir))), (System.nanoTime() - t0) / 1e9)
      }
      if (done) println(f"[measure] $name $dir run $i%2d  wall=$wall%7.3f s  counters=${work.json}")
      Option.when(done)(wall)
    }
    for (name <- queries; fn = known(name))
      if (attempt(name, dirs.head, "warm-up")(noop(fn(spark, dirs.head))))
        for (dir <- dirs) {
          val walls = Iterator.range(1, runs + 1).map(timedRun(name, dir, fn, _))
            .takeWhile(_.isDefined).flatten.toVector
          if (walls.size == runs) println(f"[measure] $name $dir min=${walls.min}%.3f s")
        }
    ok
  }

  private def explain(spark: SparkSession, dir: String, queries: Seq[String]): Unit =
    queries.foreach { name =>
      println(s"\n========== $name ==========")
      known(name)(spark, dir).explain("formatted")
    }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.ts is TIMESTAMP(NANOS); see graft.Tables
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // A malformed segment FAILS FAST: a typo'd conf that silently never
    // applied would masquerade as a neutral A/B result.
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty).map(_.split("=", 2))
      .foreach {
        case Array(k, v) => builder.config(k, v)
        case bad => sys.error(s"SPARK_GRAFT_CONF segment '${bad.mkString("=")}' is not k=v " +
          "(values may not contain commas); refusing to run with a dropped conf")
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    // parse (and resolve query names) before paying for a session
    val cmd = parse(args.toList).fold({ why =>
      System.err.println(s"$why\n$Usage")
      sys.exit(2)
    }, identity)
    val spark = session()
    val ok = try cmd match {
      case Amplify(src, out, factor, tables) => amplify(spark, src, out, factor, tables); true
      case Time(dirs, queries, runs) => time(spark, dirs, queries, runs)
      case Explain(dir, queries) => explain(spark, dir, queries); true
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }
}
