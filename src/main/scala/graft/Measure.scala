package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * Measurement runner: one Spark session, three verbs.
 *
 *   amplify <srcDir> <outDir> <factor> <table>...
 *     key-shifted copies of each table (the scale fixtures of SCALING.md)
 *   time [--runs N] <dir>[,<dir>...] [query...]
 *     one untimed warm-up per query on the first dir, then N timed runs
 *     (default 3) on every dir: wall, GC and per-stage lines per run,
 *     then the minimum per (query, dir)
 *   explain <dir> [query...]
 *     the formatted physical plan of each query under a
 *     `========== name ==========` header (`tools/split_plans.py` splits them)
 *
 * Queries are SparkEntry names plus the pseudo-queries `walread` and
 * `waldecode`; naming none means every registered query. An unknown
 * name, or a query that throws, makes the runner exit non-zero.
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

  /** The one name lookup both `time` and `explain` use. */
  private def resolve(names: Seq[String]): Seq[(String, Query)] =
    (if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names).map { n =>
      n -> pseudoQueries.orElse(SparkEntry.queries).applyOrElse(n, (_: String) =>
        throw new IllegalArgumentException(s"unknown query $n; known: " +
          (pseudoQueries.keys ++ SparkEntry.queries.keys).toSeq.sorted.mkString(",")))
    }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def gcStats(): (Long, Long) = {
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** Times `queries`; returns false if any of them threw. */
  private def time(spark: SparkSession, dirs: Seq[String], queries: Seq[(String, Query)],
                   runs: Int): Boolean = {
    // per stage: id, wall (submission to completion), task run-time sum,
    // task count — separates stragglers from driver-side gaps
    val stages = new ConcurrentLinkedQueue[(Int, Double, Double, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        val wall = (for (s <- info.submissionTime; c <- info.completionTime)
          yield (c - s) / 1e3).getOrElse(-1.0)
        stages.add((info.stageId, wall, info.taskMetrics.executorRunTime / 1e3, info.numTasks))
      }
    })
    var ok = true
    def attempt(name: String, dir: String, what: String)(body: => Unit): Boolean =
      try { body; true } catch { case NonFatal(e) =>
        println(s"[measure] $name $dir $what FAILED: $e"); ok = false; false }
    def timedRun(name: String, dir: String, fn: Query, i: Int): Option[Double] = {
      stages.clear()
      val (gc0, n0) = gcStats()
      val t0 = System.nanoTime()
      if (!attempt(name, dir, s"run $i")(noop(fn(spark, dir)))) return None
      val wall = (System.nanoTime() - t0) / 1e9
      val (gc1, n1) = gcStats()
      Thread.sleep(200) // let stage-completed events drain
      val st = stages.asScala.toVector.sortBy(_._1)
      println(f"[measure] $name $dir run $i%2d  wall=$wall%7.3f s  gc=${(gc1 - gc0) / 1000.0}%6.3f s  " +
        f"collections=${n1 - n0}  stageWallSum=${st.map(_._2).sum}%7.3f")
      st.foreach { case (id, w, run, nt) =>
        println(f"[measure]      stage $id%4d wall=$w%7.3f s  taskRunSum=$run%7.3f s  tasks=$nt%3d")
      }
      Some(wall)
    }
    for ((name, fn) <- queries)
      if (attempt(name, dirs.head, "warm-up")(noop(fn(spark, dirs.head))))
        for (dir <- dirs) {
          val walls = Iterator.range(1, runs + 1).map(timedRun(name, dir, fn, _))
            .takeWhile(_.isDefined).flatten.toVector
          if (walls.size == runs) println(f"[measure] $name $dir min=${walls.min}%.3f s")
        }
    ok
  }

  private def explain(spark: SparkSession, dir: String, queries: Seq[(String, Query)]): Unit =
    queries.foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      fn(spark, dir).explain("formatted")
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
    val verb: SparkSession => Boolean = args.toList match {
      case "amplify" :: src :: out :: factor :: tables if tables.nonEmpty =>
        spark => { amplify(spark, src, out, factor.toInt, tables); true }
      case "time" :: "--runs" :: n :: dirs :: names =>
        val qs = resolve(names)
        spark => time(spark, dirs.split(",").toSeq, qs, n.toInt)
      case "time" :: dirs :: names =>
        val qs = resolve(names)
        spark => time(spark, dirs.split(",").toSeq, qs, runs = 3)
      case "explain" :: dir :: names =>
        val qs = resolve(names)
        spark => { explain(spark, dir, qs); true }
      case _ =>
        System.err.println("usage: Measure amplify <srcDir> <outDir> <factor> <table>... | " +
          "time [--runs N] <dir>[,<dir>...] [query...] | explain <dir> [query...]")
        sys.exit(2)
    }
    val spark = session()
    val ok = try verb(spark) finally spark.stop()
    if (!ok) sys.exit(1)
  }
}
