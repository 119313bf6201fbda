package perfbench

import graft.SparkEntry
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.perfbench.Bridge
import scala.jdk.CollectionConverters._

/**
 * `query_suite`: the timed `SparkEntry.queries` of `queries.tsv`, each
 * materialized to the `noop` sink, over one fixed set of generated tables
 * (`DataGen`), in a fixed order: the suite's inputs do not depend on the
 * seed, so runs differ only by the host they ran on. The warm-up pass
 * belongs to set-up and also computes each query's order-insensitive
 * output checksum, which must match the reference recorded in
 * `query_ref.tsv`.
 */
object QuerySuite {
  val Families = Seq("relational", "corpus", "vector", "cdc")
  /** The tables' generator seed: the data is the same in every run. */
  val DataSeed = 42L
  val Passes = 2

  final case class Q(name: String, family: String, timed: Boolean)

  def queries(benchDir: Path): Seq[Q] =
    Files.readAllLines(benchDir.resolve("queries.tsv")).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
        val Array(n, f, t) = l.split("\t")
        Q(n, f, t == "1")
      }

  /** query → "rows:checksum" */
  def reference(file: Path): Map[String, String] =
    if (!Files.exists(file)) Map.empty
    else Files.readAllLines(file).asScala.toSeq.filterNot(_.startsWith("#")).map { l =>
      val Array(q, c) = l.split("\t")
      q -> c
    }.toMap

  /** Canonical text of one output value: doubles to 9 significant digits,
    * so a sum's last-bit wobble does not change the checksum. */
  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Map[_, _] => s.toSeq.map { case (k, x) => canon(k) + "→" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Row count and order-insensitive checksum of a query's output. */
  def checksum(df: DataFrame): String = {
    val rows = df.collect().map(canon).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes(StandardCharsets.UTF_8)))
    s"${rows.length}:${md.digest().take(8).map("%02x".format(_)).mkString}"
  }

  def run(spark: SparkSession, a: Args): Outcome = {
    val all = queries(a.benchDir)
    val byName = SparkEntry.queries
    val timedQs = {
      val t = all.filter(_.timed)
      if (a.tiny) Families.flatMap(f => t.filter(_.family == f).take(1)) else t
    }
    val data = a.work.resolve("data")

    // set-up: tables, then the warm-up pass that records checksums
    val ((), genS) = Main.timed(DataGen.write(spark, data, DataSeed))
    val (sums, warmS) = Main.timed(timedQs.map { q =>
      q.name -> (try byName.get(q.name).map(fn => checksum(fn(spark, data.toString)))
                          .toRight(s"${q.name} is not in SparkEntry.queries")
                 catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) })
    }.toMap)
    val setupS = genS + warmS

    a.record.foreach { f =>
      val lines = sums.toSeq.sortBy(_._1).collect { case (q, Right(c)) => s"$q\t$c" }
      Files.write(f, ("# query\trows:checksum" +: lines).asJava)
    }
    val ref = reference(a.benchDir.resolve("query_ref.tsv"))
    val wrong = timedQs.flatMap { q =>
      val want0 = ref.get(q.name)
      // self-check fault: one query's reference checksum is wrong
      val want = if (a.inject == "checksum" && q == timedQs.head) want0.map(_ + "0") else want0
      (sums(q.name), want) match {
        case (Left(e), _) => Some(s"${q.name}: $e")
        case (_, None) if a.record.isEmpty => Some(s"${q.name}: no reference checksum")
        case (Right(got), Some(w)) if got != w => Some(s"${q.name}: checksum $got, reference $w")
        case _ => None
      }
    }

    if (a.trace) Trace.install(spark, _ => "query")
    def pass(): Seq[(Q, Double, Double, Option[String])] = timedQs.map { q =>
      spark.sparkContext.setLocalProperty(Trace.ReqKey, q.name)
      val (t0, s0) = (System.nanoTime(), Trace.now)
      var buildS = 0.0
      val err =
        try {
          val df = byName(q.name)(spark, data.toString)
          buildS = Main.seconds(t0)
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(e.getMessage) }
      Trace.record(Span("query", s0, Trace.now, "", q.name, Map("family" -> q.family)))
      (q, Main.seconds(t0), buildS, err)
    }
    // a fixed number of whole passes, so every run does the same work;
    // two passes take about as long as the benchmark's measuring time
    System.gc()
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, "timed")
    val phase = new Main.Phase
    val passes = Seq.fill(if (a.tiny) 1 else Passes)(pass())
    phase.end()
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, null)
    spark.sparkContext.setLocalProperty(Trace.ReqKey, null)

    // a query's time is its fastest pass, the one a burst of host
    // contention slowed least; a failed run keeps its time to the failure
    // and counts as a failed operation
    val done = passes
    val perQ = timedQs.map(q => q -> done.map(_.find(_._1 == q).get._2).min)
    def famS(f: String) = perQ.filter(_._1.family == f).map(_._2).sum
    val runFails = done.flatten.collect { case (q, _, _, Some(e)) => s"${q.name}: $e" }
    val attempted = timedQs.length + done.map(_.length).sum
    val failed = wrong.length + runFails.length
    (wrong ++ runFails).take(5).foreach(w => System.err.println(s"[perfbench] $w"))

    val e2e = Seq(M("setup_s", setupS, "s"), M("cpu_s", phase.cpu, "s"),
      M("heap_live_mb", Host.heapLiveMb(spark), "MiB"), M("work_s", perQ.map(_._2).sum, "s"),
      M("op_p50_s", Main.median(perQ.map(_._2)), "s"))
    val metrics = if (a.trace) layers(spark, done) ++ Main.sparkLayer() else e2e
    val rows =
      if (!a.trace) Nil
      else perQ.map { case (q, s) =>
        val c = Option(Trace.byReq.get(q.name)).getOrElse(new Counters)
        Json.obj(Seq("query" -> q.name, "family" -> q.family, "wall_s" -> s, "jobs" -> c.jobs,
          "stages" -> c.stages, "tasks" -> c.tasks, "executor_cpu_s" -> c.cpuNs / 1e9,
          "scan_bytes" -> c.inBytes, "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes))
      }
    // the figures by family, for reading
    Outcome(attempted, failed, metrics,
      Seq("query_total_s" -> perQ.map(_._2).sum) ++ Families.map(f => s"query_${f}_s" -> famS(f)) ++
      Seq("timed_wall_s" -> phase.wall, "host_steal_frac" -> phase.steal,
        "passes" -> done.length, "queries" -> timedQs.length, "datagen_s" -> genS,
        "warmup_s" -> warmS, "check_failures" -> (wrong ++ runFails).take(5)),
      rows)
  }

  /** Per-family operator metrics of the traced run, summed over the
    * family's queries and averaged over the passes. */
  private def layers(spark: SparkSession, passes: Seq[Seq[(Q, Double, Double, Option[String])]]): Seq[M] = {
    Bridge.drain(spark.sparkContext)
    val n = passes.length.toDouble
    val planOf = Trace.actions.asScala.toSeq.groupBy(x => Option(Trace.reqOfExec.get(x.execId)))
      .collect { case (Some(q), xs) => q -> xs.map(_.planNs).sum / 1e9 }
    Families.flatMap { f =>
      val runs = passes.flatten.filter(_._1.family == f)
      val names = runs.map(_._1.name).distinct
      val c = new Counters
      names.flatMap(q => Option(Trace.byReq.get(q))).foreach(c += _)
      val wall = runs.map(_._2).sum / n
      // planning: building the DataFrame plus the planner phases of its actions
      val plan = (runs.map(_._3).sum + names.map(q => planOf.getOrElse(q, 0.0)).sum) / n
      Seq(M(s"ops.$f.plan_s", plan, "s"), M(s"ops.$f.exec_s", wall - plan, "s"),
        M(s"ops.$f.jobs", c.jobs / n, "count"), M(s"ops.$f.stages", c.stages / n, "count"),
        M(s"ops.$f.tasks", c.tasks / n, "count"),
        M(s"ops.$f.executor_cpu_s", c.cpuNs / 1e9 / n, "s"), M(s"ops.$f.gc_s", c.gcMs / 1e3 / n, "s"),
        M(s"ops.$f.scan_bytes", c.inBytes / n, "bytes"),
        M(s"ops.$f.shuffle_bytes", c.shuffleBytes / n, "bytes"),
        M(s"ops.$f.spill_bytes", c.spillBytes / n, "bytes"))
    }
  }
}
