package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/**
 * Benchmark main (driver contract): runs every SparkEntry query on
 * SPARK_GRAFT_SF_DIR, prints one JSON line with per-query seconds.
 * Queries run in sorted order after a warmup pass over EVERY query; each
 * is then timed as the min of two runs. The full warmup matters: queries
 * over JIT-heavy custom code (EC point math, fused vector expressions)
 * run 5-6x slower on their first execution while C2 compiles the hot
 * loops — a partial warmup would charge that one-time cost to whichever
 * queries happen to run first. Each row's first timed run is also counted
 * by [[WorkCounters]]; the counters go to the artifact under `counters`.
 */
object Bench {
  private def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

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

  /** Extract a FLAT `"key":{...}` object from the committed one-line
    * artifact as name→value pairs. Anchored to the named key (not
    * first-match over the whole file) so the sentinels object and the
    * queries map can never shadow each other. */
  private def flatObj(txt: String, key: String): Map[String, Double] = {
    val m = ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(txt)
    m.map(_.group(1)).toSeq.flatMap { body =>
      "\"([A-Za-z0-9_]+)\":([0-9.eE+-]+)".r.findAllMatchIn(body)
        .map(g => g.group(1) -> g.group(2).toDouble)
    }.toMap
  }

  /** The trivial queries whose timings tell a contended host. */
  private val sentinels = Seq("q_distinct", "q_topk", "q_zorder")

  /** (sentinel references, per-query references) from a committed
    * artifact. A contended artifact's own timings must not become the
    * reference — but its `<q>_ref` fields CARRY the last good sentinel
    * values forward, so the tripwire survives a run of consecutive
    * contended windows instead of silently disarming after the first one.
    * The confirm pass (per-query refs) does disarm until a clean
    * reference exists again. An artifact not marked contended must carry
    * its `queries` map: reading it as empty would disarm the confirm pass
    * and the `regressed` flag without a word. */
  def reference(txt: String): (Map[String, Double], Map[String, Double]) = {
    val contended = "\"host_contended\":(true|false)".r.findFirstMatchIn(txt)
      .exists(_.group(1) == "true")
    val sObj = flatObj(txt, "sentinels")
    if (contended)
      (sentinels.flatMap(s => sObj.get(s + "_ref").map(s -> _)).toMap, Map.empty)
    else {
      require(txt.contains("\"queries\":{"),
        "bench reference is not marked host_contended and has no \"queries\" map")
      (sObj.filter { case (k, _) => sentinels.contains(k) }, flatObj(txt, "queries"))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Committed reference map. Two uses: (1) host-contention tripwire —
    // sentinel timings that balloon 3x+ on trivial queries flag the
    // whole artifact; (2) the per-query confirm pass — any query slower
    // than 1.5x its committed reference gets a third run and is flagged
    // even when its own two runs agree (a both-runs-slow query is
    // invisible to run-to-run spread; q_corpus_curate's 6.8s-vs-2.9s
    // same-code swing is the motivating case).
    //
    // r16 structural fix for the three-rounds-running round-close
    // split-brain: Bench READS the reference but never writes it. The
    // run's full map goes to BENCH_LAST_RUN.json (gitignored), so the
    // only path into the committed reference is an explicit, gated
    // `tools/adopt_bench.py CANDIDATE --adopt` — a raw slow-window run
    // sitting in the working tree can no longer be committed by the
    // driver's round-close snapshot.
    //
    // Only an absent file reads as "no reference"; any other read or
    // parse failure stops the run here, before a session starts, instead
    // of silently disarming both gates.
    val qfile = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_QUERIES.json")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST_RUN.json")
    val (refSentinels, refQueries): (Map[String, Double], Map[String, Double]) =
      try reference(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(qfile)), "UTF-8"))
      catch { case _: java.nio.file.NoSuchFileException => (Map.empty, Map.empty) }

    // default 32 = the documented local[32] target (and every other
    // runner's default). r17: two full runs at an accidental local[4]
    // made the CPU-dense ristretto rows read as 3.3x "regressions" —
    // the per-query references are only comparable at the same core
    // count, so the default must match the protocol.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
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

    // Hypervisor-steal integration over the whole timed pass (r19): the
    // sentinel tripwire catches sustained contention but steal BURSTS
    // between sentinel samples inflate individual rows invisibly (the
    // named whipsaw — SCALING.md "The whipsaw NAMED"). The run-level
    // fraction goes into the artifact so adopt_bench can refuse a
    // steal-polluted candidate map outright.
    val stealTicks0 = HostSteal.ticks()
    // r20 (verdict item 5): the third contention channel — co-tenant
    // memory-bandwidth/LLC pressure — is invisible to both the sentinel
    // tripwire and the steal fraction (it inflated rows 3.8x at 13%
    // steal with clean sentinels, r19). Bracket the whole timed pass
    // with the membw probe and put both readings in the artifact so
    // adoption tooling can refuse bandwidth-polluted maps the way it
    // refuses steal-polluted ones. Runs OUTSIDE every per-query timer.
    val membwPre = HostSteal.memProbe()
    val raw = qs.map { case (name, fn) =>
      val (a, work) = WorkCounters.of(spark)(timeOnce(fn))
      val b = timeOnce(fn)
      // confirm pass: both runs above 1.5x the committed reference (with
      // a 0.25s absolute floor so sub-second job-overhead constants don't
      // trigger it) => a third run decides whether the slowdown is real
      val minAb = if (a < 0 || b < 0) -1.0 else math.min(a, b)
      val ref = refQueries.getOrElse(name, -1.0)
      val c =
        if (minAb > 0 && ref > 0 && minAb > 1.5 * ref && minAb - ref >= 0.25)
          timeOnce(fn)
        else -1.0
      (name, Seq(a, b, c).filter(_ >= 0), work)
    }
    val runStolenFrac =
      HostSteal.stolenFrac(stealTicks0, HostSteal.ticks()).getOrElse(-1.0)
    val membwPost = HostSteal.memProbe()
    val results = raw.map { case (name, runs, _) =>
      name -> (if (runs.size < 2) -1.0 else runs.min)
    }
    // run-to-run spread per query (the timed runs' max/min): queries
    // whose spread exceeds 1.5x get their min+max recorded so unstable
    // measurements are visible in the artifact instead of silently
    // flattened by min-of-n (q_cdc_roundtrip's judged 0.9s-vs-8s round-8
    // bimodality is the motivating case)
    val unstable = raw.filter { case (_, runs, _) =>
      runs.size >= 2 && runs.max / runs.min >= 1.5 && runs.max - runs.min >= 0.25
    }
    val spreadJson = unstable.map { case (n, runs, _) =>
      "\"" + n + "\":[" + fmt(runs.min) + "," + fmt(runs.max) + "]"
    }.mkString("{", ",", "}")
    // regressions the confirm pass could NOT explain away: best-of-3
    // still >1.5x the committed reference. Recorded as [ref, measured]
    // so a slow row can never pass unflagged just because its own runs
    // agreed with each other.
    val regressed = results.filter { case (n, v) =>
      val ref = refQueries.getOrElse(n, -1.0)
      v > 0 && ref > 0 && v > 1.5 * ref && v - ref >= 0.25
    }
    val regressedJson = regressed.map { case (n, v) =>
      "\"" + n + "\":[" + fmt(refQueries(n)) + "," + fmt(v) + "]"
    }.mkString("{", ",", "}")

    // Tripwire: re-time the sentinels AFTER the whole timed pass (so they
    // sample the same host conditions the slowest queries saw) and compare
    // to the committed reference. >3x on any trivial sentinel => the run is
    // contaminated and must not become the new reference.
    val sentinelNow = sentinels.flatMap { s =>
      SparkEntry.queries.get(s).map(fn => s -> math.min(timeOnce(fn), timeOnce(fn)))
    }.toMap
    val contended = sentinelNow.exists { case (s, v) =>
      refSentinels.get(s).exists(r => r > 0 && v > 3 * r)
    }
    val sentinelJson = sentinels.flatMap(s => sentinelNow.get(s).map(v =>
      "\"" + s + "\":" + fmt(v) + (refSentinels.get(s) match {
        case Some(r) => ",\"" + s + "_ref\":" + fmt(r)
        case None => ""
      }))).mkString("{", ",", "}")
    val qjson = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val countersJson = raw.map { case (k, _, work) => "\"" + k + "\":" + work.json }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // a query whose timed runs threw reads -1 in the map and stays out of
    // `total`; naming it here keeps a breakage from passing as a speed-up
    val failedJson = results.collect { case (n, v) if v < 0 => "\"" + n + "\"" }
      .mkString("[", ",", "]")

    // The harness capturing this output keeps only a bounded (~2000 char)
    // tail of stdout AND parses the bench contract from the last line; a
    // single line with all 151 per-query timings at full precision
    // overflows the tail and its head (and thus JSON validity) is lost.
    // So (r20, restoring the driver-parseable contract — output plumbing
    // only, the timing path above is untouched):
    //  1. persist the COMPLETE per-query map to a one-line JSON file,
    //  2. print the complete map (greppable; most survives in a tail),
    //  3. END stdout with a self-contained summary line sized to fit
    //     whole inside the tail window — same fields as before, now
    //     packing as many per-query entries (slowest first) as fit the
    //     budget instead of a fixed top-20. build.sbt's StdoutOutput +
    //     showSuccess=false guarantee this line is the LAST line of
    //     stdout, unprefixed — the two properties the parser needs.
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","host_contended":$contended,"stolen_frac":${fmt(runStolenFrac)},"membw_probe_sec":[${fmt(membwPre)},${fmt(membwPost)}],"sentinels":$sentinelJson,"spread":$spreadJson,"regressed":$regressedJson,"failed":$failedJson,"queries":$qjson,"counters":$countersJson}"""
    // the summary line names this file: a failed write fails the run
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile), (full + "\n").getBytes("UTF-8"))
    spark.stop() // before the contract lines: nothing may print after them
    println(full)
    val prefix = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"host_contended":$contended,"stolen_frac":${fmt(runStolenFrac)},"membw_probe_sec":[${fmt(membwPre)},${fmt(membwPost)}],"failed":$failedJson,"queries_file":"$outFile","queries":"""
    val budget = 1900 // < the harness's 2000-char stdout tail, with margin
    val entries = summaryEntries(results, budget - prefix.length - 3) // "{" + closing "}}"
    println(prefix + entries.mkString("{", ",", "}") + "}")
    System.out.flush()
  }
}
