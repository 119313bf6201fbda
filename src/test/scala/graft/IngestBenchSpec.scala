package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Gate for the committed `INGEST_BENCH.json` (written by [[IngestBench]],
 * the end-to-end CDC ingest benchmark): the artifact must parse, carry
 * every contract field for all three runs, have verified row counts, a
 * sub-linear file-feed scaling exponent, and a GC-bounded spool. Keeps a
 * stale or hand-mangled artifact from riding along silently.
 */
class IngestBenchSpec extends AnyFunSuite {

  private val required = Seq("n_tx", "n_records", "wall_sec", "records_per_sec",
    "tx_per_sec", "n_batches", "batch_ms_min", "batch_ms_median",
    "batch_ms_max", "rows_verified")

  test("INGEST_BENCH.json parses and its numbers are coherent") {
    val p = java.nio.file.Paths.get("INGEST_BENCH.json")
    assume(java.nio.file.Files.exists(p), "artifact not yet generated")
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(p))

    // pg_live_feed (REAL Postgres through pgoutput) exists only when the
    // generating host had server binaries — validated when present; the
    // 100x rows (round 12) likewise gate only when the artifact has them
    val runs = Seq("file_feed_1x", "file_feed_10x", "pg_feed") ++
      Seq("file_feed_100x", "pg_feed_100x", "pg_live_feed",
        "file_feed_single_file_1x", "file_feed_single_file_10x",
        "file_feed_eventtime_10x", "file_feed_eventtime_100x",
        "file_feed_1000x", "file_feed_eventtime_1000x",
        "pg_feed_eventtime").filter(root.has)
    for (run <- runs) {
      val node = root.get(run)
      assert(node != null, s"missing run $run")
      for (f <- required)
        assert(node.has(f), s"$run missing field $f")
      assert(node.get("rows_verified").asLong == node.get("n_records").asLong,
        s"$run rows not verified")
      assert(node.get("records_per_sec").asDouble > 0 &&
             node.get("wall_sec").asDouble > 0 &&
             node.get("n_batches").asLong > 1, s"$run numbers not positive")
      assert(node.get("batch_ms_min").asLong <= node.get("batch_ms_median").asLong &&
             node.get("batch_ms_median").asLong <= node.get("batch_ms_max").asLong,
        s"$run latency stats out of order")
    }
    // the 10x point is a real decade over the 1x point
    assert(root.get("file_feed_10x").get("n_records").asLong ==
      10 * root.get("file_feed_1x").get("n_records").asLong)
    // the default single-file shape, when recorded: the same decade
    if (root.has("file_feed_single_file_10x"))
      assert(root.get("file_feed_single_file_10x").get("n_records").asLong ==
        10 * root.get("file_feed_single_file_1x").get("n_records").asLong)
    // ≥1M records through the flagship path, sub-linear through the decade
    assert(root.get("file_feed_10x").get("n_records").asLong >= 1000000L)
    assert(root.get("scaling_exponent_file_feed").asDouble < 1.0)
    // the 100x rows: two real decades on the file feed (no super-linear
    // blowup into the work-dominated regime) and a full-scale GC'd spool
    if (root.has("file_feed_100x")) {
      assert(root.get("file_feed_100x").get("n_records").asLong ==
        100 * root.get("file_feed_1x").get("n_records").asLong)
      assert(root.get("scaling_exponent_file_feed_2").asDouble < 1.15)
    }
    if (root.has("pg_feed_100x"))
      assert(root.get("pg_feed_100x").get("n_records").asLong ==
        100 * root.get("pg_feed").get("n_records").asLong)
    // event-time arm: conservation held (rows_verified = stored +
    // pending, already gated == n_records above), at the same scale as
    // the processing-time 10x row, and not catastrophically slower than
    // it — the arm exists to pin "event-time ≈ processing-time + one
    // narrow pass", so a >2x wall blowup means the machinery regressed
    for ((etRun, ptRun) <- Seq(
        "file_feed_eventtime_10x" -> "file_feed_10x",
        "file_feed_eventtime_100x" -> "file_feed_100x",
        "file_feed_eventtime_1000x" -> "file_feed_1000x") if root.has(etRun)) {
      assert(root.has(ptRun),
        s"$etRun present but its processing-time twin $ptRun is missing")
      val et = root.get(etRun)
      assert(et.get("n_records").asLong ==
        root.get(ptRun).get("n_records").asLong)
      assert(et.has("rows_stored") && et.has("rows_pending") &&
        et.get("rows_stored").asLong > 0 && et.get("rows_pending").asLong > 0,
        s"$etRun must finalize some windows and hold a pending tail")
      assert(et.get("wall_sec").asDouble <
        2.0 * root.get(ptRun).get("wall_sec").asDouble,
        s"$etRun more than 2x the processing-time wall")
    }
    // pg feed: spool segment GC ran. Bounded leftover = the UNACKED TAIL
    // (at most one trigger's worth of txs — the restart-replay window of
    // ack-after-replay), never the stream; artifacts carrying the
    // computed bound are checked against it, older ones against the
    // legacy active+raced-seal pair.
    // r13: the live-feed event-time row carries BOTH gates — a GC'd
    // spool underneath AND a conservation split with a pending tail
    if (root.has("pg_feed_eventtime")) {
      val node = root.get("pg_feed_eventtime")
      assert(node.has("rows_stored") && node.has("rows_pending") &&
        node.get("rows_stored").asLong > 0 && node.get("rows_pending").asLong > 0,
        "pg_feed_eventtime must finalize some windows and hold a pending tail")
    }
    // r14/r15 hostile-late arms (1M and, env-gated, 100M records): the
    // EXACT conservation contract — stored + pending == fed − dropped,
    // with a real drop count and a real pending tail — at both decades
    for (run <- Seq("file_feed_eventtime_hostile_late",
        "file_feed_eventtime_hostile_late_1000x") if root.has(run)) {
      val node = root.get(run)
      assert(node.has("rows_dropped_late") &&
        node.get("rows_dropped_late").asLong > 0,
        s"$run must document its late drops")
      assert(node.get("rows_verified").asLong ==
        node.get("n_records").asLong - node.get("rows_dropped_late").asLong,
        s"$run conservation: stored+pending != fed - dropped")
      assert(node.get("rows_stored").asLong > 0 &&
        node.get("rows_pending").asLong > 0,
        s"$run must finalize some windows and hold a pending tail")
    }
    if (root.has("file_feed_eventtime_hostile_late_1000x"))
      assert(root.get("file_feed_eventtime_hostile_late_1000x")
          .get("n_records").asLong ==
        1000 * root.get("file_feed_1x").get("n_records").asLong,
        "hostile 1000x arm is not a true third decade")
    // r13: third decade on the file feed, when present — stays out of a
    // super-linear blowup like the second decade
    if (root.has("file_feed_1000x")) {
      assert(root.get("file_feed_1000x").get("n_records").asLong ==
        1000 * root.get("file_feed_1x").get("n_records").asLong)
      assert(root.get("scaling_exponent_file_feed_3").asDouble < 1.15)
    }
    for (run <- Seq("pg_feed", "pg_feed_100x", "pg_live_feed",
        "pg_feed_eventtime") if root.has(run)) {
      val node = root.get(run)
      val bound = if (node.has("spool_segments_bound"))
        node.get("spool_segments_bound").asLong else 2L
      assert(node.get("spool_segments_left").asLong <= bound,
        s"$run spool not GC'd within its unacked-tail bound")
    }
  }
}
