package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Plan-shape regression gate for the LLM-pipeline headliners — the
 * graft.PlanShapeSpec discipline (shuffle budgets, no-cartesian,
 * broadcast-required) extended to the expensive operator plans PLANS.md
 * argues about. Lives in graft.ops so it can open the stage plans that
 * hide behind localCheckpoint in the composed queries (collapseExact's
 * census arm is invisible in q_corpus_curate's final plan).
 *
 * Budgets are UPPER bounds read off the current audited plans; a new
 * exchange over budget needs a PLANS.md disposition + budget bump in
 * the same commit.
 */
class OpsPlanShapeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.Tables(spark, sf, "documents")

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
  private def exchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).length
  private def assertShape(name: String, p: String, maxEx: Int,
                          wantBroadcast: Boolean): Unit = {
    assert(!p.contains("CartesianProduct"), s"$name fell back to a cartesian:\n$p")
    val ex = exchanges(p)
    info(s"$name: $ex shuffle exchanges (budget $maxEx)")
    assert(ex <= maxEx, s"$name has $ex shuffle exchanges (budget $maxEx):\n$p")
    if (wantBroadcast)
      assert(p.contains("BroadcastHashJoin"), s"$name lost its broadcast join:\n$p")
  }

  test("collapseExact broadcast arm: one corpus scan + broadcast census lookup, zero shuffles") {
    // guaranteed byte twins regardless of fixture content
    val twinned = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
    val p = planOf(Dedup.collapseExact(twinned, "doc_id", "text", None,
      broadcastGroups = 100000, checkpoint = false))
    // the census side is materialized separately (localCheckpoint); the
    // RETURNED plan — the one that touches the full corpus — must be
    // scan → md5 → broadcast-join → filter with NO shuffle of the docs
    assertShape("collapseExact/broadcast", p, maxEx = 0, wantBroadcast = true)
  }

  test("collapseExact window arm: exactly one md5-keyed shuffle of the corpus") {
    val twinned = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
    val p = planOf(Dedup.collapseExact(twinned, "doc_id", "text", None,
      broadcastGroups = 0, checkpoint = false))
    assertShape("collapseExact/window", p, maxEx = 1, wantBroadcast = false)
    assert(p.contains("Window"), s"window arm lost its window operator:\n$p")
  }

  test("ppJoin: prefix equi-join shape, never a cartesian") {
    val p = planOf(Dedup.ppJoin(docs, threshold = 0.8))
    // stages post token-table checkpoint: df aggregate, per-doc rank
    // window, prefix self-join (tok key), candidate distinct, verify
    // joins + final aggregate — measured 4 exchanges, +2 headroom for
    // AQE stage-split variance
    assertShape("ppJoin", p, maxEx = 6, wantBroadcast = false)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"ppJoin lost its equi-join:\n$p")
  }

  test("duplicateSpans (fused default): one h-window exchange + per-doc window, no join-back") {
    val p = planOf(Dedup.duplicateSpans(docs, windowTokens = 8))
    // r15 fused shape: window-count over h (the ONE corpus-wide
    // shuffle), island window on doc_id (final span aggregate reuses
    // the doc_id partitioning). No checkpoint, no join-back — the plan
    // is fully visible and must stay join-free.
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"fused duplicateSpans re-grew the join-back:\n$p")
    assert(p.contains("Window"), s"fused duplicateSpans lost its h-window:\n$p")
    // r15: the window-hash materialization is the codegen'd rolling pass,
    // not per-window md5 string assembly (2x the 1000x row's CPU)
    assert(p.contains("window_hashes"),
      s"duplicateSpans lost the rolling window-hash materialization:\n$p")
    assertShape("duplicateSpans", p, maxEx = 2, wantBroadcast = false)
  }

  test("stripDuplicateSpans rebuild: interval filter — no anti-join, no token explode, no covered distinct") {
    // r14 rewrite gate: the rebuild must stay the per-doc INTERVAL
    // filter. The pre-r14 shape — covered-position explode + distinct,
    // token-level corpus explode, LeftAnti join, 10⁹-struct
    // collect_list re-sort — cost 181 s of the 402 s 1000× row
    // (SCALING.md r14). Post-checkpoint plan: interval island/aggregate
    // on removable starts + ONE narrow filter pass over the docs.
    val p = planOf(Dedup.stripDuplicateSpans(docs, windowTokens = 8))
    assert(!p.contains("LeftAnti"),
      s"strip rebuild regressed to the token anti-join:\n$p")
    // r15: the fused default drops the localCheckpoint, so the WHOLE
    // pipeline is one visible plan — including the (legitimate, always
    // present) window-hash posexplode that the checkpoint used to hide.
    // Exactly ONE Generate is that materialization; a second would be
    // the covered-position or token explode the r14 rewrite removed.
    val generates = "Generate".r.findAllIn(p).length
    assert(generates <= 1,
      s"strip rebuild re-grew an explode ($generates Generates — only the " +
        s"window-hash posexplode is legitimate):\n$p")
    assert(p.contains("window_hashes"),
      s"strip lost the rolling window-hash materialization:\n$p")
    // exchanges: h-window (count + canonical-first), island window on
    // doc, toks side of the final rebuild join — budget read off the
    // audited fused plan, +1 AQE headroom
    assertShape("stripDuplicateSpans", p, maxEx = 4, wantBroadcast = false)
  }

  test("dup spans + strip on real documents: forced-hot guard salts the plan, output ≡ default") {
    // the guarded (salted) plan against a real corpus, not just planted
    // fixtures: every repeated hash flagged hot must still yield the
    // default plan's spans and strips, row for row
    val L = graft.R8Queries.DupSpanWindow
    val forcedHot = Some(Dedup.SpanSkewGuard(
      sampleRate = 1.0, partitionShare = 1e-9, minInputBytes = 0))
    val spansHot = Dedup.duplicateSpans(docs, windowTokens = L, skewGuard = forcedHot)
    val stripHot = Dedup.stripDuplicateSpans(docs, windowTokens = L, skewGuard = forcedHot)
    assert(planOf(spansHot).contains("xxhash64") && planOf(stripHot).contains("xxhash64"),
      "forced guard must take the salted path")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val spans = rows(Dedup.duplicateSpans(docs, windowTokens = L))
    assert(spans.nonEmpty, "the corpus must contain repeated windows")
    assert(rows(spansHot) == spans)
    val strip = rows(Dedup.stripDuplicateSpans(docs, windowTokens = L))
    assert(strip.exists(_(2) != 0L), "some text must be stripped")
    assert(rows(stripHot) == strip)
  }

  test("ivfPqTopK serve path: cell pruning via broadcast joins, no corpus shuffle before it") {
    val emb = graft.Tables(spark, sf, "embeddings")
    val cents = graft.OpsQueries.ivfCentsFor(spark, sf)
    val books = graft.OpsQueries.pqBooksFor(spark, sf)
    val served = Similarity.ivfPqTopK(Similarity.assignCells(emb, cents), cents,
      books, emb.where(col("vec_id") < 10), k = 5)
    val p = planOf(served)
    // probes and LUT are broadcast — the corpus side must reach the
    // cell-pruning join unshuffled; the only hash exchanges are the ADC
    // aggregate and the shortlist re-rank
    assertShape("ivfPqTopK", p, maxEx = 3, wantBroadcast = true)
  }

  test("bm25FromLayout serve: term filter pushed below the aggregates, stats broadcast") {
    val dir = java.nio.file.Files.createTempDirectory("plan-postings").toString + "/idx"
    Layout.postingsWrite(docs, dir, nBuckets = 16)
    val served = Layout.bm25FromLayout(spark, dir, Seq("spark", "query"))
    val p = planOf(served)
    // mirror of CurationSpec's ad-hoc bm25 assertion, on the PERSISTED
    // serve path (LayoutSpec holds the files-touched bound): the tok IN
    // filter must prune postings at/near the scan, before any exchange
    assert("tok#\\d+ IN".r.findFirstIn(p).isDefined,
      s"postings not term-filtered before aggregation:\n$p")
    assert(p.contains("PushedFilters: [In(tok") || p.contains("In(tok,"),
      s"tok filter not pushed to the postings scan:\n$p")
    assertShape("bm25FromLayout", p, maxEx = 3, wantBroadcast = true)
  }

  test("negative: a degraded plan IS caught by these detectors") {
    // deliberately-broken shape — the all-pairs jaccard everyone writes
    // first: a self cross-join. The no-cartesian detector must fire.
    val broken = docs.as("a").crossJoin(docs.select(col("doc_id").as("b_id"),
      col("text").as("b_text")))
    val p = planOf(broken)
    assert(p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      s"expected the broken plan to contain a product join:\n$p")
    // and a lost broadcast is visible as a missing BroadcastHashJoin:
    // the same dim join with broadcast disabled stops matching the
    // wantBroadcast assertion
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      val dims = (0L until 5L).map(b => (b, b * 10)).toDF("k", "v")
      val joined = docs.withColumn("k", col("doc_id") % 5).join(dims, "k")
      assert(!planOf(joined).contains("BroadcastHashJoin"),
        "broadcast-disabled join unexpectedly broadcast — negative probe invalid")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pqWrite projection: codes array built once, not inlined per pack reference") {
    // Round-11 regression gate for the 119x build pathology (SCALING.md):
    // pqPack referencing `codes` m times let CollapseProject inline the
    // m-ArgMaxDot array construction into EVERY reference — m*m argmax
    // per row. With the aggregate-fold pqPack the optimized projection
    // carries exactly m+1 argmax_dot expressions: m from pqEncode's
    // array (built once) + 1 for the cell assignment.
    import spark.implicits._
    val m = 16
    // parquet-backed (a LocalRelation would be constant-folded away,
    // taking the expressions under test with it)
    val tmp = java.nio.file.Files.createTempDirectory("pqplan").toString
    (0L until 50L)
      .map(i => (i, Array.tabulate(64)(d => (i + d).toFloat / 64f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/emb.parquet")
    val emb = spark.read.parquet(s"$tmp/emb.parquet")
    val cents = Array.tabulate(4)(c => (c, Array.tabulate(64)(d => (c * 64 + d) / 97.0)))
    val books: Similarity.PqBooks = Array.tabulate(m)(s =>
      Array.tabulate(16)(c => (c, Array.tabulate(4)(d => (s + c + d) / 7.0))))
    val fused = Similarity.pqEncode(Similarity.assignCells(emb, cents), books)
      .select(col("vec_id"), col("cell"), Similarity.pqPack(col("codes"), m).as("packed"))
    val p = fused.queryExecution.optimizedPlan.toString
    val n = "argmax_dot".r.findAllIn(p).length
    info(s"argmax_dot occurrences in optimized plan: $n (budget ${m + 1})")
    assert(n == m + 1,
      s"pqWrite projection carries $n argmax_dot exprs (want ${m + 1} = m encode + 1 cell); " +
        s"a multi-reference pack re-inlined the codes array:\n$p")
  }

  test("probe projections: the multi-dot sims array is built once per probe, never per cell") {
    // Round-12 gate, same hazard class as the pqPack 119x: the probe
    // selector used to build its (sim, cell) structs as
    // array(k × element_at(sims, i)) — k textual copies of the whole
    // VecDotMulti subtree, k·(k·dims) multiply-adds per query row
    // (ruinous at the IMI cap's k = 4096). The zip_with form carries
    // exactly ONE vec_dot_multi per probe selector: 1 in ivfTopK's
    // query projection, 2 in imiTopK's (one per half).
    val tmp = java.nio.file.Files.createTempDirectory("probeplan").toString
    import spark.implicits._
    (0L until 50L)
      .map(i => (i, Array.tabulate(64)(d => (i + d).toFloat / 64f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/emb.parquet")
    val emb = spark.read.parquet(s"$tmp/emb.parquet")
    val queries = emb.where(col("vec_id") < 3)

    val cents = Array.tabulate(8)(c => (c, Array.tabulate(64)(d => (c * 64 + d) / 97.0)))
    val ivf = Similarity.ivfTopK(Similarity.assignCells(emb, cents), cents,
      queries, k = 5, nProbe = 3)
    val pIvf = ivf.queryExecution.optimizedPlan.toString
    val nIvf = "vec_dot_multi".r.findAllIn(pIvf).length
    info(s"ivfTopK vec_dot_multi occurrences: $nIvf (budget 1)")
    assert(nIvf == 1,
      s"ivfTopK probe projection carries $nIvf vec_dot_multi exprs (want 1); " +
        s"the sims array was re-inlined per cell:\n$pIvf")

    val (indexed, imiCents) = Similarity.imiIndex(emb, k = 4, lloydIters = 1)
    val imi = Similarity.imiTopK(indexed, imiCents, queries, k = 5, nProbe = 3)
    val pImi = imi.queryExecution.optimizedPlan.toString
    val nImi = "vec_dot_multi".r.findAllIn(pImi).length
    info(s"imiTopK vec_dot_multi occurrences: $nImi (budget 2)")
    assert(nImi == 2,
      s"imiTopK probe projection carries $nImi vec_dot_multi exprs (want 2 = one per half); " +
        s"a sims array was re-inlined per cell:\n$pImi")

    // the composed index shares the probe machinery — same budget
    val imipq = Similarity.imiPqTopK(indexed, imiCents,
      Similarity.pqTrain(emb), queries, k = 5, nProbe = 3)
    val pPq = imipq.queryExecution.optimizedPlan.toString
    val nPq = "vec_dot_multi".r.findAllIn(pPq).length
    info(s"imiPqTopK vec_dot_multi occurrences: $nPq (budget 2)")
    assert(nPq == 2,
      s"imiPqTopK probe projection carries $nPq vec_dot_multi exprs (want 2 = one per half):\n$pPq")
  }

  test("assignCentroids: the multi-dot distance array is built once per CORPUS row, never per cell") {
    // Same hazard, full-corpus path: the k-entry (dist2, cell) array used
    // to splice the VecDotMulti subtree (and the x·x dot) into every
    // entry — k·(k+1)·dims multiply-adds per corpus row. The zip_with
    // form carries exactly one vec_dot_multi.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("assignplan").toString
    (0L until 20L)
      .map(i => (i, Array.tabulate(64)(d => (i + d).toFloat / 64f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/emb.parquet")
    val emb = spark.read.parquet(s"$tmp/emb.parquet")
    val cents = Array.tabulate(8)(c => (c, Array.tabulate(64)(d => (c * 64 + d) / 97.0)))
    val p = Similarity.assignCentroids(emb, cents)
      .queryExecution.optimizedPlan.toString
    val n = "vec_dot_multi".r.findAllIn(p).length
    info(s"assignCentroids vec_dot_multi occurrences: $n (budget 1)")
    assert(n == 1,
      s"assignCentroids projection carries $n vec_dot_multi exprs (want 1); " +
        s"the dots array was re-inlined per cell:\n$p")
  }
}
