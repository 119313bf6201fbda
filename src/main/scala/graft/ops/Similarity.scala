package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`ARRAY<FLOAT>`).
 *
 * - Brute-force cosine top-k: correctness baseline. The query set is
 *   broadcast (it is small by construction); the corpus is scanned once,
 *   fully parallel, no shuffle of the corpus — only the per-partition
 *   top-k rows move. At 100 TB this is a map + windowed top-k.
 * - LSH-bucketed (random hyperplane / sign-LSH) ANN: hash each vector to a
 *   `nBits`-bit signature with DETERMINISTIC pseudo-random hyperplanes
 *   (hash-derived, no RNG state); candidates = same-bucket pairs,
 *   probed buckets shrink the scan by ~2^nBits.
 *
 * Dot products use double-precision sequential folds (`aggregate` over
 * `zip_with`) — deterministic and codegen'd, matching the SQL oracle
 * bit-for-bit.
 */
object Similarity {

  /** Deterministic double fold: Σ a_i*b_i in element order, in double.
    * Native codegen'd expression ([[graft.functions.VecDot]]) — the
    * higher-order-function formulation evaluates interpreted. */
  def dot(a: Column, b: Column): Column = graft.functions.VecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Brute-force cosine top-k: for each query vector, the k nearest corpus
   * vectors. `queries` must be small (broadcast). Ties break on corpus id.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("qvec"), col("cvec")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /**
   * Embedding-cosine near-duplicate pairs — the PUBLIC, scale-path form:
   * sign-LSH bucketed candidate generation + exact cosine verification.
   *
   * Candidates: each vector lands in `nTables` buckets (one per hash
   * table); the probe side additionally visits every 1-bit-flip bucket,
   * so a pair collides when any table puts their signatures within
   * Hamming distance 1. The candidate join is keyed on (table, bucket)
   * over NARROW (id-only) rows — a plain shuffled hash join, no
   * broadcast-nested-loop, no O(n²) candidate materialization when the
   * data actually clusters. Vectors are re-attached to the surviving
   * distinct pairs for the exact verify, so precision is always 1.0 and
   * the output is a SUBSET of [[cosineNearDupPairsExact]] with measured
   * recall ≥ 0.9 on the test corpora (see q_dedup_embed_lsh's contract;
   * misses concentrate at sims touching the threshold).
   *
   * At 100 TB: the exploded index is ×(nTables·(nBits+1)) on the probe
   * side but each row is (id, table, bucket) — tens of bytes; buckets
   * shard uniformly, the verify join is id-keyed, and nothing is
   * quadratic unless the data itself is one giant near-dup cluster.
   */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         nBits: Int = 6, nTables: Int = 16, dims: Int = 64): DataFrame = {
    val buckets = corpus.select(col(idCol),
      posexplode(graft.functions.SignLshBuckets(col(vecCol), nTables, nBits, dims))
        .as(Seq("tbl", "bucket")))
    val flips = (0 until nBits).map(b => col("bucket").bitwiseXOR(lit(1L << b)))
    val probes = buckets
      .withColumn("bucket", explode(array(col("bucket") +: flips: _*)))
      .select(col(idCol).as("id_a"), col("tbl"), col("bucket"))
    val base = buckets.select(col(idCol).as("id_b"), col("tbl"), col("bucket"))
    val cands = probes.join(base, Seq("tbl", "bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val prepared = corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
    cands
      .join(prepared.toDF("id_a", "va", "na"), "id_a")
      .join(prepared.toDF("id_b", "vb", "nb"), "id_b")
      .withColumn("sim_raw", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("sim_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim_raw"), 6).as("sim"))
  }

  /**
   * Exact (brute-force) near-dup pairs: all (id_a < id_b) pairs with
   * cosine ≥ `threshold` — the correctness baseline the bucketed form is
   * specced against, and the right tool when the threshold sits inside a
   * gapless similarity distribution (at cosine 0.4 on near-uniform data
   * NO candidate generator can prune without losing borderline pairs —
   * the testdata's pair sims are continuous through 0.4, so the exact
   * form is what the hash-matched oracle checks). Norms are computed
   * once per row, then the broadcast self-join evaluates one codegen'd
   * dot + one divide per pair; the corpus never shuffles.
   *
   * O(n²) by construction — guarded by `maxRows` so a production-scale
   * corpus fails fast with a pointer to the bucketed form instead of
   * launching a quadratic job.
   */
  def cosineNearDupPairsExact(corpus: DataFrame, threshold: Double,
                              idCol: String = "vec_id", vecCol: String = "embedding",
                              maxRows: Long = 1000000L): DataFrame = {
    val n = corpus.count()
    require(n <= maxRows,
      s"cosineNearDupPairsExact is O(n²): $n rows exceeds maxRows=$maxRows — " +
        "use cosineNearDupPairs (sign-LSH bucketed) for production corpora, " +
        "or raise maxRows explicitly for an oracle run")
    val par = corpus.sparkSession.sparkContext.defaultParallelism
    val prepared = corpus.select(col(idCol), col(vecCol), norm(col(vecCol)).as("nrm"))
    val a = prepared.toDF("id_a", "va", "na").repartition(par)
    val b = prepared.toDF("id_b", "vb", "nb")
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("sim_raw", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("sim_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim_raw"), 6).as("sim"))
  }

  /**
   * Deterministic pseudo-random hyperplane component for (table, plane,
   * dim): maps a hash to [-1, 1). Stable across runs (no RNG state).
   */
  private def planeComponent(table: Int, plane: Int, dim: Int): Double =
    graft.functions.SignLshBuckets.planeComponent(table, plane, dim)

  /** Sign-LSH bucket id for one hash table: nBits hyperplane sign tests. */
  def lshBucket(vec: Column, table: Int, nBits: Int, dims: Int): Column = {
    val bits = (0 until nBits).map { p =>
      val planeLit = array((0 until dims).map(d => lit(planeComponent(table, p, d))): _*)
      when(dot(vec, planeLit) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /**
   * Scalar int8 quantization for embedding storage: per-vector symmetric
   * scale (q = round(127·x/max|x|)), 4× smaller than float32 on disk and
   * over the wire — the storage-path companion to ANN at 100 TB.
   * Dequantization is approximate; cosine rankings are preserved to
   * ~1e-2 (spec-checked).
   */
  def quantizeInt8(vec: Column): Column = {
    val scale = greatest(array_max(transform(vec, x => abs(x.cast("double")))), lit(1e-12))
    struct(
      scale.cast("float").as("scale"),
      transform(vec, x => round(x.cast("double") * 127.0 / scale).cast("byte")).as("q"))
  }

  def dequantizeInt8(qvec: Column): Column =
    transform(qvec.getField("q"),
      b => (b.cast("double") * qvec.getField("scale").cast("double") / 127.0).cast("float"))

  /**
   * IVF (inverted-file) ANN: a coarse quantizer of `nCells` centroids —
   * deterministically seeded from hashed corpus rows, refined with
   * `lloydIters` k-means steps as DataFrame jobs — partitions the corpus
   * into cells; a query scans only its `nProbe` nearest cells.
   *
   * Scale shape: centroids are tiny (nCells × dim) and broadcast both
   * ways; cell assignment is a narrow map over the corpus (built once,
   * reusable as a `partitionBy(cell)` layout so probes become partition
   * pruning); the probe join touches nProbe/nCells of the data.
   */
  /**
   * Nearest-centroid assignment against a FIXED centroid set (corpus
   * clustering / domain discovery): per row, the argmin of squared L2
   * distance over `centroids`, with the distance itself reported.
   * Distances expand to `x·x − 2·x·c + c·c` so the x·c terms run in one
   * codegen'd [[graft.functions.VecDotMulti]] loop; the argmin is an
   * `array_min` over (dist², cell) structs — per-row, no shuffle, ties
   * break to the lower cell id. Centroids are plan literals (broadcast
   * with the task binary), so a 100 TB corpus is one narrow pass.
   *
   * The `c·c` constants are summed left-to-right (same order as the
   * expression-side dots), keeping results bit-identical to a SQL oracle
   * that computes the same expansion with sequential `list_sum`s.
   */
  def assignCentroids(corpus: DataFrame, centroids: Array[(Int, Array[Double])],
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dots = graft.functions.VecDotMulti(col(vecCol), centroids.map(_._2.toSeq).toSeq)
    val xx = dot(col(vecCol), col(vecCol))
    // (cc, cell) as a LITERAL struct array zipped against the freshly-
    // built dots so the VecDotMulti subtree is referenced exactly once
    // (the CollapseProject hazard class, PLANS.md): the previous
    // `array(k × element_at(dots, i))` form spliced the whole multi-dot
    // (and xx) into every entry — k·(k+1)·dims multiply-adds per CORPUS
    // row. xx inside the lambda still evaluates per element (k·dims,
    // same order as the dots pass — a constant factor, not a k² term)
    // and keeps the `xx − 2·x·c + c·c` left-to-right association
    // bit-identical to the SQL oracle's expansion.
    val cellInfo = array(centroids.map { case (cid, c) =>
      val cc = c.foldLeft(0.0)((a, v) => a + v * v) // sequential, = list_sum order
      struct(lit(cc).as("cc"), lit(cid).as("cell"))
    }.toIndexedSeq: _*)
    val entries = zip_with(dots, cellInfo, (d, info) =>
      struct((xx - lit(2.0) * d + info.getField("cc")).as("dist2"),
             info.getField("cell").as("cell")))
    corpus.select(col(idCol), array_min(entries).as("__m"))
      .select(col(idCol), col("__m.cell").as("cell"),
              round(col("__m.dist2"), 6).as("dist2"))
  }

  /** Nearest-centroid cell assignment under an ALREADY-TRAINED coarse
    * quantizer (the serve half of build-once/serve-many — training via
    * [[ivfIndex]]). Score + argmax FUSED in one expression — exposing
    * the scores as a column invites the optimizer to inline the
    * multi-dot into every per-cell use (same values/tie order as an
    * array_max over (sim, cell) structs: ties go to the larger cell
    * id). */
  def assignCells(df: DataFrame, centroids: Array[(Int, Array[Double])],
                  vecCol: String = "embedding"): DataFrame =
    df.withColumn("cell", graft.functions.ArgMaxDot(col(vecCol),
      centroids.map(_._2.toSeq).toSeq, centroids.map(_._1).toSeq))

  /**
   * Production coarse-quantizer sizing: nCells ≈ corpusRows /
   * `targetCellRows`, clamped to [minCells, maxCells]. The measured rule
   * behind it (SCALING.md r11, DEPLOY.md): serve cost is
   * nProbe·(corpus/nCells), so a FIXED cell count makes every probe scan
   * linearly more rows as the corpus grows — at 2M vectors, 64 cells
   * probed half the corpus (17.6 s serve) while 256 cells at the same
   * nProbe/recall contract served in 9.6 s. targetCellRows = 8192
   * reproduces that measured sizing (2M/8192 ≈ 244); minCells = 64 keeps
   * bench-scale corpora (≤ ~500k rows) at the established 64-cell
   * config. maxCells caps the single-level quantizer where its centroid
   * set stops being a cheap plan literal (assignment is O(rows·nCells)
   * per pass and the broadcast is nCells·dims doubles) — beyond ~4096
   * cells use a two-level quantizer ([[imiIndex]]), not more cells.
   */
  def autoCells(corpusRows: Long, targetCellRows: Long = 8192L,
                minCells: Int = 64, maxCells: Int = 4096): Int = {
    require(targetCellRows > 0 && minCells > 0 && maxCells >= minCells,
      "autoCells: need positive target and minCells <= maxCells")
    val want = (corpusRows + targetCellRows - 1) / targetCellRows
    math.min(maxCells.toLong, math.max(minCells.toLong, want)).toInt
  }

  /** `nCells = 0` (the default) auto-sizes the quantizer from the corpus
    * row count via [[autoCells]] — one cheap count() job, parquet
    * metadata-only on a file-backed corpus. Pass an explicit nCells to
    * pin a config (benchmarks, fixtures, A/Bs). */
  def ivfIndex(corpus: DataFrame, nCells: Int = 0, lloydIters: Int = 4, dims: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, Array[(Int, Array[Double])]) = {
    val spark = corpus.sparkSession
    val nCells0 = if (nCells > 0) nCells else autoCells(corpus.count())
    // deterministic seeds: nCells pseudo-randomly chosen corpus rows
    // (hash-ranked — no RNG state, stable across runs/partitionings)
    var centroids: Array[(Int, Array[Double])] = corpus
      .select(col(idCol), col(vecCol))
      .withColumn("__rk", md5(col(idCol).cast("string")))
      .orderBy("__rk").limit(nCells0)
      .collect().zipWithIndex
      .map { case (r, i) =>
        (i, r.getSeq[Float](1).map(_.toDouble).toArray)
      }

    def withCell(df: DataFrame, cents: Array[(Int, Array[Double])]): DataFrame =
      assignCells(df, cents, vecCol)

    // the Lloyd loop re-reads the projected corpus once per iteration —
    // cache it for the loop, release before returning
    val vecsOnly = corpus.select(col(vecCol)).cache()
    for (_ <- 0 until lloydIters) {
      val assigned = withCell(vecsOnly, centroids)
      val agg = assigned
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("d", "v")))
        .groupBy("cell", "d").agg(avg(col("v").cast("double")).as("m"))
        .collect()
      val byCell = agg.groupBy(_.getInt(0))
      centroids = centroids.map { case (cid, old) =>
        byCell.get(cid) match {
          case Some(rows) =>
            val m = old.clone()
            rows.foreach(r => m(r.getInt(1)) = r.getDouble(2))
            (cid, m)
          case None => (cid, old) // empty cell keeps its centroid
        }
      }
    }
    vecsOnly.unpersist()
    val indexed = withCell(corpus, centroids)
    (indexed, centroids)
  }

  /**
   * Semantic deduplication (the SemDeDup recipe, public literature):
   * cluster embeddings with the IVF coarse quantizer, find near-dup
   * pairs ONLY within clusters (exact cosine, `threshold`), resolve
   * connected components, keep each component's lowest id. Returns the
   * KEPT corpus rows plus their `cell`.
   *
   * Scale shape: pair search never crosses a cluster boundary —
   * candidate volume is Σ|cell|², not n²; the centroids are broadcast,
   * cell assignment is a narrow map, the within-cell pair join is keyed
   * on `cell`, and component resolution reuses [[Dedup.clusters]]'
   * distributed min-label iteration. The price vs all-pairs is recall at
   * cluster boundaries (pairs split across cells are not compared) —
   * the standard SemDeDup trade, quantified per-dataset by
   * `q_semantic_dedup`'s contract flags.
   */
  def semanticDedup(corpus: DataFrame, threshold: Double, nCells: Int = 0,
                    lloydIters: Int = 4, dims: Int = 64,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (indexed, _) = ivfIndex(corpus, nCells, lloydIters, dims, idCol, vecCol)
    val prepared = indexed.select(col(idCol), col(vecCol), col("cell"),
      norm(col(vecCol)).as("nrm"))
    val a = prepared.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      col("nrm").as("na"), col("cell"))
    val b = prepared.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      col("nrm").as("nb"), col("cell"))
    val pairs = a.join(b, "cell")
      .where(col("id_a") < col("id_b"))
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("id_a", "id_b")
    val dropped = Dedup.clusters(pairs)
      .where(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id").as(idCol))
    indexed.join(dropped, Seq(idCol), "left_anti")
  }

  /** IVF search: probe the `nProbe` nearest cells per query, exact
    * cosine rank within them. */
  def ivfTopK(indexed: DataFrame, centroids: Array[(Int, Array[Double])],
              queries: DataFrame, k: Int, nProbe: Int = 32,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = indexed.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"), col("cell"))
    ivfScore(c, ivfProbes(queries, centroids, nProbe, idCol, vecCol), k)
  }

  /** The IVF query side: one (query_id, qvec, cell) row per probed
    * cell, for [[ivfScore]]. */
  private[ops] def ivfProbes(queries: DataFrame, centroids: Array[(Int, Array[Double])],
                             nProbe: Int, idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      explode(transform(probeCellsCol(centroids, nProbe, col(vecCol)),
        p => p.getField("cell"))).as("cell"))

  /** Top-`nProbe` nearest cells for a query vector expression, as an
    * array<struct(sim, cell)> sorted descending: the multi-dot against
    * all centroids in one expression, then sort + slice.
    *
    * The (sim, cell) structs are built with `zip_with(sims, ids, …)` so
    * the freshly-built `sims` array is referenced EXACTLY ONCE (the
    * CollapseProject hazard class, PLANS.md / OpsPlanShapeSpec): the
    * previous `array(k × element_at(sims, i))` form embedded the whole
    * VecDotMulti subtree k times, costing k·(k·dims) multiply-adds per
    * query row — invisible at the bench's k = 64, ruinous at the IMI
    * cap's k = 4096 (537M mults per query). */
  private def probeCellsCol(centroids: Array[(Int, Array[Double])], nProbe: Int,
                            vec: Column): Column = {
    val sims = graft.functions.VecDotMulti(vec,
      centroids.map(_._2.toSeq).toSeq)
    val ids = array(centroids.map(c => lit(c._1)).toIndexedSeq: _*)
    val scored = zip_with(sims, ids,
      (s, c) => struct(s.as("sim"), c.as("cell")))
    slice(reverse(array_sort(scored)), 1, nProbe)
  }

  /** Shared IVF scoring tail: cell-keyed candidate join (queries
    * broadcast), exact cosine, per-query top-k. `keys` is the cell key —
    * one column for single-level IVF, (cell1, cell2) for the IMI pair. */
  private[ops] def ivfScore(c: DataFrame, q: DataFrame, k: Int,
                       keys: Seq[String] = Seq("cell")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = c.join(broadcast(q), keys)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(cosine(col("qvec"), col("cvec")), 6))
      .groupBy("query_id", "neighbor_id").agg(first("sim").as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** IMI half-codebook sizing: k per half ≈ √(rows / targetCellRows),
    * while each CODEBOOK stays √(pair count) — at 100B rows, ~7k
    * centroids per half (capped 4096) where a single-level quantizer
    * would need 49M. The 2048-row default target is MEASURED, not
    * [[autoCells]]' 8192: the 2M-vector serve curve (SCALING.md r12)
    * is 7.26 s at 8k rows/cell (probe set saturates the pair space),
    * 3.49 s at 2k, 3.24 s at 500 — the knee sits near 2k rows/cell,
    * where probe-set/pair-space drops below ~30% and two-level pruning
    * engages; deeper buys little and pays k² pair-enumeration cost in
    * the probe selector. */
  def autoCellsImi(corpusRows: Long, targetCellRows: Long = 2048L,
                   minK: Int = 4, maxK: Int = 4096): Int = {
    require(targetCellRows > 0 && minK > 0 && maxK >= minK,
      "autoCellsImi: need positive target and minK <= maxK")
    val want = math.ceil(math.sqrt(corpusRows.toDouble / targetCellRows)).toLong
    math.min(maxK.toLong, math.max(minK.toLong, want)).toInt
  }

  /** IMI probe-count sizing from MEASURED recall grids — two regimes,
    * both recorded in SCALING.md (the shallow rule's standing gate is
    * `ImiRecallSpec`):
    *
    * SHALLOW (pair space ≤ 64; measured r13 at k = 4–8, sf0.001–0.1,
    * k@5 vs brute force, raw IMI and IMI+PQ arms; each entry the
    * MINIMUM recall at that fraction across scales and arms): recall is
    * FRACTION-driven — 25% → 0.48, 50% → 0.66, 75% → 0.90, 100% → 0.96
    * — because with a handful of pair cells the two independent
    * half-space quantizers rank them noisily (the [[imiIndex]] caveat).
    * At the registered k = 4 / 0.9 target this derives exactly the
    * hand-picked 12-of-16 config the q_ann_imi* rows ship.
    *
    * DEEP (pair space > 64; measured r14, SCALING.md "Round 14: the
    * fourth decade gets its recall anchor", on the jittered 2M fixture at k = 16/32/64 — pair spaces 256/1024/4096,
    * probed fractions 0.2%–25%): recall is ABSOLUTE-COUNT-driven and
    * nearly k-independent — probes 8 → 0.78, 16 → 0.88, 32 → 0.98,
    * 64 → 1.00 (minimum across the three k) — a query's true neighbors
    * concentrate in a handful of cells, and once the probe ranking has
    * covered them, probing more of an ever-larger pair space buys
    * nothing. This closes the r13 extrapolation caveat: the fraction
    * rule applied at k = 64 would have demanded 3072 probes for a 0.9
    * target where 32 measure at 0.98.
    *
    * The BAND between the regimes (pair space 65–255, k = 9–15) is
    * measured too (r15, SCALING.md "Round 15: probe-regime band
    * measured", k = 9/12 on the same fixture): probes 8 → 0.86, 16 → 0.98, 32 → 1.00 (min across the
    * band) — at least the deep grid's recall at every count, so the
    * absolute rule is CONSERVATIVE there and the regime boundary
    * (k = 8 → 48 probes by fraction, k = 9 → 32 absolute) is a
    * measured step on both sides, not an extrapolated discontinuity.
    *
    * Scope: the deep grid's fixture is CLUSTERED (jittered copies —
    * tight same-base neighbor groups, the LLM-dedup corpus shape). A
    * corpus whose true neighbors spread uniformly across cells has no
    * small covering probe set; re-measure the deep grid on such a
    * corpus (build scale fixtures with `graft.Measure amplify`) before
    * trusting the absolute counts, like any ANN deployment. The absolute grid also assumes [[autoCellsImi]]-SIZED
    * cells (~0.5–2k rows/cell): a measured boundary point at 10× finer
    * sharding (k = 99 over 2M, ~204 rows/cell) needs DOUBLE the probes
    * for the same target (32 → 0.88, 64 → 0.94) — clusters fragment
    * across more cells. At 20M, where k = 99 IS the sized config, 32
    * probes measure 0.94 (the recall anchor). For IMI+PQ serves on
    * thin-margin corpora the SHORTLIST is the binding constraint, not
    * probes — see [[autoShortlistImiPq]]. */
  def autoProbesImi(k: Int, targetRecall: Double = 0.9): Int = {
    require(k > 0 && targetRecall > 0.0 && targetRecall <= 1.0,
      "autoProbesImi: need k > 0 and targetRecall in (0, 1]")
    val pairSpace = k.toLong * k
    if (pairSpace <= 64) {
      val grid = Seq( // probed fraction -> min recall measured (SCALING.md, r13)
        0.25 -> 0.48, 0.50 -> 0.66, 0.75 -> 0.90, 1.00 -> 0.96)
      val frac = grid.collectFirst { case (f, r) if r >= targetRecall => f }
        .getOrElse(1.0) // above the measured ceiling: probe everything
      math.max(1L, math.min(pairSpace, math.ceil(pairSpace * frac).toLong)).toInt
    } else {
      val grid = Seq( // absolute probes -> min recall measured (SCALING.md, r14 deep grid)
        8 -> 0.78, 16 -> 0.88, 32 -> 0.98, 64 -> 1.00)
      val probes = grid.collectFirst { case (p, r) if r >= targetRecall => p }
        .getOrElse(64)
      math.min(pairSpace, probes.toLong).toInt
    }
  }

  /** IMI+PQ shortlist sizing from the MEASURED shortlist-vs-recall
    * sweeps at TWO decades. On a thin-margin corpus (top-k gaps below
    * ADC quantization error — the near-duplicate-heavy shape) the
    * shortlist, not the probe count, is what bounds recall: the exact
    * re-rank recovers everything the shortlist admits, so recall buys
    * linearly-priced re-rank width rather than extra probes. On
    * well-separated corpora the default 100 already measures ≥ 0.9
    * (the sf-scale recall grid in SCALING.md).
    *
    * The sufficient shortlist scales with the DUPLICATE-CLUSTER size C
    * (r14's two anchors, SCALING.md "Round 14: the fourth decade gets
    * its recall anchor"):
    *   - jittered 2M, C ≈ 1000, nProbe = 32, constant across
    *     k = 16/32/64: sl 100 → 0.54, 400 (0.4·C) → 0.92,
    *     1600 (1.6·C) → 0.98+;
    *   - jittered 20M, C ≈ 10000: sl 400 → 0.44,
    *     1600 (0.16·C) → 0.80, 6400 (0.64·C) → 0.94 = the probe-bound
    *     ceiling.
    * The cross-anchor law certified at BOTH decades (taking the minimum
    * recall where one anchor only brackets a fraction): 0.16·C → 0.54,
    * 0.40·C → 0.80, 0.64·C → 0.92. The rule returns the law's value
    * with the C ≈ 1000 constant grid as a floor (sub-1000 clusters are
    * unmeasured below it; the floor can only over-provision). Targets
    * above 0.92 are certified only by the C ≈ 1000 anchor's 1.6·C →
    * 0.98 point — past C = 1000 the 20M anchor's own ceiling is
    * PROBE-bound at 0.94, so asking this rule for more fails loud
    * (raise nProbe and re-measure) instead of returning a constant the
    * measurements contradict (the r14 trap: the old constant 1600
    * measured 0.80 at C ≈ 10000 against a 0.9 target).
    *
    * Estimate C with [[clusterSizeStat]] when it isn't known a priori.
    */
  def autoShortlistImiPq(targetRecall: Double = 0.9,
                         expectedClusterSize: Long = 1000L): Int = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      "autoShortlistImiPq: need targetRecall in (0, 1]")
    require(expectedClusterSize > 0,
      "autoShortlistImiPq: need expectedClusterSize > 0")
    val c = expectedClusterSize
    if (targetRecall <= 0.92) {
      val law = Seq(0.16 -> 0.54, 0.40 -> 0.80, 0.64 -> 0.92)
      val frac = law.collectFirst { case (f, r) if r >= targetRecall => f }.get
      val floorGrid = Seq(100 -> 0.54, 400 -> 0.92)
      val floor = floorGrid
        .collectFirst { case (s, r) if r >= targetRecall => s }.getOrElse(400)
      math.max(floor.toLong, math.ceil(frac * c).toLong)
        .min(Int.MaxValue.toLong).toInt
    } else {
      require(c <= 1000 && targetRecall <= 0.98,
        s"autoShortlistImiPq: target $targetRecall at cluster size $c is " +
          "beyond the measured anchors — the 20M sweep's ceiling is " +
          "PROBE-bound at 0.94 (sl 0.64*C rejoins raw IMI), so a wider " +
          "shortlist cannot certify it; raise nProbe and re-measure recall " +
          "on a scale fixture (graft.Measure amplify) before trusting a config here")
      math.max(1600L, math.ceil(1.6 * c).toLong).toInt
    }
  }

  /** Cheap corpus estimate of the expected duplicate-cluster size C for
    * [[autoShortlistImiPq]]: the p99 exact-duplicate group size over a
    * grouping key (a content hash, a minhash signature, or any column
    * that collapses near-identical rows). One groupBy-count aggregate +
    * one approx-quantile over the group sizes — aggregate-sized state,
    * no collect of the groups themselves. p99 (not max) so one
    * degenerate mega-group (an empty-document hash) doesn't size every
    * serve's re-rank width; callers with adversarial skew should route
    * such groups out first (the dedup pipeline already does). */
  def clusterSizeStat(df: DataFrame, keyCol: String): Long = {
    val sizes = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    // relativeError 0.001: at 0.01 the error band around p99 reaches the
    // max itself once fewer than ~1000 groups exist, which is exactly
    // when a degenerate mega-group would leak through
    math.max(1L, sizes.stat.approxQuantile("n", Array(0.99), 0.001).head.toLong)
  }

  /**
   * Inverted multi-index (IMI) coarse quantizer — the TWO-LEVEL scale
   * path past [[autoCells]]' single-level cap (public literature:
   * Babenko & Lempitsky, "The Inverted Multi-Index", CVPR 2012). The
   * vector splits into two halves, each quantized INDEPENDENTLY by a
   * k-centroid codebook trained on that half; a row's effective cell is
   * the PAIR `(cell1, cell2)` — k² cells from two k-sized codebooks. At
   * k = 4096 that is ~16.8M effective cells while each broadcast plan
   * literal stays the size a single-level 4096-cell quantizer already
   * ships: the cell count the 100-TB sizing rule needs (rows/8k cells at
   * 100B+ rows) without ever growing one codebook past the literal cap.
   *
   * Scale shape: training = two half-dim [[ivfIndex]] Lloyd runs (same
   * O(rows·k) assignment passes, half the dot width each); assignment =
   * two codegen'd ArgMaxDot passes per row, no shuffle; search joins on
   * the pair key. `k = 0` auto-sizes via [[autoCellsImi]].
   *
   * Measured trade vs single-level IVF (r12 recall grid in SCALING.md,
   * sf0.001–0.1): at the SAME probed fraction IMI recalls lower
   * (0.66–0.86 at 50% vs IVF's ~0.90) — two independent half-space
   * quantizers rank pair-cells noisier than one full-vector quantizer —
   * so IMI serves with a larger probed fraction (75% → 0.92–0.96 here)
   * or a downstream re-rank. Use it when the CELL COUNT is the binding
   * constraint (≳4096 single-level cells, i.e. ≳33M rows at the default
   * sizing), not as a drop-in recall upgrade.
   */
  def imiIndex(corpus: DataFrame, k: Int = 0, lloydIters: Int = 4, dims: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, (Array[(Int, Array[Double])], Array[(Int, Array[Double])])) = {
    val half = dims / 2
    val k0 = if (k > 0) k else autoCellsImi(corpus.count())
    val h1 = slice(col(vecCol), 1, half)
    val h2 = slice(col(vecCol), half + 1, half)
    // FUSED training: both half-quantizers train from ONE corpus pass
    // per step instead of two independent [[ivfIndex]] runs — at 100 TB
    // the training passes ARE the build cost. Bit-identical to the
    // sequential two-run form (spec-pinned): the same md5(id)-ranked
    // rows seed both halves (ivfIndex's seed rule applied to each half
    // of the same row), and each Lloyd update is the same per-(cell,
    // dim) mean — the quantizers never interact.
    val seedRows = corpus
      .select(col(idCol), h1.as("__h1"), h2.as("__h2"))
      .withColumn("__rk", md5(col(idCol).cast("string")))
      .orderBy("__rk").limit(k0).collect()
    var c1: Array[(Int, Array[Double])] = seedRows.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).map(_.toDouble).toArray) }
    var c2: Array[(Int, Array[Double])] = seedRows.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](2).map(_.toDouble).toArray) }
    val halves = corpus.select(h1.as("__h1"), h2.as("__h2")).cache()
    for (_ <- 0 until lloydIters) {
      // one job: assign both halves, explode (quantizer, cell, dim,
      // value) and take per-key means — map-side partial aggregation,
      // state ≤ 2·k·half rows
      val agg = halves
        .withColumn("__c1", graft.functions.ArgMaxDot(col("__h1"),
          c1.map(_._2.toSeq).toSeq, c1.map(_._1).toSeq))
        .withColumn("__c2", graft.functions.ArgMaxDot(col("__h2"),
          c2.map(_._2.toSeq).toSeq, c2.map(_._1).toSeq))
        .select(explode(array(
          struct(lit(1).as("q"), col("__c1").as("cell"), col("__h1").as("v")),
          struct(lit(2).as("q"), col("__c2").as("cell"), col("__h2").as("v")))).as("e"))
        .select(col("e.q"), col("e.cell"), posexplode(col("e.v")).as(Seq("d", "v")))
        .groupBy("q", "cell", "d").agg(avg(col("v").cast("double")).as("m"))
        .collect()
      def updated(cents: Array[(Int, Array[Double])], q: Int): Array[(Int, Array[Double])] = {
        val byCell = agg.filter(_.getInt(0) == q).groupBy(_.getInt(1))
        cents.map { case (cid, old) =>
          byCell.get(cid) match {
            case Some(rows) =>
              val m = old.clone()
              rows.foreach(r => m(r.getInt(2)) = r.getDouble(3))
              (cid, m)
            case None => (cid, old) // empty cell keeps its centroid
          }
        }
      }
      c1 = updated(c1, 1)
      c2 = updated(c2, 2)
    }
    halves.unpersist()
    (assignImiCells(corpus, (c1, c2), dims, vecCol), (c1, c2))
  }

  /** Pair-cell assignment under an ALREADY-TRAINED IMI quantizer (the
    * serve/append half of build-once: [[imiIndex]]'s final assignment
    * factored out so incremental index maintenance encodes new vectors
    * under the FROZEN codebooks). Two codegen'd ArgMaxDot projections,
    * per-row, no shuffle. */
  def assignImiCells(df: DataFrame,
                     cents: (Array[(Int, Array[Double])], Array[(Int, Array[Double])]),
                     dims: Int = 64, vecCol: String = "embedding"): DataFrame = {
    val half = dims / 2
    // fused-slice form (r13): no per-row slice() array copies — each
    // half dots the vector in place by index
    df.withColumn("cell1", graft.functions.ArgMaxDot.sliced(col(vecCol),
        cents._1.map(_._2.toSeq).toSeq, cents._1.map(_._1).toSeq, 0, half))
      .withColumn("cell2", graft.functions.ArgMaxDot.sliced(col(vecCol),
        cents._2.map(_._2.toSeq).toSeq, cents._2.map(_._1).toSeq, half, half))
  }

  /** Per-query top-`nProbe` IMI pair-cells, sorted by combined half
    * similarity: the true top-nProbe pairs lie within the top-nProbe of
    * each half (a pair outside either half's top-nProbe is dominated by
    * nProbe better pairs differing only in that half), so enumerating
    * the nProbe×nProbe cross and slicing is EXACT, not a heuristic —
    * all in one declarative expression per query row.
    *
    * Evaluation-cost note (the CollapseProject hazard class,
    * PLANS.md): the inner `transform` re-evaluates the half-2 score
    * array once per outer element — nProbe·(k·dims + k log k) work per
    * QUERY row. That is fine here by the ANN contract (queries are a
    * bounded probe set, never the corpus); do NOT reuse this nested
    * shape for a per-corpus-row projection. */
  private[ops] def imiProbesCol(cents: (Array[(Int, Array[Double])], Array[(Int, Array[Double])]),
                           nProbe: Int, vec: Column, half: Int): Column = {
    val s1 = probeCellsCol(cents._1, nProbe, slice(vec, 1, half))
    val s2 = probeCellsCol(cents._2, nProbe, slice(vec, half + 1, half))
    val pairs = flatten(transform(s1, x => transform(s2, y =>
      struct((x.getField("sim") + y.getField("sim")).as("sim"),
        x.getField("cell").as("cell1"), y.getField("cell").as("cell2")))))
    slice(reverse(array_sort(pairs)), 1, nProbe)
  }

  /** ANN search over an [[imiIndex]]: probe the top-`nProbe` pair-cells
    * per query, exact cosine on the candidates, per-query top-k — the
    * same contract surface as [[ivfTopK]] with the pair key. */
  def imiTopK(indexed: DataFrame,
              cents: (Array[(Int, Array[Double])], Array[(Int, Array[Double])]),
              queries: DataFrame, k: Int, nProbe: Int = 32, dims: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val half = dims / 2
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      explode(imiProbesCol(cents, nProbe, col(vecCol), half)).as("__p"))
      .select(col("query_id"), col("qvec"),
        col("__p.cell1").as("cell1"), col("__p.cell2").as("cell2"))
    val c = indexed.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      col("cell1"), col("cell2"))
    ivfScore(c, q, k, keys = Seq("cell1", "cell2"))
  }

  /**
   * ANN via multi-table sign-LSH (random hyperplanes): `nTables`
   * independent hash tables, candidates = union of same-bucket collisions
   * (plus 1-bit-flip probes per table), ranked by exact cosine.
   *
   * Scale shape: the bucket index replicates corpus rows ×nTables but each
   * row is only (table, bucket, id, vec) — a narrow map + explode, no
   * shuffle of the corpus; the candidate join is keyed on (table, bucket)
   * with the (small) probe set broadcast, and only colliding pairs reach
   * the cosine. Probed fraction ≈ nTables·(probes+1)/2^nBits of the
   * corpus. Recall rises as 1-(1-r)^nTables per-table recall r.
   */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int, nBits: Int = 6, dims: Int = 64,
              nTables: Int = 16, multiProbe: Boolean = true,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // all table buckets in ONE native expression (tight codegen loop);
    // posexplode position = table id. The composed per-table/per-bit
    // Column form generated a codegen tree whose compile time dominated.
    def withBuckets(df: org.apache.spark.sql.DataFrame, id: String, vec: String) =
      df.select(col(idCol).as(id), col(vecCol).as(vec),
          posexplode(graft.functions.SignLshBuckets(col(vecCol), nTables, nBits, dims))
            .as(Seq("tbl", "bucket")))

    val c = withBuckets(corpus, "neighbor_id", "cvec")

    val qb = withBuckets(queries, "query_id", "qvec")
      .withColumnRenamed("bucket", "qbucket")
    val probes = (if (multiProbe) {
      val flips = (0 until nBits).map(b => col("qbucket").bitwiseXOR(lit(1L << b)))
      qb.withColumn("bucket", explode(array(col("qbucket") +: flips: _*)))
    } else qb.withColumn("bucket", col("qbucket"))).drop("qbucket")

    // union candidates across tables, dedupe pairs BEFORE the cosine so a
    // multi-table hit is scored once
    val cand = c.join(broadcast(probes), Seq("tbl", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(first(col("qvec")).as("qvec"), first(col("cvec")).as("cvec"))

    val scored = cand.withColumn("sim", round(cosine(col("qvec"), col("cvec")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  // ── Product quantization (PQ) ────────────────────────────────────────

  /** One codebook per subspace: `books(s)` is `kSub` centroids of
    * `dims/m` components each, id-tagged. */
  type PqBooks = Array[Array[(Int, Array[Double])]]

  /**
   * Nearest-centroid code for subspace `s`, as a codegen'd expression:
   * argmin‖x−c‖² = argmax⟨(x,1), (c, −‖c‖²/2)⟩, so the existing
   * [[graft.functions.ArgMaxDot]] kernel serves with the subvector
   * augmented by a constant 1 and each centroid by its negative half
   * squared norm. Ties break to the larger code id (ArgMaxDot's rule) —
   * deterministic, engine-independent.
   */
  private def pqCodeCol(vecCol: String, s: Int, ds: Int,
                        book: Array[(Int, Array[Double])]): Column =
    // fused-slice + fused-bias form (r13): the old shape built
    // concat(slice(vec), array(1.0f)) — TWO array copies per row per
    // subspace (32 per encoded row at m=16), pure allocator traffic on
    // the index build/append path. The -||c||²/2 distance bias is added
    // bias-last, exactly where the old augmented element landed, so
    // codes are bit-identical.
    graft.functions.ArgMaxDot.sliced(col(vecCol),
      book.map(_._2.toSeq).toSeq, book.map(_._1).toSeq,
      s * ds, ds, book.map { case (_, c) => -0.5 * c.map(x => x * x).sum }.toSeq)

  /**
   * Train PQ codebooks: split `dims` into `m` subspaces, k-means each
   * with `kSub` centroids. The compression story at 100 TB: a 64-dim
   * float32 embedding (256 B) becomes `m` byte codes (16 B at the
   * defaults, 8 B bit-packed since kSub=16 fits 4 bits) — a 16–32×
   * smaller index that fits hot in memory while the raw vectors stay
   * on disk for the re-rank. Defaults are the measured sweet spot on
   * the test corpora: recall@5 0.96–1.0 across sf0.001–0.1 with the
   * default shortlist (2 Lloyd iterations measured as good as 4 here —
   * more iterations shift codebooks without improving the shortlist).
   *
   * Scale shape, mirroring [[ivfIndex]]: seeds are hash-ranked corpus
   * rows (no RNG state); each Lloyd iteration is ONE DataFrame job that
   * updates ALL `m` codebooks (assign codes per subspace with the
   * codegen'd argmin, posexplode components, per-(sub, code, dim) mean);
   * the collected update is m·kSub·(dims/m) = kSub·dims rows — constant
   * in corpus size. Empty codes keep their centroid.
   */
  def pqTrain(corpus: DataFrame, m: Int = 16, kSub: Int = 16,
              lloydIters: Int = 2, dims: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): PqBooks = {
    require(dims % m == 0, s"dims=$dims must split evenly into m=$m subspaces")
    val ds = dims / m
    val seedRows = corpus.select(col(idCol), col(vecCol))
      .withColumn("__rk", md5(col(idCol).cast("string")))
      .orderBy("__rk").limit(kSub)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    var books: PqBooks = Array.tabulate(m)(s =>
      seedRows.zipWithIndex.map { case (v, i) => (i, v.slice(s * ds, (s + 1) * ds)) })

    val vecsOnly = corpus.select(col(vecCol)).cache()
    for (_ <- 0 until lloydIters) {
      val codeCols = (0 until m).map(s => pqCodeCol(vecCol, s, ds, books(s)).as(s"__c$s"))
      val agg = vecsOnly
        .select(codeCols :+ posexplode(col(vecCol)).as(Seq("d", "v")): _*)
        .select(
          (col("d") / ds).cast("int").as("sub"),
          element_at(array((0 until m).map(s => col(s"__c$s")): _*),
            (col("d") / ds).cast("int") + 1).as("code"),
          (col("d") % ds).as("dw"), col("v"))
        // exact decimal sums + one driver-side divide, NOT a shuffled avg:
        // decimal addition is order-independent, so the trained centroids
        // are bit-identical at any partitioning/AQE plan (the stats-agg
        // queries use the same discipline)
        .groupBy("sub", "code", "dw").agg(
          sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 18))).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val bySubCode = agg.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = books.zipWithIndex.map { case (book, s) =>
        book.map { case (cid, old) =>
          bySubCode.get((s, cid)) match {
            case Some(rows) =>
              val c = old.clone()
              rows.foreach(r => c(r.getInt(2)) = r.getDecimal(3).doubleValue() / r.getLong(4))
              (cid, c)
            case None => (cid, old)
          }
        }
      }
    }
    vecsOnly.unpersist()
    books
  }

  /** Encode each vector as its `m` subspace codes (narrow codegen'd
    * projection — the write path of the compressed index). */
  def pqEncode(corpus: DataFrame, books: PqBooks, dims: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = books.length; val ds = dims / m
    corpus.withColumn("codes",
      array((0 until m).map(s => pqCodeCol(vecCol, s, ds, books(s))): _*))
  }

  /**
   * Bit-pack the default 16×4-bit PQ codes into ONE `long` — the 8-byte
   * compressed-index row format (256 B float32 → 8 B, 32×). A packed
   * word is groupable/joinable/sortable like any integer key, so the
   * compressed index plays with every relational operator.
   * Requires kSub ≤ 16 (codes fit 4 bits) and m ≤ 16.
   *
   * Implemented as ONE `aggregate` fold (`acc<<4 | code`, left to
   * right — identical bits to the shift/or chain it replaces) so the
   * `codes` child is referenced EXACTLY ONCE. The previous form —
   * m `shiftleft(element_at(codes, i))` terms OR-reduced — referenced
   * `codes` m times; when `codes` is the freshly built
   * `array(argmax₀..argmax₁₅)` of [[pqEncode]] in the same projection
   * (the [[graft.ops.Layout.pqWrite]] build path), CollapseProject
   * inlines that array construction into every reference and no rule
   * simplifies `element_at(CreateArray, i)`, so each row paid m×m
   * argmax evaluations plus m×m slice allocations — measured 774 s vs
   * 7 s for the same 2M-row stage computed once (SCALING.md "Layout
   * BUILD path: one projection was 119× too slow").
   * The 16-element interpreted fold is noise next to that.
   *
   * The fold runs over `slice(codes, 1, m)` — still exactly one
   * reference to `codes` — so pack stays symmetric with `pqUnpack(m)`
   * by construction: an over-long codes array packs exactly its first
   * m codes instead of silently producing a word m codes can't decode.
   */
  def pqPack(codes: Column, m: Int = 16): Column =
    aggregate(slice(codes, 1, m), lit(0L),
      (acc, c) => shiftleft(acc, 4).bitwiseOR(c.cast("long")))

  /** Inverse of [[pqPack]]: a packed word back to the m-code array. */
  def pqUnpack(packed: Column, m: Int = 16): Column =
    array((0 until m).map(i =>
      shiftrightunsigned(packed, (m - 1 - i) * 4).bitwiseAND(lit(0xFL)).cast("int")): _*)

  /**
   * PQ-ADC top-k with exact re-rank — the production read path of the
   * compressed index: per query, build the asymmetric-distance lookup
   * table (m·kSub partial squared distances — broadcast), score every
   * code word by `Σ lut[sub][code]` (narrow explode + map-side-combined
   * sum), shortlist the `shortlist` closest, then re-rank ONLY the
   * shortlist with exact cosine against the raw vectors. At 100 TB the
   * full-precision vectors are touched for shortlist·|queries| rows —
   * the rest of the corpus is read as 4-byte codes.
   */
  def pqTopK(corpus: DataFrame, books: PqBooks, queries: DataFrame, k: Int,
             shortlist: Int = 100, dims: Int = 64,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val ds = dims / books.length
    // queries are few (ANN contract: a bounded probe set) — build the
    // per-(query, sub, code) lookup table driver-side and broadcast it
    val qRows = collectQueries(queries, idCol, vecCol)
    // ADC fused into one projection (r13, [[graft.functions.PqAdcDist]]):
    // the old posexplode → LUT join → hash-agg shape multiplied every
    // candidate by m rows and shuffled them; now each (query, candidate)
    // pair is ONE row with its distance computed in place
    val (qIds, lutM) = pqLutMatrix(qRows, books, ds)
    val qIdDf = broadcast(
      corpus.sparkSession.createDataFrame(qIds.map(Tuple1(_))).toDF("query_id"))
    val approx = pqEncode(corpus, books, dims, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("codes"))
      .crossJoin(qIdDf)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.PqAdcDist(col("codes"), col("query_id"),
          qIds, lutM, books.length).as("adist"))
    adcShortlistRerank(approx, corpus, queries, k, shortlist, idCol, vecCol)
  }

  /** Per-query probe cells — driver-side over the bounded query set
    * (ties on the dot break to the lower cell id — deterministic).
    * Shared by the in-memory composed index and the persisted-layout
    * server so both probe the IDENTICAL cells. */
  private[ops] def probeCells(spark: SparkSession,
                              centroids: Array[(Int, Array[Double])],
                              qRows: Array[(Long, Array[Double])],
                              nProbe: Int): DataFrame =
    spark.createDataFrame(for {
      (qid, qv) <- qRows.toSeq
      cell <- centroids
        .sortBy { case (cid, c) =>
          (-c.zip(qv).map { case (a, b) => a * b }.sum, cid) }
        .take(nProbe).map(_._1).toSeq
    } yield (qid, cell)).toDF("query_id", "cell")

  private[ops] def collectQueries(queries: DataFrame, idCol: String,
                                  vecCol: String): Array[(Long, Array[Double])] =
    queries.select(col(idCol), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))

  /** Per-(query, sub, code) partial squared distances — the broadcast
    * ADC lookup table (|queries| · m · kSub rows). */
  /** Per-query ADC lookup tables — the partial squared distance from
    * each query's s-th subvector to every codebook centroid — as a
    * driver-side matrix for [[graft.functions.PqAdcDist]]'s reference
    * objects: one flat `m·kSub`-double row per query, indexed
    * `s·kSub + code`. Aggregate-sized by construction (|queries|·m·kSub
    * doubles — the same data the pre-r13 plan broadcast as a join
    * side). Code ids are positional ([[pqTrain]] seeds with
    * zipWithIndex; the sidecar round-trip preserves them). */
  private[graft] def pqLutMatrix(qRows: Array[(Long, Array[Double])],
                                 books: PqBooks, ds: Int): (Seq[Long], Seq[Seq[Double]]) = {
    val kSub = books.head.length
    val ids = qRows.map(_._1).toSeq
    val rows: Seq[Seq[Double]] = qRows.toSeq.map { case (_, qv) =>
      val row = new Array[Double](books.length * kSub)
      for (s <- books.indices; (cid, c) <- books(s)) {
        require(cid >= 0 && cid < kSub, s"non-positional PQ code id $cid")
        var d2 = 0.0
        var i = 0
        while (i < ds) { val diff = qv(s * ds + i) - c(i); d2 += diff * diff; i += 1 }
        row(s * kSub + cid) = d2
      }
      row.toSeq
    }
    (ids, rows)
  }

  /** Shared PQ tail: shortlist by approximate distance, then exact
    * cosine re-rank of the shortlist only. */
  private[ops] def adcShortlistRerank(approx: DataFrame, corpus: DataFrame,
                                      queries: DataFrame, k: Int, shortlist: Int,
                                      idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wa = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
    val short = approx.withColumn("__rk", row_number().over(wa))
      .where(col("__rk") <= shortlist).select("query_id", "neighbor_id")
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val rr = short.join(cv, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
      .withColumn("sim", round(cosine(col("qvec"), col("cvec")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    rr.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /**
   * IVF+PQ composition — the standard billion-scale index recipe: the
   * coarse quantizer bounds WHICH rows are scanned (each query ADC-
   * scores only its `nProbe` nearest cells' code words) and PQ bounds
   * the BYTES per scanned row (8–16 B codes, not 256 B floats); the
   * exact re-rank touches only the shortlist. Cell membership is
   * per-query — a broadcast (query, cell) probe join tags candidates,
   * so a vector is scored only for queries probing its cell. Over a
   * [[Layout.ivfWrite]] layout the same cell set is a partition filter,
   * making the scan pruning physical on disk as well.
   *
   * Expects `indexed` from [[ivfIndex]] (has `cell`); train `books` on
   * the same corpus.
   */
  def ivfPqTopK(indexed: DataFrame, centroids: Array[(Int, Array[Double])],
                books: PqBooks, queries: DataFrame, k: Int, nProbe: Int = 32,
                shortlist: Int = 100, dims: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = indexed.sparkSession
    val ds = dims / books.length
    val qRows = collectQueries(queries, idCol, vecCol)
    val (qIds, lutM) = pqLutMatrix(qRows, books, ds)
    val probes = probeCells(spark, centroids, qRows, nProbe)
    // fused ADC (r13): one row per (query, candidate), no m× explode,
    // no aggregate exchange — see [[graft.functions.PqAdcDist]]
    val approx = pqEncode(indexed, books, dims, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("cell"), col("codes"))
      .join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.PqAdcDist(col("codes"), col("query_id"),
          qIds, lutM, books.length).as("adist"))
    adcShortlistRerank(approx, indexed, queries, k, shortlist, idCol, vecCol)
  }

  /**
   * IMI + PQ: the two-level coarse quantizer ([[imiIndex]]) composed
   * with product-quantized ADC — the classic IMI+ADC configuration
   * (Babenko & Lempitsky, "The Inverted Multi-Index", CVPR 2012):
   * k² pair-cells from two k-sized half codebooks (cell counts past the
   * single-level plan-literal cap) AND code words ~32× smaller than the
   * raw vectors, so candidate scans stay narrow at any corpus size.
   * Probe pairs come from [[imiProbesCol]] (exact top-nProbe by the
   * per-half domination argument); candidates join on the (cell1,
   * cell2) pair key; distances are the same LUT-sum ADC as
   * [[ivfPqTopK]] with the same exact shortlist re-rank.
   *
   * Expects `indexed` from [[imiIndex]] (has `cell1`/`cell2`); train
   * `books` on the same corpus.
   */
  def imiPqTopK(indexed: DataFrame,
                cents: (Array[(Int, Array[Double])], Array[(Int, Array[Double])]),
                books: PqBooks, queries: DataFrame, k: Int, nProbe: Int = 32,
                shortlist: Int = 100, dims: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = indexed.sparkSession
    val ds = dims / books.length
    val half = dims / 2
    val qRows = collectQueries(queries, idCol, vecCol)
    val (qIds, lutM) = pqLutMatrix(qRows, books, ds)
    val probes = queries.select(col(idCol).as("query_id"),
        explode(imiProbesCol(cents, nProbe, col(vecCol), half)).as("__p"))
      .select(col("query_id"),
        col("__p.cell1").as("cell1"), col("__p.cell2").as("cell2"))
    // fused ADC (r13): see [[graft.functions.PqAdcDist]]
    val approx = pqEncode(indexed, books, dims, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("cell1"), col("cell2"), col("codes"))
      .join(broadcast(probes), Seq("cell1", "cell2"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.PqAdcDist(col("codes"), col("query_id"),
          qIds, lutM, books.length).as("adist"))
    adcShortlistRerank(approx, indexed, queries, k, shortlist, idCol, vecCol)
  }
}
