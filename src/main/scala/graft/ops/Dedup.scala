package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.
 *
 * Scale design (100 TB):
 *  - exact dedup is a single hash-aggregate on a 32-char fingerprint (not
 *    the full text) — the shuffle moves 32 bytes + key per row, not
 *    documents;
 *  - minhash signatures are computed NARROW (array_min over a transform —
 *    no explode, no shuffle); only the banded LSH bucket-join shuffles,
 *    and it shuffles (band_id, band_sig) pairs, i.e. O(#docs × #bands)
 *    small rows;
 *  - candidate verification (exact Jaccard) touches only bucket-colliding
 *    pairs, never the full cross product.
 *
 * MinHash uses md5(seed || shingle) as the per-seed hash family —
 * deterministic, engine-portable, and uniformly distributed; min is taken
 * over the hex strings (order-isomorphic to the 128-bit value).
 */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup")

  /** Exact dedup: keep the lowest-id row per identical (normalized) text. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** MinHash signature: k columns mh0..mh(k-1), computed without a shuffle.
    * NOTE: higher-order `transform`/`array_min` lambdas are interpreted (not
    * codegen'd) in Spark — prefer [[minhashExploded]] on the hot path. */
  def minhashSignature(text: Column, k: Int, shingleN: Int = 3): Seq[Column] = {
    val sh = TextAnalysis.shingles(text, shingleN)
    (0 until k).map { seed =>
      array_min(transform(sh, s => md5(concat(lit(s"$seed#"), s)))).as(s"mh$seed")
    }
  }

  def withMinhash(docs: DataFrame, k: Int = 8, textCol: String = "text"): DataFrame =
    docs.select(col("*") +: minhashSignature(col(textCol), k): _*)

  /**
   * Codegen-friendly minhash: explode shingles once, hash k ways in the
   * codegen'd md5 path, take `min` per doc via hash aggregation. The
   * shuffle carries only (doc_id, k×32-char partial minima) thanks to
   * map-side partial aggregation — at 100 TB this is the scalable form
   * (the lambda version evaluates interpreted per row and recomputes the
   * shingle array k times).
   */
  def minhashExploded(docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
                      textCol: String = "text", shingleN: Int = 3): DataFrame = {
    // Small single-file inputs arrive as one partition; fan the CPU-heavy
    // hashing across the cluster. (At real scale the scan already has
    // many splits and AQE coalesces back — the repartition is then moot.)
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val sh = docs.repartition(par).select(col(idCol),
      explode(TextAnalysis.shingles(col(textCol), shingleN)).as("sh"))
    val aggs = (0 until k).map(seed =>
      min(md5(concat(lit(s"$seed#"), col("sh")))).as(s"mh$seed"))
    sh.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * LSH banding: k minhashes → `bands` bands of `rowsPerBand`; docs sharing
   * any band signature are candidate near-dups. Returns (band, band_sig,
   * doc_id) — group/self-join on (band, band_sig) yields candidates.
   */
  def lshBands(sig: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rowsPerBand = k / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i"))
      struct(lit(b).as("band"), md5(concat(cols: _*)).as("band_sig"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band"), col("bs.band_sig"))
  }

  /**
   * Candidate near-dup pairs from LSH buckets (id_a < id_b, distinct).
   *
   * Implemented as ONE aggregation — group band signatures into buckets,
   * emit intra-bucket pairs — rather than a self-join, so the (expensive)
   * minhash subtree is evaluated once, not once per join side; the shuffle
   * carries only (band, band_sig, doc_id) triples.
   *
   * **Hot-bucket safety (100 TB):** pair expansion is TWO pipelined
   * generates — `posexplode` picks `id_a`, a column-arg `slice` +
   * `explode` streams each `id_b` tail — never one row holding all
   * C(n,2) pairs (the earlier `flatten(transform(transform))` form
   * materialized the full pair array in a single row, so one
   * boilerplate bucket of 10⁶ near-identical docs — 5·10¹¹ pairs —
   * would OOM its task; streamed, peak live memory is one O(n) tail
   * slice and the quadratic output flows straight into the verify
   * filter). The per-bucket id array itself stays O(bucket) — at
   * buckets beyond ~10⁸ members run exact dedup first (identical
   * boilerplate collapses there at linear cost, as q_corpus_curate
   * does).
   */
  def lshCandidates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                    k: Int = 8, bands: Int = 4): DataFrame =
    lshCandidatesFromSig(minhashExploded(docs, k, idCol, textCol), idCol, k, bands)

  /** [[lshCandidates]] from a pre-built signature table (the shared-
    * shingle dedup pipelines build their signatures from [[shingleTable]]
    * instead of a second corpus pass). */
  private[graft] def lshCandidatesFromSig(sig: DataFrame, idCol: String,
                                   k: Int, bands: Int): DataFrame = {
    val bandsDf = lshBands(sig, idCol, k, bands)
    val buckets = bandsDf.groupBy("band", "band_sig")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")) > 1)
    buckets
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")) - col("i") - lit(1)))
          .as("id_b"))
      .distinct()
  }

  /**
   * Shared per-doc DISTINCT-shingle table for the composed dedup
   * pipelines (r20, guide §2.3 "one pass, derive the rest"): ONE corpus
   * pass computes each representative's distinct shingle set,
   * materialized once; the minhash signatures DERIVE from it
   * ([[minhashFromShingles]] — min over the md5s of the SET equals min
   * over the multiset, duplicates can never win a min) and the
   * candidate-verify join reads the same table for both sides. The
   * pre-r20 pipeline ran the shingle pass over the corpus TWICE (once
   * exploded for minhash, once as arrays for verify), each behind its
   * own corpus-wide round-robin exchange. `extra` carries tiny per-doc
   * payload columns (the keep-best score) so downstream stages never
   * re-scan the corpus for them. The fan-out is split-count gated
   * ([[TextAnalysis.fanOut]]).
   */
  private[graft] def shingleTable(docs: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, extra: Seq[Column] = Nil): DataFrame =
    TextAnalysis.fanOut(docs).select(
      (col(idCol) +:
        array_distinct(TextAnalysis.shingles(col(textCol), shingleN)).as("__sh") +:
        extra): _*)
      .localCheckpoint()

  /** MinHash signatures from a [[shingleTable]]: identical values to
    * [[minhashExploded]] (min over a set = min over its multiset), but
    * the corpus text is never re-read and never re-shingled. */
  private[graft] def minhashFromShingles(shTab: DataFrame, k: Int, idCol: String): DataFrame = {
    val sh = shTab.select(col(idCol), explode(col("__sh")).as("sh"))
    val aggs = (0 until k).map(seed =>
      min(md5(concat(lit(s"$seed#"), col("sh")))).as(s"mh$seed"))
    sh.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  /** [[jaccardVerify]] against a [[shingleTable]]: same output (the
    * table already holds the distinct shingle arrays), no third corpus
    * pass and no second checkpoint. */
  private[graft] def jaccardVerifyFromShingles(candidates: DataFrame, shTab: DataFrame,
                                        idCol: String): DataFrame =
    candidates
      .join(shTab.select(col(idCol).as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(shTab.select(col(idCol).as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("id_a"), col("id_b"), round(col("inter") / col("uni"), 6).as("jaccard"))

  /** [[containmentVerify]] against a [[shingleTable]] — same derivation
    * as [[jaccardVerifyFromShingles]]. */
  private[graft] def containmentVerifyFromShingles(candidates: DataFrame, shTab: DataFrame,
                                                   idCol: String): DataFrame =
    candidates
      .join(shTab.select(col(idCol).as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(shTab.select(col(idCol).as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("id_a"), col("id_b"),
        round(col("inter") / size(col("sh_a")).cast("double"), 6).as("containment_a"),
        round(col("inter") / size(col("sh_b")).cast("double"), 6).as("containment_b"))

  /**
   * SimHash: 64-bit signature from per-token hashes; Hamming-close
   * signatures ⇒ similar documents. Token hash = first 16 md5 hex chars,
   * assembled from two 32-bit halves (`conv` yields an unsigned decimal
   * string; a direct 64-bit cast would null out values ≥ 2^63).
   */
  def simhash(text: Column): Column = {
    val ws = TextAnalysis.tokens(text)
    // per token: 64-bit value from md5 prefix (64 bits → selective
    // pigeonhole chunks in simhashNearPairs)
    val hashes = transform(ws, w => {
      val h = md5(w)
      shiftleft(conv(substring(h, 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(h, 9, 8), 16, 10).cast("long"))
    })
    val bitVotes = (0 until 64).map { bit =>
      val mask = 1L << bit
      // vote = (#tokens with bit set) - (#tokens with bit clear)
      val set = aggregate(hashes, lit(0L),
        (acc, h) => acc + when((h.bitwiseAND(lit(mask))) =!= 0L, 1L).otherwise(-1L))
      when(set > 0, lit(mask)).otherwise(lit(0L))
    }
    bitVotes.reduce(_ + _).cast("long")
  }

  /** Hamming distance between two simhash longs (bit_count of xor). */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * Hot-path simhash: ONE narrow codegen'd expression per document
   * ([[graft.functions.SimhashExpr]]) — no token explode, no shuffle, no
   * 64-column aggregation. Value-identical to [[simhash]] and to the
   * exploded bit-vote aggregation it replaces ([[withSimhashAgg]],
   * kept as the spec baseline).
   */
  def withSimhash(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", outCol: String = "simhash"): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    docs.repartition(par) // CPU-bound hashing: fan single-file scans out
      .select(col(idCol), graft.functions.SimhashExpr(col(textCol)).as(outCol))
  }

  /** The distributed-aggregation form of [[withSimhash]] (explode tokens,
    * hash once per token, 64 conditional-sum bit votes in one hash
    * aggregation). Same output; the all-Column construction is the
    * cross-check baseline for the native expression. */
  def withSimhashAgg(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", outCol: String = "simhash"): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val toks = docs.repartition(par).select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .withColumn("h5", md5(col("w")))
      .withColumn("h",
        shiftleft(conv(substring(col("h5"), 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(col("h5"), 9, 8), 16, 10).cast("long")))
    val votes = (0 until 64).map { bit =>
      val mask = 1L << bit
      sum(when(col("h").bitwiseAND(lit(mask)) =!= 0L, 1L).otherwise(-1L)).as(s"v$bit")
    }
    val sig = (0 until 64).map { bit =>
      when(col(s"v$bit") > 0, lit(1L << bit)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy(idCol).agg(votes.head, votes.tail: _*)
      .select(col(idCol), sig.cast("long").as(outCol))
  }

  /**
   * SimHash near-pair search WITHOUT the quadratic cross join: split the
   * 64-bit signature into `maxHamming + 1` chunks — by pigeonhole, two
   * signatures within `maxHamming` bits must agree on at least one whole
   * chunk — bucket-join on (chunk index, chunk value), then verify the
   * exact Hamming distance on candidates only. Identical output to the
   * all-pairs formulation; the join touches only chunk-colliding pairs.
   */
  def simhashNearPairs(docs: DataFrame, maxHamming: Int = 6,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val nChunks = maxHamming + 1
    val bits = 64
    val base = bits / nChunks
    val extra = bits % nChunks // first `extra` chunks get an extra bit
    val sig = withSimhash(docs, idCol, textCol, outCol = "sh")
    val chunks = (0 until nChunks).map { c =>
      val start = c * base + math.min(c, extra)
      val width = base + (if (c < extra) 1 else 0)
      val mask = ((1L << width) - 1) << start
      struct(lit(c).as("ck"), col("sh").bitwiseAND(lit(mask)).as("cv"))
    }
    val exploded = sig.select(col(idCol), col("sh"), explode(array(chunks: _*)).as("c"))
      .select(col(idCol), col("sh"), col("c.ck"), col("c.cv"))
      // materialize once: both self-join sides would otherwise re-run the
      // whole simhash pipeline (explode + 64-vote aggregation) — at scale
      // you'd persist the signature table for the same reason
      .localCheckpoint()
    val a = exploded.toDF("id_a", "sh_a", "ck", "cv")
    val b = exploded.toDF("id_b", "sh_b", "ck", "cv")
    a.join(b, Seq("ck", "cv"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDist(col("sh_a"), col("sh_b")).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Exact-collapse prefix of the end-to-end dedup pipelines: keep ONE
   * representative row per byte-identical text, chosen by `winnerOrd`
   * (a struct whose MAX is the winner — the same winner ordering the
   * cluster stage applies). Output-preserving for the near-dedup that
   * follows, because byte-identical texts have identical minhash
   * signatures (every band collides → always candidates) and Jaccard
   * exactly 1.0 (always verified), so they are guaranteed same-cluster
   * — and any edge (twin, x) implies the identical-value edge (rep, x)
   * in the representative-only run, so connectivity through a dropped
   * twin is never lost. The cluster winner over representatives equals
   * the winner over all members as long as the representative is
   * picked by the SAME ordering.
   *
   * Why this stage exists (100 TB): leaving d identical copies in the
   * LSH stage multiplies every one of their bucket memberships by d, so
   * candidate pairs grow C(d,2)-quadratically while the collapse is
   * linear. Measured on the 100× byte-duplicated amplification of
   * sf0.1: q_dedup_corpus 188 s → collapse makes the near-dedup input
   * (and cost) independent of the duplication factor (SCALING.md,
   * second-decade table).
   *
   * Plan (r9): a keys-only census — groupBy(md5) carrying (count,
   * max_by(id, winnerOrd)) — shuffles 16-byte keys, never documents,
   * and already KNOWS each twin group's winner. The census must be
   * exact, not a sketch: one text duplicated 10k times in an
   * otherwise-unique corpus moves a distinct-count estimate by ~0.01%
   * yet is exactly the C(d,2) blowup this collapse exists to kill.
   * Then:
   *  - no twin groups → identity (the pre-r9 full-row window was a
   *    pure constant on every clean corpus);
   *  - twin groups fit a broadcast (the real-world post-crawl norm;
   *    probe bounded by one take-collect) → ONE scan of `docs` with a
   *    broadcast (md5 → keep_id) lookup: keep a row iff its text has
   *    no twins or it IS the group winner. No full-row shuffle at all.
   *  - twin groups exceed the broadcast bound (duplicate-saturated
   *    corpus, e.g. the 100× amplification) → full-corpus window,
   *    whose cost the second-decade SCALING.md measurement justifies.
   * All arms produce identical rows (winner choice is the same
   * deterministic ordering), and collapse itself is output-preserving
   * downstream (theorem above), so the plan choice can never change
   * results.
   */
  private[graft] def collapseExact(docs: DataFrame, idCol: String, textCol: String,
                                 scoreOpt: Option[Column],
                                 broadcastGroups: Int = 100000,
                                 checkpoint: Boolean = true): DataFrame = {
    // checkpoint=false is for PLAN INSPECTION only (OpsPlanShapeSpec):
    // it returns the un-materialized collapse so its physical plan —
    // normally hidden behind the localCheckpoint — can be asserted on
    import org.apache.spark.sql.expressions.Window
    def ckpt(df: DataFrame): DataFrame = if (checkpoint) df.localCheckpoint() else df
    // Winner per byte-identical group: highest score (if any), ties →
    // LOWEST id. Expressed as min_by over an ASCENDING key so the id
    // needs only to be orderable (long, string, ...): only the score —
    // inherently numeric — is negated, never the id. BOTH arms order by
    // THIS SAME expression (the window arm sorts it ascending, never a
    // re-derived `score.desc`), so the arm choice can never change the
    // winner. The leading null flag ranks null scores WORST (a scored
    // row always beats an unscored one); NaN negates to NaN, which
    // sorts after every real number ascending — also worst. Without
    // the shared expression, min_by (nulls first) and `.desc` windows
    // (nulls last) would disagree exactly on those rows.
    val ascOrd: Column => Column = id => scoreOpt match {
      case Some(s) => struct(s.isNull.cast("int").as("__graft_nf"),
        (-s).as("__graft_ns"), id.as("__graft_ai"))
      case None    => id
    }
    // census is keys-only (md5 → winner id). r20: ONE bounded take-collect
    // replaces the r9 localCheckpoint + probe-count + broadcast-build
    // triplet — the census aggregation executes once, its ≤(bound+1) rows
    // land on the driver (the broadcast arm shipped them there anyway),
    // and the broadcast side becomes a LocalRelation (no extra job to
    // build it, no block-store copy to manage). The window arm never
    // reads the census, so an over-bound take wastes only its own pass —
    // exactly what the old probe cost there.
    // NULL text never collapses (SQL equality: null ≠ null, and the
    // broadcast join's null key could not match anyway): the census
    // drops the null-md5 group so both arms keep every null-text row.
    val censusDf = docs
      .select(md5(col(textCol)).as("__graft_md5"), col(idCol).as("__graft_id"),
        ascOrd(col(idCol)).as("__graft_ord"))
      .where(col("__graft_md5").isNotNull)
      .groupBy("__graft_md5")
      .agg(count(lit(1)).as("__graft_n"),
        min_by(col("__graft_id"), col("__graft_ord")).as("__graft_keep"))
      .where(col("__graft_n") > 1)
      .select("__graft_md5", "__graft_keep")
    val censusRows = censusDf.limit(broadcastGroups + 1).collect()
    // identity arm returns `docs` UNCHECKPOINTED: the downstream 4x
    // re-read is then plain parquet re-scans (the pre-collapse plan);
    // a localCheckpoint would only add a block-store copy of the corpus
    if (censusRows.isEmpty) docs
    else if (censusRows.length <= broadcastGroups) {
      val census = docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(censusRows: _*), censusDf.schema)
      ckpt(docs.withColumn("__graft_md5", md5(col(textCol)))
        .join(broadcast(census), Seq("__graft_md5"), "left")
        .where(col("__graft_keep").isNull || col(idCol) === col("__graft_keep"))
        .drop("__graft_md5", "__graft_keep"))
    }
    else
      ckpt(docs.withColumn("__graft_md5", md5(col(textCol)))
        .withColumn("__graft_rn", row_number().over(
          Window.partitionBy("__graft_md5").orderBy(ascOrd(col(idCol)).asc)))
        .where(col("__graft_rn") === 1 || col("__graft_md5").isNull)
        .drop("__graft_md5", "__graft_rn"))
  }

  /**
   * End-to-end corpus deduplication: byte-identical dups collapse first
   * (linear — see [[collapseExact]]), then near-dup clusters over the
   * representatives (MinHash-LSH candidates → Jaccard-verified →
   * connected components) keep only the minimum-id canonical document.
   * Returns the surviving rows of `docs`.
   *
   * The exact-collapse stage accepts any orderable id type; the NEAR-dup
   * stage requires a numeric (long-castable) `idCol` because connected
   * components labels clusters as `Dataset[(Long, Long)]` — non-numeric
   * ids fail analysis loudly there, never silently.
   */
  def deduplicate(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                  jaccardThreshold: Double = 0.8, k: Int = 8, bands: Int = 4): DataFrame = {
    // r20: one shared shingle pass feeds minhash AND verify (the pre-r20
    // chain shingled the corpus twice behind two round-robin exchanges)
    val reps = collapseExact(docs, idCol, textCol, None)
    val shTab = shingleTable(reps, idCol, textCol, shingleN = 3)
    val cands = lshCandidatesFromSig(minhashFromShingles(shTab, k, idCol), idCol, k, bands)
    val verified = jaccardVerifyFromShingles(cands, shTab, idCol)
      .where(col("jaccard") >= jaccardThreshold)
    val labels = clusters(verified.select("id_a", "id_b"))
    val losers = labels.where(col("doc_id") =!= col("canonical_id")).select("doc_id")
    reps.join(losers.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
  }

  /**
   * Quality-aware dedup policy: like [[deduplicate]], but each near-dup
   * cluster keeps its BEST-scoring document (ties → lowest id) instead
   * of the lowest id — the policy real pretraining pipelines use (keep
   * the highest-quality copy). One extra broadcast-able join of cluster
   * labels against the (small) per-doc score projection. The exact
   * collapse picks its per-text representative by the same
   * (score desc, id asc) ordering, so the kept document is identical to
   * the uncollapsed pipeline's for ANY score column (scores may differ
   * between byte-identical rows; the group's best is the one that
   * competes in the cluster).
   */
  def deduplicateKeepBest(docs: DataFrame, score: Column,
                          idCol: String = "doc_id", textCol: String = "text",
                          jaccardThreshold: Double = 0.8,
                          k: Int = 8, bands: Int = 4): DataFrame = {
    val reps = collapseExact(docs, idCol, textCol, Some(score))
    // r20: the shared shingle table also CARRIES the score, so the
    // cluster-winner join below reads the checkpoint instead of a
    // fourth corpus scan (for q_corpus_curate that scan re-evaluated
    // the whole quality gate per pass)
    val shTab = shingleTable(reps, idCol, textCol, shingleN = 3,
      extra = Seq(score.as("__score")))
    val cands = lshCandidatesFromSig(minhashFromShingles(shTab, k, idCol), idCol, k, bands)
    val verified = jaccardVerifyFromShingles(cands, shTab, idCol)
      .where(col("jaccard") >= jaccardThreshold)
    val labels = clusters(verified.select("id_a", "id_b"))
    val scored = labels.join(
      shTab.select(col(idCol).as("doc_id"), col("__score")), "doc_id")
    // winner per cluster: highest score, ties to the LOWEST id — ranked
    // by (null-flag, -score, id) so only the numeric score is negated,
    // never the id, and null/NaN scores rank worst (same ordering as
    // the exact-collapse stage). r20: losers come from ONE row_number
    // window over the label-scale rows (rank 1 = the exact min_by
    // winner — the ordering struct ends in the unique doc_id, so the
    // order is total) instead of a groupBy + join-back pair that also
    // evaluated `scored` twice. The window is label-scale (only docs in
    // clusters), never corpus-scale.
    import org.apache.spark.sql.expressions.Window
    val ord = struct(col("__score").isNull.cast("int").as("__nf"),
      (-col("__score")).as("__ns"), col("doc_id"))
    val losers = scored
      .withColumn("__rk", row_number().over(
        Window.partitionBy("canonical_id").orderBy(ord.asc)))
      .where(col("__rk") > 1).select("doc_id")
    reps.join(losers.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
  }

  /**
   * Cross-corpus (incremental-batch) exact dedup: drop rows of `batch`
   * whose normalized-text fingerprint already exists in `corpus`, then
   * collapse within-batch duplicates keeping the lowest id — the admission
   * gate an incremental ingest runs before appending a new crawl slice to
   * an existing corpus.
   *
   * Scale: both the anti join and the within-batch window shuffle only
   * (fingerprint, id) pairs — 32-byte keys, never documents; the corpus
   * side reduces to DISTINCT fingerprints (one row per unique text ever
   * admitted, the natural "seen set" a production pipeline keeps
   * materialized between runs).
   */
  def dedupAgainst(batch: DataFrame, corpus: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seen = corpus.select(TextAnalysis.fingerprint(col(textCol)).as("__fp")).distinct()
    val w = Window.partitionBy("__fp").orderBy(idCol)
    batch.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(seen, Seq("__fp"), "left_anti")
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .drop("__fp", "__rk")
  }

  /**
   * Near-dup cluster resolution: connected components over the candidate
   * pair graph. Returns (doc_id, canonical_id) for every doc appearing
   * in a pair — the canonical doc is the cluster's minimum id (what
   * dedup keeps).
   *
   * Adaptive: near-dup edge lists are tiny relative to the corpus —
   * under `driverThreshold` edges, union-find on the driver replaces N
   * distributed rounds (one job total); past it, the alternating
   * large-star/small-star iteration ([[clustersBigStar]]) scales to any
   * graph shape in O(log² n) rounds.
   */
  def clusters(pairs: DataFrame,
               driverThreshold: Long = 1000000L): DataFrame = {
    // the driver path takes threshold+1 edges in one Int-sized limit; no
    // driver can union-find 2^31 edges anyway
    require(driverThreshold < Int.MaxValue,
      s"driverThreshold must be below Int.MaxValue, got $driverThreshold")
    // materialize the edge list once — its upstream (minhash + banding)
    // would otherwise re-execute on every round / in the driver collect
    val edges = pairs.select(col("id_a"), col("id_b")).localCheckpoint()
    // r20: one bounded take-collect replaces the count + full-collect
    // pair (the count told us it was safe to collect; taking
    // threshold+1 rows answers the same question AND delivers the edge
    // list in the same job). Union-find is direction-agnostic (each
    // edge unions two roots symmetrically and nodes are gathered from
    // both sides), so the pre-r20 both-directions union that doubled
    // the collect volume is gone too — identical output.
    import org.apache.spark.sql.Encoders
    val take = edges
      .limit(driverThreshold.toInt + 1)
      .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    if (take.length <= driverThreshold) clustersDriver(take, edges.sparkSession)
    else clustersBigStar(edges)
  }

  /**
   * Distributed connected components via alternating large-star /
   * small-star (Kiveris et al., "Connected Components in MapReduce and
   * Beyond", SoCC 2014): converges in O(log² n) rounds on ANY graph —
   * including deep path/chain graphs where plain min-label propagation
   * needs O(diameter) rounds (a 10⁶-doc template-drift chain would take
   * 10⁶ propagation rounds but ~20 star rounds).
   *
   * Scale shape: each half-round is one hash aggregate (per-node min
   * neighbor — map-side combinable) plus one join of that node-sized
   * table back to the edge list. No per-node neighbor list is ever
   * materialized, so a hot node of degree 10⁸ costs its edge rows
   * spread across tasks, not an O(degree) array in one task. Edge rows
   * carry two longs. `localCheckpoint` truncates the iterative lineage
   * each round.
   *
   * Output matches [[clusters]]: (doc_id, canonical_id = component
   * minimum) for every node incident to at least one edge.
   */
  def clustersBigStar(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // canonical orientation (u < v), deduped
    var edges = pairs
      .select(least(col("id_a"), col("id_b")).as("u"),
              greatest(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    var nEdges = edges.count()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // large-star(u): every neighbor v > u links to m = min(Γ(u) ∪ {u});
      // computed as a per-node min + join-back — no neighbor lists
      val und = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val minNbr = und.groupBy("u").agg(least(min("v"), first("u")).as("m"))
      val afterLarge = und.join(minNbr, "u")
        .where(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
        .where(col("u") =!= col("v")).distinct().localCheckpoint()
      // small-star(c): all smaller neighbors n of c (plus c itself) link
      // to m = min over them; edges already oriented u<v so c=v, n=u
      val minSmall = afterLarge.groupBy(col("v").as("c")).agg(min("u").as("m"))
      val star = afterLarge
        .join(minSmall, afterLarge("v") === minSmall("c"))
        .select(col("m").as("u"), col("u").as("v"))
        .where(col("u") =!= col("v"))
        .unionByName(minSmall.select(col("m").as("u"), col("c").as("v")))
        .distinct().localCheckpoint()
      // fixpoint = the (distinct, canonically-oriented) edge set is
      // unchanged: counts equal and set-difference empty
      val nStar = star.count()
      converged = nStar == nEdges && star.except(edges).head(1).isEmpty
      edges = star
      nEdges = nStar
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"clustersBigStar did not converge in $maxIters rounds — raise maxIters")
    // at fixpoint every component is a star centered at its minimum:
    // non-center nodes appear exactly once on the v side
    edges.select(col("v").as("doc_id"), col("u").as("canonical_id"))
      .unionByName(
        edges.select(col("u").as("doc_id"), col("u").as("canonical_id")).distinct())
  }

  /** Driver-side union-find (path compression + union-by-min): same
    * output as the distributed iteration — (doc_id, canonical_id =
    * component minimum) for every doc in an edge. */
  private def clustersDriver(es: Array[(Long, Long)],
                             spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // union by MIN id so the root IS the canonical id
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b)): Unit
    }
    val nodes = es.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
    nodes.toSeq.sorted.map(n => (n, find(n))).toDF("doc_id", "canonical_id")
  }

  /**
   * EXACT similarity self-join via prefix filtering (AllPairs/PPJoin —
   * Bayardo et al. WWW'07, Xiao et al. ICDE'08): every pair of documents
   * with token-set Jaccard ≥ `threshold`, with NO false negatives — the
   * guarantee MinHash-LSH trades away. The pruning that makes exactness
   * affordable:
   *
   *  - **global rarest-first token order**: tokens rank by ascending
   *    document frequency (ties by token), so each doc's PREFIX — the
   *    first `s − ⌈t·s⌉ + 1` of its `s` tokens — holds its rarest
   *    tokens. By the prefix-filter lemma, two sets with J ≥ t MUST
   *    share a prefix token, so joining on prefix tokens loses nothing;
   *    joining on *rare* tokens keeps the join's per-key fan-out small
   *    (the frequent tokens that would create hot buckets are exactly
   *    the ones the prefix excludes);
   *  - **size filter**: J ≥ t ⟹ min(|A|,|B|) ≥ t·max(|A|,|B|), applied
   *    inside the candidate join;
   *  - **verify on candidates only**: exact intersection counts stream
   *    through a token-equi-join + hash aggregate — never an all-pairs
   *    product, and never an array materialization per pair.
   *
   * Scale shape: one df aggregation (vocab-sized), one window rank per
   * doc (shuffle on doc id), a candidate join keyed on rare tokens, and
   * a candidate-sized verify. The token table is localCheckpoint-ed
   * once and feeds all stages — at 100 TB it is the persisted side
   * table. `DedupSpec` pins equality with the brute-force all-pairs
   * Jaccard on a fixture (the exactness contract) and the q_ppjoin
   * oracle replays the full pipeline in SQL.
   */
  def ppJoin(docs: DataFrame, threshold: Double, idCol: String = "doc_id",
             textCol: String = "text"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1] required, got $threshold")
    import org.apache.spark.sql.expressions.Window
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val toks = docs.repartition(par)
      .select(col(idCol).as("id"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint() // feeds df, rank, and both verify sides
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("id")
    val ranked = toks.join(dfreq, "tok")
      .withColumn("rk", row_number().over(byDoc.orderBy("df", "tok")))
      .withColumn("s", count(lit(1)).over(byDoc))
    val prefix = ranked
      .where(col("rk") <= col("s") - ceil(lit(threshold) * col("s")) + 1)
      .select(col("id"), col("tok"), col("s"))
    val cand = prefix.toDF("id_a", "tok", "sa")
      .join(prefix.toDF("id_b", "tok", "sb"), "tok")
      .where(col("id_a") < col("id_b") &&
        least(col("sa"), col("sb")).cast("double") >=
          lit(threshold) * greatest(col("sa"), col("sb")).cast("double"))
      .select("id_a", "id_b", "sa", "sb").distinct()
    val inter = cand
      .join(toks.toDF("id_a", "tok"), Seq("id_a"))
      .join(toks.toDF("id_b", "tok"), Seq("id_b", "tok"))
      .groupBy("id_a", "id_b", "sa", "sb")
      .agg(count(lit(1)).as("i"))
    inter
      .withColumn("jac",
        col("i").cast("double") / (col("sa") + col("sb") - col("i")).cast("double"))
      .where(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jaccard"))
  }

  /** The dup-span window-hash table `(idCol, pos, h)` — shared by
    * [[duplicateSpans]], [[stripDuplicateSpans]], and the skew guard's
    * sample pass. It comes from ONE codegen'd two-poly prefix-hash pass
    * per document ([[graft.functions.WindowHashes]]): a 16-byte key per
    * L-token window (~2^-122 per-pair collision odds, the exactness
    * class of md5's 2^-128). r15 adopted it over a per-window
    * slice+join+md5 materialization, whose CPU the r14 stage profile
    * measured dominant: on the fused shape 100x 10.0 -> 6.6 s, 1000x
    * 122.6 -> 66.2 s (0.54x, SCALING.md r15). The SQL oracle replays
    * the md5 form literally — any exact repeated-window detector must
    * agree with it. */
  private[graft] def windowHashTable(docs: DataFrame, L: Int, idCol: String,
                                     textCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(graft.functions.WindowHashes(col(textCol), L)))
      .toDF(idCol, "pos", "h")

  /**
   * Sampled heavy-hitter guard for the fused dup-span window (r15
   * verdict: `count(1).over(partitionBy(h))` has no map-side combine and
   * AQE cannot split a WindowExec partition, so a boilerplate window
   * hash occurring in a large share of documents concentrates on ONE
   * task). The guard samples `sampleRate` of the DOCUMENTS (unbiased for
   * per-hash occurrence totals, within-doc repeats included), flags
   * hashes whose estimated mass exceeds `partitionShare` of an average
   * shuffle partition's, and the span operators route flagged rows
   * AROUND the per-h window via a salt — see them for the exactness
   * argument.
   *
   * Correctness does not depend on the sample: a hash is only flagged
   * when its SAMPLE count is >= 2, and the sample is a subset of the
   * corpus, so every flagged hash truly repeats; a missed heavy hitter
   * just stays on the (slow but exact) window path.
   *
   * AUTO-ENABLED since r17 (the default `skewGuard` of the span
   * operators): the fused-vs-guard crossover was MEASURED one decade
   * above r16's hot50 tie — at ~1e8 occurrences of ONE window hash
   * (hot100 at 1000x, SCALING.md r17) the fused window loses 2.2x
   * (spans 183.7 vs 85.1 s), so from ~2x an average partition's mass up
   * the salt is no longer optional insurance. Flagging is still the
   * scale-relative partition-share rule (0.25x an average partition's
   * sampled mass), which on the measured fixtures fires at the hot50
   * tie point (harmless) and the hot100 crossover (necessary).
   * `minInputBytes` skips the sample pass entirely when the optimizer's
   * size estimate (`stats.sizeInBytes` — static file sizes for parquet,
   * no job) is below ~256 MiB: there, the worst-case straggler loss is
   * the same order as the sample pass's own fixed cost (a corpus that
   * small tops out near the measured tie region), so small inputs —
   * including every oracle/bench corpus — keep a byte-identical plan
   * and zero eager work. Streaming inputs always skip (a sample/collect
   * cannot run on an unstarted stream). Set `skewGuard = None` to force
   * the pure fused plan, or `minInputBytes = 0` to force sampling.
   *
   * Two further self-disable rules enforce the guard's own preconditions
   * instead of leaving them to the scaladoc (r18):
   *  - NONDETERMINISTIC inputs always skip: the sample pass re-evaluates
   *    the `docs` plan, so on a plan containing any nondeterministic
   *    expression (rand()-derived text, an un-seeded sample(), ...) a
   *    flagged hash may not repeat in the realized corpus — which would
   *    void the "sample is a subset of the corpus" argument behind the
   *    c=2 short-circuit and silently emit false duplicate spans. The
   *    window path it falls back to evaluates the plan once and stays
   *    exact for whatever corpus materializes.
   *  - UNKNOWN-SIZE inputs skip unless forced: sources without real
   *    statistics (JDBC, RDD-backed plans, some views) report
   *    `spark.sql.defaultSizeInBytes` = Long.MaxValue — "unknown", not
   *    "huge" — so without this rule the default guard would run its
   *    eager sample jobs at plan-construction time on arbitrarily tiny
   *    stat-less inputs. `minInputBytes = 0` remains the explicit
   *    opt-in for such plans (it bypasses the size gate entirely, never
   *    the determinism gate).
   *
   * The flag list holds max(10000, parts/partitionShare) (<= 1e6)
   * hashes, and parts/partitionShare is the mass rule's own bound on
   * how many hashes can clear the threshold at once — so under the
   * default rule the hot set always contains EVERY flagged hash (a
   * warning logs if a forced config ever fills the list). At default
   * share 0.25 that is 4x the shuffle partition count in 16-byte keys —
   * trivially broadcastable at any realistic parallelism.
   */
  final case class SpanSkewGuard(sampleRate: Double = 0.002,
                                 partitionShare: Double = 0.25,
                                 minInputBytes: Long = 256L << 20)

  /** Floor of the guard's flag-list capacity (see [[hotWindowHashes]]). */
  private val HotHashFloor = 10000
  /** Seed of the guard's document sample. */
  private val GuardSampleSeed = 42L

  /** The guard's sample pass: hot window hashes as driver-side bytes.
    * Empty when no hash clears max(2, partitionShare x an average
    * partition's sample mass). The flag-list capacity is
    * max(HotHashFloor, parts/partitionShare) (<= 1e6): the second term
    * is the mass rule's own flaggable-count bound, so under the default
    * rule NO flagged hash is ever truncated — see the inline derivation. */
  private def hotWindowHashes(docs: DataFrame, g: SpanSkewGuard, L: Int,
                              idCol: String, textCol: String): Array[Array[Byte]] = {
    if (docs.isStreaming) return Array.empty
    // determinism gate (see [[SpanSkewGuard]]): a plan with any
    // nondeterministic expression would be evaluated differently by the
    // sample pass and the main flow — never guard it, even when forced
    if (docs.queryExecution.analyzed
          .find(_.expressions.exists(!_.deterministic)).isDefined) return Array.empty
    val plan = docs.queryExecution.optimizedPlan
    val size = plan.stats.sizeInBytes
    val defaultSize = BigInt(docs.sparkSession.conf
      .get("spark.sql.defaultSizeInBytes", Long.MaxValue.toString).toLong)
    // stat-less-ness is detected STRUCTURALLY at the leaves, not by
    // comparing the plan total to the sentinel: a projection or filter
    // over a stat-less source scales the Long.MaxValue placeholder below
    // the sentinel (e.g. selectivity x0.9), so the total alone would let
    // tiny derived stat-less plans through to the eager sample jobs
    val unknownSize = size >= defaultSize ||
      plan.collectLeaves().exists(_.stats.sizeInBytes >= defaultSize)
    if (g.minInputBytes > 0 && (unknownSize || size < BigInt(g.minInputBytes)))
      return Array.empty
    val parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val agg = windowHashTable(docs.sample(g.sampleRate, GuardSampleSeed), L, idCol, textCol)
      .groupBy("h").agg(count(lit(1)).as("c")).persist()
    try {
      val total = Option(agg.agg(sum("c")).head().get(0)).fold(0L)(_.asInstanceOf[Long])
      if (total == 0L) return Array.empty
      val thr = math.max(2L, (g.partitionShare * total / parts).toLong)
      // r18 (VERDICT r17 task 3): the mass rule bounds its own flaggable
      // count — per-hash masses sum to `total`, so at most
      // parts/partitionShare hashes can each hold >= partitionShare x an
      // average partition's mass. Capping the flag list at that bound
      // (when it exceeds HotHashFloor) makes largest-first truncation
      // IMPOSSIBLE under the default rule: every hash the rule flags is
      // kept. The bound covers BOTH threshold regimes (r19, closing the
      // r18 advice question): when the thr=2 floor binds,
      // 2 > partitionShare*total/parts, i.e. total < 2*parts/
      // partitionShare; each flagged hash contributes >= 2 to total, so
      // the flagged count is <= total/2 < parts/partitionShare — the same
      // bound. (At default share 0.25: floor binding means total < 8x
      // parts, so <= 4x parts hashes can reach c>=2.) The only capped
      // path is the 1e6 collect ceiling, reachable solely under forced
      // near-zero-share test configs or >250k shuffle partitions, and it
      // logs the warning below. At the default share 0.25 the bound is 4x the shuffle
      // partition count (1k parts -> 4k keys = 64 KiB broadcast, 20k
      // parts -> 80k keys = 1.25 MiB), so the broadcast stays trivial;
      // HotHashFloor remains the capacity floor and a 1e6 ceiling bounds
      // the collect under forced near-zero-share test configs. The old
      // fixed 10k cap could bind only above 2,500 shuffle partitions —
      // and for hashes at the measured ~2x-partition-mass crossover only
      // above 20,000 (at most parts/2 such hashes can exist).
      val flaggableBound =
        if (g.partitionShare > 0) math.min(1e6, parts / g.partitionShare) else 1e6
      val cap = math.max(HotHashFloor.toDouble, flaggableBound).toInt
      val flagged = agg.where(col("c") >= thr).orderBy(col("c").desc, col("h"))
        .limit(cap).select("h").collect()
        .map(_.getAs[Array[Byte]](0))
      if (flagged.length == cap) log.warn(
        s"SpanSkewGuard: flag list hit its capacity $cap — some hashes at " +
        "or above the detection threshold stay on the (exact, unguarded) " +
        "window path; raise partitionShare")
      flagged
    } finally { agg.unpersist(); () }
  }

  /** Broadcastable hot-hash membership side (h, __hot=true). */
  private def hotHashDf(docs: DataFrame, hot: Array[Array[Byte]]): DataFrame =
    broadcast(docs.sparkSession
      .createDataset(hot.toSeq)(org.apache.spark.sql.Encoders.BINARY)
      .toDF("h").withColumn("__hot", lit(true)))


  /**
   * Exact substring-duplication detection at ARBITRARY offsets (the
   * Lee et al. ACL'22 "Deduplicating Training Data" recipe, re-expressed
   * relationally): every maximal token span whose every length-`windowTokens`
   * sub-window occurs ≥ 2 times corpus-wide (including within one
   * document). Complements [[corpusChunkDedup]], which can only see
   * duplication aligned to fixed chunk boundaries — a copied paragraph
   * that straddles a boundary is invisible there and found here.
   *
   * Relational shape instead of the paper's suffix array: a duplicated
   * substring of length ≥ L exists iff some L-token window repeats, so
   *  1. each doc's window hashes materialize in ONE narrow projection
   *     ([[windowHashTable]]), no shuffle;
   *  2. repeated hashes surface via ONE window-count over the hash (the
   *     only corpus-wide shuffle, keyed on the 16-byte binary hash);
   *     r15: this replaced an aggregate + join-back pair of
   *     exchanges and the checkpoint sharing their scan — measured
   *     0.64× at 100×, tie at 1000×, and it removes the checkpoint's
   *     big-heap storage churn (597.6 → 162 s at 64g/256);
   *  3. surviving window starts merge into maximal spans per doc (starts
   *     p, p' of L-windows are contiguous-or-overlapping iff p' − p ≤ L).
   * Output: (doc_id, span_start, span_end, n_windows) in token
   * coordinates, every occurrence reported. The q_dup_spans oracle
   * replays all three stages in SQL; OpsSpec pins hand-computed extents
   * on a planted cross-doc copy, a within-doc repeat, and the
   * straddling-chunk-boundary case chunk dedup misses.
   *
   * The skew guard is ON by default since r17 (measured crossover: at
   * ~1e8 occurrences of one window hash the fused window loses 2.2x —
   * see [[SpanSkewGuard]]); its sample pass self-disables below
   * `minInputBytes` (~256 MiB), so small inputs keep a byte-identical
   * plan with zero eager work.
   *
   * DETERMINISM REQUIREMENT: an ACTIVE `skewGuard` (its sample pass,
   * input >= `minInputBytes`) evaluates the `docs` plan MORE THAN ONCE.
   * If `docs` comes from a non-idempotent source, the passes can
   * disagree, voiding the "sample is a subset of the corpus" argument
   * behind the c=2 short-circuit. `localCheckpoint()` such inputs
   * first, or pass `skewGuard = None`. An active guard also triggers
   * eager Spark jobs at plan-CONSTRUCTION time (the sample aggregate +
   * collect), not at action time.
   */
  def duplicateSpans(docs: DataFrame, windowTokens: Int,
                     idCol: String = "doc_id", textCol: String = "text",
                     skewGuard: Option[SpanSkewGuard] = Some(SpanSkewGuard())): DataFrame = {
    require(windowTokens >= 2, s"windowTokens >= 2 required, got $windowTokens")
    import org.apache.spark.sql.expressions.Window
    val L = windowTokens
    val whBase = windowHashTable(docs, L, idCol, textCol)
    val hot = skewGuard.fold(Array.empty[Array[Byte]])(g =>
      hotWindowHashes(docs, g, L, idCol, textCol))
    val starts = if (hot.nonEmpty) {
      // GUARDED form: flagged rows are salted OUT of the per-h
      // window (scatter key xxhash64(id, pos) is unique per row, so the
      // one-task pileup becomes hash-uniform across partitions) and
      // their repetition test short-circuits to `c = 2`: membership in
      // the hot set PROVES corpus count >= 2 (sample count >= 2 on a
      // subset of the corpus), and duplicateSpans only needs the >= 2
      // predicate, never the count value. Cold rows keep the exact
      // windowed count over (h, 0) — the same groups as the unguarded
      // window. Output is bit-identical to the unguarded form (OpsSpec
      // pins it with a forced-hot guard).
      val marked = whBase.join(hotHashDf(docs, hot), Seq("h"), "left")
      val scatter = when(col("__hot"), xxhash64(col(idCol), col("pos"))).otherwise(lit(0L))
      val byHSalt = Window.partitionBy(col("h"), scatter)
      marked
        .withColumn("c", when(col("__hot"), lit(2L))
          .otherwise(count(lit(1)).over(byHSalt)))
        .where(col("c") >= 2).select(col(idCol), col("pos"))
    } else {
      // FUSED form (r15, the r14 stage profile's lever b, measured):
      // the corpus-wide repetition test is ONE window-count over `h` —
      // a single exchange + in-partition sort — replacing an aggregate
      // exchange AND a join-back exchange. With a single consumer of
      // the window-hash table, the 1B-row localCheckpoint (which
      // existed to share the scan between the aggregate and the
      // join-back) disappears too. Measured (SCALING.md r15, quiet
      // windows): 100× 20.3 → 13.0 s (0.64×), 1000× 190.5 → 189.3 s
      // (tie — md5 CPU dominated there), and the checkpoint's big-heap
      // pathology is GONE: 64g/256 serves 162 s where the checkpointed
      // form measured 597.6 s (SCALING.md r14). The checkpoint-free
      // aggregate + join-back measured 1.2-2.7x slower (SCALING.md r16),
      // and a collect_list hash aggregate over h 1.19x/4.1x slower (r17)
      // — it also holds a heavy hitter's every occurrence in one group.
      val byH = Window.partitionBy("h")
      whBase.withColumn("c", count(lit(1)).over(byH))
        .where(col("c") >= 2).select(col(idCol), col("pos"))
    }
    // per-doc island merge as ONE hash aggregate + a codegen'd per-row
    // call ([[graft.functions.PosIslands]]): survivor rows reach the
    // doc-keyed exchange through ObjectHashAggregate's map-side partials
    // instead of a sort-based window + lag + running-sum + second
    // aggregate — on the all-duplicate extreme (uniform amplified
    // fixtures: EVERY window survives) that sort is 10^8 rows, while
    // per-doc arrays stay bounded by windows/doc. Measured r16 (uniform
    // 1000x): 34.5 s vs 63.0 s for the relational pass (SCALING.md).
    starts.groupBy(col(idCol)).agg(collect_list(col("pos")).as("__ps"))
      .select(col(idCol),
        explode(graft.functions.PosIslands(col("__ps"), L)).as("__sp"))
      .select(col(idCol),
        col("__sp.span_start").as("span_start"),
        col("__sp.span_end").as("span_end"),
        col("__sp.n_windows").as("n_windows"))
  }

  /**
   * One-pass removal of the spans [[duplicateSpans]] detects, keeping
   * the globally-first occurrence of each repeated window (min
   * (doc_id, pos) — the paper's "all but one" policy): tokens covered
   * only by non-canonical repeated windows are dropped and the text is
   * rebuilt from the survivors. A document can be canonical for one
   * window and not another, so partial strips can fragment text — the
   * same property the reference recipe's byte-range cuts have. Linear:
   * the ×L expansion runs over REMOVABLE window starts only, never the
   * corpus. Returns every input row with `text_stripped` + `n_removed`.
   *
   * DETERMINISM REQUIREMENT: as in [[duplicateSpans]] — an active
   * `skewGuard` (ON by default, self-disabled below `minInputBytes`)
   * re-evaluates the `docs` plan; inputs from non-idempotent sources
   * must be `localCheckpoint()`ed first (or pass `skewGuard = None`),
   * and an active guard runs eager jobs at plan-construction time.
   */
  def stripDuplicateSpans(docs: DataFrame, windowTokens: Int,
                          idCol: String = "doc_id", textCol: String = "text",
                          skewGuard: Option[SpanSkewGuard] = Some(SpanSkewGuard())): DataFrame = {
    require(windowTokens >= 2, s"windowTokens >= 2 required, got $windowTokens")
    import org.apache.spark.sql.expressions.{Window => W}
    val L = windowTokens
    val toks = docs.select(col(idCol), split(col(textCol), " ").as("toks"))
    val whBase = windowHashTable(docs, L, idCol, textCol)
    val hot = skewGuard.fold(Array.empty[Array[Byte]])(g =>
      hotWindowHashes(docs, g, L, idCol, textCol))
    val removable = if (hot.nonEmpty) {
      // GUARDED form. Counts: as in [[duplicateSpans]] (hot rows
      // short-circuit to c = 2, exact because hot membership proves
      // corpus count >= 2). Canonical-first: the strip policy needs each
      // hot hash's GLOBAL min (id, pos), which salted singleton groups
      // cannot provide, so the hot canonical-first is broadcast-joined
      // AFTER the salted window (r18, measured). Joining it below the
      // window would carry the canonical struct through the
      // corpus-wide (h, salt) exchange and its in-partition sort on all
      // 10^8+ rows; here the window input stays narrow ((id, pos, h,
      // hot, salt) only) and the <= |hot|-row canonical side meets the
      // survivors in a trivially-broadcast join above the window. The
      // hot-only min aggregate itself still costs one corpus re-scan
      // (an exchange-reuse variant did NOT materialize: the optimizer
      // pushes the hot filter below any explicit repartition, so the
      // two exchange subtrees never canonicalize equal — plan-audited
      // r18), but the scan is the cheap half; the wide window sort was
      // the cost. Exactness: min over ALL occurrences of each hot hash
      // (OpsSpec pins the strip against the unguarded form; the
      // forced-guard oracle hash-matches at sf0.01/sf0.1). Measured
      // (strip 1000x hot100, alternated min-of-2, family protocol): the
      // below-window form 236.5 s vs this form 149.0 s — 0.63x.
      val marked = whBase.join(hotHashDf(docs, hot), Seq("h"), "left")
        .withColumn("__sc", when(col("__hot"),
          xxhash64(col(idCol), col("pos"))).otherwise(lit(0L)))
      val hotFirst = broadcast(marked.where(col("__hot"))
        .groupBy("h").agg(min(struct(col(idCol), col("pos"))).as("__hfirst")))
      val byHSalt = W.partitionBy(col("h"), col("__sc"))
      marked
        .withColumn("c", when(col("__hot"), lit(2L))
          .otherwise(count(lit(1)).over(byHSalt)))
        .withColumn("__wfirst", min(struct(col(idCol), col("pos"))).over(byHSalt))
        .join(hotFirst, Seq("h"), "left")
        .withColumn("first", when(col("__hot"), col("__hfirst"))
          .otherwise(col("__wfirst")))
        .where(col("c") >= 2 &&
          !(col(idCol) === col("first").getField(idCol) &&
            col("pos") === col("first").getField("pos")))
        .select(col(idCol), col("pos"))
    } else {
      // FUSED form (r15, same lever as [[duplicateSpans]], measured:
      // 100× 15.2 → 11.0 s, 1000× 159.8 → 141.5 s in the same windows):
      // per-hash count AND canonical-first occurrence come from two
      // window functions over ONE partitionBy(h) window — a single
      // exchange + in-partition sort replaces an aggregate exchange, a
      // join-back exchange, and the localCheckpoint that shared the
      // window-hash scan between them (and with it the big-heap storage
      // churn the r14 16g/64 protocol worked around).
      val byH = W.partitionBy("h")
      whBase
        .withColumn("c", count(lit(1)).over(byH))
        .withColumn("first", min(struct(col(idCol), col("pos"))).over(byH))
        .where(col("c") >= 2 &&
          !(col(idCol) === col("first").getField(idCol) &&
            col("pos") === col("first").getField("pos")))
        .select(col(idCol), col("pos"))
    }
    // r14 rewrite of the tree's heaviest 1000× row: removable window
    // STARTS merge into per-doc covered intervals first (the
    // duplicateSpans island rule — tiny output, a handful of merged
    // spans per doc), and the rebuild FILTERS each doc's token array
    // against its own interval list in one narrow pass. The previous
    // form exploded every covered position, distinct'ed them,
    // anti-joined them against a token-level explode of the corpus,
    // and re-sorted 10⁹ (pos, tok) structs through a collect_list —
    // three corpus×L-row shuffles that all vanish here (SCALING.md
    // r14). The per-token interval test is an interpreted higher-order
    // lambda, but it is O(tokens·spans/doc) CPU with ZERO shuffle —
    // the shuffles were the cost, not the compare.
    // The interval merge is the [[duplicateSpans]] PosIslands aggregate
    // (r16), and the per-doc interval LIST falls straight out of the
    // same call (a narrow transform over a handful of islands).
    val intervals = removable.groupBy(col(idCol)).agg(collect_list(col("pos")).as("__ps"))
      .select(col(idCol), transform(
        graft.functions.PosIslands(col("__ps"), L),
        r => struct(r.getField("span_start").cast("int").as("s"),
          r.getField("span_end").cast("int").as("e"))).as("__rm"))
    toks.join(intervals, Seq(idCol), "left")
      .select(col(idCol), col("toks"),
        when(col("__rm").isNull, col("toks")).otherwise(
          filter(col("toks"), (_, i) =>
            !exists(col("__rm"), r =>
              i >= r.getField("s") && i <= r.getField("e")))).as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("text_stripped"),
        (size(col("toks")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /**
   * Exact n-gram Jaccard similarity for candidate pairs: |A∩B|/|A∪B| over
   * distinct word n-gram shingles. Used to verify LSH candidates; at scale
   * only runs on the candidate set, never all pairs.
   */
  def jaccardVerify(candidates: DataFrame, docs: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleN: Int = 3): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val sh = docs.repartition(par)
      .select(col(idCol), array_distinct(TextAnalysis.shingles(col(textCol), shingleN)).as("sh"))
      // materialize once: the shingle table feeds BOTH join sides (id_a
      // and id_b) and would otherwise compute twice — at scale this is
      // the persisted signature/shingle side table
      .localCheckpoint()
    candidates
      .join(sh.withColumnRenamed(idCol, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed(idCol, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("id_a"), col("id_b"), round(col("inter") / col("uni"), 6).as("jaccard"))
  }

  /**
   * Asymmetric containment for candidate pairs: `C(A,B) = |A∩B| / |A|`
   * and `C(B,A) = |A∩B| / |B|` over distinct word n-gram shingles — the
   * subset-duplication signal symmetric Jaccard misses: a short doc
   * fully embedded in a longer one has containment ≈ 1 from the short
   * side while Jaccard stays low. Same candidate-verify shape (and
   * cost) as [[jaccardVerify]].
   *
   * Candidate-generation caveat: minhash-LSH recalls high-JACCARD
   * pairs; for high-containment / low-Jaccard pairs, feed candidates
   * from a rare-shingle inverted index (any (id_a, id_b) DataFrame
   * works here) — the verify itself is agnostic.
   */
  def containmentVerify(candidates: DataFrame, docs: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleN: Int = 3): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val sh = docs.repartition(par)
      .select(col(idCol), array_distinct(TextAnalysis.shingles(col(textCol), shingleN)).as("sh"))
      .localCheckpoint()
    candidates
      .join(sh.withColumnRenamed(idCol, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed(idCol, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("id_a"), col("id_b"),
        round(col("inter") / size(col("sh_a")).cast("double"), 6).as("containment_a"),
        round(col("inter") / size(col("sh_b")).cast("double"), 6).as("containment_b"))
  }

  /**
   * C4-style corpus-wide span dedup: chunk every document into
   * non-overlapping `chunkTokens`-token windows, keep only the FIRST
   * corpus-wide occurrence of each exact chunk text (earliest
   * (doc, chunk_id)), and reassemble each document from its surviving
   * chunks. This is the cross-document boilerplate remover of the
   * C4/RefinedWeb recipes — the third axis of dedup next to whole-doc
   * near-dup ([[deduplicate]]) and within-doc repetition
   * ([[TextAnalysis.repetitionStats]]): a doc survives with its unique
   * spans even when parts of it are copied everywhere.
   *
   * Returns (idCol, n_chunks, n_kept, text_dedup); documents whose
   * every chunk was seen earlier disappear (empty docs too).
   *
   * Scale shape: one shuffle partitioned on unhex(md5(chunk)) for the
   * first-occurrence window — 16-BYTE binary keys instead of the raw
   * ~150-200 B chunk text (~12× less shuffle-key volume at 100 TB; the
   * text rides as payload, and an md5 collision would only merge two
   * distinct chunks' windows, odds ~2⁻¹²⁸·C(n,2)) — then one per-doc
   * reassembly aggregation; reassembly order is pinned via sort_array
   * over (chunk_id, chunk).
   */
  def corpusChunkDedup(docs: DataFrame, chunkTokens: Int,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ch = TextAnalysis.chunks(docs, chunkSize = chunkTokens, overlap = 0, idCol, textCol)
      .where(col("chunk") =!= "")
      .withColumn("__ck", unhex(md5(col("chunk"))))
    val w = Window.partitionBy("__ck").orderBy(col(idCol), col("chunk_id"))
    val kept = ch.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
    val perDoc = ch.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks"))
    kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("chunk_id"), col("chunk")))),
            x => x.getField("chunk")), " ").as("text_dedup"))
      .join(perDoc, Seq(idCol))
      .select(col(idCol), col("n_chunks"), col("n_kept"), col("text_dedup"))
  }
}
