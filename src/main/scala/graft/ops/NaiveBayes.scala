package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Multinomial Naive Bayes over token counts — the classic count-based
 * domain/source classifier (model-based corpus tagging: route unlabeled
 * crawl shards to domains, sanity-check labeled ones). Everything
 * derives from EXACT integer counts, so training is three aggregations
 * and the model is reproducible bit-for-bit in any engine:
 *
 *   score(doc, label) = ln(n_docs(label) / N)                  [prior]
 *     + Σ_{distinct tok} cnt(doc,tok) · ln((c(label,tok)+1) / (L(label)+V))
 *
 * with add-one smoothing over the corpus vocabulary V.
 *
 * Scale shape: the model is (V × #labels) rows of exact longs —
 * token-keyed, built with map-side-combinable aggregations; scoring
 * joins the doc's DISTINCT tokens (not occurrences) against the model
 * on the token key and reduces per (doc, label). No broadcast of
 * anything doc-scale; the model side broadcasts when its known row
 * count fits the session's broadcast threshold, else the planner
 * joins. Floats appear only inside the two `ln` terms (exact-integer
 * ratios) and the final per-doc sum, rounded at emission (the
 * q_unigram_logprob discipline).
 */
object NaiveBayes {

  /** Bytes one model row (tok, label, logp) is taken to occupy in a
    * broadcast: an UnsafeRow's 8-byte null bits and three 8-byte slots,
    * plus token and label bytes of up to 48 each. */
  private val ModelRowBytes = 128L

  /**
   * Per-(doc, label) log-posterior scores, one row each, `score`
   * rounded to 6. Tokens absent from the corpus vocabulary cannot
   * occur (the vocab IS the corpus's); labels never seen with a doc's
   * token contribute the smoothed floor ln(1/(L+V)).
   */
  def domainScores(docs: DataFrame, labelCol: String = "source",
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    scoresWithPriors(docs, labelCol, idCol, textCol)._1

  /** [[domainScores]] plus the collected per-label doc counts, so
    * [[domainPredict]] derives its prior-argmax fallback from the SAME
    * single label aggregation (r20: the predict path used to re-scan
    * the corpus for an orderBy/limit/collect of the identical counts). */
  private def scoresWithPriors(docs: DataFrame, labelCol: String,
                               idCol: String, textCol: String)
      : (DataFrame, Array[(String, Long)]) = {
    val spark = docs.sparkSession
    // tokenize ONCE: the model aggregations (class counts, class
    // totals, vocab, per-doc counts) all read this — without the
    // checkpoint each one re-runs the corpus-scale explode (measured
    // super-linear in the scaling bench before the fix)
    val toks = docs
      .select(col(idCol), col(labelCol).as("__lbl"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .where(col("tok") =!= "")
      .localCheckpoint()

    // exact-count model pieces. classTok is the ONE corpus-scale
    // aggregation (materialized: it is model-scale, V × labels at most);
    // the class totals and vocabulary DERIVE from it by exact integer
    // identities (l_total = Σ_tok c; vocab = distinct counted tokens)
    // instead of each re-reading the corpus-scale token table (r19,
    // guide §2.3: aggregate first, derive the rest). r20: the SCALAR
    // vocabulary size collapses to a driver literal (one cheap count on
    // the checkpointed model table) instead of riding the model build
    // as a crossJoin'd aggregate subtree.
    val classTok = toks.groupBy(col("__lbl"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val classTotal = classTok.groupBy(col("__lbl")).agg(sum("c").as("l_total"))
    val vocab = classTok.select("tok").distinct()
    val vCount = vocab.count()
    // r20: the priors are #labels exact longs — collect them ONCE and
    // reuse as a LocalRelation (the old form scanned the corpus twice
    // inside the broadcast builds: per-label counts AND the n_all
    // scalar; predict's prior-argmax fallback re-scanned it a third
    // time for the same numbers)
    val priorCounts: Array[(String, Long)] = docs
      .groupBy(col(labelCol).cast("string").as("__lbl"))
      .agg(count(lit(1)).as("n_lbl"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val nAll = priorCounts.map(_._2).sum
    import spark.implicits._
    val priors = priorCounts.toSeq.toDF("__lbl", "n_lbl")

    // complete (tok × label) grid so unseen (label, tok) pairs take the
    // smoothed floor; built from vocab × labels, counts coalesced to 0
    val model = vocab.crossJoin(classTotal)
      .join(classTok, Seq("tok", "__lbl"), "left")
      .select(col("tok"), col("__lbl"),
        log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("l_total") + lit(vCount)).cast("double")).as("logp"))

    // per-doc distinct-token counts (multiplicity as an exact factor,
    // NOT repeated float addition — the sum shape the oracle mirrors)
    val docTok = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("cnt"))

    // broadcast the MODEL explicitly when it fits: its lineage
    // (aggregates + cross joins) defeats size estimation and Spark was
    // observed broadcasting the doc-scale side instead (1.5M-row driver
    // collect at the 10× bench — 20s, super-linear). Its row count is
    // known here; past the session's broadcast threshold (a 1e8-token
    // vocabulary would kill the driver) the join is left to the planner.
    val modelBytes = vCount * priorCounts.length * ModelRowBytes
    val sized =
      if (modelBytes < spark.sessionState.conf.autoBroadcastJoinThreshold) broadcast(model) else model
    val scores = docTok.join(sized, Seq("tok"))
      .groupBy(col(idCol), col("__lbl"))
      .agg(sum(col("cnt").cast("double") * col("logp")).as("__ll"))
      .join(broadcast(priors), Seq("__lbl"))
      .select(col(idCol), col("__lbl").as("label"),
        round(log(col("n_lbl").cast("double") / lit(nAll).cast("double")) + col("__ll"), 6)
          .as("score"))
    (scores, priorCounts)
  }

  /**
   * Argmax prediction per doc with a fully deterministic cut: the max
   * is taken over the ROUNDED scores (ties break to the smaller label),
   * so both engines order identical values. Returns
   * (id, predicted, actual, correct). A doc with NO non-empty tokens
   * has no likelihood rows, so it falls back to the prior argmax
   * (largest label by doc count, ties to the smaller label, NULL label
   * last) instead of silently vanishing from the output.
   */
  def domainPredict(docs: DataFrame, labelCol: String = "source",
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (scores, priorCounts) = scoresWithPriors(docs, labelCol, idCol, textCol)
    // argmax as min_by over (−score, label) — same total order the old
    // row_number window used ((score desc, label asc); scores are
    // non-null finite doubles, and IEEE negation is exact, so −score asc
    // ≡ score desc bit-for-bit). r19: the window form exchanged and
    // sorted all #docs×#labels score rows; min_by partially aggregates
    // map-side and ships one row per doc (guide §2.3).
    val top = scores.groupBy(col(idCol))
      .agg(min_by(col("label"),
        struct((-col("score")).as("__ns"), col("label").as("__lb"))).as("predicted"))
    // r20: the prior argmax (largest doc count, ties to smaller label,
    // NULL label last — the oracle's ORDER BY count(*) DESC, source)
    // derives from the already-collected prior counts — the old form
    // re-scanned the corpus for an identical aggregation. An empty
    // corpus has no prior and no rows to predict.
    val priorTop = priorCounts.sortBy { case (lbl, n) => (-n, lbl == null, Option(lbl)) }
      .headOption.map(_._1).orNull
    docs.select(col(idCol), col(labelCol).as("actual"))
      .join(top, Seq(idCol), "left")
      .withColumn("predicted", coalesce(col("predicted"), lit(priorTop)))
      .select(col(idCol), col("predicted"), col("actual"))
      .withColumn("correct", (col("predicted") === col("actual")).cast("int"))
  }
}
