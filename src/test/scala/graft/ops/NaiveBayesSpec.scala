package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Multinomial NB domain classifier: hand-computed posteriors on a tiny
  * corpus, separable-corpus accuracy, determinism. */
class NaiveBayesSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a", "ham ham eggs"),
    (2L, "a", "ham toast"),
    (3L, "b", "spam spam link"),
    (4L, "b", "spam offer")
  ).toDF("doc_id", "source", "text")

  test("scores match a hand-rolled model (smoothing, priors, multiplicity)") {
    val got = NaiveBayes.domainScores(docs)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap

    // corpus: vocab = {ham, eggs, toast, spam, link, offer} -> V=6
    // label a: 5 tokens; label b: 5 tokens; priors 2/4 each
    val counts = Map(
      ("a", "ham") -> 3L, ("a", "eggs") -> 1L, ("a", "toast") -> 1L,
      ("b", "spam") -> 3L, ("b", "link") -> 1L, ("b", "offer") -> 1L)
    def logp(lbl: String, tok: String): Double =
      math.log((counts.getOrElse((lbl, tok), 0L) + 1).toDouble / (5 + 6))
    def score(lbl: String, toks: Map[String, Long]): Double =
      math.log(2.0 / 4) + toks.map { case (t, c) => c * logp(lbl, t) }.sum
    val doc1 = Map("ham" -> 2L, "eggs" -> 1L)
    assert(math.abs(got((1L, "a")) - score("a", doc1)) < 1e-6)
    assert(math.abs(got((1L, "b")) - score("b", doc1)) < 1e-6)
    // every (doc, label) pair scored
    assert(got.size == 4 * 2)
  }

  test("prediction recovers the label on a separable corpus; output deterministic") {
    val pred = NaiveBayes.domainPredict(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getInt(3))).toMap
    assert(pred.values.forall { case (p, a, c) => (p == a) == (c == 1) })
    assert(pred(1L)._1 == "a" && pred(3L)._1 == "b")
    assert(pred.values.forall(_._3 == 1), pred.toString) // fully separable
    // partition-count invariance
    val re = NaiveBayes.domainPredict(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(re == pred.view.mapValues(_._1).toMap)
  }

  test("token-less docs fall back to the prior argmax instead of vanishing") {
    val withEmpty = docs.union(Seq((9L, "b", ""), (10L, "a", "   ")).toDF("doc_id", "source", "text"))
    val pred = NaiveBayes.domainPredict(withEmpty).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred.size == 6) // all 6 docs present, including the 2 empty ones
    // prior tie (2 a-docs + the empty one counts too... priors come from
    // the doc table: a=3, b=3 -> tie -> smaller label 'a')
    assert(pred(9L) == "a" && pred(10L) == "a", pred.toString)
  }

  test("empty corpus predicts no rows") {
    assert(NaiveBayes.domainPredict(docs.where(lit(false))).count() == 0L)
  }

  test("prior-argmax tie with a NULL label breaks to the non-NULL label") {
    // priors: a = 2, NULL = 2 -> tie; the oracle's ORDER BY count(*)
    // DESC, source puts NULL last, so the token-less docs predict 'a'
    val withNull = Seq[(Long, Option[String], String)](
      (1L, Some("a"), "ham eggs"), (2L, None, "spam"),
      (3L, Some("a"), ""), (4L, None, "  ")
    ).toDF("doc_id", "source", "text")
    val pred = NaiveBayes.domainPredict(withNull).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred.size == 4)
    assert(pred(3L) == "a" && pred(4L) == "a", pred.toString)
  }

  test("real corpus: every (doc, source) pair scored, scores finite") {
    val d = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val n = d.count()
    val labels = d.select("source").distinct().count()
    val scores = NaiveBayes.domainScores(d)
    assert(scores.count() == n * labels)
    assert(scores.where(col("score").isNull || isnan(col("score"))).count() == 0)
  }
}
