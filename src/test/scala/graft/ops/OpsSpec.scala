package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup / similarity / text-analysis operator specs on small inline data
  * plus the sf0.001 driver tables. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "der hund ist nicht der beste und die katze")     // German-ish
  ).toDF("doc_id", "text")

  test("token count / fingerprint / quality") {
    val r = TextAnalysis.annotate(docs).orderBy("doc_id").collect()
    assert(r(0).getAs[Long]("n_tokens") == 9)
    assert(r(0).getAs[String]("fingerprint") == r(1).getAs[String]("fingerprint"))
    assert(r(0).getAs[String]("fingerprint") != r(2).getAs[String]("fingerprint"))
    val q = r(0).getAs[Double]("quality")
    assert(q > 0.0 && q <= 1.0)
  }

  test("language id picks marker-heavy language") {
    val r = TextAnalysis.annotate(docs).orderBy("doc_id").collect()
    assert(r(0).getAs[String]("lang_pred") == "en")
    assert(r(4).getAs[String]("lang_pred") == "de")
  }

  test("exact dedup groups identical text") {
    val d = Dedup.exact(docs).collect()
    assert(d.length == 4) // 5 docs, one exact pair
    val dupGroup = d.find(_.getAs[Long]("dup_count") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash: exploded form equals lambda form, dups share signature") {
    val a = Dedup.minhashExploded(docs, k = 4).orderBy("doc_id").collect()
    val b = Dedup.withMinhash(docs, k = 4)
      .select("doc_id", "mh0", "mh1", "mh2", "mh3").orderBy("doc_id").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a(0).toSeq.drop(1) == a(1).toSeq.drop(1)) // dup docs → same sig
  }

  test("LSH candidates include exact and near dups, not unrelated docs") {
    val pairs = Dedup.lshCandidates(docs, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("LSH hot bucket: pair expansion streams (complete C(n,2) set, no giant row)") {
    // 2000 identical docs share every band bucket -> 1,999,000 pairs.
    // The streamed two-generate expansion must produce the complete set;
    // the plan must contain two Generate nodes and NO single flattened
    // pair array (the old form built all pairs in one row -> a 10^6-doc
    // boilerplate bucket would OOM one task).
    val many = spark.range(0, 2000)
      .selectExpr("id AS doc_id", "'same boilerplate text here' AS text")
    val cands = Dedup.lshCandidates(many, k = 8, bands = 4)
    val plan = cands.queryExecution.executedPlan.toString
    assert(plan.split("Generate").length - 1 >= 2, plan)
    assert(cands.count() == 2000L * 1999 / 2)
    // ordering contract survives: id_a < id_b on every pair
    assert(cands.where(col("id_a") >= col("id_b")).count() == 0)
  }

  test("ppJoin: exact prefix-filtered similarity join equals brute force (no false negatives)") {
    // the exactness contract LSH cannot give: every pair >= t, none missed
    val corpus = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    def tokset(c: org.apache.spark.sql.Column) =
      array_distinct(filter(TextAnalysis.tokens(c), t => t =!= ""))
    val sets = corpus.select(col("doc_id"), tokset(col("text")).as("ts"))
    val brute = sets.toDF("id_a", "ts_a").crossJoin(sets.toDF("id_b", "ts_b"))
      .where(col("id_a") < col("id_b"))
      .withColumn("i", size(array_intersect(col("ts_a"), col("ts_b"))).cast("double"))
      .withColumn("u", size(array_union(col("ts_a"), col("ts_b"))).cast("double"))
      .where(col("i") / col("u") >= 0.6)
      .select(col("id_a"), col("id_b"), round(col("i") / col("u"), 6).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val pp = Dedup.ppJoin(corpus, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(pp == brute && pp.nonEmpty,
      s"ppJoin ${pp.size} pairs vs brute ${brute.size}")
  }

  test("ppJoin: inline fixture — dup pair 1.0, threshold respected, ordered ids") {
    val pairs = Dedup.ppJoin(docs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs == Seq((1L, 2L, 1.0))) // only the exact dup survives 0.9
    val loose = Dedup.ppJoin(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose.contains((1L, 2L)) && loose.contains((1L, 3L)) &&
      loose.contains((2L, 3L)) && !loose.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ppJoin: seeded random corpora equal pure-Scala brute force at three thresholds") {
    // property check of the exactness contract: the prefix filter may
    // only prune pairs that CANNOT reach the threshold, on corpora with
    // deliberately hot tokens (12-token vocab over 30 docs)
    val rnd = new scala.util.Random(420815L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    for (trial <- 1 to 3; t <- Seq(0.5, 0.75, 0.9)) {
      val corpus = (1L to 30L).map { id =>
        val n = 3 + rnd.nextInt(8)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val sets = corpus.map { case (id, tx) =>
        id -> tx.split(" ").filter(_.nonEmpty).toSet }.toMap
      val brute = (for {
        a <- corpus.map(_._1); b <- corpus.map(_._1) if a < b
        i = (sets(a) & sets(b)).size.toDouble
        u = (sets(a) | sets(b)).size.toDouble
        if i / u >= t
      } yield (a, b, BigDecimal(i / u).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)).sorted
      val pp = Dedup.ppJoin(corpus.toDF("doc_id", "text"), threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
      assert(pp == brute, s"trial=$trial t=$t: pp=${pp.size} brute=${brute.size}")
    }
  }

  test("deduplicate: byte-duplicate amplification is a no-op on the surviving set") {
    // the collapse-first stage must make the pipeline's OUTPUT (not
    // just its cost) independent of byte-duplication: duplicating every
    // text under fresh higher ids changes nothing
    val base = docs
    val amplified = base.unionByName(
      base.withColumn("doc_id", col("doc_id") + 100))
    val orig = Dedup.deduplicate(base, jaccardThreshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val amp = Dedup.deduplicate(amplified, jaccardThreshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(amp == orig && orig.nonEmpty)
  }

  test("collapseExact: string doc ids collapse to the lowest id (both arms)") {
    // regression: the winner ordering once negated the id column
    // (struct(-col(idCol))), which breaks on non-numeric ids — the
    // ordering must work for any orderable id type, in the broadcast
    // arm AND the full-window arm (forced via broadcastGroups = 0)
    val d = Seq(
      ("doc-b", "the quick brown fox jumps over the lazy dog"),
      ("doc-a", "the quick brown fox jumps over the lazy dog"), // twin, lower id
      ("doc-c", "completely different content about spark engines")
    ).toDF("doc_id", "text")
    for (bound <- Seq(100000, 0)) {
      val kept = Dedup.collapseExact(d, "doc_id", "text", None, bound)
        .select("doc_id").collect().map(_.getString(0)).sorted.toSeq
      assert(kept == Seq("doc-a", "doc-c"), s"bound=$bound")
    }
    // scored path: negation must hit the numeric score, never the id
    val scored = Seq(
      ("doc-b", "the quick brown fox jumps over the lazy dog", 5.0), // best
      ("doc-a", "the quick brown fox jumps over the lazy dog", 1.0),
      ("doc-c", "completely different content about spark engines", 2.0)
    ).toDF("doc_id", "text", "score")
    for (bound <- Seq(100000, 0)) {
      val keptScored = Dedup.collapseExact(scored, "doc_id", "text",
        Some(col("score")), bound)
        .select("doc_id").collect().map(_.getString(0)).sorted.toSeq
      assert(keptScored == Seq("doc-b", "doc-c"), s"bound=$bound")
    }
  }

  test("collapseExact: null text never collapses, null score ranks worst — arms agree") {
    // null-text rows are not duplicates of each other (SQL equality:
    // null ≠ null) and must survive BOTH arms; a null-score twin must
    // LOSE to any scored twin in both arms (the shared ascending
    // ordering — min_by nulls-first vs window desc nulls-last used to
    // make the arm choice change the winner)
    val d = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, null, 1.0), (2L, null, 2.0), (3L, null, 3.0),   // null texts: all kept
      (4L, "same twin text here", null),                   // null score: loses
      (5L, "same twin text here", 0.5),                    // scored: wins
      (6L, "other doc entirely", 9.9)
    ).toDF("doc_id", "text", "score")
    for (bound <- Seq(100000, 0)) {
      val kept = Dedup.collapseExact(d, "doc_id", "text", Some(col("score")), bound)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(kept == Seq(1L, 2L, 3L, 5L, 6L), s"bound=$bound got $kept")
    }
  }

  test("deduplicateKeepBest: a byte twin with the best score wins its cluster") {
    // the exact collapse picks its representative by (score desc, id
    // asc) — a duplicate that outscores the original must survive
    val scored = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 1.0),
      (2L, "the quick brown fox jumps over the lazy dog", 5.0), // twin, best
      (3L, "the quick brown fox jumps over the lazy cat", 3.0), // near dup
      (4L, "completely different content about spark engines", 2.0)
    ).toDF("doc_id", "text", "score")
    val kept = Dedup.deduplicateKeepBest(scored, score = col("score"),
      jaccardThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 4L))
  }

  test("duplicateSpans: planted cross-doc copy, within-doc repeat, boundary straddler") {
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i")
    val a = words("x", 20)                                  // x1..x20, all unique
    val copied = a.slice(2, 12)                             // x3..x12 (10 tokens)
    val b = words("y", 5) ++ copied ++ words("z", 5)        // copy at positions 5..14
    val c = words("p", 4) ++ words("r", 8) ++ words("q", 4) ++ words("r", 8)  // within-doc repeat
    val corpus = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")), (3L, c.mkString(" ")))
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(corpus, windowTokens = 8)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // doc 1: copy covers token idx 2..11 → window starts 2,3,4 merge
    // doc 2: same content at idx 5..14 → starts 5,6,7
    // doc 3: r1..r8 at idx 4..11 and 16..23 → one start each, two spans
    assert(spans == Seq(
      (1L, 2L, 11L, 3L), (2L, 5L, 14L, 3L),
      (3L, 4L, 11L, 1L), (3L, 16L, 23L, 1L)))

    // the straddler contract: chunk dedup at the same granularity sees
    // NOTHING (the copy crosses its fixed 8-token boundaries), span
    // detection reports the full extent
    val chunked = Dedup.corpusChunkDedup(corpus, chunkTokens = 8)
      .agg(sum(col("n_chunks") - col("n_kept"))).collect()(0).getLong(0)
    assert(chunked == 0L)

    // the skew guard with a FORCED-hot config (full sample, near-zero
    // partition share -> every repeated hash flagged hot) must route all
    // repeated rows around the window and still emit identical spans —
    // the exactness argument exercised on its nonempty-hot branch
    val guarded = Dedup.duplicateSpans(corpus, windowTokens = 8,
        skewGuard = Some(Dedup.SpanSkewGuard(sampleRate = 1.0, partitionShare = 1e-9, minInputBytes = 0)))
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(guarded == spans)
    // and a guard that detects nothing hot (threshold unreachable) is
    // the plain fused plan: same output, hot set empty
    val coldGuard = Dedup.duplicateSpans(corpus, windowTokens = 8,
        skewGuard = Some(Dedup.SpanSkewGuard(sampleRate = 1.0, partitionShare = 1e9, minInputBytes = 0)))
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(coldGuard == spans)

    // r17 auto-default: Some(SpanSkewGuard()) self-disables below
    // minInputBytes — on this tiny corpus the DEFAULT call must build
    // the very same plan as an explicit skewGuard = None (no sample
    // pass, no marker join, nothing)
    val autoPlan = Dedup.duplicateSpans(corpus, windowTokens = 8)
      .queryExecution.optimizedPlan
    val offPlan = Dedup.duplicateSpans(corpus, windowTokens = 8, skewGuard = None)
      .queryExecution.optimizedPlan
    assert(autoPlan.sameResult(offPlan),
      "default skew guard must be plan-invisible on a sub-threshold corpus")

    // r18 determinism gate: a plan carrying ANY nondeterministic
    // expression must skip the guard even when FORCED (sample pass and
    // main flow would evaluate the plan differently — the c=2 short-
    // circuit's subset argument would be void). The forced config below
    // flags hot hashes on the deterministic corpus (pinned above), so
    // plan-equality with skewGuard=None is a discriminating check.
    val noisy = corpus.withColumn("__junk", rand(7))
    val forcedG = Some(Dedup.SpanSkewGuard(
      sampleRate = 1.0, partitionShare = 1e-9, minInputBytes = 0))
    val nondetPlan = Dedup.duplicateSpans(noisy, windowTokens = 8,
        skewGuard = forcedG).queryExecution.optimizedPlan
    val offNoisy = Dedup.duplicateSpans(noisy, windowTokens = 8,
        skewGuard = None).queryExecution.optimizedPlan
    assert(nondetPlan.sameResult(offNoisy),
      "nondeterministic input must skip the guard even when forced")

    // r18 unknown-size gate: a stat-less plan (RDD-backed — reports
    // spark.sql.defaultSizeInBytes, i.e. "unknown") must skip the guard
    // under any minInputBytes > 0; only the explicit minInputBytes = 0
    // opt-in samples it. Same forced-hot sensitivity, default size gate:
    // pre-fix this ran the sample and flagged hot (plan visibly changed).
    val rddDocs = corpus.sparkSession.createDataFrame(corpus.rdd, corpus.schema)
    val statlessPlan = Dedup.duplicateSpans(rddDocs, windowTokens = 8,
        skewGuard = Some(Dedup.SpanSkewGuard(sampleRate = 1.0, partitionShare = 1e-9)))
      .queryExecution.optimizedPlan
    val offStatless = Dedup.duplicateSpans(rddDocs, windowTokens = 8,
        skewGuard = None).queryExecution.optimizedPlan
    assert(statlessPlan.sameResult(offStatless),
      "unknown-size (stat-less) input must skip the guard unless minInputBytes = 0")
    // and the explicit opt-in still guards it: forced sampling on the
    // stat-less plan flags the same hot hashes and emits the same spans
    val statlessForced = Dedup.duplicateSpans(rddDocs, windowTokens = 8,
        skewGuard = forcedG)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(statlessForced == spans)
    // r19 (ADVICE r18): a DERIVED stat-less plan must skip too — a
    // filter's selectivity scales the Long.MaxValue placeholder BELOW
    // the sentinel, so the old total-vs-sentinel test let it through to
    // the eager sample jobs; stat-less-ness is now detected at the
    // leaves. The filter below keeps every row (ids are non-negative),
    // so the guarded and unguarded plans stay comparable.
    val derivedStatless = rddDocs.where(col("doc_id") >= -1L)
    val derivedPlan = Dedup.duplicateSpans(derivedStatless, windowTokens = 8,
        skewGuard = Some(Dedup.SpanSkewGuard(sampleRate = 1.0, partitionShare = 1e-9)))
      .queryExecution.optimizedPlan
    val offDerived = Dedup.duplicateSpans(derivedStatless, windowTokens = 8,
        skewGuard = None).queryExecution.optimizedPlan
    assert(derivedPlan.sameResult(offDerived),
      "a projection/filter over a stat-less source must still skip the guard")
  }

  test("PosIslands: unsorted input, break rule, counts, empty") {
    import graft.functions.PosIslands
    val df = Seq(
      (1L, Seq(9, 2, 3, 4)),     // unsorted; 2,3,4 contiguous, 9 within 2+ of 4? gap 9-4=5 > L=3 -> break
      (2L, Seq(5)),              // single start
      (3L, Seq.empty[Int])       // no survivors
    ).toDF("id", "ps")
    val out = df.select($"id", PosIslands($"ps", 3).as("sp")).collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))))
      .toMap
    assert(out(1L) == Seq((2L, 6L, 3L), (9L, 11L, 1L)))
    assert(out(2L) == Seq((5L, 7L, 1L)))
    assert(out(3L) == Seq())
    // boundary: gap exactly L merges (p' - p <= L)
    val b = df.sparkSession.range(1).select(
      PosIslands(typedLit(Seq(0, 3)), 3).as("sp")).collect()(0)
      .getSeq[org.apache.spark.sql.Row](0)
    assert(b.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))) == Seq((0L, 5L, 2L)))
  }

  test("WindowHashes: per-window 16-byte hashes match split-token identity semantics") {
    import graft.functions.WindowHashes
    val df = Seq(
      (1L, "a b c d e"),            // 5 tokens, L=3 -> 3 windows
      (2L, "x y a b c d q"),        // shares windows (a b c), (b c d) with doc 1
      (3L, "ab c d"),               // boundary: "ab c" vs "a bc" must differ
      (4L, "a bc d"),
      (5L, "a b")                   // under L -> empty
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id", posexplode(WindowHashes($"text", 3)))
      .toDF("doc_id", "pos", "h")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]]("h").toSeq))
    val byDoc = out.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byDoc(1L).size == 3 && byDoc(2L).size == 5 && byDoc(3L).size == 1)
    assert(!byDoc.contains(5L), "under-L doc must emit no windows")
    // cross-doc identical windows hash equal: doc1 (a b c)@0 == doc2 @2
    assert(byDoc(1L)(0)._3 == byDoc(2L)(2)._3)
    assert(byDoc(1L)(1)._3 == byDoc(2L)(3)._3) // (b c d)
    // token-boundary disambiguation: "ab c d" != "a bc d"
    assert(byDoc(3L)(0)._3 != byDoc(4L)(0)._3)
    // all hashes are 16 bytes; distinct windows within a doc distinct
    assert(out.forall(_._3.size == 16))
    assert(byDoc(1L).map(_._3).distinct.size == 3)
  }

  test("stripDuplicateSpans: canonical occurrence survives, copies removed, no-dup identity") {
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i")
    val a = words("x", 20)
    val b = words("y", 5) ++ a.slice(2, 12) ++ words("z", 5)
    val corpus = Seq((1L, a.mkString(" ")), (2L, b.mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.stripDuplicateSpans(corpus, windowTokens = 8)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[String]("text_stripped") == a.mkString(" ") &&
      out(0).getAs[Long]("n_removed") == 0L)
    assert(out(1).getAs[String]("text_stripped") ==
      (words("y", 5) ++ words("z", 5)).mkString(" ") &&
      out(1).getAs[Long]("n_removed") == 10L)

    val clean = Seq((1L, words("u", 12).mkString(" ")), (2L, words("v", 12).mkString(" ")))
      .toDF("doc_id", "text")
    val ident = Dedup.stripDuplicateSpans(clean, windowTokens = 8).orderBy("doc_id").collect()
    assert(ident.forall(_.getAs[Long]("n_removed") == 0L) &&
      ident(0).getAs[String]("text_stripped") == words("u", 12).mkString(" "))

    def triples(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("text_stripped"), r.getAs[Long]("n_removed"))).toSeq

    // forced-hot skew guard (narrow window input + the broadcast
    // canonical join placed ABOVE the window, with a hot-only re-scan):
    // the salted window + broadcast hot-canonical path must reproduce
    // the same canonical-first strip exactly
    val guarded = Dedup.stripDuplicateSpans(corpus, windowTokens = 8,
      skewGuard = Some(Dedup.SpanSkewGuard(sampleRate = 1.0, partitionShare = 1e-9, minInputBytes = 0)))
      .orderBy("doc_id").collect()
    assert(triples(guarded) == triples(out))

    // r18 plan gate on the guarded strip's MECHANISM (the 0.56-0.63x win
    // is the narrow window input): no Window node's input may carry the
    // joined canonical struct
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def windowCarriesHFirst(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow => w.child.output.exists(_.name.contains("__hfirst"))
      }.exists(identity)
    val forcedHot = Some(Dedup.SpanSkewGuard(
      sampleRate = 1.0, partitionShare = 1e-9, minInputBytes = 0))
    assert(!windowCarriesHFirst(Dedup.stripDuplicateSpans(
        corpus, windowTokens = 8, skewGuard = forcedHot)),
      "guarded strip must keep the window input narrow")
    // the detector fires on a window whose input does carry the column
    val wide = corpus.withColumn("__hfirst", col("doc_id") + 1)
      .withColumn("__w", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    assert(windowCarriesHFirst(wide), "the plan-gate detector must see __hfirst")
  }

  test("stripDuplicateSpans: a within-doc repeat keeps its first copy, default and forced-hot") {
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i")
    // r1..r8 at token idx 4..11 and again at 16..23: the canonical
    // occurrence is (doc 3, pos 4), so only the second copy goes
    val c = words("p", 4) ++ words("r", 8) ++ words("q", 4) ++ words("r", 8)
    val corpus = Seq((3L, c.mkString(" "))).toDF("doc_id", "text")
    val expected = (words("p", 4) ++ words("r", 8) ++ words("q", 4)).mkString(" ")
    val forcedHot = Some(Dedup.SpanSkewGuard(
      sampleRate = 1.0, partitionShare = 1e-9, minInputBytes = 0))
    for (g <- Seq(Some(Dedup.SpanSkewGuard()), forcedHot)) {
      val df = Dedup.stripDuplicateSpans(corpus, windowTokens = 8, skewGuard = g)
      // only the forced guard takes the salted path on this tiny corpus
      assert(df.queryExecution.optimizedPlan.toString.contains("xxhash64") == (g eq forcedHot))
      val out = df.collect()
      assert(out.length == 1)
      assert(out(0).getAs[String]("text_stripped") == expected, g.toString)
      assert(out(0).getAs[Long]("n_removed") == 8L, g.toString)
    }
  }

  test("skew guard DEFAULT threshold flags a planted boilerplate, stays cold without one") {
    // r17 auto-enable sensitivity pin: the forced-hot/cold configs above
    // use extreme partitionShare values — this pins that the DEFAULT
    // partition-share rule (0.25x an average partition's sampled mass)
    // fires on a realistic planted skew and does NOT fire without one.
    // The salted routing is observable in the plan: only the guarded
    // branch scatters with xxhash64(id, pos).
    def words(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i")
    val boiler = Seq.fill(27)("zzboil").mkString(" ")
    val skewed = (1 to 100).map { i =>
      val base = words(s"d$i-", 13).mkString(" ")
      (i.toLong, if (i % 2 == 0) s"$base $boiler" else base)
    }.toDF("doc_id", "text")
    val plain = (1 to 100)
      .map(i => (i.toLong, words(s"d$i-", 13).mkString(" ")))
      .toDF("doc_id", "text")
    val g = Some(Dedup.SpanSkewGuard(sampleRate = 1.0, minInputBytes = 0))
    val hotPlan = Dedup.duplicateSpans(skewed, windowTokens = 8, skewGuard = g)
      .queryExecution.optimizedPlan.toString
    assert(hotPlan.contains("xxhash64"),
      "default threshold must flag a boilerplate carried by half the docs")
    val coldPlan = Dedup.duplicateSpans(plain, windowTokens = 8, skewGuard = g)
      .queryExecution.optimizedPlan.toString
    assert(!coldPlan.contains("xxhash64"),
      "default threshold must not flag a corpus with no repeated window")
    // and the flagged plan's output still equals the unguarded form
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "span_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows(Dedup.duplicateSpans(skewed, windowTokens = 8, skewGuard = g)) ==
      rows(Dedup.duplicateSpans(skewed, windowTokens = 8, skewGuard = None)))
  }

  test("jaccard verification: dup pair = 1.0, near pair high, ordered cols") {
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.jaccardVerify(cands, docs).orderBy("id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(j(0) == ((1L, 2L, 1.0)))
    assert(j(1)._3 > 0.4 && j(1)._3 < 1.0)
  }

  test("simhash: native expr = exploded agg = Column form; near dups within distance") {
    val a = Dedup.withSimhash(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val b = docs.select($"doc_id", Dedup.simhash($"text").as("simhash"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
    // the distributed bit-vote aggregation (former hot path) agrees too
    val c = Dedup.withSimhashAgg(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == c.toSeq)
    val byId = a.toMap
    assert(byId(1L) == byId(2L)) // identical text → identical simhash
    val nearDist = java.lang.Long.bitCount(byId(1L) ^ byId(3L))
    val farDist = java.lang.Long.bitCount(byId(1L) ^ byId(4L))
    assert(nearDist < farDist)
  }

  test("simhash native expr agrees with the aggregation on real documents") {
    val real = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val fast = Dedup.withSimhash(real).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val agg = Dedup.withSimhashAgg(real).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fast == agg)
  }

  test("deduplicateKeepBest keeps the highest-scoring cluster member") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 10L),
      (2L, "the quick brown fox jumps over the lazy dog", 99L),  // same text, best score
      (3L, "totally unrelated content about query engines", 5L)
    ).toDF("doc_id", "text", "score")
    val kept = Dedup.deduplicateKeepBest(d, col("score"), jaccardThreshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L)) // min-id policy would keep 1; best-score keeps 2
  }

  test("deduplicate: keeps canonical docs, drops exact and near dups") {
    val surviving = Dedup.deduplicate(docs, jaccardThreshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    // doc 2 is an exact dup of 1; doc 3 a near dup (jaccard > 0.5) → both
    // collapse onto canonical doc 1; 4 and 5 are unique
    assert(surviving == Set(1L, 4L, 5L))
  }

  test("cluster resolution: transitive chains collapse to min-id canonical") {
    // chain 1-2-3 (transitive via 2), pair 7-9, singleton 5 absent
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val c = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // longer chain needing >1 propagation round: 10-11, 11-12, 12-13, 13-14
    val chain = Seq((13L, 14L), (12L, 13L), (11L, 12L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.clusters(chain).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet == Set(10L))
    // the adaptive driver union-find and the distributed big-star path
    // (forced via driverThreshold = 0) agree exactly
    for (p <- Seq(pairs, chain)) {
      val drv = Dedup.clusters(p).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dist = Dedup.clusters(p, driverThreshold = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(drv == dist)
    }
  }

  test("cluster resolution: a driverThreshold at or past Int.MaxValue is refused") {
    // the driver path takes threshold+1 edges in an Int-sized limit: a
    // clamped threshold would union-find a truncated edge list
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    for (t <- Seq(Int.MaxValue.toLong, Long.MaxValue))
      intercept[IllegalArgumentException](Dedup.clusters(pairs, driverThreshold = t))
    val c = Dedup.clusters(pairs, driverThreshold = Int.MaxValue - 1L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("big-star CC: deep chain converges fast and matches driver union-find") {
    // a 400-edge path graph — diameter 400 — is the adversarial case for
    // plain min-label propagation (it needs one round per hop); the
    // alternating large-star/small-star contraction closes it well
    // inside the 50-round cap (O(log² n))
    val chain = spark.range(0, 400).selectExpr("id AS id_a", "id + 1 AS id_b")
    val labels = Dedup.clustersBigStar(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 401 && labels.forall(_._2 == 0L))
    // pseudo-random multigraph (dup edges, both orientations, self loops
    // filtered upstream): exact parity with the driver union-find
    val edges = (0 until 300)
      .map(i => ((i * 7919L) % 97, (i * 104729L) % 97))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val drv = Dedup.clusters(edges).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bs = Dedup.clustersBigStar(edges).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bs == drv)
  }

  test("pigeonhole simhash near-pairs equal the all-pairs formulation") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val sh = Dedup.withSimhash(docs)
    val a = sh.toDF("id_a", "sh_a")
    val b = sh.toDF("id_b", "sh_b")
    val brute = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.hammingDist(col("sh_a"), col("sh_b")).cast("long").as("hamming"))
      .where(col("hamming") <= 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bucketed = Dedup.simhashNearPairs(docs, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bucketed == brute)
    assert(brute.nonEmpty)
  }

  test("brute-force cosine top-k: self-similar vectors rank first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),   // near q0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, emb.where($"vec_id" === 0), k = 3)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(top(0).getAs[Double]("sim") > 0.99)
    assert(top.last.getAs[Long]("neighbor_id") == 3L) // opposite vector last
  }

  test("approx sketches (HLL, percentile) within tolerance of exact") {
    val ev = graft.Tables(spark, "/root/testdata/sf0.001", "events")
    val approx = ev.agg(
      approx_count_distinct(col("user_id")).as("au"),
      expr("approx_percentile(value, 0.5, 1000)").as("p50")).collect()(0)
    val exact = ev.agg(
      countDistinct(col("user_id")).as("u"),
      expr("percentile(value, 0.5)").as("p50")).collect()(0)
    val uRatio = approx.getAs[Long]("au").toDouble / exact.getAs[Long]("u")
    assert(uRatio > 0.9 && uRatio < 1.1, s"HLL off by ${uRatio}")
    val pDelta = math.abs(approx.getAs[Double]("p50") - exact.getAs[Double]("p50"))
    assert(pDelta / math.max(math.abs(exact.getAs[Double]("p50")), 1e-9) < 0.1,
      s"approx p50 off by $pDelta")
  }

  test("hash sampling: deterministic, partition-independent, ~10% rate") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val a = TextAnalysis.hashSample(docs, col("doc_id")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val b = TextAnalysis.hashSample(docs.repartition(7), col("doc_id")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a == b) // reproducible under any partitioning
    val rate = a.size.toDouble / docs.count()
    assert(rate > 0.02 && rate < 0.25, s"rate $rate far from 1a/256")
  }

  test("chunking: overlapping windows cover all tokens, short docs = 1 chunk") {
    val d = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
                (2L, "only three tokens")).toDF("doc_id", "text")
    val c = TextAnalysis.chunks(d, chunkSize = 4, overlap = 2) // step 2
      .orderBy("doc_id", "chunk_id").collect()
    val doc1 = c.filter(_.getAs[Long]("doc_id") == 1L)
    assert(doc1.length == 5) // starts 0,2,4,6,8
    assert(doc1.head.getAs[String]("chunk") == "w1 w2 w3 w4")
    assert(doc1(1).getAs[String]("chunk") == "w3 w4 w5 w6") // 2-token overlap
    assert(doc1.last.getAs[String]("chunk") == "w9 w10")    // tail clamped
    assert(doc1.last.getAs[Long]("n_chunk_tokens") == 2L)
    val doc2 = c.filter(_.getAs[Long]("doc_id") == 2L)
    assert(doc2.map(_.getAs[String]("chunk")).toSeq ==
      Seq("only three tokens", "tokens")) // starts 0,2 over 3 tokens
  }

  test("dup ratio and frame sampling arithmetic") {
    val d = Seq((1L, "a a a a"), (2L, "a b c d")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), TextAnalysis.dupRatio(col("text")).as("dr"))
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Double]("dr") == 0.75) // 1 distinct of 4
    assert(r(1).getAs[Double]("dr") == 0.0)
    val media = Seq((1L, 1001L), (2L, 400L)).toDF("media_id", "duration_ms")
    val f = Multimodal.frameSamples(media, everyMs = 500)
      .orderBy("media_id", "frame_no").collect()
      .map(x => (x.getAs[Long]("media_id"), x.getAs[Long]("frame_no"), x.getAs[Long]("t_ms")))
    assert(f.toSeq == Seq((1L, 0L, 0L), (1L, 1L, 500L), (1L, 2L, 1000L), (2L, 0L, 0L)))
  }

  test("cosine near-dup pairs: exact pair set above threshold") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),   // near 0
      (2L, Array(0.0f, 1.0f, 0.0f)),    // orthogonal to 0/1-ish
      (3L, Array(-1.0f, 0.0f, 0.0f)),   // opposite of 0
      (4L, Array(1.0f, 0.01f, 0.0f))    // near 0 and 1
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairsExact(emb, threshold = 0.95)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSeq == Seq((0L, 1L), (0L, 4L), (1L, 4L)))
    // sims agree with the brute-force top-k scorer on the shared pair
    // (0's nearest neighbor is 4)
    val sim04 = Similarity.cosineNearDupPairsExact(emb, 0.95)
      .where($"id_a" === 0 && $"id_b" === 4).collect()(0).getAs[Double]("sim")
    val topk0 = Similarity.bruteForceTopK(emb, emb.where($"vec_id" === 0), k = 1)
      .collect()(0)
    assert(topk0.getAs[Long]("neighbor_id") == 4L)
    assert(sim04 == topk0.getAs[Double]("sim"))
  }

  test("semantic dedup: planted dup groups collapse to their min id") {
    // three tight groups (pairwise cosine ~1 within, ~0 across) + one
    // singleton; expect each group to keep its lowest id only
    def v(base: Int, jitter: Float): Array[Float] = {
      val a = Array.fill(8)(0.001f); a(base) = 1.0f; a((base + 1) % 8) += jitter; a
    }
    val emb = Seq(
      (10L, v(0, 0.00f)), (11L, v(0, 0.01f)), (12L, v(0, 0.02f)), // group A
      (20L, v(3, 0.00f)), (21L, v(3, 0.01f)),                     // group B
      (30L, v(6, 0.00f))                                          // singleton
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(emb, threshold = 0.9, nCells = 2,
        lloydIters = 2, dims = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 20L, 30L), s"got $kept")
    // deterministic: same input -> same kept set
    val again = Similarity.semanticDedup(emb, threshold = 0.9, nCells = 2,
        lloydIters = 2, dims = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again == kept)
  }

  test("bucketed near-dup (default): subset of exact, high recall, no BNLJ") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = Similarity.cosineNearDupPairsExact(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bucketed = Similarity.cosineNearDupPairs(emb, threshold = 0.4)
    val got = bucketed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // precision 1: every emitted pair is a true above-threshold pair,
    // with the identical (rounded) similarity
    assert(got.subsetOf(exact), s"false positives: ${got.diff(exact)}")
    // recall on the test corpus clears the contract bound with margin
    assert(exact.isEmpty || got.size.toDouble / exact.size >= 0.9,
      s"recall ${got.size}/${exact.size}")
    // plan shape: candidate generation is a hash join on (tbl, bucket) —
    // the exact form's broadcast-nested-loop must NOT appear
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "bucketed path must not BNLJ")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      "candidate join should be a hash/sort-merge join")
  }

  test("int8 quantization: reconstruction error bounded, top-k preserved") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.select(col("vec_id"),
      Similarity.quantizeInt8(col("embedding")).as("qv"), col("embedding"))
    val rec = q.select(col("vec_id"),
      Similarity.dequantizeInt8(col("qv")).as("rembedding"), col("embedding"))
    // max |x - x̂| ≤ scale/127 per element ⇒ relative error ≤ ~1/127
    val err = rec.select(max(Similarity.dot(
      org.apache.spark.sql.functions.zip_with(col("embedding"), col("rembedding"), (a, b) => a - b),
      org.apache.spark.sql.functions.zip_with(col("embedding"), col("rembedding"), (a, b) => a - b))))
      .collect()(0).getDouble(0)
    assert(err < 0.01, s"reconstruction error $err")
    // cosine top-5 on dequantized vectors ≈ exact top-5
    val queries = emb.where(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val deq = rec.select(col("vec_id"), col("rembedding").as("embedding"))
    val approx = Similarity.bruteForceTopK(deq, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert((exact & approx).size >= 12, s"overlap ${(exact & approx).size}/15")
  }

  test("SignLshBuckets expression equals composed per-table lshBucket columns") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .where($"vec_id" < 50)
    val viaExpr = emb.select($"vec_id",
      graft.functions.SignLshBuckets($"embedding", 4, 8, 64).as("bk"))
    val viaCols = emb.select($"vec_id" +:
      (0 until 4).map(t => Similarity.lshBucket($"embedding", t, 8, 64).as(s"b$t")): _*)
    val joined = viaExpr.join(viaCols, "vec_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val bk = r.getAs[scala.collection.Seq[Long]]("bk")
      (0 until 4).foreach(t => assert(bk(t) == r.getAs[Long](s"b$t"), s"table $t"))
    }
  }

  test("IVF cell layout: partitionBy(cell) probes become partition pruning") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val (indexed, _) = Similarity.ivfIndex(emb, nCells = 8, lloydIters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivf-layout").toString
    indexed.write.mode("overwrite").partitionBy("cell").parquet(dir)
    val probed = spark.read.parquet(dir).where(col("cell").isin(1, 3))
    // the probe filter must prune at the PARTITION level, not post-scan
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    val cells = probed.select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf(Set(1, 3)))
  }

  test("IVF ANN recall vs brute force on driver embeddings (sf0.001)") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.where($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val (indexed, cents) = Similarity.ivfIndex(emb, nCells = 8, lloydIters = 2)
    val ivf = Similarity.ivfTopK(indexed, cents, q, k = 5, nProbe = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    // determinism: rebuilt index gives the same answer set
    val (indexed2, cents2) = Similarity.ivfIndex(emb, nCells = 8, lloydIters = 2)
    val ivf2 = Similarity.ivfTopK(indexed2, cents2, q, k = 5, nProbe = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(ivf == ivf2)
  }

  test("ANN recall vs brute force on driver embeddings (sf0.001)") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.where($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ann = Similarity.annTopK(emb, q, k = 5, nBits = 8, dims = 64).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // multi-table multi-probe sign-LSH on 500 vecs: expect ≥60% of exact top-5
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall too low: $recall")
  }

  test("PQ: codes in range, deterministic across partitionings, Lloyd improves reconstruction") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val m = 8; val kSub = 16; val ds = 64 / m
    val trained = Similarity.pqTrain(emb, m = m, kSub = kSub, lloydIters = 3)
    assert(trained.length == m && trained.forall(_.length == kSub))
    val codes = Similarity.pqEncode(emb, trained)
      .select($"vec_id", $"codes").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(cs => cs.length == m && cs.forall(c => c >= 0 && c < kSub)))
    val again = Similarity.pqEncode(emb.repartition(7), trained)
      .select($"vec_id", $"codes").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
    assert(codes == again, "encoding must not depend on partitioning")
    // training lowers (or holds) mean squared reconstruction error vs the seeds
    val seeds = Similarity.pqTrain(emb, m = m, kSub = kSub, lloydIters = 0)
    def mse(books: Similarity.PqBooks): Double = {
      val vecs = emb.select($"vec_id", $"embedding").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      val enc = Similarity.pqEncode(emb, books).select($"vec_id", $"codes").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
      enc.map { case (id, cs) =>
        val v = vecs(id)
        cs.zipWithIndex.map { case (c, s) =>
          val cent = books(s)(c)._2
          (0 until ds).map(i => math.pow(v(s * ds + i) - cent(i), 2)).sum
        }.sum
      }.sum / enc.size
    }
    val e0 = mse(seeds); val e3 = mse(trained)
    assert(e3 <= e0 + 1e-9, s"Lloyd must not worsen reconstruction: $e0 -> $e3")
  }

  test("IMI two-level quantizer: k² pair-cells, exact probe enumeration, recall, determinism") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.where($"vec_id" < 5)
    val (indexed, cents) = Similarity.imiIndex(emb, k = 4, lloydIters = 2)
    // two k-sized codebooks span k² effective cells; every row is
    // assigned a pair within range
    assert(cents._1.length == 4 && cents._2.length == 4)
    val pairs = indexed.select("cell1", "cell2").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(pairs.forall { case (a, b) => a >= 0 && a < 4 && b >= 0 && b < 4 })
    assert(pairs.length > 4, "pair space must exceed one codebook's size")

    // probing ALL k² cells is exhaustive: recall exactly 1.0 — the
    // enumeration of pair candidates provably covers the space
    val exact = Similarity.bruteForceTopK(emb, q, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val all = Similarity.imiTopK(indexed, cents, q, k = 5, nProbe = 16).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(all == exact, "exhaustive IMI probe must equal brute force")

    // pruned probe (half the pair space) keeps useful recall and is
    // deterministic across a rebuild
    val imi = Similarity.imiTopK(indexed, cents, q, k = 5, nProbe = 8).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & imi).size.toDouble / exact.size
    assert(recall >= 0.5, s"IMI recall too low: $recall")
    val (indexed2, cents2) = Similarity.imiIndex(emb, k = 4, lloydIters = 2)
    val imi2 = Similarity.imiTopK(indexed2, cents2, q, k = 5, nProbe = 8).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(imi == imi2)

    // returned sims are EXACT cosines (re-rank is never approximate)
    val sims = Similarity.imiTopK(indexed, cents, q, k = 5, nProbe = 8)
    val bf = Similarity.bruteForceTopK(emb, q, k = 500)
      .select(col("query_id").as("bq"), col("neighbor_id").as("bn"), col("sim").as("bsim"))
    val joined = sims.join(bf, col("query_id") === col("bq") && col("neighbor_id") === col("bn"))
    assert(joined.where(col("sim") =!= col("bsim")).isEmpty,
      "IMI sims must equal exact cosine")

    // fused single-pass training is BIT-IDENTICAL to two sequential
    // half-dim ivfIndex runs (same seeds rule, same per-(cell,d) means;
    // the quantizers never interact) — the fusion is a pure pass-count
    // optimization, never a result change
    val halfDf1 = emb.select(col("vec_id"), slice(col("embedding"), 1, 32).as("__h"))
    val halfDf2 = emb.select(col("vec_id"), slice(col("embedding"), 33, 32).as("__h"))
    val (_, s1) = Similarity.ivfIndex(halfDf1, nCells = 4, lloydIters = 2,
      dims = 32, vecCol = "__h")
    val (_, s2) = Similarity.ivfIndex(halfDf2, nCells = 4, lloydIters = 2,
      dims = 32, vecCol = "__h")
    assert(cents._1.map(_._2.toSeq).toSeq == s1.map(_._2.toSeq).toSeq,
      "fused half-1 centroids diverged from the sequential run")
    assert(cents._2.map(_._2.toSeq).toSeq == s2.map(_._2.toSeq).toSeq,
      "fused half-2 centroids diverged from the sequential run")

    // the sqrt sizing rule at the MEASURED 2048-row target (SCALING.md
    // r12 serve curve: the knee where two-level pruning engages)
    assert(Similarity.autoCellsImi(500) == 4)        // floor at bench scale
    assert(Similarity.autoCellsImi(2000000L) == 32)  // 32² = 1024 pairs ≈ 2k rows/cell
    assert(Similarity.autoCellsImi(100000000000L) == 4096) // 100B rows hits the cap
    assert(Similarity.autoCellsImi(Long.MaxValue / 2) == 4096) // capped

    // probe sizing: the two measured regimes (SCALING.md: r13 shallow
    // fraction grid, whose target ImiRecallSpec re-checks at every test
    // scale / r14 deep absolute grid) and their boundary
    assert(Similarity.autoProbesImi(4, 0.9) == 12)   // shallow: the registered 12-of-16
    assert(Similarity.autoProbesImi(8, 0.9) == 48)   // shallow edge: 75% of 64
    assert(Similarity.autoProbesImi(16, 0.9) == 32)  // deep: absolute count, not 192
    assert(Similarity.autoProbesImi(64, 0.9) == 32)  // deep: same absolute count
    // the 65-255-pair band (r15 band grid in SCALING.md, k=9/12: 32 probes
    // measure 1.00) — the absolute rule holds conservative in-band
    assert(Similarity.autoProbesImi(9, 0.9) == 32)
    assert(Similarity.autoProbesImi(12, 0.9) == 32)
    assert(Similarity.autoProbesImi(64, 1.0) == 64)  // deep ceiling
    assert(Similarity.autoProbesImi(64, 0.75) == 8)
    // shortlist sizing: the cross-anchor cluster-size law (~0.64*C for
    // 0.9 targets) with the C~1000 constant grid as floor
    assert(Similarity.autoShortlistImiPq(0.9) == 640)              // 0.64*1000
    assert(Similarity.autoShortlistImiPq(0.9, 10000L) == 6400)     // the 20M anchor's measured 0.94 point
    assert(Similarity.autoShortlistImiPq(0.5, 10000L) == 1600)     // 0.16*C
    assert(Similarity.autoShortlistImiPq(0.5) == 160)              // law above the 100 floor
    assert(Similarity.autoShortlistImiPq(0.5, 100L) == 100)        // small C: floor binds
    assert(Similarity.autoShortlistImiPq(0.8, 100L) == 400)        // floor binds (0.40*100 = 40 < 400)
    assert(Similarity.autoShortlistImiPq(0.95) == 1600)            // C<=1000: the 1.6*C anchor point
    // beyond the anchors: probe-bound at the 20M decade -> fail loud
    assertThrows[IllegalArgumentException] {
      Similarity.autoShortlistImiPq(0.95, 10000L)
    }
    assertThrows[IllegalArgumentException] {
      Similarity.autoShortlistImiPq(0.99, 500L)
    }
  }

  test("clusterSizeStat: p99 duplicate-group size, robust to one mega-group") {
    // 1000 groups of size 10 and one degenerate group of size 100000
    // (the empty-document-hash shape): p99 must report the typical
    // cluster scale, not let the outlier size every serve's shortlist
    val typical = spark.range(10000).selectExpr("concat('g', id % 1000) as key")
    val mega = spark.range(100000).selectExpr("'MEGA' as key")
    val c = Similarity.clusterSizeStat(typical.union(mega), "key")
    assert(c >= 10 && c < 100000, s"p99 cluster size should be ~10, got $c")
    // uniform groups: the stat is the group size itself
    val uniform = spark.range(5000).selectExpr("concat('u', id % 50) as key")
    assert(Similarity.clusterSizeStat(uniform, "key") == 100)
  }

  test("IVF+PQ composition: probed-cell candidates only, recall above floor, sims exact") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.where($"vec_id" < 5)
    val (indexed, cents) = Similarity.ivfIndex(emb, nCells = 8, lloydIters = 2)
    val books = Similarity.pqTrain(emb, lloydIters = 1)
    val r = Similarity.ivfPqTopK(indexed, cents, books, q, k = 5, nProbe = 6).collect()
    val got = r.map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("neighbor_id"))).toSet
    val bf = Similarity.bruteForceTopK(emb, q, k = 5).collect()
    val exact = bf.map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVFPQ recall too low: $recall")
    // the re-rank is exact: any pair also in brute force carries the same sim
    val bfSim = bf.map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("neighbor_id")) ->
      x.getAs[Double]("sim")).toMap
    r.foreach { x =>
      val key = (x.getAs[Long]("query_id"), x.getAs[Long]("neighbor_id"))
      bfSim.get(key).foreach(s => assert(s == x.getAs[Double]("sim")))
    }
  }

  test("PQ pack/unpack round-trips the default 16x4-bit codes through one long") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val books = Similarity.pqTrain(emb, lloydIters = 1)
    val coded = Similarity.pqEncode(emb, books)
    val rt = coded.select($"vec_id", $"codes",
      Similarity.pqUnpack(Similarity.pqPack($"codes")).as("back"))
    assert(rt.where(not($"codes" === $"back")).count() == 0,
      "unpack(pack(codes)) must equal codes")
    // packed words are honest 8-byte keys: distinct packed = distinct code arrays
    val d1 = coded.select($"codes").distinct().count()
    val d2 = coded.select(Similarity.pqPack($"codes")).distinct().count()
    assert(d1 == d2, s"packing must be injective on 4-bit codes: $d1 != $d2")
  }

  test("PQ-ADC top-k with re-rank recovers most of the exact top-5 (sf0.001)") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.where($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val books = Similarity.pqTrain(emb)
    val pq = Similarity.pqTopK(emb, books, q, k = 5).collect()
    // re-rank gives exact sims: every returned sim must match brute force's
    // value for that pair, and recall must clear the contract floor
    val got = pq.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall too low: $recall")
  }
}
