package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Bpe, Dedup}

/**
 * Round-8 additions: learned BPE merge-table training and application —
 * the tokenizer-prep pass of a pretraining pipeline, with a FULL
 * hash-match oracle: the DuckDB SQL replays the entire iterative
 * training loop (generated, materialized CTE per merge round) rather
 * than asserting contract flags, because one BPE merge is expressible
 * as one engine-portable string replace (see [[graft.ops.Bpe]]) —
 * plus the exact prefix-filtered similarity join (PPJoin).
 */
object R8Queries {

  /** Fixed merge count: deterministic, matched by the generated oracle. */
  val BpeMerges = 20

  /** Token-set Jaccard threshold for the exact similarity join. */
  val PpJoinThreshold = 0.8

  /**
   * The oracle row runs over a deterministic 1/10 modulo sample of the
   * corpus: in this template-generated fixture the ANSWER SET is
   * quadratic in corpus size (sf0.1 holds 7.1M pairs at J≥0.6, 191k
   * even at J≥0.95), so an unsampled row would spend the round budget
   * materializing output, not exercising the algorithm. Exactness on a
   * FULL corpus is pinned by the OpsSpec brute-force-equality test at
   * sf0.001; the modulo sample is expressed identically in both
   * engines so the hash compare stays exact.
   */
  val PpJoinMod = 10

  /** Duplicated-substring window length in tokens (Lee et al. use 50
    * on web-scale text; the fixture's docs are tens of tokens). */
  val DupSpanWindow = 8

  /** Verification hook (r18, VERDICT r17 task 2): `GRAFT_SPAN_GUARD=force`
    * makes the span queries run with a maximally-ACTIVE skew guard (full
    * sample, zero share threshold, size gate bypassed) so the DuckDB
    * oracle can hash-match a plan whose sample-and-salt pass is LIVE —
    * every oracle corpus is sub-threshold for the default guard, which
    * is deliberately plan-invisible there, so without this hook guard
    * exactness rests only on the OpsSpec planted fixtures. Unset = the
    * production default. */
  private def spanGuard: Option[Dedup.SpanSkewGuard] =
    if (sys.env.get("GRAFT_SPAN_GUARD").contains("force"))
      Some(Dedup.SpanSkewGuard(sampleRate = 1.0, partitionShare = 1e-9, minInputBytes = 0))
    else Some(Dedup.SpanSkewGuard())

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, (SparkSession, String) => DataFrame](

    // ── exact similarity self-join (prefix filter, NO false negatives) ──
    "q_ppjoin" -> ((s, dir) =>
      Dedup.ppJoin(
        Tables(s, dir, "documents").where(col("doc_id") % PpJoinMod === 0),
        threshold = PpJoinThreshold)
        .orderBy("id_a", "id_b")),

    // ── exact substring dedup at arbitrary offsets (Lee et al. ACL'22) ─
    "q_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(Tables(s, dir, "documents"), windowTokens = DupSpanWindow,
          skewGuard = spanGuard)
        .orderBy("doc_id", "span_start")),

    // ── all-but-first removal of those spans (text rebuild oracled) ────
    "q_dup_span_strip" -> ((s, dir) =>
      Dedup.stripDuplicateSpans(Tables(s, dir, "documents"), windowTokens = DupSpanWindow,
          skewGuard = spanGuard)
        .orderBy("doc_id")),

    // ── learned BPE merge table (training replayed by the oracle) ──────
    "q_bpe_train" -> ((s, dir) => {
      val merges = Bpe.train(Tables(s, dir, "documents"), nMerges = BpeMerges)
      import s.implicits._
      merges.map(m => (m.rank.toLong, m.l, m.r, m.l + m.r, m.count))
        .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
        .orderBy("merge_rank")
    }),

    // ── BPE application: per-doc token counts under the learned table ──
    // (one memoized codegen'd call per doc — no shuffle beyond
    // training's vocab reduction; at 100 TB this runs at parquet-scan
    // speed with only doc_id+text read. r15: the memoized per-word
    // counter replaced the nested-replace state encoding — the apply
    // stage measured 40.7 → 0.98 s at 1000× (SCALING.md "Round 15: BPE
    // apply", equality asserted on every sf0.1 doc first); the nested-replace form
    // remains Bpe.tokenCountAfter, spec-pinned value-identical and
    // literally replayed by the SQL oracle)
    "q_bpe_tokens" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = Bpe.train(docs, nMerges = BpeMerges)
      docs.select(col("doc_id"),
          Bpe.tokenCountFast(col("text"), merges).as("n_bpe"))
        .orderBy("doc_id")
    })
  )

  def oracleSql: Map[String, String] = Map(
    // replay of all three stages: per-doc window hashes (1-based list
    // slice = 0-based start + 1, chr(31) separator on both engines),
    // corpus-wide repeat filter, island merge of
    // window starts (two starts are one span iff gap <= window)
    "q_dup_spans" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      wh AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
               md5(array_to_string(toks[u.i+1 : u.i+$DupSpanWindow], chr(31))) AS h
        FROM t, unnest(range(len(toks) - $DupSpanWindow + 1)) AS u(i)
        WHERE len(toks) >= $DupSpanWindow
      ),
      dup AS (SELECT h FROM wh GROUP BY h HAVING count(*) >= 2),
      starts AS (SELECT w.doc_id, w.pos FROM wh w JOIN dup USING (h)),
      gaps AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                    > $DupSpanWindow THEN 1 ELSE 0 END AS brk
        FROM starts
      ),
      grp AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM gaps
      )
      SELECT doc_id, min(pos) AS span_start,
             max(pos) + $DupSpanWindow - 1 AS span_end,
             count(*) AS n_windows
      FROM grp GROUP BY doc_id, g
      ORDER BY doc_id, span_start""",

    // strip replay: same window hashes, canonical occurrence = first by
    // (doc_id, pos) per repeated hash, covered positions from removable
    // starts only, text rebuilt from surviving positions
    "q_dup_span_strip" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      wh AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
               md5(array_to_string(toks[u.i+1 : u.i+$DupSpanWindow], chr(31))) AS h
        FROM t, unnest(range(len(toks) - $DupSpanWindow + 1)) AS u(i)
        WHERE len(toks) >= $DupSpanWindow
      ),
      stats AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY h) AS c,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM wh
      ),
      removable AS (SELECT doc_id, pos FROM stats WHERE c >= 2 AND rn > 1),
      covered AS (
        SELECT DISTINCT doc_id, pos + CAST(u.k AS BIGINT) AS p
        FROM removable, unnest(range($DupSpanWindow)) AS u(k)
      ),
      all_toks AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS p, toks[u.i+1] AS tok
        FROM t, unnest(range(len(toks))) AS u(i)
      ),
      kept AS (
        SELECT a.doc_id, a.p, a.tok FROM all_toks a
        WHERE NOT EXISTS (SELECT 1 FROM covered c
                          WHERE c.doc_id = a.doc_id AND c.p = a.p)
      ),
      rebuilt AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_stripped,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
      )
      SELECT t.doc_id,
             coalesce(r.text_stripped, '') AS text_stripped,
             len(t.toks) - coalesce(r.n_kept, 0) AS n_removed
      FROM t LEFT JOIN rebuilt r USING (doc_id)
      ORDER BY doc_id""",

    "q_bpe_train"  -> Bpe.trainOracleSql(BpeMerges),
    "q_bpe_tokens" -> Bpe.tokensOracleSql(BpeMerges),

    // full pipeline replay: same rarest-first prefix, same size filter,
    // same candidate join, same exact verify — double math is identical
    // IEEE in both engines, emission rounded per the house discipline
    "q_ppjoin" -> s"""
      WITH toks AS (
        SELECT doc_id, tok FROM (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents WHERE doc_id % $PpJoinMod = 0
        ) WHERE tok <> ''
      ),
      dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
      ranked AS (
        SELECT t.doc_id, t.tok,
               row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rk,
               count(*) OVER (PARTITION BY t.doc_id) AS s
        FROM toks t JOIN dfreq d USING (tok)
      ),
      prefix AS (
        SELECT doc_id, tok, s FROM ranked
        WHERE rk <= s - ceil($PpJoinThreshold * s) + 1
      ),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
        FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.doc_id < b.doc_id
        WHERE CAST(least(a.s, b.s) AS DOUBLE) >=
              $PpJoinThreshold * CAST(greatest(a.s, b.s) AS DOUBLE)
      ),
      inter AS (
        SELECT c.id_a, c.id_b, c.sa, c.sb, count(*) AS i
        FROM cand c
        JOIN toks ta ON ta.doc_id = c.id_a
        JOIN toks tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
        GROUP BY 1, 2, 3, 4
      )
      SELECT id_a, id_b,
             round(CAST(i AS DOUBLE) / CAST(sa + sb - i AS DOUBLE), 6) AS jaccard
      FROM inter
      WHERE CAST(i AS DOUBLE) / CAST(sa + sb - i AS DOUBLE) >= $PpJoinThreshold
      ORDER BY id_a, id_b"""
  )
}
