package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-word BPE applier with the EXACT semantics of
 * [[graft.ops.Bpe.encodeState]]'s nested replaces — merges applied in
 * rank order, each as one leftmost-first non-overlapping fuse pass over
 * the word's symbol sequence (the `String.replace` semantics the DuckDB
 * oracle replays) — plus a per-executor word memo. Word boundaries can't
 * be crossed by construction (encodeState's `|` guard becomes simply
 * "process words independently").
 *
 * Why: the nested-replace form scans and REBUILDS the whole ~3×-expanded
 * document state string once per merge (O(nMerges × stateLen) per doc,
 * all allocation). Per-word application is O(nMerges × wordLen) on a
 * small array — and word frequency is Zipf, so the memo collapses almost
 * every occurrence to one hash probe (amplified corpora are the extreme
 * case: 1000× copies share one vocabulary).
 *
 * The memo is bounded (1M entries, fill-once, NO eviction) and lives in
 * the expression's broadcast reference object: shared by every task in
 * the executor that deserialized it, correct even when cold (a miss just
 * recomputes). Saturation — a >1M-distinct-word vocabulary, i.e.
 * high-entropy tokens rather than natural language — logs one WARN per
 * counter instance (per plan per executor) and degrades to uncached
 * recompute for the tail; measured in SCALING.md "Round 16: BPE memo
 * saturation measured".
 */
final class BpeCounter(val merges: Array[(String, String)],
                       cacheCap: Int = 1 << 20) extends Serializable {
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  @transient private lazy val satWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private val CacheCap = cacheCap

  /** True once the memo hit its fill-once cap in this JVM (test hook;
    * misses past the cap recompute — correct, just uncached). */
  def saturated: Boolean = cache.size >= CacheCap

  /** Symbols left after applying all merges to one word. */
  def countWord(w: String): Int = {
    val hit = cache.get(w)
    if (hit != null) return hit.intValue()
    var toks = new Array[String](w.length)
    var i = 0
    while (i < w.length) { toks(i) = String.valueOf(w.charAt(i)); i += 1 }
    var n = w.length
    var m = 0
    while (m < merges.length && n > 1) {
      val l = merges(m)._1; val r = merges(m)._2
      // leftmost-first non-overlapping fuse of (l, r), in place
      var src = 0; var dst = 0
      while (src < n) {
        if (src + 1 < n && toks(src) == l && toks(src + 1) == r) {
          toks(dst) = l + r; src += 2
        } else { toks(dst) = toks(src); src += 1 }
        dst += 1
      }
      n = dst
      m += 1
    }
    if (cache.size < CacheCap) cache.put(w, Integer.valueOf(n))
    else if (satWarned.compareAndSet(false, true))
      // fill-once cap, no eviction (r15 advice: make the degradation
      // observable): a Zipf vocabulary never gets here; a high-entropy
      // one (URLs, hashes, code identifiers) silently drops to 0% hit
      // rate past this point while still holding the filled memo's heap
      BpeCounter.log.warn(
        s"BpeCounter word memo hit its $CacheCap-entry cap in this executor; " +
          "further distinct words recompute uncached (correctness unaffected). " +
          "High-entropy vocabularies pay O(merges x wordLen) per occurrence past the cap.")
    n
  }

  /** BPE token count of a whole document, value-identical to
    * [[graft.ops.Bpe.tokenCountAfter]] on ARBITRARY text, not just the
    * lowercase single-space documents-table shape (r15 advice).
    * `tokenCountAfter` = gaps(encodeState) + (#spaces + 1), where
    * encodeState lowercases, wraps only `[a-z]` chars in spaces, and
    * leaves everything else literal — so double-space gaps only ever
    * occur INSIDE maximal `[a-z]` runs, each of which merges exactly
    * like an isolated word (merge patterns `" l  r "` need the double
    * space, absent at run boundaries). Hence:
    *   count = Σ_runs (symbolsAfterMerges(run) − 1) + #spaces + 1
    * (empty text → 0). Note the +1-per-space term counts empty "words"
    * from repeated/leading/trailing spaces, exactly as the state form
    * does. */
  def countDoc(text: UTF8String): Long = {
    if (text.numBytes == 0) return 0L
    val s = text.toLowerCase.toString // UTF8String.toLowerCase == Spark's lower()
    var total = 1L // the "+1" of (#spaces + 1)
    var start = -1 // current [a-z] run start, -1 = not in a run
    var i = 0
    val len = s.length
    while (i <= len) {
      val c = if (i == len) '\u0000' else s.charAt(i)
      val isLetter = c >= 'a' && c <= 'z'
      if (isLetter) { if (start < 0) start = i }
      else if (start >= 0) {
        total += countWord(s.substring(start, i)) - 1L
        start = -1
      }
      if (c == ' ' && i < len) total += 1L // sentinel space at i==len is not a real space
      i += 1
    }
    total
  }
}

/** `bpe_token_count(text)`: document BPE token count under a fixed merge
  * table — one codegen'd call into the memoized [[BpeCounter]]. */
case class BpeTokenCount(child: Expression, counter: BpeCounter)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_token_count"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("bpe_token_count requires STRING input")

  override protected def nullSafeEval(input: Any): Any =
    counter.countDoc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCounter", counter, classOf[BpeCounter].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.countDoc($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

object BpeCounter {
  private[functions] val log = org.slf4j.LoggerFactory.getLogger(classOf[BpeCounter])
}

object BpeTokenCount {
  def apply(c: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeTokenCount(Bridge.expression(c), new BpeCounter(merges.toArray)))
}
