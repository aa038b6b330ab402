/* Hosted under org.apache.spark.sql — Catalyst's extension surface
 * (AbstractDataType) is private[sql]. */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE merge application — the codegen replacement for the
  * per-word replace-chain HOF pipeline in [[graft.operators]]' Vocab
  * (`|c| |c| …` pipe-string with one literal `replace` per merge, then
  * split + strip). Two exact-equivalent evaluators:
  *
  *  - **fast walk** (the hot path): the word as an array of single
  *    char/code-point units; each merge applied as one
  *    leftmost-non-overlapping in-place pass over the unit array. Small
  *    merge tables replay every pass in order; big tables walk a rank
  *    index — a TreeSet of candidate merge ranks seeded from the pairs
  *    actually adjacent in THIS word, where applying rank r only
  *    enqueues newly-formed pairs' ranks > r, which is exactly the
  *    sequential-replay semantics (a pair formed by a LATER merge is
  *    never seen by an earlier one). Cost is O(word · applied merges),
  *    independent of merge-table size — the property that lets a
  *    10k-merge production table run per word in microseconds instead
  *    of 10k string scans.
  *  - **pipe replay** (the safety net): the literal pipe-string
  *    algorithm, char-for-char the original. Used when the fast walk's
  *    token representation could alias the pipe encoding: a merge side
  *    or the word containing `'|'`, a merge side containing `' '`, an
  *    empty merge side, or (code-point units) a word containing a line
  *    terminator, which the reference's `regexp_replace(w, "(.)", …)`
  *    leaves un-piped.
  *
  * Equivalence of the two on the safe domain: in the pipe string, an
  * occurrence of `"|l| |r|"` exists iff tokens l,r are adjacent (no
  * pipe/space aliasing on the safe domain); `String.replace` consumes
  * matches left-to-right and resumes AFTER each replacement, so a
  * just-merged token can never join another match of the same pass —
  * exactly the single token-walk pass. Across merges, the walk visits
  * ranks in increasing order and only ever adds ranks beyond the one
  * being applied, matching the one-pass-per-merge fold. Pinned by
  * OperatorsSpec's cross-tier equality tests + a dedicated
  * fast-vs-replay property. */
object BpeCore {

  /** Precompiled merge plan. `charMode` selects the unit split of the
    * tier being replaced: `true` = Java chars (the UDF tier's
    * `toCharArray`, splits surrogate pairs), `false` = code points (the
    * expression tier's `regexp_replace(w, "(.)", …)`). `markSuffix`
    * non-empty = append the end-of-word marker to each word's last
    * subword (the markWordEnd contract). */
  final class Plan(pairs: Seq[(String, String)], wordPatternStr: String,
                   val charMode: Boolean,
                   val markSuffix: String) extends Serializable {
    val lefts: Array[String] = pairs.map(_._1).toArray
    val rights: Array[String] = pairs.map(_._2).toArray
    /** Fast walk sound for every word without a `'|'`? (word units can
      * never contain `' '` — the tokenizer splits on whitespace). */
    val safe: Boolean = pairs.forall { case (l, r) =>
      l.nonEmpty && r.nonEmpty &&
        l.indexOf('|') < 0 && l.indexOf(' ') < 0 &&
        r.indexOf('|') < 0 && r.indexOf(' ') < 0
    }
    @transient private lazy val wordPattern =
      java.util.regex.Pattern.compile(wordPatternStr)
    /** Unanchored find — RLike's match semantics. */
    def wordMatches(w: String): Boolean = wordPattern.matcher(w).find()
    /** Small merge tables replay every pass directly (cheaper than the
      * candidate machinery); big ones walk the rank index. */
    def sequentialThreshold: Int = 64
    /** left → (right → ascending merge ranks); allocation-free lookups
      * (a pair may recur at several ranks). */
    @transient lazy val ranks
    : java.util.HashMap[String, java.util.HashMap[String, Array[Int]]] = {
      val m = new java.util.HashMap[String,
        java.util.HashMap[String,
          scala.collection.mutable.ArrayBuffer[Int]]]()
      var i = 0
      while (i < lefts.length) {
        var inner = m.get(lefts(i))
        if (inner == null) {
          inner = new java.util.HashMap(); m.put(lefts(i), inner)
        }
        var b = inner.get(rights(i))
        if (b == null) {
          b = scala.collection.mutable.ArrayBuffer.empty[Int]
          inner.put(rights(i), b)
        }
        b += i
        i += 1
      }
      val out = new java.util.HashMap[String,
        java.util.HashMap[String, Array[Int]]](m.size() * 2)
      m.forEach { (l, inner) =>
        val o = new java.util.HashMap[String, Array[Int]](inner.size() * 2)
        inner.forEach((r, b) => o.put(r, b.toArray))
        out.put(l, o)
      }
      out
    }
  }

  /** Single-char strings for the ASCII range — the unit split of every
    * default-pattern word allocates nothing. */
  private val AsciiUnit: Array[String] =
    Array.tabulate(128)(i => String.valueOf(i.toChar))

  private def splitUnits(word: String, charMode: Boolean): Array[String] = {
    val n =
      if (charMode) word.length
      else word.codePointCount(0, word.length)
    val out = new Array[String](n)
    var i = 0; var k = 0
    while (i < word.length) {
      val c = word.charAt(i)
      if (c < 128) { out(k) = AsciiUnit(c); i += 1 }
      else if (charMode) { out(k) = String.valueOf(c); i += 1 }
      else {
        val cp = word.codePointAt(i)
        out(k) = new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      k += 1
    }
    out
  }

  /** Fast merge walk, or null when this word needs the pipe replay. */
  def applyMergesFast(word: String, p: Plan): Array[String] = {
    if (!p.safe || word.indexOf('|') >= 0) return null
    if (!p.charMode && hasLineTerminator(word)) return null
    val toks = splitUnits(word, p.charMode)
    if (toks.length <= 1 || p.lefts.length == 0) return toks
    var len = toks.length
    // one leftmost-non-overlapping in-place pass for merge r; the write
    // cursor never overtakes the read cursor
    def pass(r: Int): Boolean = {
      val l = p.lefts(r); val rt = p.rights(r)
      var j = 0; var w = 0; var changed = false
      while (j < len) {
        if (j + 1 < len && toks(j) == l && toks(j + 1) == rt) {
          toks(w) = l + rt; changed = true; j += 2
        } else { toks(w) = toks(j); j += 1 }
        w += 1
      }
      len = w
      changed
    }
    if (p.lefts.length <= p.sequentialThreshold) {
      var r = 0
      while (r < p.lefts.length) { pass(r); r += 1 }
    } else {
      // rank-indexed walk: candidates are merge ranks whose pair is
      // adjacent NOW; applying rank r only enqueues ranks > r (pairs
      // formed by r are invisible to earlier merges — the sequential
      // replay's semantics)
      val cand = new java.util.TreeSet[Integer]()
      def addPairRanks(a: String, b: String, minExclusive: Int): Unit = {
        val inner = p.ranks.get(a)
        if (inner != null) {
          val rs = inner.get(b)
          if (rs != null) {
            var i = 0
            while (i < rs.length) {
              if (rs(i) > minExclusive) cand.add(Integer.valueOf(rs(i)))
              i += 1
            }
          }
        }
      }
      var i = 0
      while (i < len - 1) { addPairRanks(toks(i), toks(i + 1), -1); i += 1 }
      while (!cand.isEmpty) {
        val r = cand.pollFirst().intValue()
        if (pass(r)) {
          var k = 0
          while (k < len - 1) { addPairRanks(toks(k), toks(k + 1), r); k += 1 }
        }
      }
    }
    if (len == toks.length) toks else java.util.Arrays.copyOf(toks, len)
  }

  /** Java regex line terminators: the code points `.` does not match
    * without DOTALL. `\n` and `\r` never reach a word (the tokenizer
    * splits on `\s`); U+0085, U+2028 and U+2029 are not `\s` and do. */
  private def isLineTerminator(cp: Int): Boolean =
    cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029

  private def hasLineTerminator(word: String): Boolean = {
    var i = 0
    while (i < word.length) {
      if (isLineTerminator(word.charAt(i))) return true
      i += 1
    }
    false
  }

  /** Literal pipe-string replay with the EXPRESSION tier's trims: units
    * are code points, split is regex-`" "` with limit -1, and each
    * token sheds its first and last code point (`substr(2, len-2)` —
    * tokens under 2 code points become ""). Line terminators pass
    * through un-piped, as `regexp_replace(w, "(.)", "|$1| ")` leaves
    * them. */
  def pipeReplayExpr(word: String, p: Plan): Array[String] = {
    val sb = new java.lang.StringBuilder(word.length * 4)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      if (isLineTerminator(cp)) sb.appendCodePoint(cp)
      else sb.append('|').appendCodePoint(cp).append("| ")
      i += Character.charCount(cp)
    }
    // rtrim: strip trailing 0x20 only (the built string ends with one)
    var end = sb.length
    while (end > 0 && sb.charAt(end - 1) == ' ') end -= 1
    var e = sb.substring(0, end)
    var k = 0
    while (k < p.lefts.length) {
      e = e.replace("|" + p.lefts(k) + "| |" + p.rights(k) + "|",
        "|" + p.lefts(k) + p.rights(k) + "|")
      k += 1
    }
    e.split(" ", -1).map { t =>
      val n = t.codePointCount(0, t.length)
      if (n <= 2) ""
      else t.substring(Character.charCount(t.codePointAt(0)),
        t.offsetByCodePoints(0, n - 1))
    }
  }

  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** One document through the expression tier's full pipeline:
    * lower → whitespace split → drop empties → per matching word the
    * merge chain (fast walk, pipe replay as needed) → flatten, with the
    * optional end-of-word marker on each word's last subword. Exactly
    * `flatten(transform(tokens(text), perWord))` of the HOF formulation. */
  def encodeText(text: UTF8String, p: Plan): ArrayData = {
    val words = Whitespace.split(text.toLowerCase.toString, -1)
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](
      words.length * 2)
    val mark = p.markSuffix.nonEmpty
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty) {
        if (p.wordMatches(w)) {
          var segs = applyMergesFast(w, p)
          if (segs == null) segs = pipeReplayExpr(w, p)
          var j = 0
          while (j < segs.length) {
            val s = if (mark && j == segs.length - 1) segs(j) + p.markSuffix
              else segs(j)
            out += UTF8String.fromString(s)
            j += 1
          }
        } else {
          out += UTF8String.fromString(if (mark) w + p.markSuffix else w)
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** string → array<string>: tokenize + BPE-segment one document in a
  * single codegen call (the merge plan ships as a reference object). */
case class BpeEncodeText(child: Expression, plan: BpeCore.Plan)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType)
  override def prettyName: String = "bpe_encode"
  override protected def nullSafeEval(s: Any): Any =
    BpeCore.encodeText(s.asInstanceOf[UTF8String], plan)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = {
    val ref = ctx.addReferenceObj("bpePlan", plan,
      classOf[BpeCore.Plan].getName)
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.BpeCore.encodeText($c, $ref)")
  }
  override protected def withNewChildInternal(nc: Expression): BpeEncodeText =
    copy(child = nc)
}

object BpeEncodeText {
  def column(text: Column, merges: Seq[(String, String)],
             wordPattern: String, markSuffix: String): Column =
    ExpressionUtils.column(BpeEncodeText(ExpressionUtils.expression(text),
      new BpeCore.Plan(merges, wordPattern, charMode = false, markSuffix)))
}
