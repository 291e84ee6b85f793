package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled tokenizer kernels (r17, optimization guide §4 / verdict r16
  * next-round #4): the unigram-LM Viterbi DP and the BPE merge fold were
  * expressed as Catalyst higher-order functions — `aggregate` nested in
  * `aggregate` — which Spark evaluates with an INTERPRETED lambda per
  * element (higher-order functions never enter whole-stage codegen), so
  * every distinct word paid thousands of interpreted Expression.eval
  * calls on the tokenizer families' one hot path. These expressions run
  * the identical algorithms as tight JVM loops; the piece/merge tables
  * ride in as reference objects (no literal expression tree).
  *
  * Bit-identity: the HOF formulations stay in [[graft.operators.Unigram]]
  * / [[graft.operators.Bpe]] as `*Ref` executable specs, and
  * OperatorsSpec pins kernel == HOF output over the real corpus
  * vocabulary plus adversarial words (non-BMP, unknown chars, maxLen
  * boundaries). All arithmetic is exact-Long; tie-breaks replicate the
  * HOF's strictly-greater / first-scanned-wins rule, so segmentation is
  * bit-reproducible cross-JVM and cross-plan exactly like the HOF.
  *
  * Character semantics: Spark's `length`/`substr` count CODE POINTS
  * (UTF8String chars — a non-BMP symbol is ONE position), so the kernels
  * index by code point, never by UTF-16 unit.
  */
object TokenizerKernels {

  /** Log-prob floor for an unknown single character — must equal
    * [[graft.operators.Unigram]]'s `unkMicro`. */
  val unkMicro: Long = -25000000L
  /** Inadmissible-split sentinel — must equal Unigram's `negMicro`. */
  val negMicro: Long = -(1L << 50)
  /** Max candidate piece length — must equal Unigram's `maxLen`. */
  val maxLen: Int = 6

  def buildModel(lp: Map[String, Long]): java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](lp.size * 2)
    lp.foreach { case (k, v) => m.put(k, java.lang.Long.valueOf(v)) }
    m
  }

  /** Code-point start offsets of `s` (offsets(i) = UTF-16 index of code
    * point i; offsets(n) = s.length).
    */
  private def cpOffsets(s: String): Array[Int] = {
    val off = new Array[Int](s.codePointCount(0, s.length) + 1)
    var ci = 0
    var cp = 0
    while (ci < s.length) {
      off(cp) = ci
      ci += Character.charCount(s.codePointAt(ci))
      cp += 1
    }
    off(cp) = s.length
    off
  }

  /** Forward Viterbi DP: fills best(0..n) and (when bp != null) the
    * backpointers bp(1..n). Identical recurrence to Unigram.segment's
    * HOF: candidates j scanned ASCENDING from max(i-maxLen, 0) to i-1,
    * replaced only on STRICTLY greater score (so the smallest j — the
    * longest last piece — wins ties); a piece absent from the model
    * scores unkMicro when single-char, negMicro otherwise.
    */
  private def viterbi(s: String, off: Array[Int],
      m: java.util.HashMap[String, java.lang.Long],
      best: Array[Long], bp: Array[Int]): Unit = {
    val n = off.length - 1
    var i = 1
    while (i <= n) {
      var bsc = negMicro * 2
      var bj = -1
      var j = math.max(i - maxLen, 0)
      while (j < i) {
        val hit = m.get(s.substring(off(j), off(i)))
        val add =
          if (hit != null) hit.longValue
          else if (i - j == 1) unkMicro
          else negMicro
        val sc = best(j) + add
        if (sc > bsc) { bsc = sc; bj = j }
        j += 1
      }
      best(i) = bsc
      if (bp != null) bp(i) = bj
      i += 1
    }
  }

  /** Viterbi-optimal segmentation — the compiled twin of
    * Unigram.segment. Never called on empty/null words by the operators
    * (wordsOf filters them), but total anyway: "" segments to [].
    */
  def segment(w: UTF8String,
      m: java.util.HashMap[String, java.lang.Long]): ArrayData = {
    val s = w.toString
    val off = cpOffsets(s)
    val n = off.length - 1
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val best = new Array[Long](n + 1)
    val bp = new Array[Int](n + 1)
    viterbi(s, off, m, best, bp)
    // backpointer walk from n to 0, pieces emitted right-to-left
    var count = 0
    var pos = n
    while (pos > 0) { pos = math.max(bp(pos), 0); count += 1 }
    val out = new Array[Any](count)
    pos = n
    var k = count - 1
    while (pos > 0) {
      val j = math.max(bp(pos), 0)
      out(k) = UTF8String.fromString(s.substring(off(j), off(pos)))
      k -= 1
      pos = j
    }
    new GenericArrayData(out)
  }

  /** Viterbi path score in micro-log-prob units — the compiled twin of
    * Unigram.segScore ("" scores 0).
    */
  def segScore(w: UTF8String,
      m: java.util.HashMap[String, java.lang.Long]): Long = {
    val s = w.toString
    val off = cpOffsets(s)
    val n = off.length - 1
    if (n == 0) return 0L
    val best = new Array[Long](n + 1)
    viterbi(s, off, m, best, null)
    best(n)
  }

  /** All BPE merges applied in rank order to one symbol array — the
    * compiled twin of Bpe.applyMerges: each merge is one left fold
    * replacing every LEFTMOST, NON-OVERLAPPING occurrence of the
    * adjacent (l, r) pair (a just-merged token never re-matches as `l`
    * within the same pass unless its full text equals `l`, exactly like
    * the HOF's element_at(acc, size(acc)) comparison). A null symbol
    * never matches either side and passes through (the HOF's null
    * comparison falls to the append branch).
    */
  def applyMerges(syms: ArrayData, lefts: Array[String],
      rights: Array[String]): ArrayData = {
    val nIn = syms.numElements()
    var cur = new Array[String](nIn)
    var i = 0
    while (i < nIn) {
      cur(i) = if (syms.isNullAt(i)) null else syms.getUTF8String(i).toString
      i += 1
    }
    var k = 0
    while (k < lefts.length) {
      val l = lefts(k)
      val r = rights(k)
      val out = new Array[String](cur.length)
      var m = 0 // filled prefix of out
      var x = 0
      while (x < cur.length) {
        val sym = cur(x)
        if (m > 0 && sym != null && out(m - 1) != null &&
            out(m - 1) == l && sym == r)
          out(m - 1) = out(m - 1) + sym
        else { out(m) = sym; m += 1 }
        x += 1
      }
      cur = if (m == out.length) out else java.util.Arrays.copyOf(out, m)
      k += 1
    }
    val res = new Array[Any](cur.length)
    i = 0
    while (i < cur.length) {
      res(i) = if (cur(i) == null) null else UTF8String.fromString(cur(i))
      i += 1
    }
    new GenericArrayData(res)
  }
}

/** Compiled Unigram.segment: word → Viterbi piece array. */
case class UnigramSegment(child: Expression,
    model: java.util.HashMap[String, java.lang.Long])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_unigram_segment"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${t.sql}")
  }

  override def nullSafeEval(w: Any): Any =
    TokenizerKernels.segment(w.asInstanceOf[UTF8String], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("unigramModel", model, "java.util.HashMap")
    defineCodeGen(ctx, ev, w =>
      s"graft.expressions.TokenizerKernels.segment($w, $mRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramSegment =
    copy(child = newChild)
}

/** Compiled Unigram.segScore: word → Viterbi path score (micro units). */
case class UnigramScore(child: Expression,
    model: java.util.HashMap[String, java.lang.Long])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_unigram_score"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${t.sql}")
  }

  override def nullSafeEval(w: Any): Any =
    TokenizerKernels.segScore(w.asInstanceOf[UTF8String], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("unigramModel", model, "java.util.HashMap")
    defineCodeGen(ctx, ev, w =>
      s"graft.expressions.TokenizerKernels.segScore($w, $mRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramScore =
    copy(child = newChild)
}

/** Compiled Bpe.applyMerges: symbol array → symbol array after every
  * merge in rank order (lefts/rights are rank-sorted by the caller).
  * The merge lists are `Seq` params so equal expressions compare equal
  * (Catalyst canonicalization, `semanticEquals`); the kernel's arrays are
  * built once per instance.
  */
case class BpeMerges(child: Expression, lefts: Seq[String],
    rights: Seq[String])
    extends UnaryExpression {

  @transient private lazy val leftArr: Array[String] = lefts.toArray
  @transient private lazy val rightArr: Array[String] = rights.toArray

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_bpe_merges"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${t.sql}")
  }

  override def nullSafeEval(syms: Any): Any =
    TokenizerKernels.applyMerges(syms.asInstanceOf[ArrayData], leftArr, rightArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeLefts", leftArr, "java.lang.String[]")
    val rRef = ctx.addReferenceObj("bpeRights", rightArr, "java.lang.String[]")
    defineCodeGen(ctx, ev, syms =>
      s"graft.expressions.TokenizerKernels.applyMerges($syms, $lRef, $rRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMerges =
    copy(child = newChild)
}

object TokenizerExpressions {
  /** Column API: compiled Viterbi segmentation. */
  def unigramSegment(w: Column, lp: Map[String, Long]): Column =
    ColumnBridge.column(UnigramSegment(
      ColumnBridge.expression(w), TokenizerKernels.buildModel(lp)))

  /** Column API: compiled Viterbi path score. */
  def unigramScore(w: Column, lp: Map[String, Long]): Column =
    ColumnBridge.column(UnigramScore(
      ColumnBridge.expression(w), TokenizerKernels.buildModel(lp)))

  /** Column API: compiled BPE merge fold (merges already rank-sorted). */
  def bpeMerges(syms: Column, lefts: Seq[String], rights: Seq[String]): Column =
    ColumnBridge.column(BpeMerges(
      ColumnBridge.expression(syms), lefts, rights))
}
