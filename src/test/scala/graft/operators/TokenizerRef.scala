package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The original HOF formulations of the compiled tokenizer kernels
  * ([[graft.expressions.TokenizerExpressions]]): interpreted Catalyst
  * folds, kept only as the executable references the kernel-parity spec
  * in OperatorsSpec compares the kernels against bit for bit.
  */
object TokenizerRef {
  import Unigram.maxLen

  /** Log-prob floor for a single character absent from the piece table
    * (the byte-fallback analog: ln p = −25). Training corpora never hit
    * it — every corpus character is seeded and kept — but encode stays
    * total on unseen input.
    */
  val unkMicro = -25000000L
  /** Sentinel for an inadmissible split (multi-char piece not in the
    * vocabulary): far below any reachable path score, far above Long
    * overflow when added to one.
    */
  val negMicro = -(1L << 50)

  /** The original HOF formulation of [[Bpe.applyMerge]] — the executable
    * reference for the kernel-parity spec. CaseWhen branches evaluate
    * lazily in order, so the element_at on the accumulator only runs
    * once the array is known non-empty.
    */
  def applyMergeRef(syms: Column, l: String, r: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) === 0, array(x))
          .when(element_at(acc, size(acc)) === lit(l) && x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(concat(element_at(acc, size(acc)), x))))
          .otherwise(concat(acc, array(x))))

  /** The original per-merge foldLeft of [[Bpe.applyMerges]] — the executable
    * reference for the kernel-parity spec.
    */
  def applyMergesRef(syms: Column, merges: Seq[Bpe.Merge]): Column =
    merges.sortBy(_.rank).foldLeft(syms)((c, m) => applyMergeRef(c, m.left, m.right))

  /** The original HOF formulation of [[Unigram.segment]] — kept as the
    * executable reference the kernel-parity spec compares against.
    */
  def segmentRef(w: Column, lp: Map[String, Long]): Column = {
    val m = typedLit(lp)
    val n = length(w)
    val fwd = aggregate(
      sequence(lit(1), n),
      struct(array(lit(0L)).as("best"), array().cast("array<int>").as("bp")),
      (acc, i) => {
        val cand = aggregate(
          sequence(greatest(i - maxLen, lit(0)), i - 1),
          struct(lit(negMicro * 2).as("sc"), lit(-1).as("j")),
          (a, j) => {
            val piece = w.substr(j + 1, i - j)
            val hit = element_at(m, piece)
            val sc = element_at(acc.getField("best"), j + 1) +
              when(hit.isNotNull, hit)
                .when(i - j === 1, lit(unkMicro))
                .otherwise(lit(negMicro))
            when(sc > a.getField("sc"), struct(sc.as("sc"), j.as("j")))
              .otherwise(a)
          })
        struct(
          concat(acc.getField("best"), array(cand.getField("sc"))).as("best"),
          concat(acc.getField("bp"), array(cand.getField("j"))).as("bp"))
      })
    // backpointer walk: at most n hops from position n back to 0,
    // prepending the piece (bp(pos), pos] at each hop
    aggregate(
      sequence(lit(1), n),
      struct(n.as("pos"), array().cast("array<string>").as("pieces"),
        fwd.getField("bp").as("bp")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val j = element_at(acc.getField("bp"), pos)
        when(pos > 0,
          struct(j.as("pos"),
            concat(array(w.substr(j + 1, pos - j)),
              acc.getField("pieces")).as("pieces"),
            acc.getField("bp").as("bp")))
          .otherwise(acc)
      },
      acc => acc.getField("pieces"))
  }

  /** The original HOF formulation of [[Unigram.segScore]] — the executable
    * reference for the kernel-parity spec.
    */
  def segScoreRef(w: Column, lp: Map[String, Long]): Column = {
    val m = typedLit(lp)
    aggregate(
      sequence(lit(1), length(w)),
      array(lit(0L)),
      (best, i) =>
        concat(best, array(aggregate(
          sequence(greatest(i - maxLen, lit(0)), i - 1),
          lit(negMicro * 2),
          (a, j) => {
            val hit = element_at(m, w.substr(j + 1, i - j))
            val sc = element_at(best, j + 1) +
              when(hit.isNotNull, hit)
                .when(i - j === 1, lit(unkMicro))
                .otherwise(lit(negMicro))
            when(sc > a, sc).otherwise(a)
          }))),
      best => element_at(best, -1))
  }
}
