package graft.predicates

import graft.model.{AddFile, StatsCodec}

/** Three-valued evaluation result (Kleene logic). The tri-valued domain is
  * the reference's (`JsonPredicateEvaluatorV2.scala:21-67`), but our leaf
  * semantics are the *sound* variant:
  *
  *   True    = every row in the file satisfies the predicate
  *   False   = no row in the file satisfies the predicate
  *   Unknown = mixed, or not enough stats to decide
  *
  * A file is skippable iff the root evaluates to False. Under these
  * semantics Kleene AND/OR/NOT are exact, so arbitrary `not` nesting can
  * never skip a file that contains matching rows — the reference instead
  * evaluates "may-match" leaves and must prune `not` subtrees to stay safe
  * (`JsonPredicatePruner.scala:75-140`); we keep the pruner for hint
  * sanitization but do not depend on it for soundness.
  */
sealed trait EvalResult {
  def &&(other: => EvalResult): EvalResult = this match {
    case EvalFalse => EvalFalse
    case EvalTrue  => other
    case EvalUnknown => if (other == EvalFalse) EvalFalse else EvalUnknown
  }
  def ||(other: => EvalResult): EvalResult = this match {
    case EvalTrue  => EvalTrue
    case EvalFalse => other
    case EvalUnknown => if (other == EvalTrue) EvalTrue else EvalUnknown
  }
  def unary_! : EvalResult = this match {
    case EvalTrue    => EvalFalse
    case EvalFalse   => EvalTrue
    case EvalUnknown => EvalUnknown
  }
}
case object EvalTrue extends EvalResult
case object EvalFalse extends EvalResult
case object EvalUnknown extends EvalResult

/** Value interval a column takes within one file, from partition values
  * (point interval) or min/max stats (reference `ColumnRange.scala`).
  * `allNull`/`noNull` track the null complement needed for sound
  * equal/isNull answers.
  */
case class ColumnStats(
    min: Option[Any],
    max: Option[Any],
    tpe: String,
    nullCount: Option[Long],
    numRecords: Option[Long]) {

  private def cmp(a: Any, b: Any): Int = StatsCodec.compare(a, b, tpe)

  def noNulls: Boolean = nullCount.contains(0L)
  def allNulls: Boolean =
    (for (n <- nullCount; r <- numRecords) yield n == r).getOrElse(false)

  /** equal(col, v) over the whole file. */
  def equalTo(v: Any): EvalResult = (min, max) match {
    case (Some(lo), Some(hi)) =>
      if (cmp(v, lo) < 0 || cmp(v, hi) > 0) EvalFalse
      else if (cmp(lo, hi) == 0 && cmp(lo, v) == 0 && noNulls) EvalTrue
      else EvalUnknown
    case _ => if (allNulls) EvalFalse else EvalUnknown
  }

  def lessThan(v: Any): EvalResult = (min, max) match {
    case (Some(lo), Some(hi)) =>
      if (cmp(lo, v) >= 0) EvalFalse
      else if (cmp(hi, v) < 0 && noNulls) EvalTrue
      else EvalUnknown
    case _ => if (allNulls) EvalFalse else EvalUnknown
  }

  def lessThanOrEqual(v: Any): EvalResult = (min, max) match {
    case (Some(lo), Some(hi)) =>
      if (cmp(lo, v) > 0) EvalFalse
      else if (cmp(hi, v) <= 0 && noNulls) EvalTrue
      else EvalUnknown
    case _ => if (allNulls) EvalFalse else EvalUnknown
  }

  def greaterThan(v: Any): EvalResult = (min, max) match {
    case (Some(lo), Some(hi)) =>
      if (cmp(hi, v) <= 0) EvalFalse
      else if (cmp(lo, v) > 0 && noNulls) EvalTrue
      else EvalUnknown
    case _ => if (allNulls) EvalFalse else EvalUnknown
  }

  def greaterThanOrEqual(v: Any): EvalResult = (min, max) match {
    case (Some(lo), Some(hi)) =>
      if (cmp(hi, v) < 0) EvalFalse
      else if (cmp(lo, v) >= 0 && noNulls) EvalTrue
      else EvalUnknown
    case _ => if (allNulls) EvalFalse else EvalUnknown
  }

  def isNull: EvalResult =
    if (allNulls) EvalTrue
    else if (noNulls) EvalFalse
    else EvalUnknown
}

/** Evaluates a predicate tree against one file's partition values + stats.
  *
  * Column resolution order (reference `JsonPredicateFilterUtils.scala:
  * 128-149`): a partition column yields a point interval from its string
  * value; otherwise min/max stats; missing either ⇒ Unknown. Per-op error
  * containment mirrors the reference's cutoffs
  * (`JsonPredicateEvaluatorV2.scala:90`): after `MAX_ERRORS` decode/eval
  * errors an op class stops being evaluated (returns Unknown) so one bad
  * hint can't poison throughput.
  */
class FileSkippingEvaluator(partitionColumns: Set[String]) {
  import FileSkippingEvaluator._

  private var errorCount = 0

  /** True ⇒ file can be skipped safely. */
  def canSkip(op: BaseOp, file: AddFile): Boolean =
    evalOp(op, file) == EvalFalse

  def evalOp(op: BaseOp, file: AddFile): EvalResult =
    try evalRecurse(op, file)
    catch {
      case scala.util.control.NonFatal(_) =>
        errorCount += 1
        EvalUnknown
    }

  private def evalRecurse(op: BaseOp, file: AddFile): EvalResult = {
    if (errorCount >= MAX_ERRORS) return EvalUnknown
    op match {
      case AndOp(children) =>
        children.foldLeft(EvalTrue: EvalResult)((acc, c) => acc && evalOp(c, file))
      case OrOp(children) =>
        children.foldLeft(EvalFalse: EvalResult)((acc, c) => acc || evalOp(c, file))
      case NotOp(Seq(child)) => !evalOp(child, file)
      case IsNullOp(Seq(c: ColumnOp)) => resolve(c, file).isNull
      case EqualOp(Seq(l, r))              => binary(l, r, file)((s, v) => s.equalTo(v), (s, v) => s.equalTo(v))
      case LessThanOp(Seq(l, r))           => binary(l, r, file)((s, v) => s.lessThan(v), (s, v) => s.greaterThan(v))
      case LessThanOrEqualOp(Seq(l, r))    => binary(l, r, file)((s, v) => s.lessThanOrEqual(v), (s, v) => s.greaterThanOrEqual(v))
      case GreaterThanOp(Seq(l, r))        => binary(l, r, file)((s, v) => s.greaterThan(v), (s, v) => s.lessThan(v))
      case GreaterThanOrEqualOp(Seq(l, r)) => binary(l, r, file)((s, v) => s.greaterThanOrEqual(v), (s, v) => s.lessThanOrEqual(v))
      case _ => EvalUnknown
    }
  }

  /** col <op> lit, or flipped lit <op> col; col <op> col ⇒ Unknown. */
  private def binary(l: BaseOp, r: BaseOp, file: AddFile)(
      direct: (ColumnStats, Any) => EvalResult,
      flipped: (ColumnStats, Any) => EvalResult): EvalResult = (l, r) match {
    case (c: ColumnOp, lit: LiteralOp) =>
      direct(resolve(c, file), StatsCodec.decode(lit.value, lit.valueType))
    case (lit: LiteralOp, c: ColumnOp) =>
      flipped(resolve(c, file), StatsCodec.decode(lit.value, lit.valueType))
    case _ => EvalUnknown
  }

  private def resolve(c: ColumnOp, file: AddFile): ColumnStats = {
    if (partitionColumns.contains(c.name)) {
      file.partitionValues.get(c.name) match {
        case Some("") | None => // "" encodes null (PROTOCOL.md:3896-3906)
          ColumnStats(None, None, c.valueType, Some(1L), Some(1L))
        case Some(v) =>
          val decoded = StatsCodec.decode(v, c.valueType)
          ColumnStats(Some(decoded), Some(decoded), c.valueType, Some(0L), Some(1L))
      }
    } else {
      val stats = file.stats
      val mn = stats.flatMap(_.minValues.get(c.name)).map(StatsCodec.decode(_, c.valueType))
      val mx = stats.flatMap(_.maxValues.get(c.name)).map(StatsCodec.decode(_, c.valueType))
      ColumnStats(mn, mx, c.valueType,
        stats.flatMap(_.nullCount.get(c.name)), stats.map(_.numRecords))
    }
  }
}

object FileSkippingEvaluator {
  /** Per-evaluator error cutoff (reference uses 10/op + 500 global). */
  val MAX_ERRORS = 10

  /** Filter a file list down to the non-skippable subset — the server-side
    * data-skipping entry point (reference
    * `JsonPredicateFilterUtils.evaluatePredicate`). Best-effort superset:
    * callers must still re-filter rows (PROTOCOL.md:2128-2158). Runs the
    * compiled evaluator of [[FileIndex]] (over the snapshot's own index
    * when `files` is one); `canSkip` above is its per-file reference.
    */
  def filterFiles(
      hint: Option[BaseOp],
      partitionColumns: Seq[String],
      files: Seq[AddFile]): Seq[AddFile] =
    if (hint.isEmpty) files else FileIndex.of(files).filter(hint, partitionColumns)
}
