package graft.server

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute => UA}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.types._

import graft.model.{AddFile, StatsCodec}
import graft.predicates._

/** Server-side partition pruning from SQL hint strings — the protocol's
  * `predicateHints` (grammar `PROTOCOL.md:4138-4155`; reference
  * `server/.../PartitionFilterUtils.scala:37-141` parses with Spark's SQL
  * parser and keeps only simple comparisons over partition columns).
  *
  * Re-expressed here by translating the parsed Catalyst expression into the
  * engine's typed predicate ADT and evaluating with the sound three-valued
  * compiled evaluator of [[graft.predicates.FileIndex]] (a partition value
  * is a point interval, so True/False are exact; each distinct value is
  * decided once). Hints that don't fit the supported shape are
  * DROPPED whole — server filtering is best-effort and clients must
  * re-filter (`PROTOCOL.md:2128-2158`), so dropping can only over-return.
  */
object PartitionHintPruner {

  def prune(
      hints: Seq[String],
      partitionSchema: StructType,
      files: Seq[AddFile]): Seq[AddFile] =
    FileSkippingEvaluator.filterFiles(op(hints, partitionSchema),
      partitionSchema.map(_.name), files)

  /** The hints as one op (their conjunction), or None when none applies. */
  def op(hints: Seq[String], partitionSchema: StructType): Option[BaseOp] =
    if (partitionSchema.isEmpty) None
    else hints.flatMap(translate(_, partitionSchema)) match {
      case Seq() => None
      case Seq(one) => Some(one)
      case ops => Some(AndOp(ops))
    }

  /** One hint string → predicate op, or None when unsupported. */
  def translate(hint: String, partitionSchema: StructType): Option[BaseOp] =
    try {
      val parsed = CatalystSqlParser.parseExpression(hint)
      val op = toOp(parsed, partitionSchema).map(_._1)
      op.foreach(_.validate())
      op
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Returns (op, complete). `And` may keep one translatable conjunct
    * (filtering by a conjunct is a superset — safe), but ONLY in positive
    * polarity: an incomplete subtree under `Not`/`Or` would break the
    * superset guarantee (¬(a∧b) ⊉ ¬a), so those require complete children
    * — the same conservative rule as the reference pruners
    * (`JsonPredicatePruner.scala:75-140`).
    */
  private def toOp(e: Expression, ps: StructType): Option[(BaseOp, Boolean)] = e match {
    case EqualTo(l, r)            => comparison(l, r, ps)(EqualOp(_))
    case LessThan(l, r)           => comparison(l, r, ps)(LessThanOp(_))
    case LessThanOrEqual(l, r)    => comparison(l, r, ps)(LessThanOrEqualOp(_))
    case GreaterThan(l, r)        => comparison(l, r, ps)(GreaterThanOp(_))
    case GreaterThanOrEqual(l, r) => comparison(l, r, ps)(GreaterThanOrEqualOp(_))
    case IsNull(c)    => column(c, ps).map(col => (IsNullOp(Seq(col)), true))
    case IsNotNull(c) => column(c, ps).map(col => (NotOp(Seq(IsNullOp(Seq(col)))), true))
    case Not(child) =>
      toOp(child, ps).collect { case (op, true) => (NotOp(Seq(op)), true) }
    case And(l, r) =>
      (toOp(l, ps), toOp(r, ps)) match {
        case (Some((a, ca)), Some((b, cb))) => Some((AndOp(Seq(a, b)), ca && cb))
        case (a, b)                         => a.orElse(b).map { case (op, _) => (op, false) }
      }
    case Or(l, r) =>
      for ((a, true) <- toOp(l, ps); (b, true) <- toOp(r, ps))
        yield (OrOp(Seq(a, b)), true)
    case _ => None
  }

  private def comparison(l: Expression, r: Expression, ps: StructType)(
      make: Seq[BaseOp] => BaseOp): Option[(BaseOp, Boolean)] = (l, r) match {
    case (c, v) if column(c, ps).isDefined && literal(v).isDefined =>
      val col = column(c, ps).get
      Some((make(Seq(col, LiteralOp(literal(v).get, col.valueType))), true))
    case (v, c) if column(c, ps).isDefined && literal(v).isDefined =>
      val col = column(c, ps).get
      Some((make(Seq(LiteralOp(literal(v).get, col.valueType), col)), true))
    case _ => None
  }

  /** Partition column reference (possibly wrapped in a NO-OP cast).
    * Only a cast back to the column's own type is transparent: unwrapping
    * a type-CHANGING cast would evaluate the comparison under the wrong
    * type's ordering — `CAST(p AS STRING) < '2'` is TRUE for p=10 under
    * the string order the client's re-filter applies, but unwrapping to
    * `p < 2` evaluates FALSE and SKIPS the matching file (fuzzer
    * finding, HintPrunerFuzzSpec). Type-changing casts are unsupported:
    * the hint is dropped, which can only over-return.
    */
  private def column(e: Expression, ps: StructType): Option[ColumnOp] = e match {
    case UA(nameParts) if nameParts.size == 1 =>
      ps.find(_.name.equalsIgnoreCase(nameParts.head))
        .flatMap(f => StatsCodec.typeName(f.dataType).map(t => ColumnOp(f.name, t)))
    case Cast(child, dt, _, _) =>
      column(child, ps).filter(c => ps.exists(f => f.name == c.name && f.dataType == dt))
    case _ => None
  }

  /** Literal rendered to the protocol's string encoding. */
  private def literal(e: Expression): Option[String] = e match {
    case Literal(null, _) => None
    case Literal(v, StringType) => Some(v.toString)
    case Literal(v, ByteType | ShortType | IntegerType | LongType |
                    FloatType | DoubleType | BooleanType) => Some(v.toString)
    case Literal(v: Decimal, _: DecimalType) => Some(v.toString)
    case Literal(days: Int, DateType) =>
      Some(java.time.LocalDate.ofEpochDay(days.toLong).toString)
    case Literal(micros: Long, TimestampType) =>
      StatsCodec.encode(java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS))
    // a cast over a literal is FOLDED (evaluated), not unwrapped: the
    // unwrapped child can decode to a different value than the cast
    // produces (e.g. CAST(300 AS TINYINT) wraps; the raw "300" does not),
    // and comparing against the wrong value can skip a matching file.
    // Eval failures (ANSI overflow, bad formats) throw into translate's
    // catch → the hint is dropped, which can only over-return.
    case c: Cast if c.resolved && c.foldable =>
      Option(c.eval(null)).flatMap(v => literal(Literal(v, c.dataType)))
    case _ => None
  }
}
