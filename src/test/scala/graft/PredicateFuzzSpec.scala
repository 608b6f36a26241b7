package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{AddFile, FileStats, StatsCodec}
import graft.predicates._

/** Randomized DIFFERENTIAL fuzzer for the file-skipping core (round-12
  * verdict task #8) — the one place a silent bug loses data at 100 TB.
  *
  * Ground truth is SQL three-valued logic evaluated row by row
  * (`eval3`): a row MATCHES iff the tree evaluates to TRUE (not NULL) —
  * exactly what the engine's post-scan re-filter returns. The evaluator
  * under test must never skip a file containing a matching row
  * (soundness), and its definite verdicts must be exact
  * (EvalTrue ⇒ every row matches; EvalFalse ⇒ none does).
  *
  * Surfaces the depth-3 two-long-column property suite could not reach:
  * mixed types (long/string/double/bool/date) with boundary-heavy value
  * pools, a partition column resolved through partitionValues (the
  * point-interval path), randomly MISSING stats entries (min/max/
  * nullCount dropped per column), 100-deep linear chains, and HOSTILE
  * leaves (type-mismatched literals, unparseable values, unknown
  * columns, col-col compares) checked against every three-valued
  * interpretation of the hostile subtrees.
  *
  * Every case also runs the compiled evaluator of [[FileIndex]]: where
  * no value fails to decode it keeps exactly the files the per-file
  * evaluator keeps; where one does (the hostile leaves) it keeps a
  * subset of them (no per-evaluator error cutoff), and every soundness
  * check holds for both.
  */
class PredicateFuzzSpec extends AnyFunSuite {

  private def forAllN[A, B](n: Int, ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until n).foreach { i =>
      val a = ga.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val b = gb.pureApply(Gen.Parameters.default, Seed(i.toLong + 7000000))
      f(a, b)
    }

  // ------------------------------------------------- typed column model
  private case class Col(name: String, tpe: String, pool: Seq[Any])
  private val columns = Seq(
    Col("la", "long", Seq(-3L, -1L, 0L, 1L, 3L)),
    Col("lb", "long", Seq(-2L, 0L, 2L)),
    Col("s", "string", Seq("", "a", "ab", "b", "z")),
    Col("d", "double", Seq(-2.5, -1.0, 0.0, 0.5, 2.25)),
    Col("bo", "bool", Seq(true, false)),
    Col("dt", "date", Seq(java.time.LocalDate.parse("2026-01-01"),
      java.time.LocalDate.parse("2026-02-15"),
      java.time.LocalDate.parse("2026-12-31"))))
  private val PART = Col("p", "long", Seq(-1L, 0L, 2L))
  private val byName = (columns :+ PART).map(c => c.name -> c).toMap

  private type Row = Map[String, Option[Any]]

  private val genRow: Gen[Row] = Gen.sequence[List[(String, Option[Any])], (String, Option[Any])](
    columns.toList.map(c => Gen.frequency(
      1 -> Gen.const(c.name -> (None: Option[Any])),
      3 -> Gen.oneOf(c.pool).map(v => c.name -> (Some(v): Option[Any]))))
  ).map(_.toMap)

  /** Partition value for the whole file: Some(v) or null (encoded ""). */
  private val genPart: Gen[Option[Any]] = Gen.frequency(
    1 -> Gen.const(None), 3 -> Gen.oneOf(PART.pool).map(Some(_)))

  // ------------------------------------------------------ tree generators
  private val genWellTypedLeaf: Gen[BaseOp] = for {
    c <- Gen.oneOf(columns :+ PART)
    v <- Gen.oneOf(c.pool)
    flip <- Gen.prob(0.25)
    mk <- Gen.oneOf[Seq[BaseOp] => BaseOp](
      EqualOp(_), LessThanOp(_), LessThanOrEqualOp(_),
      GreaterThanOp(_), GreaterThanOrEqualOp(_))
    isNull <- Gen.prob(0.15)
  } yield {
    if (isNull) IsNullOp(Seq(ColumnOp(c.name, c.tpe)))
    else {
      val lit = LiteralOp(StatsCodec.encode(v).get, c.tpe)
      val col = ColumnOp(c.name, c.tpe)
      if (flip) mk(Seq(lit, col)) else mk(Seq(col, lit))
    }
  }

  private def genTree(depth: Int, leaf: Gen[BaseOp]): Gen[BaseOp] =
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      2 -> Gen.choose(2, 3).flatMap(n =>
        Gen.listOfN(n, genTree(depth - 1, leaf)).map(AndOp(_))),
      2 -> Gen.choose(2, 3).flatMap(n =>
        Gen.listOfN(n, genTree(depth - 1, leaf)).map(OrOp(_))),
      2 -> genTree(depth - 1, leaf).map(t => NotOp(Seq(t))))

  /** A 100-deep LINEAR chain: alternating And/Or/Not spine, one leaf per
    * level — exercises recursion depth without exponential width.
    */
  private val genDeepChain: Gen[BaseOp] = for {
    leaves <- Gen.listOfN(100, genWellTypedLeaf)
    shapes <- Gen.listOfN(100, Gen.choose(0, 2))
  } yield leaves.zip(shapes).foldLeft(leaves.head) {
    case (acc, (l, 0)) => AndOp(Seq(l, acc))
    case (acc, (l, 1)) => OrOp(Seq(l, acc))
    case (acc, (_, _)) => NotOp(Seq(acc))
  }

  // hostile leaves: each evaluates to Unknown (or errors) in the engine;
  // ground truth treats them as free three-valued variables
  private val genHostileLeaf: Gen[BaseOp] = Gen.oneOf(
    // literal unparseable for its claimed type
    Gen.const(EqualOp(Seq(ColumnOp("la", "long"), LiteralOp("zz", "long")))),
    // column/literal type mismatch (compare casts blow up)
    Gen.const(LessThanOp(Seq(ColumnOp("s", "string"), LiteralOp("5", "long")))),
    // unknown column (no stats entry)
    Gen.const(GreaterThanOp(Seq(ColumnOp("nope", "long"), LiteralOp("0", "long")))),
    // col-col compare (explicitly Unknown in the evaluator)
    Gen.const(EqualOp(Seq(ColumnOp("la", "long"), ColumnOp("lb", "long")))))

  // ------------------------------------------------ SQL-3VL ground truth
  /** Kleene three-valued row evaluation; `hostile` assigns an outcome to
    * each hostile leaf by identity index in `hostileLeaves`.
    */
  private def eval3(op: BaseOp, row: Row, pv: Option[Any],
      hostile: Map[Int, Option[Boolean]] = Map.empty,
      hostileIdx: collection.Map[BaseOp, Int] = Map.empty): Option[Boolean] = {
    def rec(op: BaseOp): Option[Boolean] = op match {
      case h if hostileIdx.contains(h) => hostile(hostileIdx(h))
      case AndOp(cs) =>
        val vs = cs.map(rec)
        if (vs.contains(Some(false))) Some(false)
        else if (vs.forall(_ == Some(true))) Some(true)
        else None
      case OrOp(cs) =>
        val vs = cs.map(rec)
        if (vs.contains(Some(true))) Some(true)
        else if (vs.forall(_ == Some(false))) Some(false)
        else None
      case NotOp(Seq(c)) => rec(c).map(!_)
      case IsNullOp(Seq(ColumnOp(n, _))) => Some(valueOf(n).isEmpty)
      case EqualOp(Seq(l, r))              => cmp3(l, r)(_ == 0)
      case LessThanOp(Seq(l, r))           => cmp3(l, r)(_ < 0)
      case LessThanOrEqualOp(Seq(l, r))    => cmp3(l, r)(_ <= 0)
      case GreaterThanOp(Seq(l, r))        => cmp3(l, r)(_ > 0)
      case GreaterThanOrEqualOp(Seq(l, r)) => cmp3(l, r)(_ >= 0)
      case other => throw new IllegalArgumentException(other.toString)
    }
    def valueOf(n: String): Option[Any] = if (n == PART.name) pv else row(n)
    def cmp3(l: BaseOp, r: BaseOp)(sign: Int => Boolean): Option[Boolean] = (l, r) match {
      case (ColumnOp(n, t), LiteralOp(v, vt)) =>
        valueOf(n).map(x => sign(StatsCodec.compare(x, StatsCodec.decode(v, vt), t)))
      case (LiteralOp(v, vt), ColumnOp(n, t)) =>
        valueOf(n).map(x => sign(StatsCodec.compare(StatsCodec.decode(v, vt), x, t)))
      case _ => throw new IllegalArgumentException(s"$l vs $r")
    }
    rec(op)
  }

  // --------------------------------------------------------- file builder
  /** Build the AddFile from rows with randomly MASKED stats entries —
    * dropping min/max/nullCount never changes which rows match, only how
    * much the evaluator is allowed to skip.
    */
  private def fileFromRows(rows: Seq[Row], pv: Option[Any], maskSeed: Long): AddFile = {
    val rnd = new scala.util.Random(maskSeed)
    val minV = Map.newBuilder[String, String]
    val maxV = Map.newBuilder[String, String]
    val nulls = Map.newBuilder[String, Long]
    columns.foreach { c =>
      val vs = rows.flatMap(_(c.name))
      val keepMin = rnd.nextInt(4) > 0
      val keepMax = rnd.nextInt(4) > 0
      val keepNull = rnd.nextInt(4) > 0
      if (vs.nonEmpty) {
        val sorted = vs.sortWith((a, b) => StatsCodec.compare(a, b, c.tpe) < 0)
        if (keepMin) minV += c.name -> StatsCodec.encode(sorted.head).get
        if (keepMax) maxV += c.name -> StatsCodec.encode(sorted.last).get
      }
      if (keepNull) nulls += c.name -> rows.count(_(c.name).isEmpty).toLong
    }
    AddFile(
      path = "f.parquet",
      partitionValues = Map(PART.name -> pv.flatMap(StatsCodec.encode).getOrElse("")),
      stats = Some(FileStats(
        numRecords = rows.size.toLong,
        minValues = minV.result(),
        maxValues = maxV.result(),
        nullCount = nulls.result())))
  }

  private def newEval = new FileSkippingEvaluator(Set(PART.name))

  /** Whether the compiled evaluator keeps `file` under `tree`. */
  private def compiledKeeps(tree: BaseOp, file: AddFile): Boolean =
    FileIndex.of(Seq(file)).keep(tree, Set(PART.name))(0)

  /** The compiled evaluator keeps what the per-file one keeps, for the
    * tree and for its negation (so the two agree on every verdict).
    */
  private def assertSameVerdict(tree: BaseOp, file: AddFile): Unit =
    for (t <- Seq(tree, NotOp(Seq(tree))))
      assert(compiledKeeps(t, file) === !newEval.canSkip(t, file), s"verdicts differ: $t")

  // ----------------------------------------------------------- the fuzz
  test("fuzz: mixed-type trees with masked stats never skip a matching file (3000 cases)") {
    val gen = for {
      t <- genTree(5, genWellTypedLeaf)
      rows <- Gen.nonEmptyListOf(genRow)
      pv <- genPart
    } yield (t, rows, pv)
    forAllN(3000, gen, Gen.choose(0L, Long.MaxValue)) { case ((tree, rows, pv), maskSeed) =>
      val file = fileFromRows(rows, pv, maskSeed)
      val anyMatch = rows.exists(r => eval3(tree, r, pv) == Some(true))
      if (anyMatch)
        assert(!newEval.canSkip(tree, file),
          s"skipped a matching file: $tree rows=$rows pv=$pv mask=$maskSeed")
      assertSameVerdict(tree, file)
    }
  }

  test("fuzz: definite verdicts are dual no-counterexample claims (3000 cases)") {
    // Fuzzer finding, kept as the pinned spec: with NULLs in play the
    // algebra's EvalTrue does NOT mean "every row evaluates true" —
    // Not(lb > 2) over a file with max(lb)=2 and null lb rows is
    // EvalTrue, yet null rows evaluate to NULL. The verdicts are DUAL
    // NO-COUNTEREXAMPLE claims under SQL 3VL:
    //   EvalFalse ⇒ no row evaluates TRUE   (the skip licence)
    //   EvalTrue  ⇒ no row evaluates FALSE  (what makes Not's flip
    //               EvalTrue→EvalFalse sound: Not(x)=TRUE needs x=FALSE)
    // This duality — not an "all rows match" reading — is the invariant
    // negation preserves, and the reason canSkip stays sound under
    // arbitrary Not nesting.
    val gen = for {
      t <- genTree(5, genWellTypedLeaf)
      rows <- Gen.nonEmptyListOf(genRow)
      pv <- genPart
    } yield (t, rows, pv)
    forAllN(3000, gen, Gen.choose(0L, Long.MaxValue)) { case ((tree, rows, pv), maskSeed) =>
      val file = fileFromRows(rows, pv, maskSeed)
      assertSameVerdict(tree, file)
      newEval.evalOp(tree, file) match {
        case EvalTrue =>
          assert(!rows.exists(r => eval3(tree, r, pv) == Some(false)),
            s"EvalTrue but a row evaluates FALSE: $tree rows=$rows pv=$pv")
        case EvalFalse =>
          assert(!rows.exists(r => eval3(tree, r, pv) == Some(true)),
            s"EvalFalse but a row evaluates TRUE: $tree rows=$rows pv=$pv")
        case EvalUnknown => // no claim
      }
    }
  }

  test("fuzz: 100-deep chains evaluate without overflow and stay sound (300 cases)") {
    val gen = for {
      t <- genDeepChain
      rows <- Gen.nonEmptyListOf(genRow)
      pv <- genPart
    } yield (t, rows, pv)
    forAllN(300, gen, Gen.choose(0L, Long.MaxValue)) { case ((tree, rows, pv), maskSeed) =>
      val file = fileFromRows(rows, pv, maskSeed)
      val anyMatch = rows.exists(r => eval3(tree, r, pv) == Some(true))
      if (anyMatch) assert(!newEval.canSkip(tree, file), s"deep chain skipped a match")
      assertSameVerdict(tree, file)
    }
  }

  test("fuzz: hostile leaves never cause a skip under ANY interpretation (1000 cases)") {
    // inject up to 2 hostile leaves into a well-typed tree, then check
    // soundness against every 3-valued assignment of those subtrees —
    // an engine that resolved them any possible way must still find its
    // matching rows in unskipped files
    val gen = for {
      t <- genTree(4, Gen.frequency(4 -> genWellTypedLeaf, 1 -> genHostileLeaf))
      rows <- Gen.nonEmptyListOf(genRow)
      pv <- genPart
    } yield (t, rows, pv)
    val outcomes = Seq(Some(true), Some(false), None)
    forAllN(1000, gen, Gen.choose(0L, Long.MaxValue)) { case ((tree, rows, pv), maskSeed) =>
      val file = fileFromRows(rows, pv, maskSeed)
      // collect hostile leaves by identity (cap 2: replace extras with a
      // fixed well-typed leaf to keep the interpretation space bounded)
      val hostiles = collection.mutable.LinkedHashMap.empty[BaseOp, Int]
      def mark(op: BaseOp): Unit = op match {
        case AndOp(cs) => cs.foreach(mark)
        case OrOp(cs) => cs.foreach(mark)
        case NotOp(cs) => cs.foreach(mark)
        case l @ EqualOp(Seq(ColumnOp(_, _), ColumnOp(_, _))) =>
          hostiles.getOrElseUpdate(l, hostiles.size)
        case l @ EqualOp(Seq(ColumnOp("la", _), LiteralOp("zz", _))) =>
          hostiles.getOrElseUpdate(l, hostiles.size)
        case l @ LessThanOp(Seq(ColumnOp("s", _), LiteralOp(_, "long"))) =>
          hostiles.getOrElseUpdate(l, hostiles.size)
        case l @ GreaterThanOp(Seq(ColumnOp("nope", _), _)) =>
          hostiles.getOrElseUpdate(l, hostiles.size)
        case _ => ()
      }
      mark(tree)
      val h = hostiles.size.min(2)
      val idx = hostiles.take(2).toMap
      // every assignment of the (≤2) hostile slots
      val assigns: Seq[Map[Int, Option[Boolean]]] =
        if (h == 0) Seq(Map.empty)
        else if (h == 1) outcomes.map(o => Map(0 -> o))
        else for (a <- outcomes; b <- outcomes) yield Map(0 -> a, 1 -> b)
      // >2 hostile leaves: the extras are unindexed, so ground truth
      // evaluates them concretely and may throw — Try skips those rare
      // cases while the totality check below still runs
      scala.util.Try(assigns.exists(asg =>
        rows.exists(r => eval3(tree, r, pv, asg, idx) == Some(true))))
        .foreach { anyMatch =>
          if (anyMatch) {
            assert(!newEval.canSkip(tree, file),
              s"hostile tree skipped a possible match: $tree")
            assert(compiledKeeps(tree, file),
              s"compiled: hostile tree skipped a possible match: $tree")
          }
        }
      // an unparseable literal or a literal of another type than its
      // column fails in the per-file evaluator; only those can differ
      def fails(op: BaseOp): Boolean = op match {
        case EqualOp(Seq(_, LiteralOp("zz", _))) => true
        case LessThanOp(Seq(ColumnOp("s", _), LiteralOp(_, "long"))) => true
        case other => other.children.exists(fails)
      }
      if (fails(tree)) {
        if (compiledKeeps(tree, file))
          assert(!newEval.canSkip(tree, file), s"compiled keeps more: $tree")
      } else assertSameVerdict(tree, file)
      // and the whole filterFiles path stays total
      FileSkippingEvaluator.filterFiles(Some(tree), Set(PART.name).toSeq, Seq(file))
    }
  }

  test("fuzz: the compiled evaluator over a 40-file index keeps what the " +
    "per-file evaluator keeps (500 cases)") {
    // one index over many files: partition dictionaries with several
    // values and shared stats arrays, walked position by position
    val gen = for {
      t <- genTree(4, genWellTypedLeaf)
      files <- Gen.listOfN(40, for {
        rows <- Gen.nonEmptyListOf(genRow)
        pv <- genPart
        seed <- Gen.choose(0L, Long.MaxValue)
      } yield (rows, pv, seed))
    } yield (t, files)
    forAllN(500, gen, Gen.const(())) { case ((tree, specs), _) =>
      val files = specs.zipWithIndex.map { case ((rows, pv, seed), i) =>
        fileFromRows(rows, pv, seed).copy(path = s"f$i.parquet")
      }
      val mask = FileIndex.of(files).keep(tree, Set(PART.name))
      val oracle = files.map(f => !newEval.canSkip(tree, f))
      assert(mask.toSeq === oracle, s"kept sets differ: $tree")
      assert(FileSkippingEvaluator.filterFiles(Some(tree), Seq(PART.name), files) ===
        files.zip(oracle).collect { case (f, true) => f })
    }
  }
}
