package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types._

import graft.model.{AddFile, StatsCodec}
import graft.predicates.FileSkippingEvaluator
import graft.server.PartitionHintPruner

/** Randomized differential fuzzer for the SQL-hint partition pruner
  * (round-13 verdict task #6) — the twin of [[PredicateFuzzSpec]] for the
  * `predicateHints` front door (SparkSqlParser → supported-shape
  * translation → three-valued partition eval; reference
  * `server/.../PartitionFilterUtils.scala:37-141`).
  *
  * Hints are generated as a typed AST first, rendered to SQL text (with
  * randomized column-name case, literal spellings, parenthesization, and
  * flipped operand order), and ground-truthed by evaluating the AST
  * directly under SQL three-valued logic over the file's partition
  * values. UNSUPPORTED leaves (arithmetic, IN, functions, unknown
  * columns, col-col compares, NULL literals, type-changing casts) are
  * free three-valued variables: the pruner cannot evaluate them, so any
  * skip it performs must be justified under EVERY interpretation — a
  * file that matches under SOME assignment must survive.
  *
  * The superset property is the protocol's contract: server filtering is
  * best-effort and clients re-filter, so over-returning is legal but a
  * skipped matching file is silent data loss (`PROTOCOL.md:2128-2158`).
  *
  * `prune` runs the compiled evaluator over a file index; every case also
  * runs the same translated op file by file through the per-file
  * [[FileSkippingEvaluator]], and the two must keep the same files (no
  * generated partition value fails to decode).
  */
class HintPrunerFuzzSpec extends AnyFunSuite {

  private def forAllN[A](n: Int, ga: Gen[A])(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(ga.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  // ------------------------------------------------- partition columns
  private case class PCol(name: String, dt: DataType, tpe: String, pool: Seq[Any])
  private val cols = Seq(
    // numeric-looking strings on purpose: they trip any translation that
    // compares under the wrong type's ordering. No "" in the pool: the
    // wire format encodes null partition values as "", so an empty
    // string is indistinguishable from null on the engine side.
    PCol("p", LongType, "long", Seq(-3L, 0L, 2L, 10L)),
    PCol("s", StringType, "string", Seq("a", "ab", "10", "2", "z")),
    PCol("dt", DateType, "date", Seq(
      java.time.LocalDate.parse("2026-01-01"),
      java.time.LocalDate.parse("2026-02-15"),
      java.time.LocalDate.parse("2026-12-31"))),
    PCol("b", BooleanType, "bool", Seq(true, false)),
    PCol("d", DoubleType, "double", Seq(-2.5, 0.0, 2.25)))
  private val schema = StructType(cols.map(c => StructField(c.name, c.dt)))

  /** One literal, possibly spelled several ways in SQL. */
  private def spellings(c: PCol, v: Any): Seq[String] = (c.tpe, v) match {
    case ("long", l: Long)      => Seq(l.toString, s"CAST($l AS BIGINT)")
    case ("string", s: String)  => Seq(s"'$s'")
    case ("date", d: java.time.LocalDate) => Seq(s"DATE '$d'", s"'$d'")
    case ("bool", b: Boolean)   => Seq(b.toString, b.toString.toUpperCase)
    case ("double", d: Double)  => Seq(d.toString, s"CAST($d AS DOUBLE)")
    case other                  => sys.error(other.toString)
  }

  // ------------------------------------------------------ hint AST
  private sealed trait H
  private case class HCmp(op: String, c: PCol, v: Any, spell: Int,
      flip: Boolean, caseFlip: Boolean) extends H
  private case class HNull(c: PCol, negated: Boolean) extends H
  private case class HNot(h: H) extends H
  private case class HAnd(l: H, r: H) extends H
  private case class HOr(l: H, r: H) extends H
  /** Free three-valued variable: SQL the pruner must not claim to
    * understand. `id` indexes the assignment vector.
    */
  private case class HFree(sql: String, id: Int) extends H

  private val OPS = Seq("=", "<", "<=", ">", ">=")
  private def mirror(op: String): String = op match {
    case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
    case o => o
  }

  private val genCmp: Gen[H] = for {
    c <- Gen.oneOf(cols)
    v <- Gen.oneOf(c.pool)
    op <- Gen.oneOf(OPS)
    spell <- Gen.choose(0, 1)
    flip <- Gen.prob(0.3)
    caseFlip <- Gen.prob(0.3)
  } yield HCmp(op, c, v, spell, flip, caseFlip)

  private val genNull: Gen[H] = for {
    c <- Gen.oneOf(cols); neg <- Gen.prob(0.5)
  } yield HNull(c, neg)

  // shapes the translator must DROP (each would need engine semantics
  // the pruner does not model); includes type-CHANGING casts over a
  // partition column — comparing under the wrong type's ordering is the
  // classic over-prune (CAST(p AS STRING) < '2' is TRUE for p=10)
  private def genFree(id: Int): Gen[H] = Gen.oneOf(
    s"p + 1 > 0", s"p IN (0, 2)", s"length(s) > 1", s"nope = 5",
    s"p = d", s"s = NULL", s"CAST(p AS STRING) < '2'",
    s"CAST(s AS INT) = 2", s"substr(s, 1, 1) = 'a'",
    s"CAST(dt AS STRING) >= '2026-02-01'").map(HFree(_, id))

  private def genTree(depth: Int, freeBudget: Int): Gen[H] = {
    val leaf = Gen.frequency(
      6 -> genCmp, 2 -> genNull,
      (if (freeBudget > 0) 2 else 0) -> genFree(freeBudget - 1))
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      2 -> (for {
        l <- genTree(depth - 1, freeBudget)
        r <- genTree(depth - 1, if (hasFree(l)) 0 else freeBudget)
      } yield HAnd(l, r)),
      2 -> (for {
        l <- genTree(depth - 1, freeBudget)
        r <- genTree(depth - 1, if (hasFree(l)) 0 else freeBudget)
      } yield HOr(l, r)),
      1 -> genTree(depth - 1, freeBudget).map(HNot(_)))
  }
  private def hasFree(h: H): Boolean = h match {
    case HFree(_, _) => true
    case HNot(c) => hasFree(c)
    case HAnd(l, r) => hasFree(l) || hasFree(r)
    case HOr(l, r) => hasFree(l) || hasFree(r)
    case _ => false
  }
  private def freeIds(h: H): Set[Int] = h match {
    case HFree(_, id) => Set(id)
    case HNot(c) => freeIds(c)
    case HAnd(l, r) => freeIds(l) ++ freeIds(r)
    case HOr(l, r) => freeIds(l) ++ freeIds(r)
    case _ => Set.empty
  }

  // --------------------------------------------------------- rendering
  private def render(h: H): String = h match {
    case HCmp(op, c, v, spell, flip, caseFlip) =>
      val name = if (caseFlip) c.name.toUpperCase else c.name
      val lit = spellings(c, v)(spell min (spellings(c, v).size - 1))
      if (flip) s"$lit ${mirror(op)} $name" else s"$name $op $lit"
    case HNull(c, false) => s"${c.name} IS NULL"
    case HNull(c, true)  => s"${c.name} IS NOT NULL"
    case HNot(c)    => s"NOT (${render(c)})"
    case HAnd(l, r) => s"(${render(l)}) AND (${render(r)})"
    case HOr(l, r)  => s"(${render(l)}) OR (${render(r)})"
    case HFree(sql, _) => sql
  }

  // ------------------------------------------------ SQL-3VL ground truth
  private type PV = Map[String, Option[Any]]
  private def eval3(h: H, pv: PV, free: Map[Int, Option[Boolean]]): Option[Boolean] =
    h match {
      case HCmp(op, c, v, _, _, _) =>
        pv(c.name).map { x =>
          val sign = StatsCodec.compare(x, v, c.tpe)
          op match {
            case "=" => sign == 0
            case "<" => sign < 0
            case "<=" => sign <= 0
            case ">" => sign > 0
            case ">=" => sign >= 0
          }
        }
      case HNull(c, neg) => Some(pv(c.name).isEmpty != neg)
      case HNot(c) => eval3(c, pv, free).map(!_)
      case HAnd(l, r) =>
        (eval3(l, pv, free), eval3(r, pv, free)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case HOr(l, r) =>
        (eval3(l, pv, free), eval3(r, pv, free)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case HFree(_, id) => free(id)
    }

  // --------------------------------------------------------- files
  private val genPV: Gen[PV] = Gen.sequence[List[(String, Option[Any])], (String, Option[Any])](
    cols.toList.map(c => Gen.frequency(
      1 -> Gen.const(c.name -> (None: Option[Any])),
      4 -> Gen.oneOf(c.pool).map(v => c.name -> (Some(v): Option[Any]))))
  ).map(_.toMap)

  private def fileOf(pv: PV, i: Int): AddFile = AddFile(
    path = s"f$i.parquet",
    partitionValues = cols.map(c =>
      c.name -> pv(c.name).flatMap(StatsCodec.encode).getOrElse("")).toMap,
    stats = None)

  /** The per-file reference: the translated hints, file by file. */
  private def oracleKept(hints: Seq[String], files: Seq[AddFile]): Set[String] =
    PartitionHintPruner.op(hints, schema) match {
      case None => files.map(_.path).toSet
      case Some(op) =>
        val eval = new FileSkippingEvaluator(schema.map(_.name).toSet)
        files.filterNot(eval.canSkip(op, _)).map(_.path).toSet
    }

  private val outcomes = Seq(Some(true), Some(false), None)
  private def assignments(ids: Set[Int]): Seq[Map[Int, Option[Boolean]]] =
    ids.toSeq.sorted.foldLeft(Seq(Map.empty[Int, Option[Boolean]])) {
      (acc, id) => for (m <- acc; o <- outcomes) yield m + (id -> o)
    }

  // ------------------------------------------------------------ the fuzz
  test("fuzz: pruned listing is a superset of every possible matching " +
    "file, for 1-3 hints over mixed-type partitions (4000 cases)") {
    val gen = for {
      nHints <- Gen.choose(1, 3)
      hints <- Gen.listOfN(nHints, genTree(3, freeBudget = 2))
      pvs <- Gen.listOfN(20, genPV)
    } yield (hints, pvs)
    var prunedSomething = 0
    forAllN(4000, gen) { case (hints, pvs) =>
      val files = pvs.zipWithIndex.map { case (pv, i) => fileOf(pv, i) }
      val rendered = hints.map(render)
      val kept = PartitionHintPruner.prune(rendered, schema, files)
        .map(_.path).toSet
      assert(kept === oracleKept(rendered, files), rendered.mkString(" ||| "))
      if (kept.size < files.size) prunedSomething += 1
      pvs.zipWithIndex.foreach { case (pv, i) =>
        // the file COULD match iff every hint evaluates TRUE under some
        // assignment of that hint's free leaves (assignments are
        // per-hint independent: the pruner ANDs hints, and each free
        // leaf appears in one hint)
        val couldMatch = hints.forall { h =>
          assignments(freeIds(h)).exists(a => eval3(h, pv, a) == Some(true))
        }
        if (couldMatch)
          assert(kept.contains(s"f$i.parquet"),
            s"""pruner skipped a matching file:
               |hints   = ${rendered.mkString(" ||| ")}
               |pv      = $pv""".stripMargin)
      }
    }
    // anti-vacuity: the generator must actually exercise pruning
    assert(prunedSomething > 1000, s"only $prunedSomething cases pruned")
  }

  test("fuzz: fully-supported single hints prune EXACTLY (no over-return " +
    "on definite-FALSE files) (2000 cases)") {
    // over-returning is protocol-legal, but a pruner that never prunes
    // passes the superset property vacuously — for trees made solely of
    // supported shapes the three-valued partition eval is exact, so a
    // definite FALSE must be pruned
    val gen = for {
      hint <- genTree(3, freeBudget = 0)
      pvs <- Gen.listOfN(20, genPV)
    } yield (hint, pvs)
    forAllN(2000, gen) { case (hint, pvs) =>
      val files = pvs.zipWithIndex.map { case (pv, i) => fileOf(pv, i) }
      val kept = PartitionHintPruner.prune(Seq(render(hint)), schema, files)
        .map(_.path).toSet
      assert(kept === oracleKept(Seq(render(hint)), files), render(hint))
      pvs.zipWithIndex.foreach { case (pv, i) =>
        eval3(hint, pv, Map.empty) match {
          case Some(true) => assert(kept.contains(s"f$i.parquet"),
            s"skipped a matching file: ${render(hint)} pv=$pv")
          case Some(false) => assert(!kept.contains(s"f$i.parquet"),
            s"kept a definite-FALSE file: ${render(hint)} pv=$pv")
          case None => // NULL verdict: keep-or-prune both defensible
        }
      }
    }
  }

  test("fuzz: malformed and unsupported hint strings never throw and " +
    "never prune (1500 cases)") {
    val genBad: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.oneOf(Seq("p >", "((p = 1)", "SELECT * FROM t", "p == == 2",
        "AND p = 1", "p = 'unterminated", "DROP TABLE t", ";", "",
        "p BETWEEN 1", "CAST(p AS NOSUCHTYPE) = 1", "p = 1e99999",
        "rand() > 0.5", "p = (SELECT 1)")),
      genFree(1).map(h => render(h)))
    val gen = for {
      bad <- Gen.listOfN(3, genBad)
      pvs <- Gen.listOfN(10, genPV)
    } yield (bad, pvs)
    forAllN(1500, gen) { case (bad, pvs) =>
      val files = pvs.zipWithIndex.map { case (pv, i) => fileOf(pv, i) }
      val kept = PartitionHintPruner.prune(bad.filter(_.nonEmpty), schema, files)
      assert(kept.map(_.path).toSet === oracleKept(bad.filter(_.nonEmpty), files))
      // every hint is either untranslatable (dropped whole → no pruning)
      // or a free-variable shape (must keep all: any file could match)
      assert(kept.size == files.size,
        s"unsupported hints pruned: ${bad.mkString(" ||| ")}")
    }
  }
}
