package graft.predicates

import java.time.{Instant, LocalDate}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.unsafe.types.UTF8String

import graft.model.{AddFile, StatsCodec}

/** The files of one table version, in replay order, with the columns a
  * predicate reads built once, on first use, and kept with the files:
  *
  *  - [[pathOrder]]: the positions in path order (the order `/query`
  *    serves);
  *  - per partition column, dictionary codes: each file's value is an
  *    index into the distinct values, so a partition leaf is decided once
  *    per distinct value;
  *  - per stats column a hint names (and per value type it names it
  *    with), the decoded min/max as typed arrays plus each file's null
  *    facts.
  *
  * A snapshot's `files` IS its index (this class is the `IndexedSeq`), so
  * the index is evicted with the snapshot and never copies the files.
  * [[keep]] compiles a hint against the index once and returns a keep-mask
  * over positions; each caller walks the mask in its own order. The
  * verdicts are those of the per-file [[FileSkippingEvaluator]] (sound
  * Kleene logic), except that a value that fails to decode makes only
  * that file's leaf Unknown: there is no per-evaluator error cutoff.
  */
final class FileIndex private (
    files: Array[AddFile], seedOrder: Array[Int]) extends IndexedSeq[AddFile] {
  import FileIndex._

  override def apply(i: Int): AddFile = files(i)
  override def length: Int = files.length

  /** Positions sorted by path (paths are unique within a snapshot). */
  lazy val pathOrder: Array[Int] =
    if (seedOrder != null) seedOrder
    else {
      val boxed = Array.tabulate[Integer](files.length)(Integer.valueOf)
      java.util.Arrays.sort(boxed, (a: Integer, b: Integer) =>
        files(a.intValue).path.compareTo(files(b.intValue).path))
      boxed.map(_.intValue)
    }

  /** Position of the file at `path`, or -1: binary search in path order. */
  private[graft] def positionOf(path: String): Int = {
    val order = pathOrder
    var lo = 0
    var hi = order.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = files(order(mid)).path.compareTo(path)
      if (c == 0) return order(mid)
      if (c < 0) lo = mid + 1 else hi = mid - 1
    }
    -1
  }

  private val partitions = new ConcurrentHashMap[String, Partition]()
  private val stats = new ConcurrentHashMap[(String, String), Bounds]()

  /** Dictionary-encoded partition column `key`; absent and "" are null. */
  private def partition(key: String): Partition =
    partitions.computeIfAbsent(key, _ => Partition.encode(files, key, null, null))

  /** Min/max of stats column `key` decoded as `tpe`, with null facts. */
  private def statsColumn(key: String, tpe: String): Bounds =
    stats.computeIfAbsent((key, tpe), _ => Bounds(tpe, files.length)(rawStats(key, _)))

  /** File `i`'s raw (min, max, null facts) of stats column `key`. */
  private def rawStats(key: String, i: Int): (String, String, Int) =
    files(i).stats match {
      case None => (null, null, 0)
      case Some(st) =>
        // jackson may leave the counts boxed as any Number
        val nc = st.nullCount.asInstanceOf[Map[String, Any]].get(key).map(asLong)
        (st.minValues.getOrElse(key, null), st.maxValues.getOrElse(key, null),
          (if (nc.contains(0L)) NO_NULLS else 0) |
            (if (nc.contains(st.numRecords)) ALL_NULLS else 0))
    }

  /** Keep-mask of `op` over positions: false exactly where the hint proves
    * no row of the file can match. `partitionColumns` and the hint speak
    * one set of names; `key` maps such a name to the key the files'
    * partition values and stats use (None: the files carry no such key).
    */
  def keep(op: BaseOp, partitionColumns: Set[String],
      key: String => Option[String] = Some(_)): Array[Boolean] = {
    val root = compile(op, partitionColumns, key)
    Array.tabulate(files.length)(i => root.eval(i) != FALSE)
  }

  /** The files `op` keeps, in replay order. */
  def filter(op: Option[BaseOp], partitionColumns: Seq[String]): IndexedSeq[AddFile] =
    op match {
      case None => this
      case Some(o) =>
        val mask = keep(o, partitionColumns.toSet)
        files.indices.filter(mask(_)).map(files(_))
    }

  /** An index over files derived from these: `fromBase(i)` is the position
    * here of `derived(i)`, or -1 for a file this index does not hold. The
    * derived path order merges this path order with the new files' sorted
    * paths (no full sort); every column already built here is copied for
    * the files kept and decoded for the new ones.
    */
  private[graft] def derive(derived: Array[AddFile], fromBase: Array[Int]): FileIndex = {
    val toDerived = Array.fill(files.length)(-1)
    fromBase.indices.foreach(i => if (fromBase(i) >= 0) toDerived(fromBase(i)) = i)
    val fresh = derived.indices.filter(fromBase(_) < 0).sortBy(derived(_).path).toArray
    val base = pathOrder
    val order = new Array[Int](derived.length)
    var a = 0
    var b = 0
    var o = 0
    while (o < order.length) {
      while (a < base.length && toDerived(base(a)) < 0) a += 1
      if (a < base.length && (b >= fresh.length ||
          files(base(a)).path.compareTo(derived(fresh(b)).path) < 0)) {
        order(o) = toDerived(base(a)); a += 1
      } else { order(o) = fresh(b); b += 1 }
      o += 1
    }
    val out = new FileIndex(derived, order)
    partitions.forEach((k, p) =>
      out.partitions.put(k, Partition.encode(derived, k, p, fromBase)))
    stats.forEach((kt, col) =>
      out.stats.put(kt, col.derive(fromBase, out.rawStats(kt._1, _))))
    out
  }

  // ----------------------------------------------------------- compile

  private def compile(op: BaseOp, pcols: Set[String],
      key: String => Option[String]): Node = op match {
    case AndOp(cs) => new And(cs.map(compile(_, pcols, key)).toArray)
    case OrOp(cs) => new Or(cs.map(compile(_, pcols, key)).toArray)
    case NotOp(Seq(c)) => new Not(compile(c, pcols, key))
    case IsNullOp(Seq(c: ColumnOp)) => leaf(c, pcols, key, IS_NULL, null)
    case EqualOp(Seq(l, r)) => comparison(l, r, pcols, key, EQ, EQ)
    case LessThanOp(Seq(l, r)) => comparison(l, r, pcols, key, LT, GT)
    case LessThanOrEqualOp(Seq(l, r)) => comparison(l, r, pcols, key, LE, GE)
    case GreaterThanOp(Seq(l, r)) => comparison(l, r, pcols, key, GT, LT)
    case GreaterThanOrEqualOp(Seq(l, r)) => comparison(l, r, pcols, key, GE, LE)
    case _ => Const(UNKNOWN)
  }

  private def comparison(l: BaseOp, r: BaseOp, pcols: Set[String],
      key: String => Option[String], direct: Int, flipped: Int): Node = (l, r) match {
    case (c: ColumnOp, lit: LiteralOp) => leaf(c, pcols, key, direct, lit)
    case (lit: LiteralOp, c: ColumnOp) => leaf(c, pcols, key, flipped, lit)
    case _ => Const(UNKNOWN)
  }

  /** One leaf (`lit` null for isNull): the literal is decoded once; a
    * partition leaf is decided once per distinct value, a stats leaf per
    * file over the decoded arrays.
    */
  private def leaf(c: ColumnOp, pcols: Set[String], key: String => Option[String],
      cmp: Int, lit: LiteralOp): Node = {
    val v: Any =
      if (lit == null) null
      else try {
        val d = StatsCodec.decode(lit.value, lit.valueType)
        // a literal of another type than its column decodes but cannot be
        // compared: the leaf reads Unknown wherever bounds exist
        if (lit.valueType == c.valueType) Bounds.key(c.valueType, d) else MISMATCH
      } catch { case scala.util.control.NonFatal(_) => return Const(UNKNOWN) }
    if (pcols.contains(c.name)) {
      val p = key(c.name).map(partition).getOrElse(Partition.allNull(files.length))
      val b = p.bounds(c.valueType)
      new PartitionLeaf(p.codes, Array.tabulate(p.values.length)(b.eval(_, cmp, v)))
    } else key(c.name) match {
      case Some(k) => new StatsLeaf(statsColumn(k, c.valueType), cmp, v)
      case None => Const(UNKNOWN) // no bounds and no null facts
    }
  }
}

object FileIndex {

  /** `files` as an index: the index itself when it already is one. */
  def of(files: Seq[AddFile]): FileIndex = files match {
    case ix: FileIndex => ix
    case _ => new FileIndex(files.toArray, null)
  }

  private[graft] def apply(files: Array[AddFile]): FileIndex = new FileIndex(files, null)

  // Kleene values
  private final val FALSE = 0
  private final val TRUE = 1
  private final val UNKNOWN = 2

  // leaf comparisons: column <cmp> literal
  private final val EQ = 0
  private final val LT = 1
  private final val LE = 2
  private final val GT = 3
  private final val GE = 4
  private final val IS_NULL = 5

  // per-file facts of one column
  private final val HAS_MIN = 1
  private final val HAS_MAX = 2
  private final val NO_NULLS = 4
  private final val ALL_NULLS = 8
  private final val FAILED = 16

  /** A literal of another type than its column. */
  private object MISMATCH

  private def asLong(x: Any): Long = x.asInstanceOf[Number].longValue()

  private sealed abstract class Node { def eval(i: Int): Int }

  private final case class Const(v: Int) extends Node { def eval(i: Int): Int = v }

  private final class And(cs: Array[Node]) extends Node {
    def eval(i: Int): Int = {
      var acc = TRUE
      var j = 0
      while (j < cs.length) {
        val r = cs(j).eval(i)
        if (r == FALSE) return FALSE
        if (r == UNKNOWN) acc = UNKNOWN
        j += 1
      }
      acc
    }
  }

  private final class Or(cs: Array[Node]) extends Node {
    def eval(i: Int): Int = {
      var acc = FALSE
      var j = 0
      while (j < cs.length) {
        val r = cs(j).eval(i)
        if (r == TRUE) return TRUE
        if (r == UNKNOWN) acc = UNKNOWN
        j += 1
      }
      acc
    }
  }

  private final class Not(c: Node) extends Node {
    def eval(i: Int): Int = c.eval(i) match {
      case TRUE => FALSE
      case FALSE => TRUE
      case _ => UNKNOWN
    }
  }

  private final class PartitionLeaf(codes: Array[Int], byValue: Array[Int]) extends Node {
    def eval(i: Int): Int = byValue(codes(i))
  }

  private final class StatsLeaf(b: Bounds, cmp: Int, v: Any) extends Node {
    def eval(i: Int): Int = b.eval(i, cmp, v)
  }

  /** Codes into `values`; code 0 is null. */
  private final class Partition(val codes: Array[Int], val values: Array[String]) {
    private val typed = new ConcurrentHashMap[String, Bounds]()

    /** The distinct values as point intervals of `tpe`. */
    def bounds(tpe: String): Bounds = typed.computeIfAbsent(tpe, _ =>
      Bounds(tpe, values.length) { j =>
        if (j == 0) (null, null, ALL_NULLS) else (values(j), values(j), NO_NULLS)
      })
  }

  private object Partition {
    def allNull(n: Int) = new Partition(new Array[Int](n), Array(null))

    /** Encode partition column `key` of `files`; with a `base`, the files
      * `fromBase` points into it keep their codes and the dictionary grows.
      */
    def encode(files: Array[AddFile], key: String,
        base: Partition, fromBase: Array[Int]): Partition = {
      val values = scala.collection.mutable.ArrayBuffer[String](null)
      val dict = new java.util.HashMap[String, Integer]()
      if (base != null) base.values.iterator.drop(1).foreach { v =>
        dict.put(v, values.size); values += v
      }
      val codes = Array.tabulate(files.length) { i =>
        if (base != null && fromBase(i) >= 0) base.codes(fromBase(i))
        else files(i).partitionValues.getOrElse(key, "") match {
          case "" => 0
          case v =>
            var c = dict.get(v)
            if (c == null) { c = values.size; dict.put(v, c); values += v }
            c.intValue
        }
      }
      new Partition(codes, values.toArray)
    }
  }

  /** Per-entry min/max of one column under one value type, plus facts. */
  private sealed abstract class Bounds(tpe: String, val facts: Array[Byte]) {
    /** Sign of min(i) − v (resp. max(i) − v). */
    def cmpMin(i: Int, v: Any): Int
    def cmpMax(i: Int, v: Any): Int
    def minEqMax(i: Int): Boolean
    protected def set(i: Int, lo: Any, hi: Any): Unit
    /** Entry `j` of `from` (the same class) into entry `i`. */
    protected def copy(from: Bounds, j: Int, i: Int): Unit
    protected def empty(n: Int): Bounds

    /** Decode entry `i` from its raw (min, max, null facts); a value that
      * fails to decode marks the entry FAILED.
      */
    final def fill(i: Int, raw: (String, String, Int)): Unit = {
      val (mn, mx, nulls) = raw
      try {
        set(i, if (mn == null) null else Bounds.key(tpe, StatsCodec.decode(mn, tpe)),
          if (mx == null) null else Bounds.key(tpe, StatsCodec.decode(mx, tpe)))
        facts(i) = (nulls | (if (mn != null) HAS_MIN else 0) |
          (if (mx != null) HAS_MAX else 0)).toByte
      } catch {
        case scala.util.control.NonFatal(_) => facts(i) = FAILED.toByte
      }
    }

    /** Entries of a derived index: copied where `fromBase` points here,
      * decoded through `raw` for the new ones.
      */
    final def derive(fromBase: Array[Int], raw: Int => (String, String, Int)): Bounds = {
      val out = empty(fromBase.length)
      var i = 0
      while (i < fromBase.length) {
        if (fromBase(i) >= 0) out.copy(this, fromBase(i), i) else out.fill(i, raw(i))
        i += 1
      }
      out
    }

    /** The per-file evaluator's leaf semantics (`ColumnStats`). */
    final def eval(i: Int, cmp: Int, v: Any): Int = {
      val f = facts(i)
      if ((f & FAILED) != 0) return UNKNOWN
      val noNulls = (f & NO_NULLS) != 0
      val allNulls = (f & ALL_NULLS) != 0
      if (cmp == IS_NULL)
        return if (allNulls) TRUE else if (noNulls) FALSE else UNKNOWN
      if ((f & (HAS_MIN | HAS_MAX)) != (HAS_MIN | HAS_MAX))
        return if (allNulls) FALSE else UNKNOWN
      if (v == MISMATCH) return UNKNOWN
      cmp match {
        case EQ =>
          if (cmpMin(i, v) > 0 || cmpMax(i, v) < 0) FALSE
          else if (minEqMax(i) && cmpMin(i, v) == 0 && noNulls) TRUE
          else UNKNOWN
        case LT =>
          if (cmpMin(i, v) >= 0) FALSE
          else if (cmpMax(i, v) < 0 && noNulls) TRUE
          else UNKNOWN
        case LE =>
          if (cmpMin(i, v) > 0) FALSE
          else if (cmpMax(i, v) <= 0 && noNulls) TRUE
          else UNKNOWN
        case GT =>
          if (cmpMax(i, v) <= 0) FALSE
          else if (cmpMin(i, v) > 0 && noNulls) TRUE
          else UNKNOWN
        case GE =>
          if (cmpMax(i, v) < 0) FALSE
          else if (cmpMin(i, v) >= 0 && noNulls) TRUE
          else UNKNOWN
      }
    }
  }

  private object Bounds {

    /** Types whose order is the signed order of one `long` key. */
    private val longKeyed = Set("bool", "int", "long", "date", "float", "double")

    /** The comparison key of a decoded value: a `long` whose signed order
      * is [[StatsCodec.compare]]'s for the long-keyed types (IEEE bits
      * folded into the total order `Float.compare`/`Double.compare` use),
      * else a value whose `compareTo` is that order.
      */
    def key(tpe: String, v: Any): Any = tpe match {
      case "bool" => if (v.asInstanceOf[Boolean]) 1L else 0L
      case "int" => v.asInstanceOf[Int].toLong
      case "long" => v.asInstanceOf[Long]
      case "date" => v.asInstanceOf[LocalDate].toEpochDay
      case "float" =>
        val b = java.lang.Float.floatToIntBits(v.asInstanceOf[Float])
        (b ^ ((b >> 31) & 0x7fffffff)).toLong
      case "double" =>
        val b = java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
        b ^ ((b >> 63) & 0x7fffffffffffffffL)
      case "string" => UTF8String.fromString(v.asInstanceOf[String])
      case _ => v.asInstanceOf[Instant]
    }

    def empty(tpe: String, n: Int): Bounds =
      if (longKeyed(tpe)) new LongBounds(tpe, n) else new RefBounds(tpe, n)

    /** `n` entries decoded from their raw (min, max, null facts). */
    def apply(tpe: String, n: Int)(raw: Int => (String, String, Int)): Bounds = {
      val b = empty(tpe, n)
      var i = 0
      while (i < n) { b.fill(i, raw(i)); i += 1 }
      b
    }
  }

  private final class LongBounds(tpe: String, n: Int) extends Bounds(tpe, new Array[Byte](n)) {
    private val min = new Array[Long](n)
    private val max = new Array[Long](n)
    def cmpMin(i: Int, v: Any): Int = java.lang.Long.compare(min(i), v.asInstanceOf[Long])
    def cmpMax(i: Int, v: Any): Int = java.lang.Long.compare(max(i), v.asInstanceOf[Long])
    def minEqMax(i: Int): Boolean = min(i) == max(i)
    protected def set(i: Int, lo: Any, hi: Any): Unit = {
      if (lo != null) min(i) = lo.asInstanceOf[Long]
      if (hi != null) max(i) = hi.asInstanceOf[Long]
    }
    protected def copy(from: Bounds, j: Int, i: Int): Unit = {
      val f = from.asInstanceOf[LongBounds]
      min(i) = f.min(j); max(i) = f.max(j); facts(i) = f.facts(j)
    }
    protected def empty(n: Int): Bounds = new LongBounds(tpe, n)
  }

  private final class RefBounds(tpe: String, n: Int) extends Bounds(tpe, new Array[Byte](n)) {
    private val min = new Array[AnyRef](n)
    private val max = new Array[AnyRef](n)
    private def c(a: AnyRef, v: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(v).sign
    def cmpMin(i: Int, v: Any): Int = c(min(i), v)
    def cmpMax(i: Int, v: Any): Int = c(max(i), v)
    def minEqMax(i: Int): Boolean = c(min(i), max(i)) == 0
    protected def set(i: Int, lo: Any, hi: Any): Unit = {
      min(i) = lo.asInstanceOf[AnyRef]; max(i) = hi.asInstanceOf[AnyRef]
    }
    protected def copy(from: Bounds, j: Int, i: Int): Unit = {
      val f = from.asInstanceOf[RefBounds]
      min(i) = f.min(j); max(i) = f.max(j); facts(i) = f.facts(j)
    }
    protected def empty(n: Int): Bounds = new RefBounds(tpe, n)
  }
}
