package graft.ops

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}

/** Shared materialization: a frame that several consumers read (the
  * fan-out of a dedup cascade, one round of an iterative graph loop) is
  * built once, and its blocks live as long as the scope that made it.
  *
  * [[pin]] returns a leaf over the rows of an unregistered in-memory
  * relation of its input ([[GraftSqlBridge.pin]]). Every consumer reads
  * that leaf, so no cache lookup has to match the consumer's plan. The
  * blocks build on the first action over the pin, and a lost block
  * recomputes from lineage.
  *
  * A pin belongs to the innermost [[scoped]] block open on the calling
  * thread, or to the thread's outermost scope when none is open, which
  * [[releaseScope]] drains. Scopes are per thread, so two queries running
  * on one session never free each other's blocks.
  */
object Materialize {
  private final class Scope { val pins = mutable.LinkedHashMap.empty[DataFrame, () => Unit] }

  /** The calling thread's open scopes, innermost first; the last one is
    * the thread's outermost scope and never closes.
    */
  private val scopes = ThreadLocal.withInitial[List[Scope]](() => List(new Scope))

  /** `df` built once for all its consumers, owned by the innermost open
    * scope. Lazy past `df`'s shuffle stages, which run here (adaptive
    * execution sizes the pin from them): a caller that needs the blocks
    * now runs the action it already runs (a count, a signature).
    * Streaming frames pass through: their operators run per micro-batch.
    */
  def pin(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val (p, unpin) = GraftSqlBridge.pin(df)
      scopes.get.head.pins(p) = unpin
      p
    }

  /** Free one pin of the calling thread before its scope ends (a no-op
    * for any other frame). Per-round loops release round k-1 once an
    * action has built round k: a lost block of round k then recomputes
    * through round k-1's lineage without caching it again.
    */
  def release(df: DataFrame): Unit =
    scopes.get.find(_.pins.contains(df)).foreach(_.pins.remove(df).foreach(_()))

  /** Run `body` in a new scope; every pin made in it and not released
    * earlier is released when it returns or throws.
    */
  def scoped[T](body: => T): T = {
    val outer = scopes.get
    val scope = new Scope
    scopes.set(scope :: outer)
    try body
    finally {
      scopes.set(outer)
      drain(scope)
    }
  }

  /** Release every pin of the calling thread's innermost open scope; the
    * scope stays open for further pins.
    */
  def releaseScope(): Unit = drain(scopes.get.head)

  private def drain(scope: Scope): Unit = {
    scope.pins.values.foreach(unpin => try unpin() catch { case NonFatal(_) => })
    scope.pins.clear()
  }
}
