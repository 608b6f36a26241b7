package graft.streaming

import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.read.streaming.{ReadAllAvailable, ReadLimit, ReadMaxFiles}

/** Admission-control arithmetic shared by the local and remote streaming
  * sources (T3; reference `DeltaSharingSource.scala:1130-1182`).
  */
object Admission {

  /** Flatten a (possibly composite) ReadLimit into (fileCap, byteCap). */
  def caps(limit: ReadLimit): (Option[Int], Option[Long]) = limit match {
    case _: ReadAllAvailable  => (None, None)
    case mf: ReadMaxFiles     => (Some(mf.maxFiles()), None)
    case GraftReadMaxBytes(b) => (None, Some(b))
    case c: streaming.CompositeReadLimit =>
      c.getReadLimits.map(caps).foldLeft((Option.empty[Int], Option.empty[Long])) {
        case ((f1, b1), (f2, b2)) => (f1.orElse(f2), b1.orElse(b2))
      }
    case _ => (None, None)
  }

  /** Greedy prefix admission under the caps; at least one data item is
    * always admitted (a single oversized file must still flow).
    */
  def admit[F](files: Seq[F], limit: ReadLimit)(
      isData: F => Boolean, bytesOf: F => Long): Seq[F] =
    admit(files.iterator, limit)(isData, bytesOf)

  /** Iterator form — STOPS PULLING at the first over-cap item, so a lazy
    * producer (the streaming sources' backlog walk) does only
    * O(admitted) work per trigger instead of materializing the whole
    * remaining backlog and truncating it (O(backlog) per trigger,
    * quadratic across a long catch-up).
    */
  def admit[F](files: Iterator[F], limit: ReadLimit)(
      isData: F => Boolean, bytesOf: F => Long): Seq[F] = {
    val (fileCap, byteCap) = caps(limit)
    if (fileCap.isEmpty && byteCap.isEmpty) return files.toVector
    var dataCount = 0
    var bytes = 0L
    val admitted = Vector.newBuilder[F]
    var done = false
    while (!done && files.hasNext) {
      val f = files.next()
      val data = isData(f)
      val wouldExceedFiles = data && fileCap.exists(m => dataCount + 1 > m)
      val wouldExceedBytes = data && byteCap.exists(m => bytes + bytesOf(f) > m && dataCount > 0)
      if (wouldExceedFiles || wouldExceedBytes) done = true
      else {
        admitted += f
        if (data) { dataCount += 1; bytes += bytesOf(f) }
      }
    }
    admitted.result()
  }

  /** Whole-version admission for CDF streams (T10): `units` are
    * (version, change files, bytes) in version order, admitted greedily
    * and ATOMICALLY under the caps; at least one version is always
    * admitted. Stops pulling at the first over-cap version, like [[admit]].
    */
  def admitVersions(units: Iterator[(Long, Int, Long)], limit: ReadLimit): Seq[Long] = {
    val (fileCap, byteCap) = caps(limit)
    if (fileCap.isEmpty && byteCap.isEmpty) return units.map(_._1).toVector
    var files = 0
    var bytes = 0L
    val admitted = Vector.newBuilder[Long]
    var n = 0
    var done = false
    while (!done && units.hasNext) {
      val (v, nf, b) = units.next()
      val over = (fileCap.exists(m => files + nf > m) ||
        byteCap.exists(m => bytes + b > m)) && n > 0
      if (over) done = true
      else { admitted += v; files += nf; bytes += b; n += 1 }
    }
    admitted.result()
  }
}
