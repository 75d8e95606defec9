package perfbench

import scala.collection.mutable

/** Everything one run collects: timing samples by stream, scalar values
  * read from the program's public surfaces, and operation outcomes.
  * Thread-safe; the workloads' client threads write into it. */
final class Record {
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attemptedOps = 0L
  val info = mutable.LinkedHashMap.empty[String, String]

  def add(stream: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(stream, mutable.ArrayBuffer.empty) += v
  }
  def get(stream: String): Seq[Double] =
    synchronized(samples.get(stream).map(_.toList).getOrElse(Nil))
  def streams: Map[String, Seq[Double]] =
    synchronized(samples.map { case (k, v) => k -> v.toList }.toMap)

  def set(key: String, v: Double): Unit = synchronized(values(key) = v)
  def value(key: String): Double = synchronized(values.getOrElse(key, 0.0))

  def attempt(): Unit = synchronized(attemptedOps += 1)
  def fail(why: String): Unit = synchronized(failures += why)
  def attempted: Long = synchronized(attemptedOps)
  def failed: Seq[String] = synchronized(failures.toList)

  /** Run `op` as one attempted operation; a throw counts as a failure
    * and yields None. */
  def attemptOp[T](what: String)(op: => T): Option[T] = {
    attempt()
    try Some(op)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        System.err.println(s"[perfbench] $what failed")
        e.printStackTrace()
        None
    }
  }
}

object Stats {
  /** Linear-interpolated percentile (p in [0, 1]); NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
