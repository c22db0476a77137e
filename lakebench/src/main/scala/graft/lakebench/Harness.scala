package graft.lakebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed operation of a closed loop. `run` returns the answer and
  * `check` says whether it is right; an exception or a wrong answer counts
  * as a failed operation. `cls` groups operations for per-class figures. */
final case class Op(name: String, cls: String, run: () => Any, check: Any => Boolean)

/** Everything a workload phase needs. */
final case class Ctx(spark: SparkSession, seed: Long, work: String, tables: String,
    trace: Trace, runtime: Option[Runtime])

/** What one workload phase measured. */
final case class Phase(
    buildS: Double, warmS: Double,
    loop: LoopResult, e2e: Map[String, Double], layer: Map[String, Double],
    inputChecksum: String = "")

final case class LoopResult(
    latMs: Vector[Double], cls: Vector[String], passS: Vector[Double],
    attempted: Int, failed: Int, errors: Vector[String],
    windows: Vector[(Long, Long)], firstOpEpochMs: Long,
    spark: Map[String, Double], gcS: Double, jitS: Double) {
  def p50: Double = Stats.pct(latMs, 0.5)
  def p75: Double = Stats.pct(latMs, 0.75)
  def clsMedianMs(c: String): Double = Stats.pct(latMs.indices.filter(cls(_) == c).map(latMs), 0.5)
}

object Stats {
  /** Linear-interpolated percentile; NaN on no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Loop {
  /** Timed operations a measured run makes at least: the median then has
    * ten samples beyond it. */
  val MinOps = 20

  /** Runs whole passes over `ops`, one after another with one client, until
    * at least `seconds` have passed and at least `minOps` operations ran
    * (at most `maxPasses` passes). Only the operations themselves are
    * timed; `check` runs outside the timed interval. */
  def run(ops: IndexedSeq[Op], seconds: Double, minOps: Int, trace: Trace,
      runtime: Option[Runtime] = None, maxPasses: Int = Int.MaxValue): LoopResult = {
    val lat = ArrayBuffer[Double]()
    val cls = ArrayBuffer[String]()
    val passes = ArrayBuffer[Double]()
    val errors = ArrayBuffer[String]()
    val windows = ArrayBuffer[(Long, Long)]()
    var failed = 0
    val before = runtime.map(_.snapshot())
    val (gc0, jit0) = (Jvm.gcSeconds, Jvm.jitSeconds)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.isEmpty ||
        ((elapsed < seconds || lat.size < minOps) && passes.size < maxPasses)) {
      var pass = 0.0
      ops.foreach { op =>
        trace.nextOp()
        val w0 = System.currentTimeMillis()
        val s0 = System.nanoTime()
        val answer = try Right(trace.span(s"op.${op.cls}")(op.run()))
          catch { case e: Throwable => Left(e) }
        val dt = (System.nanoTime() - s0) / 1e9
        windows += ((w0, System.currentTimeMillis()))
        pass += dt
        lat += dt * 1e3
        cls += op.cls
        val ok = answer match {
          case Right(a) => try op.check(a) catch { case _: Throwable => false }
          case Left(_) => false
        }
        if (!ok) {
          failed += 1
          if (errors.size < 20) errors += (answer match {
            case Left(e) => s"${op.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            case Right(a) => s"${op.name}: wrong answer ${String.valueOf(a).take(300)}"
          })
        }
      }
      passes += pass
    }
    val (gc1, jit1) = (Jvm.gcSeconds, Jvm.jitSeconds)
    val counters = runtime.map(r => Runtime.delta(before.get, r.snapshot())).getOrElse(Map.empty)
    LoopResult(lat.toVector, cls.toVector, passes.toVector, lat.size, failed, errors.toVector,
      windows.toVector, windows.headOption.fold(0L)(_._1), counters, gc1 - gc0, jit1 - jit0)
  }
}
