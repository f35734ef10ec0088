package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** One timed operation of a workload. `call` runs the public entry
  * point and returns its lazy result frame, if it has one; the harness
  * then forces that frame with a noop write, so the full physical plan
  * executes without a driver-side collect. `queries` counts the queries
  * a serving batch answers; `inputBytes` the input a job reads.
  */
final case class Op(kind: String, call: () => Option[DataFrame],
                    queries: Int = 0, inputBytes: Long = 0L)

/** One output check. A failed check marks every timed op of the kinds
  * it `covers` as failed. */
final case class Check(name: String, covers: Seq[String], ok: Boolean,
                       detail: String)

/** A benchmark workload: inputs come only from `seed`. */
trait Workload {
  /** The op kinds this workload times, in report order. */
  def kinds: Seq[String]
  /** Generates the inputs, builds the standing state and warms every op
    * kind up. */
  def setup(): Unit
  /** The ops of client cycle `c`, run in order by one closed-loop client. */
  def cycle(c: Int): Seq[Op]
  /** Output checks, run after the timed window. */
  def checks(): Seq[Check]
}

final case class OpSample(seq: Int, kind: String, traced: Boolean,
    startMs: Long, endMs: Long, callS: Double, wallS: Double, ok: Boolean,
    queries: Int, inputBytes: Long, resultRows: Long)

object Harness {

  def force(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs one op on the client thread. Each phase carries the job group
    * `<t|u><seq>:<phase>` so a traced op's jobs can be attributed. A
    * traced op also counts its result rows through an observation. */
  def run(spark: SparkSession, op: Op, seq: Int, traced: Boolean): OpSample = {
    val sc = spark.sparkContext
    val tag = (if (traced) "t" else "u") + seq
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var callS = 0.0
    var rows = 0L
    val ok = try {
      sc.setJobGroup(s"$tag:call", op.kind, interruptOnCancel = false)
      val out = op.call()
      callS = secondsSince(t0)
      sc.setJobGroup(s"$tag:exec", op.kind, interruptOnCancel = false)
      out.foreach { df =>
        if (traced) {
          val obs = new Observation("rows")
          force(df.observe(obs, count(lit(1)).as("rows")))
          rows = obs.get("rows").asInstanceOf[Long]
        } else force(df)
      }
      true
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] op ${op.kind} #$seq failed: $e")
        false
    } finally sc.clearJobGroup()
    val wallS = secondsSince(t0)
    System.err.println(f"[perfbench] op ${op.kind}%s #$seq%d $wallS%.3f s")
    OpSample(seq, op.kind, traced, startMs, System.currentTimeMillis(),
      callS, wallS, ok, op.queries, op.inputBytes, rows)
  }

  /** The closed loop: cycles run back to back until `seconds` have
    * passed and at least `minCycles` cycles completed. With `trace`,
    * even cycles run with the recorder attached and odd ones without,
    * so both halves see the same ops. */
  def loop(spark: SparkSession, wl: Workload, seconds: Int, minCycles: Int,
           trace: Option[Trace]): Seq[OpSample] = {
    val samples = scala.collection.mutable.ArrayBuffer[OpSample]()
    val t0 = System.nanoTime()
    var c = 0
    var seq = 0
    var attached = false
    def setAttached(on: Boolean): Unit = trace.foreach { tr =>
      if (on != attached) {
        tr.settle()
        if (on) {
          spark.sparkContext.addSparkListener(tr)
          spark.listenerManager.register(tr)
        } else {
          spark.sparkContext.removeSparkListener(tr)
          spark.listenerManager.unregister(tr)
        }
        attached = on
      }
    }
    while (secondsSince(t0) < seconds || c < minCycles) {
      val traced = trace.isDefined && c % 2 == 0
      setAttached(traced)
      val ops = wl.cycle(c).iterator
      while (ops.hasNext && (secondsSince(t0) < seconds || c < minCycles)) {
        samples += run(spark, ops.next(), seq, traced)
        seq += 1
      }
      c += 1
    }
    setAttached(false)
    samples.toSeq
  }
}

/** Step timings on stderr, for reading a slow run's log. */
object Log {
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $name%s ${Harness.secondsSince(t0)}%.3f s")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.length)

  /** The highest whole percentile with at least ten samples above it,
    * or None when the sample is too small to support one past the
    * median. */
  def supportedPercentile(n: Int): Option[Int] = {
    val p = math.floor(100.0 * (1.0 - 10.0 / n)).toInt
    if (p > 50) Some(p) else None
  }
}
