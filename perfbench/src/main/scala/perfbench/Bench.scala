package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation. `phases` holds a workflow's phase seconds;
  * `files` the (added, removed) live data files of a commit and `parseS`
  * the separately timed SQL parse, both taken outside the timed region in
  * traced rounds only.
  */
final case class Sample(op: String, traced: Boolean,
    wallS: Double, spanId: Int, startMs: Long, endMs: Long,
    fs: Option[FsCounts], phases: Map[String, Double] = Map.empty,
    files: Option[(Int, Int)] = None, parseS: Option[Double] = None)

/** What a workload contributes: its fixture, the benchmark's own state
  * for checking it, one round of its fixed operation mix, and the
  * end-of-run correctness check.
  */
trait Workload {
  def name: String
  /** Operation names in round order. */
  def ops: Seq[String]
  /** Rounds before timing: a first round runs 2-3 times slower, and a
    * second is still 10-30% slower than later ones.
    */
  def warmups: Int = 2
  /** Fewest timed rounds, so every run's per-kind medians rest on the
    * same number of samples.
    */
  def minRounds: Int = 2
  /** Writes the fixture through the engine; timed into `setup_s`. */
  def setup(b: Bench): Unit
  /** The benchmark's own set-up after the fixture (oracles, keys); not
    * timed.
    */
  def prepare(b: Bench): Unit = ()
  def round(b: Bench, r: Int): Unit
  /** Extra named results for the report line (storage costs). */
  def extras(b: Bench): Seq[(String, Double, String)] = Nil
  /** Outside timing; false when the engine's output is wrong. */
  def verify(b: Bench): Boolean
}

final class Bench(val spark: SparkSession, val workload: Workload,
    val seed: Long, val seconds: Int, val trace: Boolean, val work: String) {
  val tracer = new Tracer(spark.sparkContext)
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** (traced, timed seconds) of every timed round. */
  val roundWalls = mutable.ArrayBuffer.empty[(Boolean, Double)]
  var attempted = 0
  var failed = 0
  /** False while the warm-up pass runs: its samples are not kept. */
  private var timing = false
  private var round = -1
  private var roundTraced = false
  private var roundAcc = 0.0

  def traced: Boolean = roundTraced

  /** Run one operation under a span. A thrown exception or a `false`
    * result counts as a failed operation, and its time is not kept. A
    * round's time, warm-up rounds too, is the sum of its operations' times.
    */
  def op(name: String)(body: => Boolean): Sample = {
    val (ok, sample) =
      try {
        val (r, wall, span) = tracer.span(name, s"${workload.name}-$round")(body)
        (r, Sample(name, roundTraced, wall, span.id, span.startMs,
          span.endMs, span.fs))
      } catch {
        case e: Exception =>
          Console.err.println(s"op $name failed: $e")
          (false, Sample(name, roundTraced, Double.NaN, -1, 0, 0, None))
      }
    if (!ok) Console.err.println(s"op $name did not succeed")
    attempted += 1
    if (ok) roundAcc += sample.wallS else failed += 1
    if (timing && ok) samples += sample
    sample
  }

  /** Replace a kept sample with a copy that carries phases, files or
    * parse time.
    */
  def amend(s: Sample): Unit = if (timing) {
    val i = samples.lastIndexWhere(x => x.spanId == s.spanId && x.op == s.op)
    if (i >= 0) samples(i) = s
  }

  var fixtureS = 0.0
  var warmupS = 0.0

  /** The fixture write plus the warm-up rounds, whose samples are not
    * kept; returns the fixture's wall seconds plus the warm-up operations'
    * own seconds. The benchmark's work around them (oracles, checks,
    * resets) is left out.
    */
  def runSetup(): Double = {
    val t0 = System.nanoTime()
    workload.setup(this)
    fixtureS = (System.nanoTime() - t0) / 1e9
    workload.prepare(this)
    roundAcc = 0.0
    for (r <- -workload.warmups until 0) {
      round = r
      workload.round(this, r)
    }
    warmupS = roundAcc
    fixtureS + warmupS
  }

  /** Whole rounds until the operations' own timed seconds reach
    * `seconds`, and at least `minRounds`. A traced run alternates traced
    * and untraced rounds in ABBA order, at least one block of four, so the
    * tracing overhead is measured within the run and a steady drift
    * cancels out of it.
    */
  def runTimed(): Unit = {
    timing = true
    var measured = 0.0
    var r = 0
    while (measured < seconds || r < workload.minRounds || (trace && r < 4)) {
      round = r
      roundTraced = trace && (r % 4 == 0 || r % 4 == 3)
      tracer.enabled = roundTraced
      roundAcc = 0.0
      workload.round(this, r)
      tracer.enabled = false
      roundWalls += ((roundTraced, roundAcc))
      measured += roundAcc
      r += 1
    }
    timing = false
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the sorted values. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.filter(!_.isNaN).sorted
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p99/p95/p90/p75/p50 with at least ten samples above
    * it, as (percentile, value); p50 when fewer than 20 samples exist.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.count(!_.isNaN)
    val p = Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) / 100.0 >= 10)
      .getOrElse(50)
    (p, quantile(xs, p / 100.0))
  }
}
