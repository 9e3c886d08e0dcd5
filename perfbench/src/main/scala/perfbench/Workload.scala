package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload's set-up and operations share: the session, the run
  * seed, the run's scratch root and the tracer.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val scratch: String, val tr: Tracer) {
  def path(name: String): String = s"$scratch/$name"
}

/** Wall time of the timed steps of one operation, by step name. */
final class Steps {
  val seconds: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally seconds(name) = seconds.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
  def total: Double = seconds.values.sum
}

/** One operation's result: input rows it completed, the output checks it
  * failed (empty when correct), and hashes of its generated input and of
  * its output (both must repeat in any run of the same seed).
  */
final case class Outcome(rows: Long, failures: Seq[String], inputHash: String, outputHash: String)

/** A closed-loop workload with one client. Operation `i` generates its input (untimed),
  * runs the library calls inside named [[Steps]] (timed), then checks the
  * outputs (untimed). Steps are `ingest` and `query`, plus `compact` on
  * lifecycle days that compact.
  */
trait Workload {
  /** Builds, under `root`, the state the operations need: inputs, indexes,
    * models. Called several times, each time on a fresh root; the last
    * build is the one used.
    */
  def setup(root: String): Unit
  /** How many times a run builds the state; set-up time takes the median. */
  def setupReps: Int = 3
  /** Operations per round. A run measures whole rounds, so every run, fast
    * or slow, measures the same mix of inputs.
    */
  def roundOps: Int = 1
  /** One untimed operation on the built state before the timed ones;
    * returns its failed checks.
    */
  def warmUp(): Seq[String]
  def op(i: Int, steps: Steps): Outcome
  /** Figures that describe the state the run left (lifecycle only). */
  def summary(): Map[String, Double] = Map.empty
}

object Workload {
  val Names: Seq[String] = Seq("validate", "curate", "lifecycle")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "validate"  => new ValidateWorkload(ctx)
    case "curate"    => new CurateWorkload(ctx)
    case "lifecycle" => new LifecycleWorkload(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }
}
