package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints one record line, `PERFBENCH_RECORD {json}`,
  * on stdout. `run.py` builds this program, launches it and turns the
  * record into the benchmark's result line.
  *
  * {{{
  * Main --workload validate --seed 1 --seconds 6 --trace 0 \
  *      --scratch <fresh dir> [--trace-out <spans.jsonl>]
  * }}}
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      scratch: String, traceOut: Option[String]) {
    /** Local cores: at most 4, never more than the machine has. */
    def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  }

  def parseArgs(a: Seq[String]): Args = {
    val m = a.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val w = need("workload")
    require(Workload.Names.contains(w), s"unknown workload '$w'")
    Args(w, need("seed").toLong, need("seconds").toDouble, trace, need("scratch"),
      m.get("trace-out"))
  }

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toSeq)
    val loadBefore = loadavg()
    val builder = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.scratch}/warehouse")
    graft.Sessions.config.foreach { case (k, v) => builder.config(k, v) }
    if (args.trace)
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val record = run(spark, args)
      val out = record ++ Map(
        "loadavg_before" -> loadBefore,
        "loadavg_after" -> loadavg())
      println("PERFBENCH_RECORD " + toJson(out))
    } finally spark.stop()
  }

  def run(spark: SparkSession, args: Args): Map[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionSeconds = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark, args.trace, s"${args.workload}-${args.seed}")
    val ctx = new Ctx(spark, args.seed, args.scratch, tracer)
    val wl = Workload(args.workload, ctx)
    // set-up time = session start + the median of several builds of the
    // workload's state + one warm-up operation
    val setupSeconds = (0 until wl.setupReps).map { r =>
      if (r > 0) org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"${args.scratch}/setup-${r - 1}"))
      val t0 = System.nanoTime()
      wl.setup(s"${args.scratch}/setup-$r")
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    val setupFailures = wl.warmUp().map("warm-up: " + _)
    val warmUpSeconds = (System.nanoTime() - w0) / 1e9
    tracer.active = true

    final case class Done(rows: Long, steps: Steps)
    val done = mutable.ArrayBuffer.empty[Done]
    val failures = mutable.ArrayBuffer.empty[String]
    val inputHashes = mutable.ArrayBuffer.empty[String]
    val outputHashes = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    while (System.nanoTime() < deadline || attempted % wl.roundOps != 0) {
      val steps = new Steps
      val i = attempted
      attempted += 1
      try {
        val o = wl.op(i, steps)
        inputHashes += o.inputHash.take(16)
        outputHashes += o.outputHash.take(16)
        if (o.failures.isEmpty) done += Done(o.rows, steps)
        else failures ++= o.failures
      } catch {
        case e: Exception =>
          failures += s"operation $i threw ${e.getClass.getName}: ${e.getMessage}".take(500)
      }
    }
    tracer.active = false

    def lat(step: Option[String]): Seq[Double] = done.toSeq.flatMap(d => step match {
      case None => Some(d.steps.total)
      case Some(s) => d.steps.seconds.get(s)
    })
    val e2e = mutable.LinkedHashMap[String, Double]()
    val tails = mutable.LinkedHashMap[String, Any]()
    e2e("setup_s") = sessionSeconds + Stats.median(setupSeconds) + warmUpSeconds
    e2e("rows_per_s") = done.map(_.rows).sum / math.max(1e-9, lat(None).sum)
    Seq("batch" -> None, "ingest" -> Some("ingest"), "query" -> Some("query"),
      "compact" -> Some("compact")).foreach { case (name, step) =>
      val xs = lat(step)
      if (xs.nonEmpty) {
        e2e(s"${name}_p50_s") = Stats.median(xs)
        val (p, v) = Stats.tail(xs)
        e2e(s"${name}_tail_s") = v
        tails(name) = Map("percentile" -> p, "samples" -> xs.size)
      }
    }
    val layers = tracer.layerMetrics()
    args.traceOut.foreach(p => writeSpans(p, tracer.allSpans))
    Map(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "trace" -> args.trace,
      "cores" -> args.cores,
      "clients" -> 1,
      "seconds" -> args.seconds,
      "session_s" -> sessionSeconds,
      "setup_reps_s" -> setupSeconds,
      "warm_up_s" -> warmUpSeconds,
      "attempted" -> attempted,
      "failed" -> (attempted - done.size),
      "failures" -> (setupFailures ++ failures).take(20).toSeq,
      "setup_failed" -> setupFailures.size,
      "rows" -> done.map(_.rows).sum,
      "e2e" -> e2e.toMap,
      "tails" -> tails.toMap,
      "state" -> wl.summary(),
      "input_hashes" -> inputHashes.toSeq,
      "output_hashes" -> outputHashes.toSeq,
      "layers" -> layers)
  }

  private def toJson(v: Map[String, Any]): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.map(s => toJson(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.runId,
      "start_ms" -> s.start, "end_ms" -> s.end, "fs_files_created" -> s.fs.created,
      "fs_renames" -> s.fs.renames, "fs_deletes" -> s.fs.deletes,
      "fs_bytes_written" -> s.fs.bytesWritten)))
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
