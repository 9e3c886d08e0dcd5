package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail percentile: the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(1) == 50)
    assert(Stats.tailPercentile(19) == 50)
    assert(Stats.tailPercentile(20) == 52)
    assert(Stats.tailPercentile(30) == 68)
    assert(Stats.tailPercentile(40) == 76)
    assert(Stats.tailPercentile(91) == 89)
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(1000) == 99)
    for (n <- 20 to 400) {
      val xs = (1 to n).map(_.toDouble)
      def beyond(p: Int) = xs.count(_ > Stats.percentile(xs, p.toDouble))
      val p = Stats.tailPercentile(n)
      assert(beyond(p) >= 10, s"n=$n p=$p")
      assert(beyond(p + 1) < 10, s"n=$n: p${p + 1} also leaves ten beyond")
    }
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == ((50, 2.0)))
  }

  test("covered and uncovered length of overlapping, clipped intervals") {
    val iv = Seq((10.0, 30.0), (20.0, 50.0), (70.0, 80.0), (95.0, 120.0))
    assert(Stats.coveredLength(0, 100, iv) == 40 + 10 + 5)
    assert(Stats.uncoveredLength(0, 100, iv) == 45)
    assert(Stats.uncoveredLength(0, 100, Nil) == 100)
    assert(Stats.uncoveredLength(40, 60, iv) == 10)
  }

  private val noFs = FsCounters.Snapshot(0, 0, 0, 0)
  private def span(id: Int, parent: Int, start: Double, end: Double) =
    Span(id, parent, s"s$id", "run", start, end, noFs)

  test("self time: a span's duration minus what its children cover") {
    val spans = Seq(
      span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 50), span(3, 1, 12, 15))
    val m = Tracer.callMetrics(spans, Nil, Nil)
    assert(math.abs(m(0).self - 0.060) < 1e-12) // children cover 10..50
    assert(math.abs(m(1).self - 0.017) < 1e-12)
    assert(math.abs(m(3).self - 0.003) < 1e-12)
    assert(m(0).busy == 0.1)
  }

  test("driver gap: wall time when none of the call's jobs (or its children's) ran") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 65, 90))
    val jobs = Seq(
      JobListener.Job(1, Tracer.groupOf(0), 10, 40),
      JobListener.Job(2, Tracer.groupOf(0), 30, 60),
      JobListener.Job(3, Tracer.groupOf(1), 70, 80),
      JobListener.Job(4, "another-group", 0, 100))
    val tasks = Seq(
      JobListener.Task(1, 1.0, 0.5, 100, 0), JobListener.Task(1, 3.0, 2.0, 0, 7),
      JobListener.Task(3, 2.0, 1.5, 50, 0), JobListener.Task(4, 9.0, 9.0, 0, 0))
    val m = Tracer.callMetrics(spans, jobs, tasks)
    assert(math.abs(m(0).driverGap - 0.040) < 1e-12) // jobs cover 10..60 and 70..80
    assert(math.abs(m(1).driverGap - 0.015) < 1e-12)
    assert(m(0).jobs == 3 && m(0).tasks == 3)
    assert(m(0).cpu == 4.0 && m(0).shuffleWrite == 150 && m(0).spill == 7)
    assert(m(0).skew == 1.5) // max 3.0 over median 2.0
    assert(m(0).firstJobCpu == 2.5)
    val layers = Tracer.layerMetrics(spans, jobs, tasks)
    assert(layers("s0.spark_jobs") == 3.0 && layers("s1.calls") == 1.0)
  }

  test("generation is a pure function of the seed") {
    val a = new CurateWorkload.TextGen(5).shard(CurateWorkload.Shard(0, 300))
    val b = new CurateWorkload.TextGen(5).shard(CurateWorkload.Shard(0, 300))
    val c = new CurateWorkload.TextGen(6).shard(CurateWorkload.Shard(0, 300))
    def hash(ps: Seq[CurateWorkload.Page]) = Gen.sha256(ps.iterator.map(_.toString))
    assert(hash(a) == hash(b) && hash(a) != hash(c))
    assert(a.map(_.kind).toSet == Set("ordinary", "blocked", "url_dup", "contaminated", "near_dup"))

    val g1 = new LifecycleWorkload.DocGen(5)
    val g2 = new LifecycleWorkload.DocGen(5)
    def docs(ds: Seq[LifecycleWorkload.Doc]) = Gen.sha256(ds.iterator.map(_.toString))
    assert(docs(g1.base) == docs(g2.base))
    assert(docs(g1.base) != docs(new LifecycleWorkload.DocGen(6).base))
    val day = LifecycleWorkload.dayPlan(5, 0)
    assert(day == LifecycleWorkload.dayPlan(5, 0))
    val (d1, c1) = g1.day(day, g1.base.toIndexedSeq)
    val (d2, c2) = g2.day(day, g2.base.toIndexedSeq)
    assert(docs(d1 ++ c1) == docs(d2 ++ c2))
    assert(c1.exists(_.nearDupOf.nonEmpty))

    assert((0 until 16).map(ValidateWorkload.batchPlan(5, _)) ==
      (0 until 16).map(ValidateWorkload.batchPlan(5, _)))
    assert(Gen.permutation(Gen.rng(5, 1), 50) == Gen.permutation(Gen.rng(5, 1), 50))
    assert(Gen.permutation(Gen.rng(5, 1), 50).sorted == (0 until 50))
  }

  test("validate: same seed, same batch bytes; findErrors reports exactly the plants") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val dirty = ValidateWorkload.Batch(3, 4000,
        ValidateWorkload.Kinds.zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap)
      def hash(seed: Long) = ValidateWorkload.contentHash(
        ValidateWorkload.generate(seed, dirty).localCheckpoint())
      assert(hash(9) == hash(9))
      assert(hash(9) != hash(10))
      for (b <- Seq(dirty, ValidateWorkload.Batch(4, 3000))) {
        val mf = graft.frame.ModeledFrame(ValidateWorkload.generate(9, b), ValidateWorkload.model)
          .cast().fillNullDefaults().derive()
        val errors = graft.core.Validator.findErrors(mf.df, ValidateWorkload.model)
        assert(errors.toSet == ValidateWorkload.expectedErrors(b).toSet)
        assert(errors.size == ValidateWorkload.Kinds.count(b.count(_) > 0))
      }
    } finally spark.stop()
  }
}
