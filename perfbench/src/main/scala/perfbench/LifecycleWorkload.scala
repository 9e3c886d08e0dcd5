package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.ops.{Dedup, Similarity, Sink}

/** `lifecycle`: daily ingest against persisted state. Set-up builds a dedup
  * index, an ANN index and a sized-shard log from a seeded base corpus.
  * Each day appends its documents and embeddings to all three (`ingest`),
  * then probes both indexes with the day's candidates (`query`); every
  * other day also compacts all three and deletes a seeded id sample from
  * the log (`compact`). The warm-up replays committed ids, so its appends
  * take the exact replay guard and must be rejected without changing any
  * state.
  */
final class LifecycleWorkload(ctx: Ctx) extends Workload {
  import LifecycleWorkload._
  private val spark = ctx.spark
  private val gen = new DocGen(ctx.seed)
  private var root = ""
  private def dedupPath = s"$root/state/dedup"
  private def annPath = s"$root/state/ann"
  private def logPath = s"$root/state/log"
  // documents committed to the indexes (near-duplicate sources) and ids
  // still in the log (deletion candidates)
  private val committed = mutable.ArrayBuffer.empty[Doc]
  private val inLog = mutable.LinkedHashSet.empty[Long]
  private var inputBytes = 0L
  private var replayed: Seq[Doc] = Nil

  def setup(root: String): Unit = {
    this.root = root
    committed.clear(); inLog.clear(); inputBytes = 0L
    val base = gen.base
    val (docs, vecs) = writeInputs("base", base)
    inputBytes += dirBytes(new File(s"$root/in/base"))
    Dedup.writeDedupIndex(docs, "text", "id", dedupPath)
    Similarity.writeAnnIndex(vecs, "vec", "id", annPath, nlist = NList)
    Sink.writeSizedShards(docs, logPath, "id", "n_tok", ShardTokens)
    commit(base)
    replayed = base.take(100)
  }

  /** A day that replays a slice of the base corpus, with no candidates:
    * its appends take the exact replay guard and must all be rejected
    * without changing any state.
    */
  def warmUp(): Seq[String] =
    run(Day(-1, docs = 0, candidates = 0, replay = true, compact = false), new Steps).failures

  /** Two builds, not three: each builds three persisted stores, and a run's
    * whole budget is about a minute.
    */
  override def setupReps: Int = 2

  def op(i: Int, steps: Steps): Outcome = run(dayPlan(ctx.seed, i), steps)

  override def summary(): Map[String, Double] = {
    val stored = Seq(dedupPath, annPath, logPath).map(p => dirBytes(new File(p))).sum
    Map("bytes_stored_per_input_byte" -> stored.toDouble / inputBytes)
  }

  private def commit(docs: Seq[Doc]): Unit = { committed ++= docs; inLog ++= docs.map(_.id) }

  private def writeInputs(name: String, docs: Seq[Doc]): (DataFrame, DataFrame) = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.text.count(_ == ' ').toLong + 1L))
      .toDF("id", "text", "n_tok").write.parquet(s"$root/in/$name/docs")
    docs.map(d => (d.id, d.vec.toSeq)).toDF("id", "vec").write.parquet(s"$root/in/$name/vecs")
    (spark.read.parquet(s"$root/in/$name/docs"), spark.read.parquet(s"$root/in/$name/vecs"))
  }

  private def run(d: Day, steps: Steps): Outcome = {
    val (fresh, cands) = gen.day(d, committed.toIndexedSeq)
    val docs = if (d.replay) replayed else fresh
    val inputHash = Gen.sha256((docs ++ cands).iterator.map(_.toString))
    val (docsDf, vecsDf) = writeInputs(s"day${d.index}", docs)
    val (candDf, candVecs) = writeInputs(s"cand${d.index}", cands)
    val candFrame = candDf.join(candVecs, "id")
    val f = Seq.newBuilder[String]
    val tr = ctx.tr
    val before = if (d.replay) stateStamp() else Nil
    val rejected = steps("ingest") {
      def attempt(name: String)(append: => Unit): Boolean =
        try { tr.call(name)(append); false }
        catch { case _: IllegalArgumentException if d.replay => true }
      Seq(
        attempt("ops.dedup.append_dedup_index")(
          Dedup.appendDedupIndex(docsDf, "text", "id", dedupPath)),
        attempt("ops.similarity.append_ann_index")(
          Similarity.appendAnnIndex(vecsDf, "vec", "id", annPath)),
        attempt("ops.sink.append_sized_shards")(
          Sink.appendSizedShards(docsDf, logPath, "id", "n_tok", ShardTokens)))
    }
    if (d.replay) {
      if (rejected.contains(false))
        f += s"day ${d.index}: ${rejected.count(!_)} of 3 appends accepted replayed ids"
      if (before != stateStamp()) f += s"day ${d.index}: a rejected replay changed the state"
    } else {
      commit(docs)
      inputBytes += dirBytes(new File(s"$root/in/day${d.index}"))
    }
    def probe(traced: Boolean): (Seq[String], Seq[String]) = {
      def call[T](name: String)(body: => T): T = if (traced) tr.call(name)(body) else body
      val pairs = call("ops.dedup.minhash_pairs_against_index")(
        Dedup.minhashPairsAgainstIndex(candFrame, "text", "id", dedupPath).collect())
      val sem = call("ops.similarity.semantic_dedup_against_index")(
        Similarity.semanticDedupAgainstIndex(candFrame, "vec", "id", annPath, MinCosine,
          nprobe = NList).collect())
      (pairs.map(Gen.rowString).sorted.toSeq, sem.map(Gen.rowString).sorted.toSeq)
    }
    val (pairs, sem) =
      if (cands.isEmpty) (Nil, Nil) else steps("query")(probe(traced = true))
    f ++= checkProbe(d, cands, pairs, sem)
    if (d.compact) {
      val logIds = inLog.toIndexedSeq
      val doomed = Gen.permutation(Gen.rng(ctx.seed, 43, d.index), logIds.size)
        .take(DeletesPerCompaction).map(logIds)
      import spark.implicits._
      val deleted = steps("compact") {
        tr.call("ops.dedup.compact_dedup_index")(Dedup.compactDedupIndex(spark, dedupPath))
        tr.call("ops.similarity.compact_ann_index")(Similarity.compactAnnIndex(spark, annPath))
        tr.call("ops.sink.compact_sized_shards")(
          Sink.compactSizedShards(spark, logPath, "id").collect())
        tr.call("ops.sink.delete_from_sized_shards")(
          Sink.deleteFromSizedShards(spark, logPath, "id", doomed.toDF("id")).collect())
      }
      inLog --= doomed
      val nDeleted = deleted.map(_.getAs[Long]("rows_deleted")).sum
      if (nDeleted != doomed.size)
        f += s"day ${d.index}: deleted $nDeleted of ${doomed.size} doomed ids"
      val dirty = Sink.verifySizedLog(spark, logPath, "id", "n_tok").collect()
        .filter(_.getAs[Long]("violations") != 0L)
      if (dirty.nonEmpty) f += s"day ${d.index}: log audit after compaction: ${dirty.mkString(", ")}"
      if (probe(traced = false) != ((pairs, sem)))
        f += s"day ${d.index}: probe results changed across compaction"
    }
    val rows = (if (d.replay) 0 else docs.size) + cands.size
    Outcome(rows.toLong, f.result(), inputHash, Gen.sha256((pairs ++ sem).iterator))
  }

  /** Every planted candidate must pair with its source in the dedup index
    * and be marked a duplicate by the semantic probe; no fresh candidate
    * may do either.
    */
  private def checkProbe(d: Day, cands: Seq[Doc], pairs: Seq[String], sem: Seq[String]): Seq[String] = {
    val planted = cands.filter(_.nearDupOf.nonEmpty)
    val plantedIds = planted.map(_.id).toSet
    val found = pairs.map(_.split("\u0001")).map(a => a(0).toLong -> a(1).toLong).toSet
    val missed = planted.filterNot(c => found((c.id, c.nearDupOf.get)))
    val stray = found.filterNot { case (n, _) => plantedIds(n) }
    val dupFlag = sem.map(_.split("\u0001")).map(a => a(0).toLong -> (a(2) == "false")).toMap
    val semWrong = cands.filter(c => !dupFlag.get(c.id).contains(plantedIds(c.id)))
    Seq(
      if (missed.nonEmpty) Some(s"day ${d.index}: minhash probe missed ${missed.size} planted near-duplicates") else None,
      if (stray.nonEmpty) Some(s"day ${d.index}: minhash probe paired ${stray.size} fresh candidates") else None,
      if (semWrong.nonEmpty) Some(s"day ${d.index}: semantic probe misjudged ${semWrong.size} of ${cands.size} candidates") else None
    ).flatten
  }

  /** The live epoch pointers of both indexes and the log's file listing. */
  private def stateStamp(): Seq[String] = {
    def read(p: String) = new String(Files.readAllBytes(Paths.get(p, "current")), "UTF-8")
    val logFiles = Files.walk(Paths.get(logPath)).toArray.map(_.toString).sorted.toSeq
    Seq(read(dedupPath), read(annPath)) ++ logFiles
  }
}

object LifecycleWorkload {
  val BaseDocs = 600
  val Dim = 32
  val ShardTokens = 20000L
  val MinCosine = 0.9
  /** IVF cells; probes visit all of them, so the probe is exact and the
    * check can demand every planted near-duplicate.
    */
  val NList = 16
  val DeletesPerCompaction = 20
  val CandidateBase = 500000000000L
  val Syllables: IndexedSeq[String] = IndexedSeq(
    "ka", "lo", "mi", "ne", "tu", "ra", "si", "po", "ve", "da", "ber", "gul", "hem", "jor", "vas")

  final case class Doc(id: Long, text: String, vec: Array[Float], nearDupOf: Option[Long]) {
    override def toString: String = s"$id|$text|${vec.mkString(",")}|$nearDupOf"
  }

  /** Seeded documents: random texts over a synthetic vocabulary with unit
    * embeddings, and near-duplicates of committed documents.
    */
  final class DocGen(seed: Long) {
    private val words = Gen.vocabulary(Gen.rng(seed, 40), Syllables, 3000)

    def base: Seq[Doc] = (0 until BaseDocs).map(k => fresh(Gen.rng(seed, 41, k), 1L + k))

    /** Day `d`'s documents and probe candidates, near-duplicates drawn from
      * `committed` (10% of documents, 25% of candidates).
      */
    def day(d: Day, committed: IndexedSeq[Doc]): (Seq[Doc], Seq[Doc]) = {
      val r = Gen.rng(seed, 42, d.index)
      val first = (d.index + 10L) * 1000000L
      def batch(n: Int, from: Long, dupShare: Int): Seq[Doc] = (0 until n).map { k =>
        if (r.nextInt(100) < dupShare) nearDup(r, from + k, committed(r.nextInt(committed.size)))
        else fresh(r, from + k)
      }
      (batch(d.docs, first, 10), batch(d.candidates, CandidateBase + first, 25))
    }

    private def fresh(r: java.util.SplittableRandom, id: Long): Doc = {
      val n = 60 + r.nextInt(50)
      val text = (0 until n).map(_ => words(r.nextInt(words.size))).mkString(" ")
      Doc(id, text, normalize(Array.fill(Dim)(r.nextGaussian().toFloat)), None)
    }

    /** Three words replaced, a small vector nudge. */
    private def nearDup(r: java.util.SplittableRandom, id: Long, src: Doc): Doc = {
      val w = src.text.split(" ")
      (0 until 3).foreach(_ => w(r.nextInt(w.length)) = words(r.nextInt(words.size)))
      val v = src.vec.map(x => x + (r.nextGaussian() * 0.03).toFloat)
      Doc(id, w.mkString(" "), normalize(v), Some(src.id))
    }
  }

  /** One day: its appended documents, probe candidates, whether it instead
    * replays already committed documents, and whether it compacts.
    */
  final case class Day(index: Int, docs: Int, candidates: Int, replay: Boolean, compact: Boolean)

  /** Days are about 500 documents (seeded ±10%), day 5 of every eight about
    * 5000; about 200 candidates a day; even days (day 0 first, so that every
    * run measures one) compact.
    */
  def dayPlan(seed: Long, i: Int): Day = {
    val r = Gen.rng(seed, 44, i)
    def jitter(n: Int) = n + (n * (r.nextDouble() * 0.2 - 0.1)).toInt
    Day(i,
      docs = jitter(if (i % 8 == 5) 5000 else 500),
      candidates = jitter(200),
      replay = false,
      compact = i % 2 == 0)
  }

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
}
