package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, LangModel, Pipeline, TextOps}

/** `curate`: a seeded crawl shard of HTML pages runs `Pipeline.curate` to
  * its per-page diagnosis (`ingest`); the kept pages' extracted text then
  * goes through `Dedup.ngramJaccardPairs` and char-n-gram language ID with
  * a classifier trained in set-up (`query`). Pages carry boilerplate
  * blocks and three synthetic languages; a seeded share are exact-URL
  * duplicates, near-duplicate bodies, eval-set contaminated or on blocked
  * domains, and the checks demand each one's exact fate.
  */
final class CurateWorkload(ctx: Ctx) extends Workload {
  import CurateWorkload._
  private val spark = ctx.spark
  private val text = new TextGen(ctx.seed)
  private var root = ""
  private var model: LangModel.MulticlassClassifier = _

  def setup(root: String): Unit = {
    this.root = root
    import spark.implicits._
    text.evalSet.toDF("text").write.parquet(s"$root/eval")
    text.trainingSet.toDF("text", "lang").write.parquet(s"$root/train")
    model = LangModel.trainMulticlassClassifierChars(
      spark.read.parquet(s"$root/train"), "text", "lang", n = NgramN)
  }

  def warmUp(): Seq[String] = run(Shard(-1, 100), new Steps).failures

  def op(i: Int, steps: Steps): Outcome = run(shardPlan(ctx.seed, i), steps)

  /** The output hash is the diagnosis's: equal in every run of a seed. */
  private def run(s: Shard, steps: Steps): Outcome = {
    val pages = text.shard(s)
    val inputHash = Gen.sha256(pages.iterator.map(_.toString))
    val path = s"$root/shard-${s.index}"
    import spark.implicits._
    pages.map(p => (p.id, p.source, p.url, p.html)).toDF("doc_id", "source", "url", "html")
      .write.parquet(path)
    val crawl = spark.read.parquet(path)
    val evalSet = spark.read.parquet(s"$root/eval")
    val tr = ctx.tr
    val diagnosis = steps("ingest") {
      tr.call("ops.pipeline.curate") {
        Pipeline.curate(crawl, "doc_id", "url", "source", "html", evalSet, "text", Config)
          .collect()
      }
    }
    val stage = diagnosis.map(r => r.getLong(0) -> r.getString(2)).toMap
    val keptIds = diagnosis.collect { case r if r.getString(2) == "kept" => r.getLong(0) }
    val (pairs, langs) = steps("query") {
      val kept = crawl.join(keptIds.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), TextOps.htmlExtractText(col("html")).as("text"))
      val pairs = tr.call("ops.dedup.ngram_jaccard_pairs")(
        Dedup.ngramJaccardPairs(kept, "text", "doc_id").collect())
      val langs = tr.call("ops.langmodel.predict_class_chars_tables")(
        LangModel.predictClassCharsTables(kept, "doc_id", "text", NgramN,
          model.weights, model.classMeta).collect())
      (pairs, langs)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val failures = check(s, pages, stage, pairs, langs)
    Outcome(pages.size.toLong, failures, inputHash,
      Gen.sha256(diagnosis.map(Gen.rowString).sorted.iterator))
  }

  private def check(
      s: Shard, pages: Seq[Page], stage: Map[Long, String],
      pairs: Array[Row], langs: Array[Row]): Seq[String] = {
    val f = Seq.newBuilder[String]
    val wrong = pages.filter(p => !stage.get(p.id).contains(p.expectedStage))
    if (wrong.nonEmpty)
      f += s"shard ${s.index}: ${wrong.size} pages with an unexpected stage, e.g. " +
        wrong.take(3).map(p => s"${p.id} (${p.kind}) -> ${stage.get(p.id)}").mkString(", ")
    val found = pairs.map(r => Set(r.getLong(0), r.getLong(1))).toSet
    // near-duplicates of one original are near each other too: every pair
    // inside an original's cluster must be found, and no other pair
    val planted = pages.filter(_.nearDupOf.nonEmpty).groupBy(_.nearDupOf.get).toSeq
      .flatMap { case (o, dups) => (o +: dups.map(_.id)).combinations(2).map(_.toSet) }
      .toSet
    if (found != planted)
      f += s"shard ${s.index}: near-duplicate pairs missed ${(planted -- found).take(3)}, " +
        s"unexpected ${(found -- planted).take(3)}"
    val langOf = pages.map(p => p.id -> p.lang).toMap
    val misLabeled = langs.filter(r => !langOf.get(r.getLong(0)).contains(r.getString(1)))
    if (misLabeled.nonEmpty || langs.length != stage.count(_._2 == "kept"))
      f += s"shard ${s.index}: ${misLabeled.length} of ${langs.length} kept pages mislabeled"
    f.result()
  }
}

object CurateWorkload {
  val NgramN = 3

  /** One shard: its index and page count. */
  final case class Shard(index: Int, pages: Int)

  /** A round is one shard of about 600 pages (seeded ±5%). */
  def shardPlan(seed: Long, i: Int): Shard = {
    val r = Gen.rng(seed, 22, i)
    Shard(i, 600 + (600 * (r.nextDouble() * 0.1 - 0.05)).toInt)
  }

  val BlockedDomains: Seq[String] = (0 until 5).map(k => s"spam$k.example.net")
  val Sources: IndexedSeq[String] = IndexedSeq("cc-a", "cc-b", "cc-c")

  val Config: Pipeline.CurationConfig = Pipeline.CurationConfig(
    blockedDomains = BlockedDomains,
    phrases = Seq("buy cheap pills now"),
    weights = Sources.map(_ -> 1L).toMap,
    // far above any shard's token mass: the mix stage keeps every survivor
    budgetTokens = 1000000000000L,
    shardTokens = 100000L)

  /** A generated page and the stage the funnel must assign it. */
  final case class Page(
      id: Long, source: String, url: String, html: String, lang: String,
      kind: String, nearDupOf: Option[Long]) {
    def expectedStage: String = kind match {
      case "blocked" => "domain"
      case "url_dup" => "url_dup"
      case "contaminated" => "decontam"
      case _ => "kept"
    }
  }

  /** Seeded text for one run: three synthetic languages (distinct syllable
    * inventories sharing English stopwords), an eval set and a labeled training set.
    */
  final class TextGen(seed: Long) {
    private val syllables: Seq[(String, IndexedSeq[String])] = Seq(
      "xa" -> IndexedSeq("ka", "lo", "mi", "ne", "tu", "ra", "si", "po", "ve", "da"),
      "xb" -> IndexedSeq("ber", "dan", "gul", "hem", "jor", "kin", "vas", "wel", "tor", "mur"),
      "xc" -> IndexedSeq("sch", "ach", "ung", "eit", "ist", "ond", "alt", "erz", "ich", "auf"))
    val langs: IndexedSeq[String] = syllables.map(_._1).toIndexedSeq
    private val vocab: Map[String, IndexedSeq[String]] = syllables.zipWithIndex.map {
      case ((l, syl), k) => l -> Gen.vocabulary(Gen.rng(seed, 30, k), syl, 400)
    }.toMap
    // HTML extraction keeps a block only when 30% of its words are these
    // stopwords, so every other word of a sentence is one
    private val stop = IndexedSeq("the", "of", "and", "to", "in", "is", "it", "that", "for")

    def sentence(r: java.util.SplittableRandom, lang: String): String = {
      val v = vocab(lang)
      val n = 10 + r.nextInt(7)
      (0 until n).map(j =>
        if (j % 2 == 0) stop(r.nextInt(stop.size)) else v(r.nextInt(v.size)))
        .mkString(" ") + "."
    }

    val evalSet: Seq[String] = {
      val r = Gen.rng(seed, 31)
      (0 until 200).map(_ => sentence(r, langs(r.nextInt(langs.size))))
    }

    val trainingSet: Seq[(String, String)] = {
      val r = Gen.rng(seed, 32)
      for { lang <- langs; _ <- 0 until 100 }
        yield ((0 until 4).map(_ => sentence(r, lang)).mkString(" "), lang)
    }

    private def html(domain: String, paragraphs: Seq[String]): String =
      s"<html><head><title>${paragraphs.head.take(30)}</title></head><body>" +
        """<div class="nav"><a href="/">Home</a> | <a href="/news">News</a> | """ +
        """<a href="/about">About</a> | <a href="/contact">Contact</a></div>""" +
        paragraphs.map(p => s"<p>$p</p>").mkString +
        s"""<div class="footer">Copyright 2024 $domain. All rights reserved.</div>""" +
        "</body></html>"

    /** The pages of shard `s`. Of every page: 2% on a blocked domain, 4% a
      * URL duplicate of an earlier ordinary page (tracking parameters and
      * `www.` added, fresh body), 2% carrying an eval-set sentence, and 3%
      * a near-duplicate of an earlier ordinary page (one word changed).
      */
    def shard(s: Shard): Seq[Page] = {
      val r = Gen.rng(seed, 33, s.index)
      val base = (s.index + 2L) * 1000000L
      val out = scala.collection.mutable.ArrayBuffer.empty[Page]
      val ordinary = scala.collection.mutable.ArrayBuffer.empty[Page]
      var paragraphsOf = Map.empty[Long, Seq[String]]
      (0 until s.pages).foreach { k =>
        val id = base + k
        val lang = langs(r.nextInt(langs.size))
        val source = Sources(r.nextInt(Sources.size))
        val site = s"site${r.nextInt(200)}.example.org"
        val url = s"https://$site/${Seq("news", "blog", "wiki")(r.nextInt(3))}/$id"
        def body() = (0 until 5 + r.nextInt(3)).map(_ => sentence(r, lang))
        val roll = r.nextInt(100)
        val page =
          if (roll < 2) {
            val d = BlockedDomains(r.nextInt(BlockedDomains.size))
            Page(id, source, s"https://www.$d/$id", html(d, body()), lang, "blocked", None)
          } else if (roll < 6 && ordinary.nonEmpty) {
            val o = ordinary(r.nextInt(ordinary.size))
            val dupUrl = o.url.replace("https://", "https://www.") + "?utm_source=feed"
            Page(id, source, dupUrl, html(site, body()), lang, "url_dup", None)
          } else if (roll < 8) {
            val b = body()
            val leaked = b.patch(1, Seq(evalSet(r.nextInt(evalSet.size))), 0)
            Page(id, source, url, html(site, leaked), lang, "contaminated", None)
          } else if (roll < 11 && ordinary.nonEmpty) {
            val o = ordinary(r.nextInt(ordinary.size))
            val ps = paragraphsOf(o.id)
            val words = ps(0).split(" ")
            val j = r.nextInt(words.length - 1)
            // the edit spells the page id in letters, so two near-duplicates
            // of one original never come out identical
            val tag = id.toString.map(c => ('a' + (c - '0')).toChar)
            val edited = (words.take(j) :+ words(j) + tag) ++ words.drop(j + 1)
            Page(id, o.source, url, html(site, ps.updated(0, edited.mkString(" "))),
              o.lang, "near_dup", Some(o.id))
          } else {
            val b = body()
            paragraphsOf += id -> b
            val p = Page(id, source, url, html(site, b), lang, "ordinary", None)
            ordinary += p
            p
          }
        out += page
      }
      out.toSeq
    }
  }
}
