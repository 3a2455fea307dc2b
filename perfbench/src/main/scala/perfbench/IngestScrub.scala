package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.PiiDetector
import graft.pipeline.QualityPipeline
import graft.sources.PageLake
import graft.streaming.PageStream

/** `ingest_scrub`: each op lands one crawl drop of pages and drains it
  * through `PageStream.runIntoLake` (quality gates, PII scrub, kept pages
  * appended to a page lake that grows one day partition per drop). Per-row
  * narrow kernels do the work, mostly the detector; the state lake and the
  * dedup operators are never touched. */
final class IngestScrub(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  import IngestScrub._
  import spark.implicits._

  private val inDir = path("in")
  private val lakeDir = path("lake")
  private val ckptDir = path("ckpt")
  private var fixtures: IndexedSeq[(String, String, String)] = IndexedSeq.empty
  // the current drop by url, and its files
  private var drop: Map[String, Page] = Map.empty
  private var dropFiles: Seq[String] = Nil
  private var docs = 0L
  private var kept = 0L
  private var lastDigest = ""

  /** The replay after the first set-up is a warm-up too. */
  override def warmupOps: Int = 2

  /** Fixture pages, then the bootstrap: the batch pipeline over a first
    * crawl (day -1) written as the lake the stream appends to. */
  def setup(): Double = {
    Workload.rm(work)
    docs = 0; kept = 0
    fixtures = fixturePages(FixtureDocs).filter(p => Gen.clearlyKept(p._2))
    val boot = pagesDf(rows(-1).take(BootstrapPages), -1).cache()
    boot.count()
    val s = seconds(PageLake.write(lakeRows(QualityPipeline.runKept(boot, Quality)), lakeDir))
    boot.unpersist()
    s
  }

  private def pagesRows(rs: Seq[Page], i: Int) =
    rs.zipWithIndex.map { case (Page(u, t, _, lang, _), k) =>
      (u, Workload.timestamp(i, k), Workload.html(t), t, lang)
    }

  private def pagesDf(rs: Seq[Page], i: Int) =
    pagesRows(rs, i).toDF("url", "warc_ts", "html", "text", "lang")

  /** Kept, scrubbed pages in the lake's page schema (what
    * `PageStream.runIntoLake` appends). */
  private def lakeRows(kept: org.apache.spark.sql.DataFrame) =
    kept.select(col("url"), col("warc_ts"),
      encode(concat(lit("<html><body>"), col("text_scrubbed"), lit("</body></html>")),
        "UTF-8").as("html"),
      col("text_scrubbed").as("text"), col("lang_pred").as("lang"))

  /** Drop `i`: Korean PII documents, fixture pages and stubs, in a seeded
    * order, all stamped with day `i`. The gates must keep every Korean
    * and fixture page (each is [[Gen.clearlyKept]]) and drop every stub
    * (fewer words than `minWords`). */
  def rows(i: Int): Seq[Page] = {
    val r = Gen.rng(seed, "ingest-drop", i)
    val ko = (0 until KoreanDocs).map { j =>
      val d = Gen.koreanDoc(seed, s"ingest-$i", j)
      Page(s"https://ko-${j % 50}.example.kr/drop$i/doc$j", d.text, d.planted.map(_._2), "ko",
        kept = true)
    }
    val fx = (0 until FixturePages).map { j =>
      val (url, text, lang) = fixtures(r.nextInt(fixtures.length))
      Page(s"$url?drop=$i&n=$j", text, Nil, lang, kept = true)
    }
    val stubs = (0 until StubPages).map { j =>
      Page(s"https://stub-${j % 10}.example.net/drop$i/$j", Gen.stubText(seed, s"stub-$i", j), Nil, "ko",
        kept = false)
    }
    r.shuffle(ko ++ fx ++ stubs)
  }

  def land(i: Int): Long = {
    val rs = rows(i)
    drop = rs.map(p => p.url -> p).toMap
    dropFiles = landFiles(pagesRows(rs, i), Seq("url", "warc_ts", "html", "text", "lang"),
      inDir, f"drop-$i%05d")
    rs.size.toLong
  }

  def op(i: Int, tr: Tracer): Unit =
    tr.span("pagestream.run_into_lake") {
      PageStream.runIntoLake(spark, inDir, lakeDir, ckptDir, Quality)
    }

  def check(i: Int): Seq[String] = {
    val expected = drop.values.filter(_.kept).map(_.url).toSet
    val lake = PageLake.readDay(spark, lakeDir, Workload.day(i))
      .select("url", "text").as[(String, String)].collect().toSeq
    docs += drop.size
    kept += lake.size
    lastDigest = Workload.digestOf(lake.map { case (u, t) => s"$u\t$t" })
    val r = Gen.rng(seed, "ingest-sample", i)
    val sample = r.shuffle(lake).take(SampleRows)
    Checks.keyDiff(expected, lake.map(_._1)) ++
      Checks.leaks(lake.map { case (u, t) => (u, t, drop.get(u).fold(Seq.empty[String])(_.planted)) }) ++
      Checks.scrubMismatches(sample.map { case (u, t) => (u, drop.get(u).fold("")(_.text), t) })
        .map(u => s"$u differs from PiiDetector.scrub of its input")
  }

  def digest: String = lastDigest

  def probes(tr: Tracer, out: Layers): Unit = {
    val texts = drop.values.map(_.text).toSeq.sorted
    Probes.detector(texts, out)
    val pages = spark.read.parquet(dropFiles: _*).cache()
    val base = QualityPipeline.extract(pages).cache()
    val lid = QualityPipeline.langIdStage(base).cache()
    val quality = QualityPipeline.qualityStage(lid, Quality).cache()
    Seq(pages, base, lid, quality).foreach(_.count())
    def timed(name: String)(body: => Unit): Double =
      Workload.median((1 to 3).map(_ => tr.span(s"probe.$name")(seconds(body))))
    out.put("functions.langid_stage_s",
      timed("langid_stage")(noop(QualityPipeline.langIdStage(base))), "s")
    out.put("functions.quality_stage_s",
      timed("quality_stage")(noop(QualityPipeline.qualityStage(lid, Quality))), "s")
    out.put("functions.pii_stage_s",
      timed("pii_stage")(noop(QualityPipeline.piiStage(quality))), "s")
    out.put("pipeline.run_kept_s",
      timed("run_kept")(noop(QualityPipeline.runKept(pages, Quality))), "s")
    out.put("pipeline.kept_frac", kept.toDouble / docs, "frac")
    val (files, bytes) = Workload.footprint(lakeDir)
    out.put("sources.lake_files", files, "count")
    out.put("sources.lake_bytes", bytes, "bytes")
    // the lake writer alone, on an already-scrubbed batch, into the lake
    // as the loop left it (this appends copies; no check runs after it)
    val batch = lakeRows(QualityPipeline.runKept(pages, Quality)).cache()
    batch.count()
    out.put("sources.pagelake_append_s",
      timed("pagelake_append")(PageLake.append(batch, lakeDir)), "s")
    Seq(batch, quality, lid, base, pages).foreach(_.unpersist())
  }

  def info: Seq[(String, Any)] = Seq(
    "drop_docs" -> (KoreanDocs + FixturePages + StubPages),
    "korean_share" -> KoreanDocs.toDouble / (KoreanDocs + FixturePages + StubPages),
    "stub_share" -> StubPages.toDouble / (KoreanDocs + FixturePages + StubPages),
    "planted_per_korean_doc" -> Gen.PiiPerDoc,
    "fixture_pool_share" -> fixtures.size.toDouble / FixtureDocs,
    "kept_share" -> (if (docs == 0) Double.NaN else kept.toDouble / docs))
}

object IngestScrub {
  /** One generated page: its planted values, and whether the quality
    * gates must keep it. */
  final case class Page(url: String, text: String, planted: Seq[String], lang: String,
                        kept: Boolean)

  /** Quality gates for a Korean crawl. The default Gopher alpha-word gate
    * counts only ASCII letters, so it would drop every Korean page before
    * the scrub; a Korean deployment turns it off. */
  val Quality: QualityPipeline.Config = QualityPipeline.Config(minAlphaWordRatio = 0.0)

  val FixtureDocs = 2000
  val KoreanDocs = 1500
  val FixturePages = 1200
  val StubPages = 300
  val BootstrapPages = 1000
  val SampleRows = 32
}

/** Probes shared by the workloads. */
object Probes {

  /** Single-thread detector cost over a fixed text sample (the host-speed
    * canary), and the exact mean count of detected values per text. */
  def detector(texts: Seq[String], out: Layers): Unit = {
    val passes = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      texts.foreach(PiiDetector.scrub)
      (System.nanoTime() - t0) / 1e3 / texts.size
    }
    out.put("core.scrub_us_per_doc", Workload.median(passes), "us")
    val items = texts.map(t => PiiDetector.detect(t).cats.map(l => if (l == null) 0 else l.size).sum).sum
    out.put("core.pii_items_per_doc", items.toDouble / texts.size, "count")
  }
}
