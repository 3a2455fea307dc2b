package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.IncrementalDedup
import graft.pipeline.IncrementalCuration
import graft.sources.StateLake
import graft.streaming.CurationStream

/** `daily_curate`: small daily drops against a persisted history. The
  * state lake is bootstrapped once by `IncrementalCuration.initLake`; each
  * op lands one day's drop (fresh third-mixes, exact recrawls and
  * drop-3-token near-dup mutants of history) and drains it through
  * `CurationStream.runAvailable`. The step is barrier-bound: many small
  * jobs, history reads and appends; the detector never runs. */
final class DailyCurate(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  import DailyCurate._
  import spark.implicits._

  private val root = path("state")
  private val inDir = path("in")
  private val outDir = path("out")
  private val ckptDir = path("ckpt")
  private var base: IndexedSeq[(String, String)] = IndexedSeq.empty // (url, text)
  private var baseTexts: IndexedSeq[String] = IndexedSeq.empty
  private var history: IndexedSeq[String] = IndexedSeq.empty // text of doc id k + 1
  // the current drop: ids of each kind, and the last day landed
  private var ids: Map[Long, String] = Map.empty
  private var lastDay = -1
  private var lakeDocs = 0L
  private val kinds = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L)) // kind → (landed, survived)
  val survivorCounts = mutable.ArrayBuffer.empty[Long]
  private var lastDigest = ""

  /** The step's planning code keeps compiling through its first ops (the
    * replay after the first set-up is one of them). */
  override def warmupOps: Int = 1

  def setup(): Double = {
    Workload.rm(work)
    base = fixturePages(BaseDocs).map { case (u, t, _) => (u, t) }
    baseTexts = base.map(_._2)
    history = for (rep <- 0 until HistoryReps; (u, _) <- base)
      yield Gen.thirdMix(baseTexts, s"?h$seed", u, rep)
    history.zipWithIndex.map { case (t, k) => (k + 1L, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(path("history"))
    lakeDocs = history.size
    survivorCounts.clear(); kinds.clear()
    seconds {
      IncrementalCuration.initLake(spark.read.parquet(path("history")), None, root,
        withLineDedup = true)
    }
  }

  /** Day `i`'s drop as (doc_id, text, kind). Ids rise strictly with the
    * day and sit above every history id, as `stepLake` requires. */
  def rows(i: Int): Seq[(Long, String, String)] = {
    val r = Gen.rng(seed, "daily-drop", i)
    val fresh = (0 until FreshDocs).map { j =>
      Gen.thirdMix(baseTexts, s"?d$i/$seed", base(r.nextInt(base.size))._1, j) -> "fresh"
    }
    val recrawls = (0 until RecrawlDocs).map(_ => history(r.nextInt(history.size)) -> "recrawl")
    val mutants = (0 until MutantDocs).map(_ => Gen.dropThree(history(r.nextInt(history.size))) -> "mutant")
    val lo = history.size + 1L + i.toLong * 1000000L
    r.shuffle(fresh ++ recrawls ++ mutants).zipWithIndex.map { case ((t, kind), k) =>
      (lo + k, t, kind)
    }
  }

  private def landDay(i: Int, dir: String): Seq[String] = {
    val rs = rows(i)
    ids = rs.map { case (id, _, kind) => id -> kind }.toMap
    lastDay = i
    landFiles(rs.map { case (id, t, _) => (id, t) }, Seq("doc_id", "text"), dir, f"day-$i%05d")
  }

  def land(i: Int): Long = { landDay(i, inDir); ids.size.toLong }

  def op(i: Int, tr: Tracer): Unit =
    tr.span("curationstream.run_available") {
      CurationStream.runAvailable(spark, inDir, root, outDir, ckptDir)
    }

  def check(i: Int): Seq[String] = {
    val (lo, hi) = (ids.keys.min, ids.keys.max)
    val survivors = spark.read.parquet(outDir).filter(col("doc_id").between(lo, hi))
      .select("doc_id").as[Long].collect().toSeq
    for ((id, kind) <- ids) {
      val (n, s) = kinds(kind)
      kinds(kind) = (n + 1, s + (if (survivors.contains(id)) 1 else 0))
    }
    survivorCounts += survivors.size
    lakeDocs += survivors.distinct.size
    lastDigest = Workload.digestOf(survivors.map(_.toString))
    val lake = StateLake.read(spark, s"$root/docs").count()
    Checks.survivingRecrawls(survivors, ids.collect { case (id, "recrawl") => id }.toSet)
      .take(3).map(id => s"recrawl $id survived") ++
      Checks.keyDiff(ids.keySet.map(_.toString), survivors.map(_.toString))
        .filterNot(_.startsWith("missing")) ++
      (if (lake != lakeDocs) Seq(s"lake holds $lake docs, expected $lakeDocs") else Nil)
  }

  def digest: String = lastDigest

  /** The lake step's stages, timed through `stepLake`'s `onStage` hook on
    * [[ProbeDays]] more days, each called the way the stream's micro-batch
    * calls it (state version, then the step pinned at it, then the
    * survivors' write). They advance the lake; no check runs after them. */
  def probes(tr: Tracer, out: Layers): Unit = {
    Probes.detector(baseTexts, out)
    val stageSecs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def stage(name: String, s: Double): Unit =
      stageSecs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
    var dropFiles: Seq[String] = Nil
    for (d <- lastDay + 1 to lastDay + ProbeDays) {
      dropFiles = landDay(d, path(s"probe_in/day-$d"))
      val batch = spark.read.schema("doc_id LONG, text STRING").parquet(dropFiles: _*)
      tr.span("probe.step") {
        val t0 = System.nanoTime()
        val v = tr.span("sources.state_version")(IncrementalCuration.lakeStateVersion(spark, root))
        var firstStage = -1L
        val survivors = tr.span("pipeline.step_lake") {
          IncrementalCuration.stepLake(spark, root, batch, atVersion = Some(v),
            onStage = (name, s) => {
              val end = System.nanoTime()
              val start = end - (s * 1e9).toLong
              if (firstStage < 0) firstStage = start
              tr.record(s"pipeline.step.$name", start, end)
              if (ReportedStages(name)) stage(s"pipeline.step.${name}_s", s)
            })
        }
        // the state load: the version read and the step's own reads before its first stage
        tr.record("sources.load_lake", t0, firstStage)
        stage("sources.load_lake_s", (firstStage - t0) / 1e9)
        tr.span("sources.output_append") {
          survivors.write.mode("overwrite").parquet(path(s"probe_out/day-$d"))
        }
      }
    }
    for ((name, secs) <- stageSecs) out.put(name, Workload.median(secs.toSeq), "s")
    val batch = spark.read.parquet(dropFiles: _*).cache()
    batch.count()
    out.put("functions.minhash_s", Workload.median((1 to 3).map(_ =>
      tr.span("probe.minhash")(seconds(noop(IncrementalDedup.bandTable(batch, "doc_id", "text")))))), "s")
    batch.unpersist()
    def frac(kind: String, survived: Boolean): Double = {
      val (n, s) = kinds(kind)
      (if (survived) s else n - s).toDouble / math.max(n, 1L)
    }
    val all = kinds.values.foldLeft((0L, 0L)) { case ((a, b), (n, s)) => (a + n, b + s) }
    out.put("operators.survivor_frac", all._2.toDouble / math.max(all._1, 1L), "frac")
    out.put("operators.recrawl_drop_frac", frac("recrawl", survived = false), "frac")
    out.put("operators.mutant_drop_frac", frac("mutant", survived = false), "frac")
    val (files, bytes) = Workload.footprint(root)
    out.put("sources.lake_files", files, "count")
    out.put("sources.lake_bytes", bytes, "bytes")
    // Bloom read filters against digests known to be absent (fresh mixes
    // under a probe salt) and known members (history texts)
    val filters = tr.span("probe.read_bloom")(StateLake.readBloom(spark, s"$root/docs_bloom"))
    val bf = spark.sparkContext.broadcast(filters)
    val probe = ((0 until BloomProbes).map(j =>
        (Gen.thirdMix(baseTexts, s"?probe$seed", base(j % base.size)._1, j), false)) ++
      history.take(BloomProbes / 10).map(t => (t, true))).toDF("text", "member")
      .withColumn("hit", graft.functions.BloomMightContainSharded
        .might_contain_sharded(md5(col("text")), bf))
    val counts = probe.groupBy("member").agg(count(lit(1)).as("n"),
      sum(col("hit").cast("long")).as("hits")).as[(Boolean, Long, Long)].collect()
    val absent = counts.find(!_._1).get
    out.put("sources.bloom_suspect_frac", absent._3.toDouble / absent._2, "frac")
    out.put("sources.bloom_member_hit_frac",
      counts.find(_._1).map(c => c._3.toDouble / c._2).get, "frac")
    bf.destroy()
  }

  def info: Seq[(String, Any)] = Seq(
    "history_docs" -> history.size,
    "drop_docs" -> (FreshDocs + RecrawlDocs + MutantDocs),
    "fresh_share" -> FreshDocs.toDouble / (FreshDocs + RecrawlDocs + MutantDocs),
    "recrawl_share" -> RecrawlDocs.toDouble / (FreshDocs + RecrawlDocs + MutantDocs),
    "mutant_share" -> MutantDocs.toDouble / (FreshDocs + RecrawlDocs + MutantDocs),
    "korean_share" -> 0.0,
    "bloom_fpp" -> 0.01,
    "survivors_per_day" -> survivorCounts.toSeq)
}

object DailyCurate {
  val BaseDocs = 1000
  val HistoryReps = 1
  val FreshDocs = 300
  val RecrawlDocs = 60
  val MutantDocs = 60
  val BloomProbes = 5000
  val ProbeDays = 2
  /** `stepLake` stages with work to time here. `spans` and `hostcap` are
    * off in this configuration (span dedup and the host cap are not
    * enabled) and return at once, so they are not reported. */
  val ReportedStages = Set("exact", "lines", "neardup_batch", "neardup_history", "semantic",
    "survivors", "appends")
}
