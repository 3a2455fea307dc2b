package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer readings of one traced run: name → (value, unit). The
  * metric list and its units live in `BENCHMARK.json`; `run.py` reports a
  * listed metric a workload does not reach as 0. */
final class Layers {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
}

/** One workload: a closed loop with one client. An op lands one drop
  * (untimed load generation) and then calls the program's entry point for
  * it (timed); the next drop lands only after the op returns. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String) {

  /** Untimed ops before the measured loop (JIT and caches warm up). */
  def warmupOps: Int = 1

  /** Builds fixtures and bootstrap state under `work`, replacing any
    * earlier set-up. Returns the seconds spent in the program's bootstrap
    * call. */
  def setup(): Double

  /** Writes drop `i` where the next op reads it; returns its docs. */
  def land(i: Int): Long

  /** The op for drop `i`: the program's entry point, the same call traced
    * or not (`tr` only adds a span around it). */
  def op(i: Int, tr: Tracer): Unit

  /** Problems found in the output of op `i`; empty when it is correct. */
  def check(i: Int): Seq[String]

  /** Digest of the output the last [[check]] read. The same seed must
    * give the same digest for the same op in every run. */
  def digest: String

  /** Per-layer probes run after the traced loop (outside any op). */
  def probes(tr: Tracer, out: Layers): Unit

  /** Input properties of the workload, recorded in the output. */
  def info: Seq[(String, Any)]

  // ---- shared helpers -------------------------------------------------

  protected def path(rel: String): String = s"$work/$rel"

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Writes `rows` as `Workload.DropFiles` parquet files (contiguous
    * slices, so the bytes depend only on the rows) to a staging directory
    * and moves them into `dir` under `prefix`, so a stream source never
    * sees a half-written drop. Returns the moved files. */
  protected def landFiles[T <: Product : scala.reflect.ClassTag : scala.reflect.runtime.universe.TypeTag](
      rows: Seq[T], columns: Seq[String], dir: String, prefix: String): Seq[String] = {
    val staging = path(s"staging/$prefix")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, Workload.DropFiles))
      .toDF(columns: _*).write.mode("overwrite").parquet(staging)
    Files.createDirectories(Paths.get(dir))
    val parts = new File(staging).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val moved = parts.zipWithIndex.map { case (f, k) =>
      val to = Paths.get(dir, f"$prefix-$k%03d.parquet")
      Files.move(f.toPath, to, StandardCopyOption.ATOMIC_MOVE)
      to.toString
    }
    Workload.rm(staging)
    moved.toSeq
  }

  /** Fixture pages through the program's own fixture path:
    * `SyntheticPages.fromDocuments` over a generated `documents` table.
    * Rows (url, text, lang), ordered by source doc id. */
  protected def fixturePages(n: Int): IndexedSeq[(String, String, String)] = {
    import spark.implicits._
    val dir = path("fixture")
    Gen.fixtureDocuments(seed, n).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.pipeline.SyntheticPages.fromDocuments(spark, dir)
      .select("url", "text", "lang").as[(String, String, String)].collect()
      .sortBy(_._1.split("/").last.toLong).toIndexedSeq
  }
}

object Workload {
  /** Parquet files per landed drop: a crawl drop arrives as several
    * splits, so the scan is not one task. */
  val DropFiles = 8
  val Epoch = java.time.LocalDate.of(2025, 1, 1)

  def day(i: Int): String = Epoch.plusDays(i.toLong).toString

  def timestamp(i: Int, secondOfDay: Int): java.sql.Timestamp =
    java.sql.Timestamp.from(Epoch.plusDays(i.toLong).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.plusSeconds(secondOfDay.toLong))

  def html(text: String): Array[Byte] =
    s"<html><body>$text</body></html>".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def rm(p: String): Unit = {
    def go(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(p))
  }

  /** (data files, bytes) under a directory, skipping hidden and marker
    * files the way Spark's readers do. */
  def footprint(p: String): (Long, Long) = {
    var files = 0L; var bytes = 0L
    def go(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        files += 1; bytes += f.length()
      }
    go(new File(p))
    (files, bytes)
  }

  /** SHA-256 of the sorted lines: an order-free digest of a row set. */
  def digestOf(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
