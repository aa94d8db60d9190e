package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.operators.{Curation, Dedup, TextAnalysis}

import Main.{Conf, Result}

/** curation_batch: repeated `qCurationE2e` + `exportShards` passes,
  * each over a fresh snapshot directory of the same seeded corpus, so
  * per-snapshot memoized builds (the LSH pair index) are paid every
  * pass, as on a new crawl. One untimed warm-up pass runs first, then
  * one timed pass. */
object CurationBatch {

  private def copyDir(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.foreach(f => Files.copy(f, to.resolve(f.getFileName)))
  }

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** A fresh snapshot directory `snap-<i>` holding the corpus. */
  private def snapshot(c: Conf, corpus: Path, i: Int): String = {
    val d = Paths.get(c.work, s"snap-$i")
    copyDir(corpus.resolve("documents.parquet"), d.resolve("documents.parquet"))
    d.toString
  }

  /** Count of input docs the pass got wrong: conservation along the
    * attrition table (n_in - n_dropped = n_out on the document stages,
    * n_in = previous n_out all along) and the manifest digest
    * recomputed from the written shards. */
  private def passFailed(rows: Array[Row],
      exported: DataFrame, nDocs: Long): Boolean = {
    val t = rows.map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6)))
    val conserved = t.length == 7 && t(0)._1 == nDocs &&
      t.take(5).forall { case (in, drop, out, _) => in - drop == out } &&
      t.sliding(2).forall { case Array(a, b) => b._1 == a._3 }
    val re = exported.groupBy(col("bucket"), col("pack_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"))
      .withColumn("h", conv(substring(md5(concat_ws(":", col("bucket"), col("pack_id"),
        col("n_chunks"), col("n_tokens"), col("n_docs"))), 1, 15), 16, 10).cast(LongType))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L))).head().getLong(0)
    !(conserved && re == t(6)._4)
  }

  private def nDocs(c: Conf): Int = if (c.tiny) 800 else 4000

  /** Write the seeded corpus as `documents.parquet` under `corpus`. */
  private def writeCorpus(spark: SparkSession, c: Conf, corpus: Path): Unit = {
    import spark.implicits._
    Gen.curationCorpus(c.seed, nDocs(c)).map(d => (d.id, d.text, "en", "bench", d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(corpus.resolve("documents.parquet").toString)
  }

  /** One pass on a fresh snapshot `i`: (seconds, attrition rows,
    * exported artifact, export directory). */
  private def pass(s: SparkSession, c: Conf, corpus: Path, tracer: Tracer,
      i: Int): (Double, Array[Row], DataFrame, String) = {
    val snap = snapshot(c, corpus, i)
    val out = s"${c.work}/export-$i"
    val t0 = System.nanoTime()
    val (rows, art) = tracer.span("curation.pass", i) {
      val rows = tracer.span("curation.e2e", i)(Curation.qCurationE2e(s, snap).collect())
      (rows, tracer.span("curation.export", i)(Curation.exportShards(s, snap, out)))
    }
    ((System.nanoTime() - t0) / 1e9, rows, art, out)
  }

  /** Verify a pass: docs it got wrong (all of them, or none). */
  private def verify(c: Conf, rows: Array[Row], art: DataFrame): Long = {
    val exported = if (c.dropSinkRow) art.orderBy(col("doc_id"), col("chunk_id")).offset(1) else art
    if (passFailed(rows, exported, nDocs(c))) nDocs(c).toLong else 0L
  }

  /** Per-layer numbers of the curation operators: each stage's public
    * query timed on a fresh snapshot, plus the export of `pass` and
    * the kept share of its attrition `rows`. */
  private def layers(spark: SparkSession, c: Conf, corpus: Path, tracer: Tracer,
      rows: Array[Row], out: String): Seq[(String, Metric)] = {
    val probe = snapshot(c, corpus, 1000)
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, funnelS) = timed(TextAnalysis.qFilterFunnel(spark, probe).collect())
    val (pairs, lshS) = timed(Dedup.qMinhashLsh(spark, probe).count())
    val (_, ccS) = timed(Dedup.qDedupClusters(spark, probe).count())
    val (_, decontamS) = timed(TextAnalysis.qBloomDecontam(spark, probe).collect())
    val (_, budgetS) = timed(TextAnalysis.qTokenBudgetSample(spark, probe).collect())
    val (_, packS) = timed(TextAnalysis.qSeqPack(spark, probe).collect())
    val kept = if (rows.length >= 5) rows(4).getLong(4).toDouble / nDocs(c) else 0.0
    Seq(
      "curation.funnel_s" -> Metric(funnelS, "s"),
      "dedup.lsh_pairs_s" -> Metric(lshS, "s"),
      "dedup.pairs" -> Metric(pairs.toDouble, "count"),
      "dedup.cc_s" -> Metric(ccS, "s"),
      "curation.decontam_s" -> Metric(decontamS, "s"),
      "curation.budget_s" -> Metric(budgetS, "s"),
      "curation.pack_s" -> Metric(packS, "s"),
      "curation.export_s" -> Metric(Stats.median(tracer.durations("curation.export")) / 1000, "s"),
      "curation.export_bytes" -> Metric(dirBytes(Paths.get(out)).toDouble, "bytes"),
      "curation.kept_ratio" -> Metric(kept, "ratio"))
  }

  /** The curation steps inside another workload's traced run: one
    * verified pass on the session's first contact with these operators
    * (so its export time includes JIT warm-up), then the stage probes.
    * Returns (attempted, failed, per-layer metrics). */
  def steps(spark: SparkSession, c: Conf, tracer: Tracer): (Long, Long, Seq[(String, Metric)]) = {
    val corpus = Paths.get(c.work, "corpus")
    writeCorpus(spark, c, corpus)
    val (_, rows, art, out) = pass(spark, c, corpus, tracer, 0)
    (nDocs(c).toLong, verify(c, rows, art), layers(spark, c, corpus, tracer, rows, out))
  }

  def run(c: Conf): Result = {
    val corpus = Paths.get(c.work, "corpus")
    val tracer = new Tracer(c.trace)

    // set-up: the first session in a fresh JVM, until it has resolved
    // the corpus snapshot; writing the generated corpus is not counted
    val t0 = System.nanoTime()
    val spark = c.spark()
    val t1 = System.nanoTime()
    writeCorpus(spark, c, corpus)
    val t2 = System.nanoTime()
    Tables.documents(spark, corpus.toString).schema
    val setupS = ((t1 - t0) + (System.nanoTime() - t2)) / 1e9

    val tasks = new TaskProbe
    spark.sparkContext.addSparkListener(tasks)
    pass(spark, c, corpus, tracer, 0) // warm-up, untimed
    tasks.reset()
    val (passS, rows, art, out) = pass(spark, c, corpus, tracer, 1)
    val failed = verify(c, rows, art)
    val attempted = nDocs(c).toLong

    val metrics =
      if (!c.trace) Seq(
        "throughput_rps" -> Metric(attempted / passS, "1/s"),
        "latency_p50_ms" -> Metric(passS * 1000, "ms"),
        "latency_p99_ms" -> Metric(passS * 1000, "ms"),
        "setup_s" -> Metric(setupS, "s"),
        "peak_rss_mb" -> Metric(Rss.peakMb, "MiB"))
      else {
        val execM = tasks.metrics((passS * 1e9).toLong, c.cores)
        val heapPeakMb = Rss.heapPeakMb
        val stages = layers(spark, c, corpus, tracer, rows, out)
        // serial baseline: one pass on a single-core session
        spark.stop()
        val (serialS, _, _, _) = pass(c.spark(cores = 1), c, corpus, tracer, 2000)
        execM ++ stages ++ Seq(
          "exec.parallel_efficiency" -> Metric(serialS / passS / c.cores, "ratio"),
          "jvm.heap_peak_mb" -> Metric(heapPeakMb, "MiB"),
          "trace.overhead_ratio" -> Metric(0.0, "ratio"))
      }
    if (c.trace)
      tracer.writeJson(Paths.get(c.out, s"trace-${c.workload}-${c.seed}.json"))
    Result(attempted, failed, metrics)
  }
}
