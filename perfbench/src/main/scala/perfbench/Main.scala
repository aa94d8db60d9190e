package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One run = one workload, one seed:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --cores <n> --out <dir> [--size tiny] [--drop-sink-row]
  *
  * Prints, as its last stdout line, one JSON object with the keys
  * `correct`, `attempted`, `failed` and `metrics`; with `--trace 0`
  * the metrics are the end-to-end ones, with `--trace 1` the per-layer
  * ones (and the span file is written under `--out`). */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, cores: Int, out: String, tiny: Boolean, dropSinkRow: Boolean) {
    def spark(cores: Int = cores): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.default.parallelism", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .getOrCreate()
      s.sparkContext.setLogLevel("OFF")
      s
    }
  }

  /** What a workload hands back: verification counts plus the metrics
    * of the mode it ran in. */
  final case class Result(attempted: Long, failed: Long, metrics: Seq[(String, Metric)])

  def main(args: Array[String]): Unit = {
    org.apache.logging.log4j.core.config.Configurator
      .setRootLevel(org.apache.logging.log4j.Level.OFF)
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("work"), kv("cores").toInt, kv("out"), kv.get("size").contains("tiny"),
      args.contains("--drop-sink-row"))
    val r = try c.workload match {
      case "report_stream" => new Streams.Runner(c, new Streams.ReportSpec(c)).run()
      case "clean_stream" => new Streams.Runner(c, new Streams.CleanSpec(c)).run()
      case "ingest_stream" => new Streams.Runner(c, new Streams.IngestSpec(c)).run()
      case "curation_batch" => CurationBatch.run(c)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
        throw e
    }
    SparkSession.getActiveSession.foreach(_.stop())
    val metrics = r.metrics.map { case (k, m) =>
      val v = if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value
      s""""$k":{"value":$v,"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},"metrics":$metrics}""")
    System.out.flush()
    // non-daemon threads (broker acceptor, Spark internals) must not
    // keep the process alive once the result is out
    System.exit(0)
  }
}
