package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Harness process: one woodwork session on `local[cores]` that runs a
  * warm pass and then measured passes of one workload, and writes
  * `result.json` (passes, calls, setup), `spans.jsonl` (traced passes)
  * and `oracle_sql.json` (the DuckDB oracle of each oracled call) under
  * `--out`. `perfbench/run.py` turns these into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --out DIR [--inject throw,wrong]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("out"),
      kv.getOrElse("inject", "").split(",").filter(_.nonEmpty).toSet)
    val workload = Workloads(opts.workload, opts.inject)
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${opts.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
      def write(name: String, text: String): Unit =
        Files.write(Paths.get(s"${opts.out}/$name"),
          text.getBytes(StandardCharsets.UTF_8))
      val result = Harness.run(spark, opts, jvmStartMs, sessionS, workload)
      val spans = result("spans").asInstanceOf[Seq[Map[String, Any]]]
      write("spans.jsonl",
        spans.map(json.writeValueAsString).mkString("", "\n", "\n"))
      write("result.json", json.writeValueAsString(result - "spans"))
      val oracles = graft.Oracles.all(None)
      val used = result("calls").asInstanceOf[Seq[Map[String, Any]]]
        .map(_("oracle").toString).filter(_.nonEmpty).distinct
      write("oracle_sql.json",
        json.writeValueAsString(used.map(q => q -> oracles(q)).toMap))
    } finally spark.stop()
  }
}
