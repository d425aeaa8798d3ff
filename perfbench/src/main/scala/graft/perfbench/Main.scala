package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import graft.core.Sessions

/** One benchmark run of one workload, started by run.py.
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --cores <n>
  *
  * A run sets up once (session start plus input generation), then makes
  * passes until `--seconds` have elapsed, at least one. The first pass of
  * a run is the first in its JVM, the cost a `spark-submit` user pays.
  * With `--trace 1` the run's one pass is traced instead and reports
  * per-layer figures. Everything the output checks and the metrics need
  * lands in `<work>/result.json`; spans of a traced run in
  * `<work>/spans.jsonl`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = Run(
      workload = opts("workload"),
      seed = opts("seed").toLong,
      seconds = opts("seconds").toDouble,
      trace = opts("trace") == "1",
      work = opts("work"),
      cores = opts("cores").toInt)
    val workload: Workload = run.workload match {
      case "release_all" => new ReleaseAll(run)
      case "operator_mix" => new OperatorMix(run)
      case other => sys.error(s"unknown workload '$other'")
    }
    val result = workload.execute()
    Files.write(Paths.get(run.work, "result.json"), result.getBytes(UTF_8))
  }
}

final case class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, cores: Int) {

  /** The session `EtlMain` builds (`core.Sessions.builder`), on
    * `local[cores]`; scratch and warehouse directories stay in the work
    * directory.
    */
  def session(): SparkSession = {
    val spark = Sessions.builder(appName = s"graft-perfbench-$workload", master = Some(s"local[$cores]"))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One timed operation: a pass or a stream drain. `out` is where its
  * output landed, for the checks; `latenciesMs` a drain's batch latencies.
  */
final case class Op(kind: String, seconds: Double, out: String = "",
    latenciesMs: Seq[Double] = Nil, error: String = "")

abstract class Workload(val run: Run) {

  /** Generates this workload's inputs into `dir`; returns the number of
    * documents a pass reads. A traced run may need more inputs.
    */
  def generate(spark: SparkSession, dir: String): Long

  /** One untraced pass over the inputs in `in`, writing under `out`. */
  def pass(spark: SparkSession, in: String, out: String): Op

  /** One traced pass (plus any traced extra the workload carries);
    * returns per-layer metrics and the operations to check.
    */
  def tracedPass(spark: SparkSession, in: String, out: String, listener: TagListener,
      tracer: Tracer): (Map[String, Double], Seq[Op])

  /** State a pass leaves behind that a fresh process would not have. */
  def betweenPasses(spark: SparkSession): Unit = ()

  /** Extra facts for the checks, written once per run outside timing. */
  def checkInputs(spark: SparkSession, in: String): Map[String, Any] = Map.empty

  def execute(): String = {
    val t0 = System.nanoTime()
    val spark = run.session()
    val in = s"${run.work}/in"
    val docs = generate(spark, in)
    val setupSeconds = (System.nanoTime() - t0) / 1e9
    val ops = ArrayBuffer[Op]()
    var layers = Map.empty[String, Double]
    var spans = ""
    try {
      if (run.trace) {
        // listener and spans only in traced runs: end-to-end figures are
        // measured with tracing off
        val listener = new TagListener
        spark.sparkContext.addSparkListener(listener)
        val tracer = new Tracer(spark.sparkContext)
        val (perLayer, traced) = tracedPass(spark, in, s"${run.work}/out", listener, tracer)
        layers = perLayer
        ops ++= traced
        spans = tracer.toJsonLines(s"${run.workload}-${run.seed}")
      } else {
        val start = System.nanoTime()
        do {
          if (ops.nonEmpty) betweenPasses(spark)
          ops += pass(spark, in, s"${run.work}/out/${ops.size}")
            .copy(kind = if (ops.isEmpty) "cold" else "warm")
        } while ((System.nanoTime() - start) / 1e9 < run.seconds)
      }
      val facts = checkInputs(spark, in)
      Files.write(Paths.get(run.work, "spans.jsonl"), spans.getBytes(UTF_8))
      Json.obj(
        "workload" -> run.workload, "seed" -> run.seed, "cores" -> run.cores,
        "docs" -> docs, "input" -> in,
        "setup_s" -> setupSeconds,
        "ops" -> ops.map(o => Map("kind" -> o.kind, "seconds" -> o.seconds, "out" -> o.out,
          "latencies_ms" -> o.latenciesMs, "error" -> o.error)),
        "layers" -> layers,
        "facts" -> facts,
        "peak_rss_mb" -> Rss.peakMb)
    } finally spark.stop()
  }
}
