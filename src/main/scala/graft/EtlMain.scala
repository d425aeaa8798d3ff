package graft

import org.apache.spark.ml.feature.Word2VecModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{Io, Sessions}
import graft.etl._

/** CLI entry for the literature pipeline — the runnable surface a user of
  * the reference switches to (reference Main.scala:8–62: step dispatch
  * over processing/embedding/vectors/evidence/all, configured by
  * Configuration.scala:73–81 + reference.conf with per-release overlays).
  *
  * Usage:
  *   graft.EtlMain <step> [<step>...] [config=run.yaml] key=value...
  * steps: processing | embedding | vectors | evidence | all — an ordered
  * list, validated up front before any work runs (reference
  * Main.scala:39–62 validating against common.default-steps).
  * keys (CLI overrides win over the config file; nested keys dotted):
  *   config=        YAML config file (see EtlConfig — section ranks,
  *                  w2v hyperparameters, input schemas and per-output
  *                  write shaping live here)
  *   epmc= epmcids= targets= diseases= drugs=   (processing inputs,
  *                  equivalently inputs.epmc= …; structured form
  *                  inputs.epmc.path/.format/.schema/.options.*)
  *   out=           (output root, required)
  *   format=        (output format, default parquet)
  *   threshold=     (evidence cosine threshold, default 0.01)
  *   w2v.vectorSize= w2v.windowSize= w2v.maxIter= w2v.minCount=
  *   w2v.stepSize= w2v.numPartitions= w2v.seed=
  *   outputs.<name>.partitionBy= outputs.<name>.targetFiles=
  *   outputs.<name>.maxRecordsPerFile=
  * The EPMC input reads with the built-in EpmcSchema unless the config
  * declares `inputs.epmc.schema` (a DDL string, or `infer`) — schema
  * inference on JSON is a full extra pass over the corpus and is never
  * the default (core/Io.scala scaladoc).
  * Step-to-step inputs are read from the standard locations under out=.
  *
  * The processing step grounds the corpus once: `Grounding.compute`
  * caches the repaired sentence frame and the grounded-label table, the
  * four grounding outputs are written from those caches, and the caches
  * are freed as soon as those writes end, on success or failure, so a
  * long-lived session keeps nothing. The literature index is then built
  * from the `matches` just written, read back like every later step
  * reads it.
  */
object EtlMain {

  private val knownSteps = Seq("processing", "embedding", "vectors", "evidence")

  def main(args: Array[String]): Unit = {
    val (stepArgs, optArgs) = args.span(!_.contains("="))
    require(stepArgs.nonEmpty,
      "usage: EtlMain <step> [<step>...] [config=file.yaml] key=value...")
    val steps = validateSteps(stepArgs.toSeq)
    val opts = optArgs.map { a =>
      a.split("=", 2) match {
        case Array(k, v) => k -> v
        // a step name AFTER the first key=value lands here — say so,
        // instead of a bare MatchError
        case _ => sys.error(s"argument '$a' is not key=value — steps must " +
          "come before all key=value arguments")
      }
    }.toMap
    val cfg = EtlConfig.load(opts.get("config"), opts - "config")
    val spark = Sessions.builder(appName = s"graft-${steps.mkString("-")}").getOrCreate()
    try steps.foreach(run(_, cfg, spark))
    finally spark.stop()
  }

  /** Validate the whole step list before any step runs, expanding `all`
    * in place — a typo in step 3 must not surface after two hours of
    * step 1 (reference Main.scala:39–62).
    */
  private[graft] def validateSteps(steps: Seq[String]): Seq[String] = {
    val bad = steps.filterNot(s => knownSteps.contains(s) || s == "all")
    if (bad.nonEmpty) sys.error(s"unknown step${if (bad.size > 1) "s" else ""} " +
      s"'${bad.mkString("', '")}' (expected ${knownSteps.mkString("|")}|all)")
    steps.flatMap(s => if (s == "all") knownSteps else Seq(s))
  }

  private[graft] def run(step: String, cfg: EtlConfig, spark: SparkSession): Unit = {
    def w(name: String, df: DataFrame): Unit =
      Io.write(df, cfg.writeSpec(name, s"${cfg.out}/$name"))
    def r(name: String): DataFrame =
      Io.read(spark, Io.ReadSpec(cfg.format, s"${cfg.out}/$name"))

    def processing(): Unit = {
      val epmc = Io.read(spark, cfg.readSpec("epmc", "json", Some(EpmcSchema.schema)))
      val ids = Io.read(spark,
        cfg.readSpec("epmcids", "csv", None, Map("header" -> "true")))
      val g = Grounding.compute(
        epmc, ids,
        Io.read(spark, cfg.readSpec("targets", "parquet")),
        Io.read(spark, cfg.readSpec("diseases", "parquet")),
        Io.read(spark, cfg.readSpec("drugs", "parquet")))
      try {
        val p = Processing.compute(g)
        Seq("matches", "cooccurrences", "failedMatches", "failedCooccurrences")
          .foreach(n => w(n, p(n)))
      } finally Grounding.unpersist(g)
      w("literatureIndex", Processing.literatureIndex(r("matches"), spark, cfg.sectionRanks))
    }

    def embedding(): Unit = {
      val matches = r("matches")
      val training = Embedding.trainingSet(matches, spark, cfg.sectionRanks)
      w("trainingSet", training)
      Embedding.fit(training, cfg.w2v).save(s"${cfg.out}/W2VModel")
    }

    def vectors(): Unit =
      w("vectors", Vectors.fromModel(Word2VecModel.load(s"${cfg.out}/W2VModel")))

    def evidence(): Unit =
      w("evidence", Evidence.generate(
        Word2VecModel.load(s"${cfg.out}/W2VModel"), r("matches"), r("cooccurrences"),
        spark, Some(cfg.threshold), cfg.sectionRanks))

    step match {
      case "processing" => processing()
      case "embedding"  => embedding()
      case "vectors"    => vectors()
      case "evidence"   => evidence()
      case "all"        => knownSteps.foreach(run(_, cfg, spark))
      case other        => sys.error(s"unknown step '$other' " +
        s"(expected ${knownSteps.mkString("|")}|all)")
    }
  }
}
