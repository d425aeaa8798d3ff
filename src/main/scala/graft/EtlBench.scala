package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Sessions
import graft.etl._

/** Domain-pipeline throughput harness: generates a synthetic EPMC-shaped
  * corpus of configurable size ENTIRELY as distributed expressions (no
  * driver-side loops, no files — `spark.range` + column builders, so the
  * generator itself scales to any document count) and times
  * grounding → processing → embedding → evidence end-to-end.
  *
  * Env: GRAFT_ETL_DOCS (default 25000), GRAFT_ETL_ENTITIES (default 2000),
  * SPARK_GRAFT_CPUS. Prints one JSON line with per-stage seconds and
  * docs/sec.
  */
object EtlBench {

  /** Entity universe: E targets, E diseases, E/10 drugs with names built
    * from a shared word pool so grounding keys collide realistically
    * (synonym hits, ambiguous labels, misses).
    */
  def entities(spark: SparkSession, e: Long): (DataFrame, DataFrame, DataFrame) = {
    val targets = spark.range(e).selectExpr(
      "concat('ENSG', lpad(cast(id as string), 9, '0')) as id",
      "concat('gene alpha ', id) as approvedName",
      "concat('GN', id) as approvedSymbol",
      "array(named_struct('label', concat('GS', id))) as symbolSynonyms",
      "array(named_struct('label', concat('gene synonym ', id))) as nameSynonyms",
      "cast(array() as array<struct<label:string>>) as obsoleteSymbols",
      "cast(array() as array<struct<label:string>>) as obsoleteNames",
      "array(named_struct('id', concat('P', lpad(cast(id as string), 5, '0')))) as proteinIds")
    val diseases = spark.range(e).selectExpr(
      "concat('EFO_', lpad(cast(id as string), 7, '0')) as id",
      "concat('disease beta ', id) as name",
      """named_struct(
        | 'hasExactSynonym', array(concat('disorder beta ', id)),
        | 'hasNarrowSynonym', cast(null as array<string>),
        | 'hasBroadSynonym', cast(null as array<string>),
        | 'hasRelatedSynonym', array(concat('syndrome beta ', id))) as synonyms""".stripMargin)
    val drugs = spark.range(e / 10 + 1).selectExpr(
      "concat('CHEMBL', id) as id",
      "concat('drug gamma ', id) as name",
      "array(concat('brand gamma ', id)) as tradeNames",
      "array(concat('compound gamma ', id)) as synonyms")
    (targets, diseases, drugs)
  }

  /** D documents: 90% with full ids, ~3 sentences each over ranked +
    * unranked sections, 2 grounded-able matches and one GP-DS
    * co-occurrence per sentence, plus a miss-rate of labels outside the
    * entity universe.
    */
  def corpus(spark: SparkSession, d: Long, e: Long): DataFrame = {
    def sentence(sec: String, k: Int): String = {
      val g = s"(id * 13 + $k) % $e"     // target index
      val ds = s"(id * 7 + $k) % $e"     // disease index
      s"""named_struct(
         | 'section', '$sec',
         | 'text', concat('GN', $g, ' associates with disease beta ', $ds, ' in cohort ', id),
         | 'matches', array(
         |    named_struct('label', concat('GN', $g), 'type', 'GP',
         |      'startInSentence', 0L, 'endInSentence', 5L, 'sectionStart', 0L, 'sectionEnd', 5L),
         |    named_struct('label', concat('disease beta ', $ds), 'type', 'DS',
         |      'startInSentence', 10L, 'endInSentence', 20L, 'sectionStart', 10L, 'sectionEnd', 20L),
         |    named_struct('label', concat('unknown thing ', id), 'type', 'DS',
         |      'startInSentence', 30L, 'endInSentence', 40L, 'sectionStart', 30L, 'sectionEnd', 40L)),
         | '`co-occurrence`', array(
         |    named_struct('label1', concat('GN', $g), 'label2', concat('disease beta ', $ds),
         |      'type', 'GP-DS', 'start1', 0L, 'end1', 5L, 'start2', 10L, 'end2', 20L,
         |      'association', 'y', 'relation', 'assoc',
         |      'sentEvidenceScore', cast((id % 10) as double)))
         |)""".stripMargin.replace("'`co-occurrence`'", "'co-occurrence'")
    }
    spark.range(d).selectExpr(
      "cast(id + 1 as string) as pmid",
      "if(id % 10 = 0, null, concat('PMC', id + 1)) as pmcid",
      "date_format(date_add(date'2015-01-01', cast(id % 3000 as int)), 'yyyy-MM-dd') as pubDate",
      "array('human') as organisms",
      s"array(${sentence("Title", 0)}, ${sentence("Abstract", 1)}, ${sentence("Results", 2)}) as sentences")
  }

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("GRAFT_ETL_DOCS", "25000").toLong
    val e = sys.env.getOrElse("GRAFT_ETL_ENTITIES", "2000").toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(2, Runtime.getRuntime.availableProcessors()).toString).toInt
    val spark = Sessions.builder("graft-etl-bench", Some(s"local[$cpus]"), cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (targets, diseases, drugs) = entities(spark, e)
    val epmc = corpus(spark, d, e)
    val ids = spark.range(0).selectExpr("'x' as PMID", "'PMCx' as PMCID") // empty LUT

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // mirror the real pipeline's step boundaries (EtlMain): processing
    // WRITES matches/cooccurrences as parquet, downstream steps READ them
    // back — columnar storage means the evidence step's scans prune to
    // the columns it needs, which a row-format persist cannot offer
    val out = java.nio.file.Files.createTempDirectory("graft-etl-bench").toString
    val (g, _) = timed(Grounding.compute(epmc, ids, targets, diseases, drugs))
    val (_, tGround) = timed {
      try {
        Processing.filterMatches(g("matches")).write.parquet(s"$out/matches")
        Processing.filterCooccurrences(g("cooccurrences")).write.parquet(s"$out/coocs")
      } finally Grounding.unpersist(g)
    }
    val matches = spark.read.parquet(s"$out/matches")
    val coocs = spark.read.parquet(s"$out/coocs")
    val (_, tIndex) = timed(sink(Processing.literatureIndex(matches, spark)))
    val (training, _) = timed(Embedding.trainingSet(matches, spark).persist())
    val (_, tTrainSet) = timed(sink(training))
    // numPartitions per the measured fit curve (SCALE.md "Isolated fit
    // curve"): ≈ max(cores, bags / 500k) — the pinned 16 of earlier
    // rounds loses 1.4× at 30M bags; cap at 128 so the replica-count
    // accuracy caveat stays bounded. Bags ≈ 3 per doc in this corpus
    // (per-rank + overall).
    val w2vParts = math.max(cpus.toLong, math.min(128L, 3L * d / 500000L)).toInt
    val (model, tFit) = timed(Embedding.fit(training,
      Embedding.W2VConfig(vectorSize = 32, numPartitions = w2vParts)))
    val (_, tEvidence) = timed(sink(
      Evidence.generate(model, matches, coocs, spark, threshold = Some(-2.0))))
    val total = tGround + tIndex + tTrainSet + tFit + tEvidence

    println(s"""{"metric":"etl_total","value":$total,"unit":"sec","docs":$d,"entities":$e,""" +
      s""""docs_per_sec":${d / total},"stages":{"grounding_write":$tGround,""" +
      s""""literature_index":$tIndex,"training_set":$tTrainSet,"w2v_fit":$tFit,""" +
      s""""evidence":$tEvidence}}""")
    spark.stop()
  }
}
