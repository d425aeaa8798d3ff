package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end: grounding → processing → embedding → vectors → evidence
  * over the synthetic EPMC fixtures (SURVEY.md §5 item 3). Word2Vec
  * assertions are structural (vocab/dims/norms); everything relational is
  * value-exact.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val g = Fixtures.grounding(spark)
  private lazy val processed = Processing.compute(g)
  private lazy val matches = processed("matches").cache()
  private lazy val coocs = processed("cooccurrences").cache()

  "Processing.filterMatches" should "unwrap the match struct" in {
    matches.columns should contain allOf ("keywordId", "isMapped", "label", "labelN", "type")
    matches.filter(col("isMapped") === false).count() shouldBe 0
  }

  "literatureIndex" should "compute section-weighted harmonic relevance" in {
    val idx = Processing.literatureIndex(matches, spark).cache()

    // doc1 / ENSG0001: title once (w=1.0) + results twice (w=0.6, rank 2)
    // → relevance = 1/1 + 0.6/4 + 0.6/9
    val r = idx.filter(col("pmid") === 1L && col("keywordId") === "ENSG0001")
      .select("relevance").as[Double].head()
    r shouldBe (1.0 + 0.6 / 4 + 0.6 / 9) +- 1e-9

    // doc2 / ENSG0002: abstract once → 0.8
    idx.filter(col("pmid") === 2L && col("keywordId") === "ENSG0002")
      .select("relevance").as[Double].head() shouldBe 0.8 +- 1e-9

    // sentences JSON contains only title/abstract matches
    val sJson = idx.filter(col("pmid") === 1L && col("keywordId") === "ENSG0001")
      .select("sentences").as[String].head()
    sJson should include("\"section\":\"title\"")
    sJson should not include "results"

    // keywordType survives
    idx.filter(col("keywordId") === "EFO_0000270").select("keywordType")
      .as[String].head() shouldBe "DS"
  }

  "Processing.aggregateMatches" should "roll up per-pub term counts and nested matches" in {
    val agg = Processing.aggregateMatches(matches).cache()
    // doc1: SNCA ×3 + asthma ×1
    val row = agg.filter(col("pmid") === "1")
      .select("terms", "countsPerTerm.countsPerKey")
      .as[(Seq[String], Seq[Long])].head()
    row._1 shouldBe Seq("EFO_0000270", "ENSG0001")
    row._2 shouldBe Seq(1L, 3L) // sorted by keywordId: asthma 1, SNCA 3
    // nested title/abstract matches present for doc1
    agg.filter(col("pmid") === "1")
      .select(org.apache.spark.sql.functions.size(col("sentences"))).as[Int].head() shouldBe 1
  }

  "Embedding.trainingSet" should "build per-rank and overall term bags" in {
    val ts = Embedding.trainingSet(matches, spark).cache()
    // doc1: rank1 bag {EFO_0000270, ENSG0001}, rank2 bag {ENSG0001},
    // overall bag = concat → 3 bags
    val doc1 = ts.filter(col("pmid") === "1").select("terms")
      .as[Seq[String]].collect().toSet
    doc1 shouldBe Set(
      Seq("EFO_0000270", "ENSG0001"),
      Seq("ENSG0001"),
      Seq("EFO_0000270", "ENSG0001", "ENSG0001"))
    // every publication with ranked-section matches appears
    ts.select("pmid").distinct().as[String].collect().toSet shouldBe Set("1", "2", "4", "5")
  }

  "Embedding + Vectors" should "train a model and export categorized vectors" in {
    val model = Embedding.generateModel(matches, spark,
      Embedding.W2VConfig(vectorSize = 8, numPartitions = 1))
    val vecs = Vectors.fromModel(model).cache()

    val cats = vecs.select("word", "category").as[(String, String)].collect().toMap
    cats.keySet should contain allOf ("ENSG0001", "EFO_0000270")
    vecs.filter(col("word").startsWith("ENSG")).select("category").distinct()
      .as[String].head() shouldBe "target"
    vecs.filter(col("word").startsWith("EFO")).select("category").distinct()
      .as[String].head() shouldBe "disease"
    // vector structure: 8 dims, positive norm matching the vector
    val (norm, vec) = vecs.filter(col("word") === "ENSG0001")
      .select("norm", "vector").as[(Double, Seq[Double])].head()
    vec.length shouldBe 8
    norm shouldBe math.sqrt(vec.map(x => x * x).sum) +- 1e-9
    norm should be > 0.0
  }

  "Vectors.synonyms" should "rank the vocabulary by similarity" in {
    val model = Embedding.generateModel(matches, spark,
      Embedding.W2VConfig(vectorSize = 8, numPartitions = 1))
    val syn = Vectors.synonyms(model, "ENSG0001", 3).cache()
    syn.columns.toSeq shouldBe Seq("entityId", "similarity")
    syn.count() should be <= 3L
    // the query word itself is excluded
    syn.filter(col("entityId") === "ENSG0001").count() shouldBe 0
  }

  it should "be deterministic across two fits in the same JVM (fixed seed + partitions)" in {
    // W2VConfig pins seed=42; with a pinned partition count the MLlib
    // trainer's async model averaging has a fixed replica layout, so two
    // fits over the same bags must produce identical vectors — the guard
    // that seed-drift (a Spark upgrade defaulting to random seeds, a
    // config regression dropping setSeed) fails loudly instead of
    // silently degrading embedding reproducibility.
    val cfg = Embedding.W2VConfig(vectorSize = 8, numPartitions = 1)
    val m1 = Embedding.generateModel(matches, spark, cfg)
    val m2 = Embedding.generateModel(matches, spark, cfg)
    val v1 = m1.getVectors.orderBy("word").collect().map(_.toString)
    val v2 = m2.getVectors.orderBy("word").collect().map(_.toString)
    v1 shouldBe v2
    // and the user-visible ranking is stable, not just the raw floats
    val s1 = Vectors.synonyms(m1, "ENSG0001", 3)
      .select("entityId").as[String].collect().toSeq
    val s2 = Vectors.synonyms(m2, "ENSG0001", 3)
      .select("entityId").as[String].collect().toSeq
    s1 shouldBe s2
  }

  "Embedding.fitSharded" should
      "reduce to fit() at one shard, keep the full vocab, and stay deterministic" in {
    val cfg = Embedding.W2VConfig(vectorSize = 8, numPartitions = 1)
    val training = Embedding.trainingSet(matches, spark).persist()
    try {
      val single = Embedding.fit(training, cfg).getVectors
      // degenerate case: one shard IS the plain fit
      Embedding.fitSharded(training, cfg, shards = 1)
        .orderBy("word").collect().map(_.toString) shouldBe
        single.orderBy("word").collect().map(_.toString)
      val two = Embedding.fitSharded(training, cfg, shards = 2).cache()
      // model.getVectors shape: Vectors.compute consumes it unchanged
      val vecs = Vectors.compute(two)
      vecs.columns.toSeq shouldBe Seq("category", "word", "norm", "vector")
      vecs.filter(col("norm") <= 0).count() shouldBe 0
      // vocabulary = union of shard vocabs = the full vocab at minCount 1
      two.select("word").as[String].collect().toSet shouldBe
        single.select("word").as[String].collect().toSet
      // deterministic: seed + pinned partitions + hash shards
      Embedding.fitSharded(training, cfg, shards = 2)
        .orderBy("word").collect().map(_.toString) shouldBe
        two.orderBy("word").collect().map(_.toString)
    } finally training.unpersist()
  }

  "Word2Vec model" should "survive a save/load round trip" in {
    val model = Embedding.generateModel(matches, spark,
      Embedding.W2VConfig(vectorSize = 8, numPartitions = 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-w2v").toFile.getAbsolutePath + "/m"
    model.save(dir)
    val back = org.apache.spark.ml.feature.Word2VecModel.load(dir)
    val a = model.getVectors.orderBy("word").collect().map(_.toString)
    val b = back.getVectors.orderBy("word").collect().map(_.toString)
    a shouldBe b
  }

  "Evidence" should "merge similarity and co-occurrence scores" in {
    val model = Embedding.generateModel(matches, spark,
      Embedding.W2VConfig(vectorSize = 8, numPartitions = 1))
    // threshold -2 keeps every pair regardless of cosine sign
    val ev = Evidence.generate(model, matches, coocs, spark, threshold = Some(-2.0)).cache()

    val row = ev.filter(col("targetFromSourceId") === "ENSG0001" &&
        col("diseaseFromSourceMappedId") === "EFO_0000270")
      .select("similarity", "harmonicSimilarity", "resourceScore",
        "sharedPublicationCount", "harmonicCooccurrenceSentiment",
        "cooccurredPublicationCount", "datasourceId", "datatypeId")
      .as[(Double, Double, Double, Int, Double, Int, String, String)]
      .head()

    // one shared publication → harmonic of [sim] = sim
    row._2 shouldBe row._1 +- 1e-12
    row._3 shouldBe row._2
    row._4 shouldBe 1
    // cooc branch: score 5.0/10 = 0.5 over one publication
    row._5 shouldBe 0.5 +- 1e-12
    row._6 shouldBe 1
    row._7 shouldBe "ew2v"
    row._8 shouldBe "literature"

    // pair with no cooccurrence evidence gets filled zeros
    val tnf = ev.filter(col("targetFromSourceId") === "ENSG0002").cache()
    tnf.count() shouldBe 1
    // doc2 cooc (TNF × breast cancer) exists → sentiment 0.8
    tnf.select("harmonicCooccurrenceSentiment").as[Double].head() shouldBe 0.8 +- 1e-12

    // schema contract (reference Evidence.scala:12–34)
    ev.columns.toSeq shouldBe Evidence.matchesColumns ++
      Seq("harmonicCooccurrenceSentiment", "cooccurredPublicationCount")
  }

  "Evidence.fromCooccurrences" should "honor the text-length and type filters" in {
    val evc = Evidence.fromCooccurrences(coocs, threshold = None)
    evc.count() shouldBe 2 // both GP-DS pairs, both sentences < 600 chars
    evc.filter(col("targetFromSourceId") === "ENSG0001")
      .select("harmonicCooccurrenceSentiment").as[Double].head() shouldBe 0.5 +- 1e-12
  }
}
