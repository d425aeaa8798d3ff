package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import graft.SparkSpec
import graft.core.Io
import graft.etl.{EpmcSchema, EtlConfig, Fixtures, Grounding, Processing}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** End-to-end CLI-step dispatch over the fixture corpus: the run() body
  * EtlMain.main drives, against temp dirs.
  */
class EtlMainSpec extends SparkSpec {
  import spark.implicits._

  /** Writes the fixture inputs under a new temp dir and returns it. */
  private def inputs(prefix: String): String = {
    val in = Files.createTempDirectory(prefix).toFile.getAbsolutePath
    Fixtures.epmc(spark).write.mode("overwrite").json(s"$in/epmc")
    Fixtures.epmcIds(spark).write.mode("overwrite").option("header", "true").csv(s"$in/ids")
    Fixtures.targets(spark).write.mode("overwrite").parquet(s"$in/targets")
    Fixtures.diseases(spark).write.mode("overwrite").parquet(s"$in/diseases")
    Fixtures.drugs(spark).write.mode("overwrite").parquet(s"$in/drugs")
    in
  }

  private def inputKeys(in: String): Map[String, String] =
    Map("epmc" -> s"$in/epmc", "epmcids" -> s"$in/ids", "targets" -> s"$in/targets",
      "diseases" -> s"$in/diseases", "drugs" -> s"$in/drugs")

  private def newOut(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath + "/run"

  /** The literature index EtlMain wrote (built from the `matches` it read
    * back) equals `Processing.literatureIndex` over the in-memory grounding
    * of the same inputs: same columns and types, same rows. Nullability is
    * not compared: no file round trip keeps it.
    */
  private def indexUnchanged(cfg: EtlConfig): Unit = {
    val g = Grounding.compute(
      Io.read(spark, cfg.readSpec("epmc", "json", Some(EpmcSchema.schema))),
      Io.read(spark, cfg.readSpec("epmcids", "csv", None, Map("header" -> "true"))),
      Io.read(spark, cfg.readSpec("targets", "parquet")),
      Io.read(spark, cfg.readSpec("diseases", "parquet")),
      Io.read(spark, cfg.readSpec("drugs", "parquet")))
    try {
      val expected = Processing.literatureIndex(
        Processing.filterMatches(g("matches")), spark, cfg.sectionRanks)
      val written = Io.read(spark, Io.ReadSpec(cfg.format, s"${cfg.out}/literatureIndex"))
      written.schema.map(f => f.name -> f.dataType) shouldBe
        expected.schema.map(f => f.name -> f.dataType)
      written.count() should be > 0L
      written.exceptAll(expected).count() shouldBe 0L
      expected.exceptAll(written).count() shouldBe 0L
    } finally Grounding.unpersist(g)
  }

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  /** JSON scans over `dir` that running `plan` performs: those outside
    * any InMemoryTableScanExec, plus those inside the plan of a cache that
    * `plan` is the first to read (the read fills the cache; `filled` holds
    * the caches read so far). A later read of a filled cache scans nothing.
    */
  private def jsonScans(plan: SparkPlan, dir: String,
      filled: java.util.Set[AnyRef]): Seq[FileSourceScanExec] = plan match {
    case f: FileSourceScanExec =>
      if (f.relation.fileFormat.isInstanceOf[JsonFileFormat] &&
        f.relation.location.rootPaths.exists(_.toUri.getPath == dir)) Seq(f)
      else Nil
    case m: InMemoryTableScanExec =>
      if (filled.add(m.relation.cacheBuilder)) jsonScans(m.relation.cachedPlan, dir, filled)
      else Nil
    case a: AdaptiveSparkPlanExec => jsonScans(a.executedPlan, dir, filled)
    case q: QueryStageExec => jsonScans(q.plan, dir, filled)
    case p => (p.children ++ p.subqueries).flatMap(jsonScans(_, dir, filled))
  }

  "EtlMain.run" should "execute all steps and write every dataset" in {
    val in = inputs("graft-etl-in")
    val out = newOut("graft-etl-out")

    val cfg = EtlConfig.load(None, inputKeys(in) ++ Map("threshold" -> "-2.0", "out" -> out))
    EtlMain.run("all", cfg, spark)
    indexUnchanged(cfg)

    val matches = spark.read.parquet(s"$out/matches")
    matches.count() shouldBe 9
    spark.read.parquet(s"$out/cooccurrences").count() shouldBe 2
    val idx = spark.read.parquet(s"$out/literatureIndex")
    idx.filter(col("pmid") === 1L && col("keywordId") === "ENSG0001")
      .select("relevance").as[Double].head() shouldBe (1.0 + 0.6 / 4 + 0.6 / 9) +- 1e-9
    spark.read.parquet(s"$out/vectors").count() should be > 0L
    val ev = spark.read.parquet(s"$out/evidence")
    ev.columns should contain allOf ("resourceScore", "harmonicCooccurrenceSentiment")
    ev.count() should be > 0L
  }

  it should "reject unknown steps" in {
    val e = intercept[RuntimeException] {
      EtlMain.run("nope", EtlConfig(out = "/tmp/x"), spark)
    }
    e.getMessage should include("unknown step")
  }

  it should "validate an ordered multi-step list up front" in {
    EtlMain.validateSteps(Seq("processing", "embedding", "vectors")) shouldBe
      Seq("processing", "embedding", "vectors")
    EtlMain.validateSteps(Seq("all")) shouldBe
      Seq("processing", "embedding", "vectors", "evidence")
    // a typo anywhere in the list fails before any step runs
    val e = intercept[RuntimeException] {
      EtlMain.validateSteps(Seq("processing", "embeding", "vectors"))
    }
    e.getMessage should include("embeding")
  }

  it should "read EPMC with the declared schema (no inference pass) and " +
    "shape outputs from config" in {
    val in = inputs("graft-sch-in")
    val out = newOut("graft-sch-out")
    // one more grounded document with no pubDate: its year is null, so
    // the year-partitioned matches get a __HIVE_DEFAULT_PARTITION__
    Seq("""{"pmid":"7","pmcid":"PMC7","organisms":[],"journal info":{"name":"J7"},""" +
      """"sentences":[{"section":"Title","text":"asthma again","matches":[{"label":"asthma",""" +
      """"type":"DS","startInSentence":0,"endInSentence":6,"sectionStart":0,"sectionEnd":6}],""" +
      """"co-occurrence":[]}]}""").toDS().write.mode("append").text(s"$in/epmc")

    val yaml =
      s"""out: $out
         |inputs:
         |  epmc:
         |    path: $in/epmc
         |    format: json
         |  epmcids: $in/ids
         |  targets: $in/targets
         |  diseases: $in/diseases
         |  drugs: $in/drugs
         |outputs:
         |  matches:
         |    partitionBy: [year]
         |    targetFiles: 1
         |  literatureIndex:
         |    targetFiles: 1
         |    maxRecordsPerFile: 1000
         |""".stripMargin
    val cfgPath = Files.createTempFile("graft-sch", ".yaml")
    Files.write(cfgPath, yaml.getBytes("UTF-8"))
    val cfg = EtlConfig.load(Some(cfgPath.toString), Map.empty)

    // the EPMC ReadSpec carries the built-in schema by default: the scan
    // must not run a JSON inference pre-pass (a full extra read at 100 TB)
    val spec = cfg.readSpec("epmc", "json", Some(graft.etl.EpmcSchema.schema))
    spec.schema shouldBe Some(graft.etl.EpmcSchema.schema)
    val tracker = spark.sparkContext.statusTracker
    val jobsBefore = tracker.getJobIdsForGroup(null).length
    val df = graft.core.Io.read(spark, spec)
    df.schema shouldBe graft.etl.EpmcSchema.schema
    // inferred-schema json runs a full read job right here; schema'd json
    // must plan without launching any job
    tracker.getJobIdsForGroup(null).length shouldBe jobsBefore

    EtlMain.run("processing", cfg, spark)

    // partitionBy reached the writer: hive-style year=... directories,
    // and targetFiles=1 bounds files per partition directory
    val matchesDir = new java.io.File(s"$out/matches")
    val partDirs = matchesDir.listFiles().filter(_.isDirectory).map(_.getName)
    partDirs.count(_.startsWith("year=")) should be > 0
    partDirs.filter(_.startsWith("year=")).foreach { p =>
      new java.io.File(matchesDir, p).listFiles()
        .count(_.getName.endsWith(".parquet")) shouldBe 1
    }
    partDirs should contain("year=__HIVE_DEFAULT_PARTITION__")
    new java.io.File(s"$out/literatureIndex").listFiles()
      .count(_.getName.endsWith(".parquet")) shouldBe 1
    // results identical to the inference path: the fixture's 9 matches
    // plus the undated document's one
    spark.read.parquet(s"$out/matches").count() shouldBe 10
    // the index is built from the read-back matches, where year is a
    // partition column
    Io.read(spark, Io.ReadSpec("parquet", s"$out/matches")).columns.last shouldBe "year"
    indexUnchanged(cfg)
  }

  it should "run the pipeline with json outputs (reference default) schema-exactly" in {
    val in = inputs("graft-json-in")
    val out = newOut("graft-json-out")

    val cfg = EtlConfig.load(None, inputKeys(in) ++ Map(
      "format" -> "json", "w2v.vectorSize" -> "8", "w2v.maxIter" -> "1", "out" -> out))
    // the reference's common.output-format default is json
    // (reference.conf:22); step-to-step read-back must not pay a schema
    // inference pass — Io's sidecar carries the written schema
    EtlMain.validateSteps(Seq("processing", "embedding"))
      .foreach(EtlMain.run(_, cfg, spark))
    spark.read.json(s"$out/matches").count() shouldBe 9
    new java.io.File(s"$out/matches/_graft_schema.json").exists() shouldBe true
    spark.read.json(s"$out/trainingSet").count() should be > 0L
    indexUnchanged(cfg)
  }

  it should "fail fast on unexpected YAML lists and unknown output keys" in {
    val badList = Files.createTempFile("graft-bad", ".yaml")
    Files.write(badList, "out: /tmp/x\ninputs:\n  epmc: [a, b]\n".getBytes("UTF-8"))
    val e1 = intercept[RuntimeException] {
      EtlConfig.load(Some(badList.toString), Map.empty)
    }
    e1.getMessage should include("inputs.epmc")

    val badKey = Files.createTempFile("graft-bad2", ".yaml")
    Files.write(badKey,
      "out: /tmp/x\noutputs:\n  matches:\n    targetfiles: 3\n".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      EtlConfig.load(Some(badKey.toString), Map.empty)
    }
    e2.getMessage should include("targetfiles")
  }

  it should "let a CLI inputs.<n>.path override a YAML bare-scalar input" in {
    // the two spellings are one key after normalization, so the CLI layer
    // wins regardless of which form each side used
    val yaml = Files.createTempFile("graft-prec", ".yaml")
    Files.write(yaml, "out: /tmp/x\ninputs:\n  epmc: /from/file\n".getBytes("UTF-8"))
    EtlConfig.load(Some(yaml.toString), Map("inputs.epmc.path" -> "/from/cli"))
      .input("epmc") shouldBe "/from/cli"
    EtlConfig.load(Some(yaml.toString), Map("epmc" -> "/from/cli"))
      .input("epmc") shouldBe "/from/cli"
    val structured = Files.createTempFile("graft-prec2", ".yaml")
    Files.write(structured,
      "out: /tmp/x\ninputs:\n  epmc:\n    path: /from/file\n".getBytes("UTF-8"))
    EtlConfig.load(Some(structured.toString), Map("epmc" -> "/from/cli"))
      .input("epmc") shouldBe "/from/cli"
  }

  it should "run a step from a YAML config file with CLI overrides on top" in {
    val in = inputs("graft-cfg-in")
    val out = newOut("graft-cfg-out")

    // a release-overlay-style config: custom section ranks (title only,
    // weight 2.0) and shrunk w2v — no recompile
    val yaml =
      s"""out: $out
         |inputs:
         |  epmc: $in/epmc
         |  epmcids: $in/ids
         |  targets: $in/targets
         |  diseases: $in/diseases
         |  drugs: $in/drugs
         |threshold: -2.0
         |w2v:
         |  vectorSize: 8
         |  maxIter: 1
         |sectionRanks:
         |  - {section: title, rank: 1, weight: 2.0}
         |""".stripMargin
    val cfgPath = Files.createTempFile("graft-run", ".yaml")
    Files.write(cfgPath, yaml.getBytes("UTF-8"))

    val cfg = EtlConfig.load(Some(cfgPath.toString), Map("w2v.minCount" -> "1"))
    cfg.w2v.vectorSize shouldBe 8
    cfg.w2v.maxIter shouldBe 1
    cfg.w2v.minCount shouldBe 1
    cfg.sectionRanks shouldBe Seq(etl.SectionRank("title", 1, 2.0))

    EtlMain.run("processing", cfg, spark)
    // with only `title` ranked at weight 2.0, relevance is dominated by
    // the doubled title weight (default ranks give 1.217 for this row) —
    // proof the file-supplied ranks reached the pipeline
    val idx = spark.read.parquet(s"$out/literatureIndex")
    idx.count() should be > 0L
    idx.filter(col("pmid") === 1L && col("keywordId") === "ENSG0001")
      .select("relevance").as[Double].head() shouldBe 2.0 +- 0.01
  }

  it should "leave nothing cached after processing, whether it succeeds or a write fails" in {
    val in = inputs("graft-leak-in")
    // other suites' cached frames live in this shared session
    spark.catalog.clearCache()
    EtlMain.run("processing", EtlConfig.load(None, inputKeys(in) + ("out" -> newOut("graft-leak-ok"))),
      spark)
    cacheManager.isEmpty shouldBe true

    // the fourth grounding write fails, after the first three have filled
    // the grounding caches
    val out = newOut("graft-leak-fail")
    intercept[Exception] {
      EtlMain.run("processing", EtlConfig.load(None, inputKeys(in) ++ Map(
        "out" -> out, "outputs.failedCooccurrences.partitionBy" -> "noSuchColumn")), spark)
    }
    new java.io.File(s"$out/failedMatches/_SUCCESS").exists() shouldBe true
    cacheManager.isEmpty shouldBe true
  }

  it should "scan the EPMC input once in the processing step" in {
    val in = inputs("graft-scan-in")
    val epmcDir = new java.io.File(s"$in/epmc").getAbsolutePath
    val scanning = ArrayBuffer[String]()
    val filled = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    @volatile var markerSeen = false
    // events arrive one at a time, in order, on the listener bus thread
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (jsonScans(qe.executedPlan, epmcDir, filled).nonEmpty) scanning.synchronized(scanning += funcName)
        if (qe.toString.contains("graft_scan_marker")) markerSeen = true
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.catalog.clearCache()
    spark.listenerManager.register(listener)
    try {
      EtlMain.run("processing", EtlConfig.load(None, inputKeys(in) + ("out" -> newOut("graft-scan"))),
        spark)
      // listener events arrive in order: once the marker's is in, every
      // plan of the step has been seen
      spark.range(1).toDF("graft_scan_marker").write.format("noop").mode("overwrite").save()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      markerSeen shouldBe true
    } finally spark.listenerManager.unregister(listener)
    // the first grounding write reads the corpus to fill the sentence
    // cache; the other writes read that cache, and the index reads the
    // written matches
    scanning.synchronized(scanning.size) shouldBe 1
  }
}
