package graft.perfbench

import org.apache.spark.ml.feature.Word2VecModel
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.EtlMain
import graft.core.{Io, SchemaTools}
import graft.etl._

/** `release_all`: `EtlMain` step `all` over a seeded corpus, with the
  * `EtlConfig` defaults a CLI user gets. A pass is one `all` run into a
  * fresh output directory. Its traced run also drains a small stream
  * ([[StreamDrain]]), so the streaming layer is measured too.
  */
final class ReleaseAll(run: Run) extends Workload(run) {

  val docs = 1500L
  val corpus = Corpus(run.seed, targets = 500, diseases = 500, drugs = 50)

  def generate(spark: SparkSession, dir: String): Long = {
    corpus.write(spark, dir, first = 0L, docs = docs, batches = 1, parts = run.cores)
    if (run.trace) StreamDrain.generate(spark, corpus, s"$dir/stream", first = docs, parts = run.cores)
    docs
  }

  private def config(in: String, out: String): EtlConfig = EtlConfig.load(None, Map(
    "out" -> out,
    "epmc" -> s"$in/epmc",
    "epmcids" -> s"$in/epmcids",
    "targets" -> s"$in/targets",
    "diseases" -> s"$in/diseases",
    "drugs" -> s"$in/drugs"))

  /** A CLI run ends with its session; here the session lives on, so the
    * `mapped` frame `Grounding.compute` persists would be found cached by
    * the next pass's identical plan. Dropped outside timing.
    */
  override def betweenPasses(spark: SparkSession): Unit = spark.catalog.clearCache()

  def pass(spark: SparkSession, in: String, out: String): Op = {
    val cfg = config(in, out)
    val t0 = System.nanoTime()
    EtlMain.validateSteps(Seq("all")).foreach(EtlMain.run(_, cfg, spark))
    Op("", (System.nanoTime() - t0) / 1e9, out)
  }

  /** Persists `df` and materializes it through the noop sink, so the next
    * layer starts from this layer's output and the span holds only this
    * layer's work. Observations ride on the materializing write only, so
    * later plans over `df` still find it cached.
    */
  private def mat(df: DataFrame, observe: (Observation, Column)*): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    observe.foldLeft(p) { case (d, (o, c)) => d.observe(o, c.as("n")) }
      .write.format("noop").mode("overwrite").save()
    p
  }

  private def rows(name: String): (Observation, Column) = Observation(name) -> count(lit(1))

  private def n(o: (Observation, Column)): Double = o._1.get("n").toString.toDouble

  /** The `all` steps of `EtlMain.run`, made from the same public calls,
    * one span per call. Step outputs are written by `Io.write` exactly as
    * `EtlMain` writes them (span `io.write`); later steps read them back.
    */
  def tracedPass(spark: SparkSession, in: String, out: String, listener: TagListener,
      tr: Tracer): (Map[String, Double], Seq[Op]) = {
    val (layers, op) = tracedAll(spark, in, s"$out/all", listener, tr)
    val (streamLayers, streamOp) = StreamDrain.traced(spark, s"$in/stream", s"$out/stream", listener, tr)
    (layers ++ streamLayers, Seq(op, streamOp))
  }

  private def tracedAll(spark: SparkSession, in: String, out: String, listener: TagListener,
      tr: Tracer): (Map[String, Double], Op) = {
    val cfg = config(in, out)
    val sc = spark.sparkContext
    listener.reset(sc)
    def w(name: String, df: DataFrame): Unit = Io.write(df, cfg.writeSpec(name, s"${cfg.out}/$name"))
    def r(name: String): DataFrame = Io.read(spark, Io.ReadSpec(cfg.format, s"${cfg.out}/$name"))

    val counts = scala.collection.mutable.Map[String, Double]()
    def counting[A](f: => A): A = {
      sc.setJobDescription("bench.counts")
      try f finally sc.setJobDescription(null)
    }
    val allMatches = Observation("allMatches") -> sum(size(col("matches")))
    val Seq(mappedRows, validRows, failedRows, bags, vRows, kept) =
      Seq("mapped", "valid", "failed", "bags", "vectors", "kept").map(rows)

    val (sentences, mapped) = tr("step.processing") {
      // timed through a noop write and not persisted: loadSentences takes
      // `trace_source` from input_file_name(), which a cached read loses
      val epmc = Io.read(spark, cfg.readSpec("epmc", "json", Some(EpmcSchema.schema)))
      tr("io.read_epmc")(epmc.write.format("noop").mode("overwrite").save())
      val ids = Io.read(spark, cfg.readSpec("epmcids", "csv", None, Map("header" -> "true")))
      val lut = tr("grounding.entity_lut") {
        mat(Grounding.entityLut(
          Io.read(spark, cfg.readSpec("targets", "parquet")),
          Io.read(spark, cfg.readSpec("diseases", "parquet")),
          Io.read(spark, cfg.readSpec("drugs", "parquet"))))
      }
      val sentences = tr("grounding.load_sentences") {
        mat(Grounding.filterSentences(Grounding.loadSentences(SchemaTools.replaceSpaces(epmc),
          Grounding.loadEpmcIds(ids))), allMatches)
      }
      val mapped = tr("grounding.map_entities")(mat(Grounding.mapEntities(sentences, lut), mappedRows))
      val (valid, failed) = tr("grounding.resolve_matches") {
        val (v, f) = Grounding.resolveMatches(sentences, mapped)
        (mat(v, validRows), mat(f, failedRows))
      }
      val (coocs, coocsFailed) = tr("grounding.resolve_cooccurrences") {
        val (c, cf) = Grounding.resolveCooccurrences(sentences, mapped)
        (mat(c), mat(cf))
      }
      val matches = Processing.filterMatches(valid)
      val index = tr("processing.literature_index") {
        mat(Processing.literatureIndex(matches, spark, cfg.sectionRanks))
      }
      tr("io.write") {
        Seq("matches" -> matches, "cooccurrences" -> Processing.filterCooccurrences(coocs),
          "failedMatches" -> failed, "failedCooccurrences" -> coocsFailed,
          "literatureIndex" -> index).foreach { case (name, df) => w(name, df) }
      }
      (sentences, mapped)
    }
    // ratios, counted outside every span; the mapped-candidate count is an
    // extra job (the left join inside resolveMatches is not reachable from
    // outside)
    val candidateMatches = counting(sentences.select(explode(col("matches")).as("m"))
      .select(col("m.type").as("type"), col("m.label").as("label"))
      .join(mapped.select("type", "label"), Seq("type", "label")).count().toDouble)
    counts("grounding.hit_ratio") = 1.0 - n(failedRows) / n(allMatches)
    counts("grounding.disambiguate.keep_ratio") = n(validRows) / candidateMatches
    counts("grounding.vocab_labels") = n(mappedRows)
    spark.catalog.clearCache()

    val model = tr("step.embedding") {
      val set = tr("embedding.training_set")(mat(Embedding.trainingSet(r("matches"), spark, cfg.sectionRanks), bags))
      tr("io.write")(w("trainingSet", set))
      val model = tr("embedding.fit")(Embedding.fit(set, cfg.w2v))
      tr("io.write")(model.save(s"${cfg.out}/W2VModel"))
      model
    }
    counts("embedding.training_set.bags") = n(bags)
    counts("embedding.fit.vocab") = counting(model.getVectors.count().toDouble)
    spark.catalog.clearCache()

    tr("step.vectors") {
      val vectors = tr("vectors.from_model")(mat(Vectors.fromModel(Word2VecModel.load(s"${cfg.out}/W2VModel")), vRows))
      tr("io.write")(w("vectors", vectors))
    }
    counts("vectors.from_model.rows") = n(vRows)
    spark.catalog.clearCache()

    val (loaded, matches) = tr("step.evidence") {
      val model = Word2VecModel.load(s"${cfg.out}/W2VModel")
      val matches = r("matches")
      val coocs = r("cooccurrences")
      tr("evidence.from_matches")(mat(Evidence.fromMatches(model, matches, spark, Some(cfg.threshold), cfg.sectionRanks), kept))
      tr("evidence.from_cooccurrences")(mat(Evidence.fromCooccurrences(coocs, Some(cfg.threshold))))
      // the merge inside generate() reuses both cached halves
      tr("io.write")(w("evidence", Evidence.generate(model, matches, coocs, spark,
        Some(cfg.threshold), cfg.sectionRanks)))
      (model, matches)
    }
    // a threshold below any cosine keeps every candidate pair
    val candidatePairs = counting(
      Evidence.fromMatches(loaded, matches, spark, Some(-2.0), cfg.sectionRanks).count().toDouble)
    counts("evidence.from_matches.candidate_pairs") = candidatePairs
    counts("evidence.from_matches.kept_ratio") = n(kept) / candidatePairs
    spark.catalog.clearCache()

    val stats = listener.snapshot(sc)
    val layers = Layers(stats, tr, run.cores)
    val pass = tr.passMetrics(_.startsWith("step."))
    val metrics = layers.standard("grounding.entity_lut", "grounding.load_sentences", "grounding.map_entities",
      "grounding.resolve_matches", "grounding.resolve_cooccurrences") ++
      layers.pick("processing.literature_index", "wall_s", "cpu_s", "shuffle_mb", "spill_mb") ++
      layers.pick("embedding.training_set", "wall_s", "shuffle_mb") ++
      layers.pick("embedding.fit", "wall_s", "cpu_s", "core_busy_ratio") ++
      layers.pick("vectors.from_model", "wall_s") ++
      layers.pick("evidence.from_matches", "wall_s", "cpu_s", "shuffle_mb", "spill_mb") ++
      layers.pick("evidence.from_cooccurrences", "wall_s", "shuffle_mb") ++
      layers.pick("io.read_epmc", "wall_s", "bytes_read") ++
      layers.pick("io.write", "wall_s", "bytes_written") ++
      Map("io.write.files" -> Layers.dataFiles(out)) ++
      Seq("step.processing", "step.embedding", "step.vectors", "step.evidence")
        .map(s => s"$s.self_s" -> tr.spans.filter(_.name == s).map(tr.selfSeconds).sum) ++
      counts ++ pass
    (metrics, Op("traced", pass("trace.pass_s"), out))
  }

  /** The facts the checks need beyond the output directories. */
  override def checkInputs(spark: SparkSession, in: String): Map[String, Any] = Map(
    "ranks" -> SectionRanks.default.map(r => Map("section" -> r.section, "rank" -> r.rank, "weight" -> r.weight)),
    "threshold" -> EtlConfig(out = "").threshold,
    "stream_batches" -> StreamDrain.batches)
}

/** Per-layer figures from the listener's tags and the tracer's spans. */
final case class Layers(stats: Map[String, TagListener#Agg], tr: Tracer, cores: Int) {
  private val mb = 1024.0 * 1024.0

  def metric(layer: String, m: String): Double = {
    val a = stats.get(layer)
    def g(f: TagListener#Agg => Long): Double = a.map(f).getOrElse(0L).toDouble
    m match {
      case "wall_s" => tr.wall(layer)
      case "cpu_s" => g(_.cpuNs) / 1e9
      case "shuffle_mb" => (g(_.shuffleRead) + g(_.shuffleWrite)) / mb
      case "spill_mb" => g(_.spillBytes) / mb
      case "gc_s" => g(_.gcMs) / 1e3
      case "stages" => g(_.stages)
      case "bytes_read" => g(_.bytesRead)
      case "bytes_written" => g(_.bytesWritten)
      case "core_busy_ratio" =>
        val w = tr.wall(layer)
        if (w > 0) g(_.cpuNs) / 1e9 / (w * cores) else 0.0
    }
  }

  private def rename(m: String): String = m match {
    case "bytes_read" | "bytes_written" => "bytes"
    case other => other
  }

  def pick(layer: String, ms: String*): Map[String, Double] =
    ms.map(m => s"$layer.${rename(m)}" -> metric(layer, m)).toMap

  def standard(layers: String*): Map[String, Double] =
    layers.flatMap(l => pick(l, "wall_s", "cpu_s", "shuffle_mb", "spill_mb", "gc_s", "stages")).toMap
}

object Layers {
  /** Data files (no markers, checksums or sidecars) under a directory. */
  def dataFiles(dir: String): Double = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0.0
    else {
      val it = java.nio.file.Files.walk(root).iterator()
      var n = 0
      while (it.hasNext) {
        val p = it.next()
        val name = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && !name.startsWith("_") && !name.startsWith(".") &&
          !name.endsWith(".crc")) n += 1
      }
      n.toDouble
    }
  }
}
