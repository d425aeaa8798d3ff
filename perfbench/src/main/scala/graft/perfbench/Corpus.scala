package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic EPMC corpus, entity tables and PMID↔PMCID CSV, built
  * from Spark expressions only (hashes of the seed and row indices, no
  * driver-side loops and no `rand`, so a seed gives the same inputs under
  * any partitioning).
  *
  * Every grounding outcome is fixed by construction, and the generator
  * writes it down beside the inputs as two truth tables: for each NER
  * match its publication after id repair and the entity ids its label
  * names; for each co-occurrence the same for both sides. The output
  * checks derive expected outputs from these tables alone.
  *
  * Properties the pipeline's layers depend on:
  *  - Zipf-skewed entity popularity (index = ⌊E·u²⌋, then a seeded
  *    permutation): a few hot entities appear in many publications, which
  *    drives Evidence's per-publication pair join and the disambiguation
  *    windows;
  *  - ambiguous labels: 20 % of targets share a "shared gene g" synonym in
  *    pairs and 15 % of diseases a "shared disorder g" synonym in triples,
  *    so the LUT's HLL counts exceed 1 and `disambiguate` drops matches;
  *  - a miss rate (labels no entity carries → failed matches);
  *  - publication-id repair: pmid-less documents recovered through the CSV,
  *    pmid-less documents absent from it (dropped), pmcid-less documents
  *    whose pmid the CSV maps to another pmcid (dropped by the anti-join),
  *    and pmcid-less documents kept as they are;
  *  - ranked, unranked, mixed-case and missing sections;
  *  - non-ASCII sentences;
  *  - 2–6 sentences per document and 1–4 matches per sentence.
  */
final case class Corpus(seed: Long, targets: Int, diseases: Int, drugs: Int) {
  require(targets % 10 == 0 && diseases % 20 == 0, "group sizes must divide the entity counts")

  /** Uniform integer in [0, n) from the seed, a salt and row expressions. */
  private def h(salt: Int, n: Int, parts: String*): String =
    s"pmod(xxhash64(${seed}L, $salt, ${parts.mkString(", ")}), $n)"

  private def zipf(salt: Int, e: Int, parts: String*): String =
    s"pmod(cast(floor($e * pow((${h(salt, 1000003, parts: _*)} + 0.5) / 1000003.0, 2.0)) as bigint)" +
      s" * 7919 + ${math.abs(seed % 100000)}, $e)"

  private def tId(i: String) = s"concat('ENSG', lpad(cast($i as string), 9, '0'))"
  private def dId(i: String) = s"concat('EFO_', lpad(cast($i as string), 7, '0'))"
  private def cId(i: String) = s"concat('CHEMBL', cast($i as string))"

  def targetsDf(spark: SparkSession): DataFrame = spark.range(targets).selectExpr(
    s"${tId("id")} as id",
    "concat('gene alpha ', id) as approvedName",
    "concat('GN', id) as approvedSymbol",
    "array(named_struct('label', concat('GS', id))) as symbolSynonyms",
    """concat(array(named_struct('label', concat('gene synonym ', id))),
      |  if(id % 10 < 2, array(named_struct('label', concat('shared gene ', id div 10))),
      |     cast(array() as array<struct<label:string>>))) as nameSynonyms""".stripMargin,
    "cast(array() as array<struct<label:string>>) as obsoleteSymbols",
    "cast(array() as array<struct<label:string>>) as obsoleteNames",
    "array(named_struct('id', concat('P', lpad(cast(id as string), 5, '0')))) as proteinIds")

  def diseasesDf(spark: SparkSession): DataFrame = spark.range(diseases).selectExpr(
    s"${dId("id")} as id",
    "concat('disease beta ', id) as name",
    """named_struct(
      | 'hasExactSynonym', concat(array(concat('disorder beta ', id)),
      |    if(id % 20 < 3, array(concat('shared disorder ', id div 20)), cast(array() as array<string>))),
      | 'hasNarrowSynonym', cast(null as array<string>),
      | 'hasBroadSynonym', cast(null as array<string>),
      | 'hasRelatedSynonym', array(concat('syndrome beta ', id))) as synonyms""".stripMargin)

  def drugsDf(spark: SparkSession): DataFrame = spark.range(drugs).selectExpr(
    s"${cId("id")} as id",
    "concat('drug gamma ', id) as name",
    "array(concat('brand gamma ', id)) as tradeNames",
    "array(concat('compound gamma ', id)) as synonyms")

  /** One row per (document, sentence, match) with everything the JSON
    * and the truth tables need. Documents are `first until first + docs`;
    * `batches` contiguous slices of them become separate landing files.
    */
  private def plan(spark: SparkSession, first: Long, docs: Long, batches: Int, parts: Int): DataFrame = {
    val pmid = "cast(d + 1000001 as string)"
    val docsDf = spark.range(first, first + docs, 1, parts).selectExpr(
      "id as d",
      s"cast(floor((id - $first) * $batches / $docs) as int) as batch",
      s"${h(1, 100, "id")} as kindRoll",
      s"${h(2, 3, "id")} as blankRoll",
      s"2 + ${h(3, 5, "id")} as nSent",
      s"if(${h(4, 50, "id")} = 0, null, date_format(date_add(date'2012-01-01', cast(${h(5, 3000, "id")} as int)), 'yyyy-MM-dd')) as pubDate")
      .selectExpr("*",
        """case when kindRoll < 70 then 'full' when kindRoll < 80 then 'nopmid'
          |     when kindRoll < 84 then 'lost' when kindRoll < 88 then 'dup'
          |     else 'nopmcid' end as kind""".stripMargin)
      .selectExpr("*",
        s"""case when kind in ('nopmid', 'lost') then element_at(array(cast(null as string), '', '0'), cast(blankRoll + 1 as int))
           |     else $pmid end as rawPmid""".stripMargin,
        "if(kind in ('dup', 'nopmcid'), null, concat('PMC', cast(d + 5000001 as string))) as pmcid",
        s"if(kind in ('full', 'nopmid', 'nopmcid'), $pmid, null) as expPmid")

    val sections = "array('results', 'discuss', 'methods', 'concl', 'other', 'Results', 'introduction', 'figure', 'suppl')"
    val sents = docsDf
      .selectExpr("*", "explode(sequence(0, cast(nSent - 1 as int))) as s")
      .selectExpr("*",
        s"""case when s = 0 then if(${h(6, 10, "d")} < 9, element_at(array('title', 'Title'), cast(${h(7, 2, "d")} + 1 as int)), 'abstract')
           |     when s = 1 then element_at(array('abstract', 'Abstract'), cast(${h(8, 2, "d")} + 1 as int))
           |     when ${h(9, 50, "d", "s")} = 0 then null
           |     else element_at($sections, cast(${h(10, 9, "d", "s")} + 1 as int)) end as section""".stripMargin,
        s"1 + ${h(11, 4, "d", "s")} as nMatch",
        s"${h(12, 10, "d", "s")} = 0 as nonAscii",
        s"cast(${h(13, 10, "d", "s")} as double) as score")

    val v = h(15, 100, "d", "s", "m")
    val miss = s"cast(${h(16, 1000000, "d", "s", "m")} as string)"
    sents
      .selectExpr("*", "explode(sequence(0, cast(nMatch - 1 as int))) as m")
      .selectExpr("*",
        s"""case when ${h(14, 100, "d", "s", "m")} < 40 then 'GP'
           |     when ${h(14, 100, "d", "s", "m")} < 85 then 'DS' else 'CD' end as type""".stripMargin,
        s"$v as v",
        s"${zipf(17, targets, "d", "s", "m")} as gi",
        s"${zipf(18, diseases, "d", "s", "m")} as di",
        s"${zipf(19, drugs, "d", "s", "m")} as ci")
      .selectExpr("*",
        s"""case
           |  when type = 'GP' and v < 35 then named_struct('label', concat('GN', gi), 'cand', array(${tId("gi")}))
           |  when type = 'GP' and v < 60 then named_struct('label', concat('gene alpha ', gi), 'cand', array(${tId("gi")}))
           |  when type = 'GP' and v < 70 then named_struct('label', concat('gene synonym ', gi), 'cand', array(${tId("gi")}))
           |  when type = 'GP' and v < 75 then named_struct('label', concat('GS', gi), 'cand', array(${tId("gi")}))
           |  when type = 'GP' and v < 80 then named_struct('label', concat('P', lpad(cast(gi as string), 5, '0')), 'cand', array(${tId("gi")}))
           |  when type = 'GP' and v < 90 and gi % 10 < 2 then named_struct('label', concat('shared gene ', gi div 10),
           |       'cand', array(${tId("(gi div 10) * 10")}, ${tId("(gi div 10) * 10 + 1")}))
           |  when type = 'GP' and v < 90 then named_struct('label', concat('GN', gi), 'cand', array(${tId("gi")}))
           |  when type = 'GP' then named_struct('label', concat('zzmiss gene ', $miss), 'cand', cast(array() as array<string>))
           |  when type = 'DS' and v < 40 then named_struct('label', concat('disease beta ', di), 'cand', array(${dId("di")}))
           |  when type = 'DS' and v < 60 then named_struct('label', concat('disorder beta ', di), 'cand', array(${dId("di")}))
           |  when type = 'DS' and v < 70 then named_struct('label', concat('syndrome beta ', di), 'cand', array(${dId("di")}))
           |  when type = 'DS' and v < 85 and di % 20 < 3 then named_struct('label', concat('shared disorder ', di div 20),
           |       'cand', array(${dId("(di div 20) * 20")}, ${dId("(di div 20) * 20 + 1")}, ${dId("(di div 20) * 20 + 2")}))
           |  when type = 'DS' and v < 85 then named_struct('label', concat('disease beta ', di), 'cand', array(${dId("di")}))
           |  when type = 'DS' then named_struct('label', concat('zzmiss disease ', $miss), 'cand', cast(array() as array<string>))
           |  when v < 50 then named_struct('label', concat('drug gamma ', ci), 'cand', array(${cId("ci")}))
           |  when v < 70 then named_struct('label', concat('brand gamma ', ci), 'cand', array(${cId("ci")}))
           |  when v < 90 then named_struct('label', concat('compound gamma ', ci), 'cand', array(${cId("ci")}))
           |  else named_struct('label', concat('zzmiss drug ', $miss), 'cand', cast(array() as array<string>))
           |end as pick""".stripMargin)
      .selectExpr("*", "pick.label as label", "pick.cand as cand")
  }

  /** Writes the corpus JSON, the entity parquet, the id CSV and the truth
    * tables under `dir`. With `batches` > 1 the JSON lands as one file per
    * batch in `dir/landing` (the streaming workload's input); otherwise as
    * `parts` files in `dir/epmc`.
    */
  def write(spark: SparkSession, dir: String, first: Long, docs: Long, batches: Int, parts: Int): Unit = {
    targetsDf(spark).coalesce(1).write.parquet(s"$dir/targets")
    diseasesDf(spark).coalesce(1).write.parquet(s"$dir/diseases")
    drugsDf(spark).coalesce(1).write.parquet(s"$dir/drugs")

    val flat = plan(spark, first, docs, batches, parts).persist()
    val matchStruct =
      """named_struct('m', m, 'label', label, 'type', type,
        |  'startInSentence', cast(m * 24 + 14 as bigint), 'endInSentence', cast(m * 24 + 14 + length(label) as bigint),
        |  'sectionStart', cast(m * 24 + 14 as bigint), 'sectionEnd', cast(m * 24 + 14 + length(label) as bigint),
        |  'cand', cand)""".stripMargin
    val sentences = flat
      .groupBy("d", "batch", "kind", "rawPmid", "pmcid", "expPmid", "pubDate", "s", "section", "nonAscii", "score")
      .agg(expr(s"array_sort(collect_list($matchStruct))").as("ms"))
      .selectExpr("*",
        """concat_ws(' ', 'Evidence that', array_join(transform(ms, x -> x.label), ' and '),
          |  if(nonAscii, 'was observed in the α-synuclein cohort of Zürich', 'was observed in the cohort'),
          |  cast(d as string)) as text""".stripMargin,
        "try_element_at(filter(ms, x -> x.type = 'GP'), 1) as gp",
        "try_element_at(filter(ms, x -> x.type = 'DS'), 1) as ds")
      .persist()

    val cooc =
      """if(gp is null or ds is null, array(), array(named_struct(
        |  'label1', gp.label, 'label2', ds.label, 'type', 'GP-DS',
        |  'start1', gp.startInSentence, 'end1', gp.endInSentence,
        |  'start2', ds.startInSentence, 'end2', ds.endInSentence,
        |  'association', 'positive', 'relation', 'associated_with', 'sentEvidenceScore', score)))""".stripMargin
    val json = sentences
      .groupBy("d", "batch", "rawPmid", "pmcid", "pubDate")
      .agg(expr(
        s"""array_sort(collect_list(named_struct('s', s, 'section', section, 'text', text,
           |  'matches', transform(ms, x -> named_struct('label', x.label, 'type', x.type,
           |     'startInSentence', x.startInSentence, 'endInSentence', x.endInSentence,
           |     'sectionStart', x.sectionStart, 'sectionEnd', x.sectionEnd)),
           |  'co-occurrence', $cooc)))""".stripMargin).as("ss"))
      .selectExpr("batch", "rawPmid as pmid", "pmcid", "pubDate", "array('human') as organisms",
        "named_struct('name', 'Synthetic Journal') as `journal info`",
        "transform(ss, x -> named_struct('section', x.section, 'text', x.text, 'matches', x.matches, " +
          "'co-occurrence', x.`co-occurrence`)) as sentences")

    if (batches <= 1) json.drop("batch").repartition(parts).write.json(s"$dir/epmc")
    else {
      json.repartition(col("batch")).write.partitionBy("batch").json(s"$dir/staging")
      Files.createDirectories(Paths.get(s"$dir/landing"))
      (0 until batches).foreach { b =>
        val part = Files.list(Paths.get(s"$dir/staging/batch=$b")).iterator()
        while (part.hasNext) {
          val p = part.next()
          if (p.getFileName.toString.endsWith(".json"))
            Files.move(p, Paths.get(f"$dir/landing/batch-$b%04d.json"), StandardCopyOption.ATOMIC_MOVE)
        }
      }
    }

    // PMID↔PMCID table: every pmcid-bearing document except the 'lost'
    // kind, the 'dup' kind under a pmcid outside the corpus, plus rows
    // for publications the corpus does not hold
    spark.range(first, first + docs, 1, parts).selectExpr(
        "id as d", s"${h(1, 100, "id")} as kindRoll")
      .selectExpr(
        "cast(d + 1000001 as string) as PMID",
        """case when kindRoll < 80 then concat('PMC', cast(d + 5000001 as string))
          |     when kindRoll >= 84 and kindRoll < 88 then concat('PMC', cast(d + 9000001 as string))
          |end as PMCID""".stripMargin)
      .filter(col("PMCID").isNotNull)
      .unionByName(spark.range(docs / 5).selectExpr(
        "cast(id + 8000001 as string) as PMID", "concat('PMC', cast(id + 7000001 as string)) as PMCID"))
      .coalesce(1).write.option("header", "true").csv(s"$dir/epmcids")

    flat.selectExpr("batch", "expPmid as pmid", "pmcid", "lower(section) as section", "d", "s", "m",
        "type", "label", "cand")
      .coalesce(1).write.parquet(s"$dir/truth_matches")
    sentences.filter(col("gp").isNotNull && col("ds").isNotNull)
      .selectExpr("batch", "expPmid as pmid", "pmcid", "lower(section) as section", "d", "s",
        "length(text) as textLen", "score", "gp.cand as cand1", "ds.cand as cand2")
      .coalesce(1).write.parquet(s"$dir/truth_coocs")
    sentences.unpersist()
    flat.unpersist()
  }
}
