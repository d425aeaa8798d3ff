package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `operator_mix`: one pass over registry queries of the `dedup`, `ann`,
  * `graph`, `text` and `queries` modules, all in one session. Nothing is
  * freed between queries or passes: blocks a query leaves behind stay, as
  * in a long-lived session.
  *
  * Each query's output is written as parquet (outputs are small), so the
  * checks compare the timed pass's own output with the query's DuckDB
  * oracle; a noop sink would need a second, untimed run of every query.
  */
final class OperatorMix(run: Run) extends Workload(run) {

  /** One query per module family, each a ROADMAP target: pointer-doubling
    * clusters (dedup), IVF-PQ routing (ann), iterated rank updates
    * (graph), gram-fingerprint pair join (text) and a keyed window
    * dedup (queries).
    */
  val queries = Seq("a12_keyed_dedup", "d7_dedup_clusters", "g2_pagerank", "v13_ivfpq",
    "x22_span_overlap_pairs")

  /** Sized from traced runs at 1, 4, 8 and 16 times these tables (see
    * README.md): at this size about a third of a pass is work that grows
    * with the data; larger sizes make d7's DuckDB oracle too slow for a run.
    */
  val tables = OperatorTables(run.seed, docs = 4000, vectors = 2000, lines = 120000, customers = 6000)

  def generate(spark: SparkSession, dir: String): Long = {
    tables.write(spark, dir)
    tables.docs.toLong
  }

  private def retainedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)

  /** Runs one query into `out/<query>`; the error text if it threw. */
  private def runQuery(spark: SparkSession, in: String, out: String, q: String): Option[String] =
    try {
      SparkEntry.queries(q)(spark, in).write.parquet(s"$out/$q")
      None
    } catch {
      case scala.util.control.NonFatal(e) => Some(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  def pass(spark: SparkSession, in: String, out: String): Op = {
    val t0 = System.nanoTime()
    val errors = queries.flatMap(runQuery(spark, in, out, _))
    Op("", (System.nanoTime() - t0) / 1e9, out, error = errors.mkString("\n"))
  }

  def tracedPass(spark: SparkSession, in: String, out: String, listener: TagListener,
      tr: Tracer): (Map[String, Double], Seq[Op]) = {
    listener.reset(spark.sparkContext)
    val (retained, errors) = tr("op.pass") {
      queries.map { q =>
        val err = tr(s"op.$q")(runQuery(spark, in, out, q))
        (s"op.$q.retained_mb" -> retainedMb(spark), err)
      }.unzip
    }
    val layers = Layers(listener.snapshot(spark.sparkContext), tr, run.cores)
    val pass = tr.passMetrics(_ == "op.pass")
    (queries.flatMap(q => layers.pick(s"op.$q", "wall_s", "cpu_s", "shuffle_mb", "stages")).toMap ++ retained ++ pass,
      Seq(Op("traced", pass("trace.pass_s"), out, Nil, errors.flatten.mkString("\n"))))
  }

  /** The queries and their DuckDB oracle SQL, for the checks. */
  override def checkInputs(spark: SparkSession, in: String): Map[String, Any] =
    Map("queries" -> queries, "oracle" -> queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
}
