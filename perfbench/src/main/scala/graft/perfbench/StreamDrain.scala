package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.core.Io
import graft.etl.EpmcSchema
import graft.streaming.LiteratureStream
import graft.streaming.LiteratureStream.BatchOutputs

/** The streaming layer, measured inside `release_all`'s traced run:
  * `LiteratureStream.groundingWriter` with the `parquetSink`, started
  * `AvailableNow` with `maxFilesPerTrigger=1` over pre-landed JSON files
  * from the same corpus generator, one small batch of documents each.
  * Each file becomes one micro-batch that grounds through the batch code.
  */
object StreamDrain {

  val batches = 2
  val docsPerBatch = 150

  def generate(spark: SparkSession, corpus: Corpus, dir: String, first: Long, parts: Int): Unit =
    corpus.write(spark, dir, first, batches.toLong * docsPerBatch, batches, parts)

  /** Drains every landed file with a freshly started query. Returns the
    * drain's seconds and, per batch that read a file, (batch id, trigger
    * latency ms, input rows as the engine counts them).
    */
  def drain(spark: SparkSession, in: String, out: String,
      sink: BatchOutputs => Unit): (Double, Seq[(Long, Double, Long)]) = {
    def parquet(name: String) = Io.read(spark, Io.ReadSpec("parquet", s"$in/$name"))
    val docs = spark.readStream.schema(EpmcSchema.schema)
      .option("maxFilesPerTrigger", "1")
      .json(s"$in/landing")
    val writer = LiteratureStream.groundingWriter(docs,
        Io.read(spark, Io.ReadSpec("csv", s"$in/epmcids", None, Map("header" -> "true"))),
        parquet("targets"), parquet("diseases"), parquet("drugs"), sink)
      .option("checkpointLocation", s"$out/checkpoint")
    val t0 = System.nanoTime()
    val query = LiteratureStream.backfill(writer)
    query.awaitTermination()
    val seconds = (System.nanoTime() - t0) / 1e9
    val progress = query.recentProgress.toSeq.filter(_.numInputRows > 0)
      .map(p => (p.batchId, p.durationMs.get("triggerExecution").doubleValue, p.numInputRows))
    (seconds, progress)
  }

  /** A traced drain: span `stream.drain`, with the sink's writes (which
    * evaluate each batch's grounding) as child spans `stream.sink`.
    */
  def traced(spark: SparkSession, in: String, out: String, listener: TagListener,
      tr: Tracer): (Map[String, Double], Op) = {
    val sc = spark.sparkContext
    listener.reset(sc)
    val base = LiteratureStream.parquetSink(s"$out/sink")
    val rowsOut = ArrayBuffer[Long]()
    // runs on the stream's thread, while the caller waits in the drain span
    val sink: BatchOutputs => Unit = b => tr("stream.sink") {
      val (om, oc) = (Observation(), Observation())
      base(b.copy(
        matches = b.matches.observe(om, count(lit(1)).as("n")),
        cooccurrences = b.cooccurrences.observe(oc, count(lit(1)).as("n"))))
      rowsOut += om.get("n").toString.toLong + oc.get("n").toString.toLong
    }
    val (seconds, progress) = tr("stream.drain")(drain(spark, in, out, sink))
    val stats = listener.snapshot(sc)
    val n = math.max(1, progress.size).toDouble
    val layers = Layers(stats, tr, 1).pick("stream.sink", "wall_s", "bytes_written") ++ Map(
      "stream.drain.wall_s" -> seconds,
      "stream.batch.jobs" -> stats.values.map(_.jobs).sum / n,
      "stream.batch.rows_in" -> progress.map(_._3).sum / n,
      "stream.batch.rows_out" -> rowsOut.sum / n,
      "stream.first_batch_ms" -> progress.sortBy(_._1).headOption.map(_._2).getOrElse(0.0))
    (layers, Op("stream", seconds, s"$out/sink", progress.map(_._2)))
  }
}
