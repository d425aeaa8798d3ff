package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.etl.Fixtures
import org.apache.spark.sql.functions._

class LiteratureStreamSpec extends SparkSpec {

  "LiteratureStream" should "ground documents incrementally via foreachBatch" in {
    val landing = Files.createTempDirectory("graft-landing").toFile.getAbsolutePath
    // batch-write the fixture corpus as the landing JSON; schema from the
    // static read (streams need explicit schemas)
    val staticDocs = Fixtures.epmc(spark)
    staticDocs.write.mode("overwrite").json(landing)

    val stream = spark.readStream.schema(staticDocs.schema).json(landing)

    var matchTotal = 0L
    var coocTotal = 0L
    var batches = 0
    val writer = LiteratureStream.groundingWriter(
      stream,
      Fixtures.epmcIds(spark),
      Fixtures.targets(spark),
      Fixtures.diseases(spark),
      Fixtures.drugs(spark),
      out => {
        batches += 1
        matchTotal += out.matches.count()
        coocTotal += out.cooccurrences.count()
      })

    val q = LiteratureStream.backfill(writer)
    // awaitTermination(ms) returns false on timeout — assert it, or a
    // slow run under full-suite contention asserts against partial counts
    assert(q.awaitTermination(300000), "stream did not terminate in 300 s")

    batches should be >= 1
    // same totals as the batch pipeline over the same corpus
    matchTotal shouldBe 9L
    coocTotal shouldBe 2L
  }

  it should "survive a mid-input crash and replay exactly-once" in {
    val landing = Files.createTempDirectory("graft-landing2").toFile.getAbsolutePath
    val checkpoint = Files.createTempDirectory("graft-ckpt").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft-stream-out").toFile.getAbsolutePath
    val staticDocs = Fixtures.epmc(spark)
    staticDocs.write.mode("overwrite").json(landing)

    def stream = spark.readStream
      .schema(staticDocs.schema)
      .option("maxFilesPerTrigger", "1") // several micro-batches, not one
      .json(landing)

    def writer(sink: LiteratureStream.BatchOutputs => Unit) =
      LiteratureStream.groundingWriter(
        stream, Fixtures.epmcIds(spark), Fixtures.targets(spark),
        Fixtures.diseases(spark), Fixtures.drugs(spark), sink)
        .option("checkpointLocation", checkpoint)

    // run 1: the sink WRITES its output, then dies before the checkpoint
    // commits — the worst-case window for double-counting on restart
    val base = LiteratureStream.parquetSink(out)
    var crashed = false
    val crashingSink: LiteratureStream.BatchOutputs => Unit = o => {
      base(o)
      if (!crashed) { crashed = true; throw new RuntimeException("injected crash") }
    }
    val q1 = LiteratureStream.backfill(writer(crashingSink))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(300000)
    }
    crashed shouldBe true

    // run 2: same checkpoint — the engine replays the uncommitted batch
    // with the SAME batchId; the overwrite-by-batch sink rewrites it
    // instead of appending a duplicate
    val q2 = LiteratureStream.backfill(writer(base))
    assert(q2.awaitTermination(300000), "replay stream did not terminate in 300 s")

    // totals match the batch pipeline exactly — an appending sink would
    // have double-counted the replayed batch
    val matches = spark.read.parquet(s"$out/matches")
    matches.count() shouldBe 9L
    spark.read.parquet(s"$out/cooccurrences").count() shouldBe 2L
    // and the input really was split across micro-batches
    matches.select("batch_id").distinct().count() should be > 1L
  }

  it should "ground each micro-batch once and free its cache after the sink" in {
    val landing = Files.createTempDirectory("graft-landing3").toFile.getAbsolutePath
    val staticDocs = Fixtures.epmc(spark)
    staticDocs.write.mode("overwrite").json(landing)
    val stream = spark.readStream.schema(staticDocs.schema)
      .option("maxFilesPerTrigger", "1")
      .json(landing)

    // RDD ids only grow: every RDD persisted from here on has a larger id
    val sc = spark.sparkContext
    val watermark = sc.emptyRDD[Int].id
    def persistedSince: Int = sc.getPersistentRDDs.keys.count(_ > watermark)

    var matchTotal = 0L
    val persistedAtSinkEnd = scala.collection.mutable.ArrayBuffer[Int]()
    val writer = LiteratureStream.groundingWriter(
      stream, Fixtures.epmcIds(spark), Fixtures.targets(spark),
      Fixtures.diseases(spark), Fixtures.drugs(spark),
      out => {
        matchTotal += out.matches.count()
        out.cooccurrences.count()
        persistedAtSinkEnd += persistedSince
      })
    val q = LiteratureStream.backfill(writer)
    assert(q.awaitTermination(300000), "stream did not terminate in 300 s")

    matchTotal shouldBe 9L
    persistedAtSinkEnd.size should be > 1
    // each batch holds its own grounding cache while its sink runs (plus
    // the static lookups, cached once) and frees it afterwards: an
    // unfreed batch would add its cached frames to every later count
    withClue(s"persisted RDDs at each sink's end: $persistedAtSinkEnd") {
      persistedAtSinkEnd.distinct.size shouldBe 1
    }
  }
}
