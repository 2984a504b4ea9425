package graft

import graft.core.{InputDoc, Span, SpanOps}
import graft.streaming.StreamKb
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming front-end: stream ≡ batch table equivalence, cross-batch
  * incremental linking, stateful first-seen dedup, windowed counts.
  */
class StreamKbSpec extends SparkTestBase {
  import spark.implicits._

  private def doc(id: String, text: String): InputDoc =
    InputDoc(id, SpanOps.withOffsets(Seq(Span("text", text, "", 0))))

  private val corpus = Seq(
    doc("d1", "spark with fast key inside"),
    doc("d2", "fast key again near customer"),
    doc("d3", "sort merge and fast key"),
    doc("d4", "spark customer window"))

  private def stage(dir: String, docs: Seq[InputDoc]): Unit =
    spark.createDataset(docs).repartition(1)
      .write.mode("append").parquet(dir) // append: new files land in dir

  test("streaming populate over one micro-batch equals the batch loop") {
    val in = Files.createTempDirectory("skb-in").toString
    val ck = Files.createTempDirectory("skb-ck").toString
    val wStream = Files.createTempDirectory("skb-ws").toString
    val wBatch = Files.createTempDirectory("skb-wb").toString
    stage(in, corpus)

    val q = StreamKb.populate(StreamKb.docStream(spark, in), wStream, ck)
    q.awaitTermination(180000)

    Incremental.run(spark, spark.createDataset(corpus), wBatch, numBatches = 1)

    def state(w: String, tab: String) = {
      val t = Incremental.Tables(w)
      val df = tab match {
        case "triples" => t.triples.read(spark).get
        case "mentions" => t.mentions.read(spark).get
        case "registry" => t.registry.read(spark).get.drop("emb")
      }
      df.collect().map(_.toString).sorted.toSeq
    }
    Seq("triples", "mentions", "registry").foreach { tab =>
      assert(state(wStream, tab) == state(wBatch, tab), s"table $tab differs")
      assert(state(wStream, tab).nonEmpty)
    }
  }

  test("entities discovered in micro-batch k are linkable in batch k+1; replay is a no-op") {
    val in = Files.createTempDirectory("skb2-in").toString
    val ck = Files.createTempDirectory("skb2-ck").toString
    val w = Files.createTempDirectory("skb2-w").toString

    stage(in, Seq(doc("s1", "slow part is new here")))
    StreamKb.populate(StreamKb.docStream(spark, in), w, ck).awaitTermination(180000)
    val t = Incremental.Tables(w)
    val regAfter0 = t.registry.read(spark).get.count()

    // second arrival mentions the same novel surface: the NIL entity
    // minted in batch 0 must now be in the registry it links against
    stage(in, Seq(doc("s2", "slow part appears again")))
    StreamKb.populate(StreamKb.docStream(spark, in), w, ck).awaitTermination(180000)

    assert(Incremental.doneBatches(spark, t) == Set(0, 1))
    assert(t.registry.read(spark).get.count() >= regAfter0)
    // exactly one KB row for the repeated novel surface, and both docs
    // resolve their mention to the same entity object
    assert(t.registry.read(spark).get
      .filter(col("title") === "slow part").count() == 1)
    val objs = t.triples.read(spark).get
      .filter(col("pred") === ":mentions" &&
        (col("obj") === "nil:slow part" || col("obj") === "ent:slow part"))
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(objs == Set("s1", "s2"))

    // replay with no new files: no-op on every table
    val v1 = t.triples.latestSnapshot.get
    StreamKb.populate(StreamKb.docStream(spark, in), w, ck).awaitTermination(180000)
    assert(t.triples.latestSnapshot.get == v1)

    // s1 re-delivered with new text in a later micro-batch replaces its
    // rows: none of its old mentions or triples survive, s2 keeps its own
    stage(in, Seq(doc("s1", "spark customer window")))
    StreamKb.populate(StreamKb.docStream(spark, in), w, ck).awaitTermination(180000)
    assert(Incremental.doneBatches(spark, t) == Set(0, 1, 2))
    def objsOf(id: String) = t.triples.read(spark).get
      .filter(col("doc_id") === id && col("pred") === ":mentions")
      .select("obj").collect().map(_.getString(0)).toSet
    assert(objsOf("s1").nonEmpty && !objsOf("s1").exists(_.endsWith("slow part")))
    assert(objsOf("s2").exists(_.endsWith("slow part")))
    val s1Mentions = t.mentions.read(spark).get.filter(col("doc_id") === "s1")
      .select("mention").collect().map(_.getString(0)).toSet
    assert(s1Mentions.nonEmpty && !s1Mentions.contains("slow part"), s"$s1Mentions")
  }

  test("dedupFirstSeen drops cross-batch duplicates, keeps min doc_id within a batch") {
    val in = Files.createTempDirectory("skb3-in").toString
    val ck = Files.createTempDirectory("skb3-ck").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()

    def runOnce(): Unit = {
      val q = StreamKb.dedupFirstSeen(StreamKb.docStream(spark, in))
        .writeStream
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[InputDoc], _: Long) =>
          b.collect().foreach(d => seen.add(d.doc_id)); ()
        }
        .start()
      q.awaitTermination(180000)
    }

    // batch 0: x2 and x9 share content — min doc_id (x2) wins
    stage(in, Seq(doc("x9", "same body here"), doc("x2", "same body here"),
      doc("x5", "different body")))
    runOnce()
    assert(seen.iterator().hasNext)
    val after0 = Iterator.continually(seen.poll()).takeWhile(_ != null).toSet
    assert(after0 == Set("x2", "x5"))

    // batch 1: duplicate of batch-0 content emits nothing; new content does
    stage(in, Seq(doc("x7", "same body here"), doc("x8", "brand new body")))
    runOnce()
    val after1 = Iterator.continually(seen.poll()).takeWhile(_ != null).toSet
    assert(after1 == Set("x8"))
  }

  test("mentionCounts: streaming result equals the batch computation") {
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val rows = (0 until 40).map { i =>
      (new java.sql.Timestamp(base.getTime + i * 600000L),
        if (i % 3 == 0) "PER" else "ORG", s"m$i")
    }
    val dir = Files.createTempDirectory("skb4-in").toString
    rows.toDF("ts", "mention_type", "mention").write.mode("overwrite").parquet(dir)

    val batch = StreamKb.mentionCounts(spark.read.parquet(dir), "ts", "1 hour", "30 minutes")
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet

    val qn = "skb_mc_" + System.nanoTime()
    val stream = StreamKb.mentionCounts(
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
      "ts", "1 hour", "30 minutes")
    val q = stream.writeStream.outputMode("complete").format("memory")
      .queryName(qn).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val streamed = spark.table(qn)
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet

    assert(streamed == batch && streamed.nonEmpty)
  }
}
