package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.Pipelines

/** The engine's ingest path as one streaming query: envelopes pushed
  * into a `MemoryStream` → `Pipelines.qualityEnrich` →
  * `Pipelines.startIndexSink`, on the default as-soon-as-possible trigger.
  * The source has one partition per core, like a topic with that many
  * partitions; without it every push would become its own input partition.
  */
final class Feed(spark: SparkSession, indexDir: String, checkpointDir: String) {
  val source: MemoryStream[(String, String)] = {
    import spark.implicits._
    MemoryStream[(String, String)](spark, Runtime.getRuntime.availableProcessors())
  }
  val query: StreamingQuery = Pipelines.startIndexSink(
    Pipelines.qualityEnrich(source.toDF().toDF("key", "value")),
    indexDir, checkpointDir)

  /** Push envelopes; returns the source offset that covers them. */
  def push(envelopes: Seq[(String, String)]): Long =
    source.addData(envelopes).json().toLong

  def stop(): Unit = query.stop()
}

object Feed {
  /** Every base document as a create, pushed through the sink in one
    * batch: how both streaming workloads build the index they start from.
    */
  def preload(spark: SparkSession, docs: Seq[Gen.Doc], indexDir: String,
      checkpointDir: String): Unit = {
    val feed = new Feed(spark, indexDir, checkpointDir)
    try {
      feed.push(docs.map(d => Gen.envelope("c", None, Some(d), d.id)))
      feed.query.processAllAvailable()
    } finally feed.stop()
  }

  /** Static frame of envelopes, shaped like the stream's source. */
  def frame(spark: SparkSession, envelopes: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    envelopes.toDF("key", "value")
  }
}
