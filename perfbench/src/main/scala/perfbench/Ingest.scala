package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.cdc.Cdc
import graft.streaming.Pipelines

/** `ingest`: seeded CDC envelopes replayed through `MemoryStream` →
  * `Pipelines.qualityEnrich` → `Pipelines.startIndexSink` on an index
  * pre-loaded with the base corpus.
  *
  * Phase 1 is an open loop at a fixed rate, about a quarter of the rate
  * the sink drains a 2500-row backlog at on a 4-core machine (about 1600
  * rows/s): at half that rate a slow stretch of the shared machine grows
  * the queue enough to move freshness by half; each
  * event is timed from when it was due to the progress event of the
  * micro-batch whose end offset covers it. Phase 2 pushes a fixed backlog
  * at once, several times, and reports the rows drained per second of
  * drain time over all of them.
  */
object Ingest {
  val ratePerS = 400
  val backlogRows = 2500
  val backlogs = 3

  /** The envelope stream after the base corpus: the `Cdc.syntheticOp` mix
    * (45% creates with new ids, 45% updates, 5% deletes, 5% snapshot
    * reads). Updates and deletes pick live ids with Zipf skew; updates bump
    * the version and touch the text.
    */
  final class Source(seed: Long, base: IndexedSeq[Gen.Doc]) {
    private val rng = new SplittableRandom(seed ^ 0x1c9eL)
    private val live = mutable.ArrayBuffer.from(Batch.shuffle(base, rng))
    private val statuses = Array("sent", "viewed", "signed", "approved", "pending")
    private var next = base.size.toLong
    private var sent = 0L

    private def skewed(): Int = {
      val r = (math.exp(rng.nextDouble() * math.log(live.size + 1.0)) - 1).toInt
      math.min(live.size - 1, r)
    }

    def take(n: Int): Seq[(String, String)] = Seq.fill(n) {
      val ts = 1700000000000L + sent
      sent += 1
      rng.nextInt(20) match {
        case 0 => Gen.envelope("d", Some(live(skewed())), None, ts)
        case 1 =>
          val d = live(skewed())
          Gen.envelope("r", None, Some(d), ts)
        case k if k % 2 == 0 =>
          val src = base(rng.nextInt(base.size))
          val d = src.copy(id = next)
          next += 1
          live += d
          Gen.envelope("c", None, Some(d), ts)
        case _ =>
          val i = skewed()
          val old = live(i)
          val words = old.text.split(" ")
          words(rng.nextInt(words.length)) = Gen.vocab(rng.nextInt(Gen.vocab.size))
          val d = old.copy(text = words.mkString(" "),
            status = statuses(rng.nextInt(statuses.length)), version = old.version + 1)
          live(i) = d
          Gen.envelope("u", Some(old), Some(d), ts)
      }
    }
  }

  final class Fixture(val dir: String, val base: IndexedSeq[Gen.Doc]) {
    val index = s"$dir/index"
  }

  def setup(spark: SparkSession, conf: RunConf, rep: Int): Fixture = {
    val dir = conf.work(s"ingest_$rep")
    val base = Gen.docs(Gen.documentRows(conf.seed, conf.scale.docs))
    Feed.preload(spark, base, s"$dir/index", s"$dir/preload_ckpt")
    new Fixture(dir, base)
  }

  /** Progress of the measured query: (end offset, arrival time) per
    * non-empty micro-batch, plus the raw progress for the trace.
    */
  private final class Progress(runId: () => java.util.UUID) extends StreamingQueryListener {
    val covered = mutable.ArrayBuffer.empty[(Long, Long)]
    val batches = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val now = System.nanoTime()
      val p = e.progress
      if (p.runId == runId() && p.numInputRows > 0) synchronized {
        covered += (p.sources.head.endOffset.toLong -> now)
        batches += p
      }
    }
    /** Arrival time of the first batch covering `offset`, if any yet. */
    def coveredAt(offset: Long): Option[Long] = synchronized {
      covered.find(_._1 >= offset).map(_._2)
    }
    def awaitCovered(offset: Long, timeoutS: Double): Long = {
      val stop = System.nanoTime() + (timeoutS * 1e9).toLong
      var at = coveredAt(offset)
      while (at.isEmpty) {
        if (System.nanoTime() > stop)
          throw new java.util.concurrent.TimeoutException(s"offset $offset not drained")
        Thread.sleep(2)
        at = coveredAt(offset)
      }
      at.get
    }
  }

  def run(spark: SparkSession, conf: RunConf, fx: Fixture, res: Result,
      trace: Trace, seconds: Double): Unit = {
    val source = new Source(conf.seed, fx.base)
    val sent = mutable.ArrayBuffer.empty[(String, String)]
    def next(n: Int) = { val e = source.take(n); sent ++= e; e }
    var feed: Feed = null
    val progress = new Progress(() => feed.query.runId)
    spark.streams.addListener(progress)
    feed = new Feed(spark, fx.index, s"${fx.dir}/stream_ckpt")
    try {
      // warm the new query's first micro-batches before anything is timed
      (1 to 2).foreach(_ => progress.awaitCovered(feed.push(next(50)), 120))

      // phase 1: open loop, events due at i / rate
      val n1 = math.max(100, (ratePerS * seconds * 0.6).toInt)
      val due = new Array[Long](n1)
      val offsets = new Array[Long](n1)
      val late = mutable.ArrayBuffer.empty[Double]
      var backlogMax = 0L
      var drained = 0 // events [0, drained) are covered by a finished batch
      var i = 0
      val t0 = System.nanoTime()
      while (i < n1) {
        val now = System.nanoTime()
        val dueNow = math.min(n1, ((now - t0) / 1e9 * ratePerS).toInt + 1)
        if (dueNow > i) {
          val off = feed.push(next(dueNow - i))
          val pushed = System.nanoTime()
          (i until dueNow).foreach { k =>
            due(k) = t0 + (k * 1e9 / ratePerS).toLong
            offsets(k) = off
            late += (pushed - due(k)) / 1e6
          }
          i = dueNow
          while (drained < i && progress.coveredAt(offsets(drained)).isDefined) drained += 1
          backlogMax = math.max(backlogMax, (i - drained).toLong)
        }
        Thread.sleep(1)
      }
      progress.awaitCovered(offsets(n1 - 1), 120)
      val fresh = (0 until n1).map(k => (progress.coveredAt(offsets(k)).get - due(k)) / 1e6)

      // phase 2: a fixed backlog at once, timed to its drain
      val drains = (1 to backlogs).map { _ =>
        val batch = next(backlogRows)
        val t = System.nanoTime()
        val at = progress.awaitCovered(feed.push(batch), 120)
        (at - t) / 1e9
      }

      res.put("latency_p50_ms", Stats.median(fresh), "ms")
      res.put("latency_p90_ms", Stats.p90(fresh), "ms")
      val drainRate = backlogRows * backlogs / drains.sum
      res.put("throughput_per_s", drainRate, "1/s")
      res.put("freshness_p50_s", Stats.median(fresh) / 1000, "s")
      res.put("freshness_p90_s", Stats.p90(fresh) / 1000, "s")
      res.put("drain_rows_per_s", drainRate, "rows/s")
      res.put("freshness_samples", fresh.size, "count")
      res.put("ingest.source.backlog_rows_max", backlogMax, "rows")
      res.put("ingest.generator.late_ms_p90", Stats.p90(late.toSeq), "ms")

      if (trace.enabled) layers(spark, res, trace, feed, progress, fx, next)
    } finally {
      feed.stop()
      spark.streams.removeListener(progress)
    }
    res.attempted += sent.size
    check(spark, fx, res, sent.toSeq)
  }

  /** The final index must equal `Pipelines.upsertByKey` applied in batch to
    * every envelope sent, with no duplicate `doc_id`.
    */
  private def check(spark: SparkSession, fx: Fixture, res: Result,
      sent: Seq[(String, String)]): Unit = {
    val baseEnv = fx.base.map(d => Gen.envelope("c", None, Some(d), d.id))
    val want = Pipelines.upsertByKey(
      Pipelines.qualityEnrich(Feed.frame(spark, baseEnv)),
      Pipelines.qualityEnrich(Feed.frame(spark, sent)), "doc_id", Seq("version", "ts_ms"))
    val got = Pipelines.readIndex(spark, fx.index).select(want.columns.map(col).toIndexedSeq: _*)
    val rows = got.count()
    val ids = got.select("doc_id").distinct().count()
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    if (ids != rows) res.wrong(s"index holds ${rows - ids} duplicate doc_id rows")
    if (missing + extra > 0)
      res.wrong(s"index differs from the batch upsert: $missing missing, $extra extra rows")
    res.put("ingest.index_rows", rows, "rows")
  }

  private def layers(spark: SparkSession, res: Result, trace: Trace, feed: Feed,
      progress: Progress, fx: Fixture, next: Int => Seq[(String, String)]): Unit = {
    // progress durations come in whole milliseconds: a mean over the
    // batches keeps the digits a median of whole numbers would drop
    val batches = progress.synchronized(progress.batches.toList)
    def dur(k: String) =
      batches.map(_.durationMs.getOrDefault(k, 0L).toDouble).sum / batches.size
    res.put("ingest.streaming.trigger_ms_mean", dur("triggerExecution"), "ms")
    res.put("ingest.streaming.add_batch_ms_mean", dur("addBatch"), "ms")
    res.put("ingest.streaming.planning_ms_mean", dur("queryPlanning"), "ms")
    res.put("ingest.streaming.wal_commit_ms_mean", dur("walCommit"), "ms")
    val runId = feed.query.runId.toString
    val perBatch = trace.streamingJobs().filter(_._2.exists(_.desc.exists(_.contains(runId))))
      .values.toSeq
    def mean(f: Trace.Job => Double) =
      perBatch.map(_.map(f).sum).sum / math.max(1, perBatch.size)
    res.put("ingest.spark.jobs_per_batch", mean(_ => 1.0), "count")
    res.put("ingest.spark.tasks_per_batch", mean(_.tasks.toDouble), "count")
    res.put("ingest.spark.shuffle_bytes_per_batch", mean(_.shuffleBytes.toDouble), "bytes")

    // controlled batches: list the bucket directories around each one
    val size = ratePerS
    val dirty = mutable.ArrayBuffer.empty[Double]
    var written = 0L
    var input = 0L
    var batch = Seq.empty[(String, String)]
    (1 to 3).foreach { _ =>
      val before = files(fx.index)
      batch = next(size)
      feed.push(batch)
      feed.query.processAllAvailable()
      val after = files(fx.index)
      val changed = (before.keySet ++ after.keySet).filter(f => before.get(f) != after.get(f))
      dirty += changed.map(f => new File(f).getParent).size
      written += after.filter { case (f, _) => !before.contains(f) }.values.sum
      input += batch.map(_._2.length.toLong).sum
    }
    res.put("ingest.streaming.dirty_buckets_p50", Stats.median(dirty.toSeq), "count")
    res.put("ingest.streaming.rewrite_bytes_per_input_byte", written.toDouble / input, "ratio")
    val live = Pipelines.readIndex(spark, fx.index).count()
    res.put("ingest.streaming.index_bytes_per_live_row", files(fx.index).values.sum.toDouble / live,
      "bytes")

    // the last controlled batch through each layer's public call
    val frame = Feed.frame(spark, batch)
    val enriched = Pipelines.qualityEnrich(frame)
    def timedMs(name: String)(df: => DataFrame): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      trace.span(name)(df.write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e6
    })
    res.put("ingest.cdc.pipeline_ms", timedMs("ingest.cdc")(Cdc.pipeline(frame)), "ms")
    res.put("ingest.quality.enrich_ms", timedMs("ingest.quality")(enriched), "ms")
    res.put("ingest.streaming.upsert_ms", timedMs("ingest.upsert")(Pipelines.upsertByKey(
      Pipelines.readIndex(spark, fx.index).select(enriched.columns.map(col).toIndexedSeq: _*),
      enriched, "doc_id", Seq("version", "ts_ms"))), "ms")
    res.put("ingest.gate.admitted_ratio",
      Cdc.pipeline(frame).count().toDouble / size, "ratio")
    res.put("ingest.streaming.batches", batches.size, "count")
  }

  /** Parquet data files under the index, with their sizes. */
  private def files(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length).toMap
  }
}
