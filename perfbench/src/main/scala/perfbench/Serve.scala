package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.ops.SearchOps
import graft.similarity.Similarity
import graft.streaming.Pipelines

/** `serve`: one closed-loop client sending a seeded mix of four read ops
  * against the indexes the ingest path writes. Each request is small, so
  * per-request driver work, Catalyst planning and scan pruning set its
  * time.
  */
object Serve {
  val ops = Seq("search", "lookup", "bm25", "knn")

  sealed trait Req { def op: String }
  final case class Search(q: String, minScore: Double, excludePii: Boolean) extends Req {
    def op = "search"
  }
  final case class Lookup(id: Long) extends Req { def op = "lookup" }
  final case class Bm25(terms: Seq[String]) extends Req { def op = "bm25" }
  final case class Knn(vecId: Long) extends Req { def op = "knn" }

  final class Fixture(val dir: String, val docs: DataFrame, val embeddings: DataFrame,
      val baseEnvelopes: Seq[(String, String)], val vectors: IndexedSeq[Seq[Double]],
      val cents: Seq[Seq[Double]]) {
    val index = s"$dir/index"
    val bm25 = s"$dir/bm25"
    val ivf = s"$dir/ivf"
  }

  /** Tables, then the three indexes the ops read: the keyed document index
    * through the streaming sink, the BM25 index and the IVF index.
    */
  def setup(spark: SparkSession, conf: RunConf, rep: Int): Fixture = {
    val dir = conf.work(s"serve_$rep")
    Gen.writeTables(spark, conf.seed, conf.scale, dir, withOrders = false)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = Gen.docs(Gen.documentRows(conf.seed, conf.scale.docs))
    Feed.preload(spark, base, s"$dir/index", s"$dir/index_ckpt")
    SearchOps.writeBm25Index(docs, s"$dir/bm25")
    val cents = Similarity.seedCentroids(emb, 16)
    Similarity.writeIvfIndex(emb, cents, s"$dir/ivf")
    val vectors = Gen.embeddingRows(conf.seed, conf.scale.vectors)
      .map(_.getSeq[Float](1).map(_.toDouble))
    new Fixture(dir, docs, emb, base.map(d => Gen.envelope("c", None, Some(d), d.id)),
      vectors, cents)
  }

  /** The request stream: ops in shuffled blocks of four (equal counts),
    * query terms by Zipf popularity, lookups 80% over 32 hot ids and 20%
    * uniform, k-NN queries from the corpus's own vectors.
    */
  def requests(seed: Long, n: Int, conf: RunConf): IndexedSeq[Req] = {
    val rng = new SplittableRandom(seed ^ 0x5e7eL)
    val words = new Gen.Zipf(Gen.vocab.size - 2, 1.0)
    def term() = Gen.vocab(2 + words.sample(rng))
    val hot = IndexedSeq.fill(32)(rng.nextInt(conf.scale.docs).toLong)
    Iterator.continually(Batch.shuffle(ops, rng)).flatten.take(n).map {
      case "search" => Search(term(), Seq(0.0, 40.0, 50.0, 60.0)(rng.nextInt(4)),
        rng.nextBoolean())
      case "lookup" => Lookup(
        if (rng.nextInt(5) > 0) hot(rng.nextInt(hot.size))
        else rng.nextInt(conf.scale.docs).toLong)
      case "bm25" => Bm25(Seq.fill(1 + rng.nextInt(3))(term()).distinct)
      case _ => Knn(rng.nextInt(conf.scale.vectors).toLong)
    }.toIndexedSeq
  }

  def answer(spark: SparkSession, fx: Fixture, r: Req): Array[Row] = r match {
    case Search(q, m, x) =>
      SearchOps.searchEnrichedManaged(Pipelines.readIndex(spark, fx.index), q, m, x)(_.collect())
    case Lookup(id) =>
      Pipelines.indexPointLookup(spark, fx.index, "doc_id", lit(id)).collect()
    case Bm25(t) => SearchOps.searchBm25FromIndex(spark, fx.bm25, t, 10).collect()
    case Knn(v) => Similarity.ivfTopKFromIndex(spark.read.parquet(fx.ivf), fx.cents,
      fx.vectors(v.toInt), 10, 2).collect()
  }

  /** The same request answered by the index-free reference twin. */
  def reference(spark: SparkSession, fx: Fixture, enriched: => DataFrame,
      r: Req): Array[Row] = r match {
    case Search(q, m, x) => SearchOps.searchEnrichedManaged(enriched, q, m, x)(_.collect())
    case Lookup(id) =>
      Pipelines.readIndex(spark, fx.index).filter(col("doc_id") === id).collect()
    case Bm25(t) => SearchOps.searchBm25(fx.docs, t, 10).collect()
    case Knn(v) => Similarity.ivfTopKFrom(fx.embeddings, fx.cents, v, 10, 2).collect()
  }

  private final case class Done(req: Req, ms: Double, rows: Array[Row], span: Trace.Span)

  def run(spark: SparkSession, conf: RunConf, fx: Fixture, res: Result,
      trace: Trace, seconds: Double): Unit = {
    val reqs = requests(conf.seed, 5000, conf)
    // untimed warmup: every op shape a few times
    reqs.take(16).foreach(r => answer(spark, fx, r))
    if (trace.enabled) {
      // the same requests untraced, traced, untraced: the ratio of the
      // traced wall to the mean untraced wall
      val block = reqs.slice(16, 20)
      def wall(traced: Boolean) = block.map(r => wallMs(
        if (traced) trace.span(s"serve.overhead.${r.op}")(answer(spark, fx, r))
        else answer(spark, fx, r))).sum
      trace.detach()
      val before = wall(traced = false)
      trace.attach()
      val traced = wall(traced = true)
      trace.detach()
      val after = wall(traced = false)
      trace.attach()
      res.put("rig.tracing_overhead", traced / ((before + after) / 2), "ratio")
    }
    val done = mutable.ArrayBuffer.empty[Done]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val it = reqs.drop(20).iterator
    while (System.nanoTime() < deadline && it.hasNext) {
      val r = it.next()
      val s = System.nanoTime()
      res.attempt(r.op)(trace.spanned(s"serve.${r.op}")(answer(spark, fx, r))).foreach {
        case (rows, span) => done += Done(r, (System.nanoTime() - s) / 1e6, rows, span)
      }
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val all = done.map(_.ms).toSeq
    res.put("latency_p50_ms", Stats.median(all), "ms")
    res.put("latency_p90_ms", Stats.p90(all), "ms")
    res.put("throughput_per_s", done.size / elapsedS, "1/s")
    ops.foreach { op =>
      val xs = done.filter(_.req.op == op).map(_.ms).toSeq
      if (xs.nonEmpty) {
        res.put(s"${op}_p50_ms", Stats.median(xs), "ms")
        res.put(s"${op}_p90_ms", Stats.p90(xs), "ms")
        res.put(s"${op}_samples", xs.size, "count")
      }
    }
    check(spark, fx, res, done.toSeq)
    if (trace.enabled) layers(res, trace, done.toSeq)
  }

  private def wallMs(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  /** Re-answer every tenth request of each op, up to three per op, through
    * the reference twins; a differing answer counts as a failure.
    */
  private def check(spark: SparkSession, fx: Fixture, res: Result,
      done: Seq[Done]): Unit = {
    lazy val enriched = Pipelines.qualityEnrich(Feed.frame(spark, fx.baseEnvelopes))
    val sample = done.groupBy(_.req.op).values.flatMap(_.zipWithIndex
      .collect { case (d, i) if i % 10 == 0 => d }.take(3))
    sample.foreach { d =>
      val want = reference(spark, fx, enriched, d.req)
      val same = d.req match {
        case _: Lookup => want.map(_.toString).sorted.sameElements(d.rows.map(_.toString).sorted)
        case _ => want.map(_.toSeq).sameElements(d.rows.map(_.toSeq))
      }
      if (!same) res.wrong(s"${d.req} answered ${d.rows.mkString(",")}; reference ${want.mkString(",")}")
    }
    res.put("serve.checked_requests", sample.size, "count")
  }

  private def layers(res: Result, trace: Trace, done: Seq[Done]): Unit = {
    trace.drain()
    ops.foreach { op =>
      val mine = done.filter(_.req.op == op)
      if (mine.nonEmpty) {
        val st = mine.map(d => trace.stats(d.span))
        val p = s"serve.$op"
        // means per request: Catalyst phases and job times come in whole ms
        def mean(f: Trace.SpanStats => Double) = st.map(f).sum / st.size
        res.put(s"$p.catalyst_ms", mean(_.catalystMs), "ms")
        res.put(s"$p.jobs_ms", mean(_.jobsMs), "ms")
        res.put(s"$p.driver_gap_ms", mean(_.driverGapMs), "ms")
        res.put(s"$p.jobs", st.map(_.jobs).sum.toDouble / st.size, "count")
        res.put(s"$p.tasks", st.map(_.tasks).sum.toDouble / st.size, "count")
        res.put(s"$p.files_read", st.map(_.filesRead).sum.toDouble / st.size, "count")
        res.put(s"$p.rows_scanned_per_row_returned",
          st.map(_.rowsScanned).sum.toDouble / math.max(1, mine.map(_.rows.length).sum),
          "ratio")
      }
    }
  }
}
