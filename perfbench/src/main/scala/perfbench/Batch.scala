package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `batch`: interleaved passes over two families of declared queries,
  * each fully materialized by writing its rows out as parquet. The last
  * pass's outputs and the queries' DuckDB oracle SQL stay in the run
  * directory for the oracle check that follows the run.
  *
  * graph: iterative operators, bound by per-round latency and driver
  * planning. curate: native expressions and shuffles, bound by the data
  * path. Neither touches streaming.
  */
object Batch {
  // One pass over all 17 queries the families were first drawn from takes
  // about 40 s on a 4-core machine even at sf0.001 (per-query overhead,
  // not data, sets the time), so each family keeps a few members that
  // cover its modules: a pass takes about 11 s.
  val graph = Seq("q_kcore", "q_components")
  val curate = Seq("q_minhash_neardup_md5", "q_boilerplate_removal",
    "q_dsir_incremental", "q_curation_pipeline")
  val families: Seq[(String, Seq[String])] = Seq("graph" -> graph, "curate" -> curate)

  private def execute(spark: SparkSession, q: String, dataDir: String,
      outDir: String): Unit = {
    graft.SparkEntry.queries(q)(spark, dataDir)
      .write.mode("overwrite").parquet(s"$outDir/$q")
    spark.catalog.clearCache()
  }

  /** The tables are the same in every run, like the fixed test tables the
    * queries' oracles were written against; the seed orders the queries.
    * Seeded tables expose rounding ties on which Spark and DuckDB round
    * differently (table seeds 3 and 22 flip q_tfidf_keywords and
    * q_curation_pipeline by one unit in the 4th decimal), a defect of
    * those queries' oracle contract, not of this workload.
    */
  val tableSeed = 42L

  def setup(spark: SparkSession, conf: RunConf, rep: Int): String = {
    val dir = conf.work(s"data_$rep")
    Gen.writeTables(spark, tableSeed, conf.scale, dir)
    dir
  }

  /** One untimed pass over the measured tables: JIT, codegen, the
    * engine's per-shape caches and its build-once artifacts are warm
    * before anything is timed.
    */
  def warmup(spark: SparkSession, conf: RunConf, dataDir: String): Unit =
    (graph ++ curate).foreach(q =>
      try execute(spark, q, dataDir, conf.work("warm_out"))
      catch { case scala.util.control.NonFatal(_) => spark.catalog.clearCache() })

  /** A warm pass takes about 10 s on a 4-core machine: `seconds` buys
    * that many whole passes, at least one, the same count in every run.
    */
  def passesFor(seconds: Double): Int = math.max(1, (seconds / 10).toInt)

  def run(spark: SparkSession, conf: RunConf, dataDir: String, res: Result,
      trace: Trace, nPasses: Int): Unit = {
    val rng = new SplittableRandom(conf.seed ^ 0xba7cL)
    val outDir = conf.work("out")
    // per pass: query -> wall seconds (successful executions only)
    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Trace.Span]]
    (1 to nPasses).foreach { _ =>
      val order = shuffle(graph ++ curate, rng)
      val walls = mutable.LinkedHashMap.empty[String, Double]
      val passSpans = mutable.LinkedHashMap.empty[String, Trace.Span]
      order.foreach { q =>
        val t0 = System.nanoTime()
        res.attempt(q)(trace.spanned(s"batch.$q")(execute(spark, q, dataDir, outDir)))
          .foreach { case (_, span) =>
            walls(q) = (System.nanoTime() - t0) / 1e9
            if (span != null) passSpans(q) = span
          }
      }
      passes += walls.toMap
      spans += passSpans.toMap
    }

    // a pass is the batch job a user waits for; only passes in which every
    // query succeeded are timed
    val full = passes.filter(_.size == graph.size + curate.size).map(_.values.sum * 1000)
    if (full.nonEmpty) {
      res.put("latency_p50_ms", Stats.median(full.toSeq), "ms")
      res.put("latency_p90_ms", Stats.p90(full.toSeq), "ms")
      res.put("throughput_per_s", (graph.size + curate.size) * full.size / (full.sum / 1000), "1/s")
    }
    families.foreach { case (f, qs) =>
      val ok = passes.filter(p => qs.forall(p.contains))
      if (ok.nonEmpty)
        res.put(s"${f}_s", Stats.median(ok.map(p => qs.map(p).sum).toSeq), "s")
    }
    res.put("passes", passes.size, "count")
    (graph ++ curate).foreach { q =>
      val w = passes.flatMap(_.get(q))
      if (w.nonEmpty) res.put(s"batch.$q.wall_s", Stats.median(w.toSeq), "s")
    }

    val oracles = graft.SparkEntry.oracleSql
    val missing = (graph ++ curate).filterNot(oracles.contains)
    missing.foreach(q => res.problems += s"no oracle declared for $q")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj((graph ++ curate).filter(oracles.contains).map(q => q -> Json.str(oracles(q)))))

    if (trace.enabled) layers(res, trace, passes.toSeq, spans.toSeq)
  }

  private def layers(res: Result, trace: Trace, passes: Seq[Map[String, Double]],
      spans: Seq[Map[String, Trace.Span]]): Unit = {
    trace.drain()
    val stats = spans.map(_.map { case (q, s) => q -> trace.stats(s) })
    def med(f: Map[String, Trace.SpanStats] => Double) = Stats.median(stats.map(f))
    families.foreach { case (f, qs) =>
      def sum(g: Trace.SpanStats => Double)(m: Map[String, Trace.SpanStats]) =
        qs.flatMap(m.get).map(g).sum
      val p = s"batch.$f"
      res.put(s"$p.catalyst_s", med(sum(_.catalystMs / 1000)), "s")
      res.put(s"$p.jobs_s", med(sum(_.jobsMs / 1000)), "s")
      res.put(s"$p.driver_gap_s", med(sum(_.driverGapMs / 1000)), "s")
      res.put(s"$p.actions", med(sum(_.actions)), "count")
      res.put(s"$p.jobs", med(sum(_.jobs)), "count")
      res.put(s"$p.stages", med(sum(_.stages)), "count")
      res.put(s"$p.tasks", med(sum(_.tasks)), "count")
      res.put(s"$p.shuffle_bytes", med(sum(_.shuffleBytes.toDouble)), "bytes")
      res.put(s"$p.spill_bytes", med(sum(_.spillBytes.toDouble)), "bytes")
    }
    graph.foreach { q =>
      val c = stats.flatMap(_.get(q)).map(_.catalystMs / 1000)
      if (c.nonEmpty) res.put(s"batch.$q.catalyst_s", Stats.median(c), "s")
    }
  }

  def shuffle[T](xs: Seq[T], rng: SplittableRandom): Seq[T] = {
    val a = mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
