package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // coalesce post-shuffle partitions by SIZE, not to the core
      // count: at bench scale most shuffles carry a few MB, and 32
      // near-empty reduce tasks per stage are pure scheduler overhead
      // (the ~0.2 s/query orchestration floor). Scan-side parallelism
      // is untouched — CPU-dense narrow stages still fan out by input
      // splits. On a cluster the same settings coalesce to the
      // advisory size, which is the behavior you want there too.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      // test tables are one small parquet file each; default 128 MB
      // splits would scan them single-threaded. On a cluster the
      // input is many files and this knob is irrelevant.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "128k")
      // same surface the library ships: functions + optimizer rules
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the extensions inject every native function (GraftFunctions.all)
    // untimed warmup: JVM/codegen/scheduler spin-up should not be
    // attributed to whichever query happens to run first. Every query
    // shape runs once at the smallest available SF (same schemas →
    // identical generated code → janino cache hits), so the timed pass
    // below measures data-path throughput, not dozens of cold plan
    // compilations. Falls back to the bench dir itself if no smaller
    // sibling exists; warmup failures are counted, never silent.
    val warmDir = {
      val parent = new java.io.File(sfDir).getParentFile
      val sibling = Option(parent).map(p => new java.io.File(p, "sf0.001"))
      sibling.filter(f => f.exists && f.getPath != new java.io.File(sfDir).getPath)
        .map(_.getPath).getOrElse(sfDir)
    }
    // dev-loop filter (mirrors Verify's): SPARK_GRAFT_BENCH_ONLY=q_a,q_b
    // times just those queries. The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None        => SparkEntry.queries
    }
    // machine-speed calibration constant: the same fixed job, timed
    // min-of-5 AFTER one untimed spin-up run, emitted in the output
    // record. Cross-round ratios divide by it to normalize sandbox
    // drift mechanically (round 10 burned analysis time proving a
    // 1.19× session drift by re-benching an old commit; this makes
    // that a lookup). The job is scheduler+CPU bound with no I/O, so
    // it tracks the same floor the per-query exchanges pay.
    val calibration = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
        (System.nanoTime() - t0) / 1e9
      }
      try { once(); (1 to 5).map(_ => once()).min }
      catch { case NonFatal(_) => -1.0 }
    }
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      var warmFailures = 0
      selected.foreach { case (_, fn) =>
        try { fn(spark, warmDir).count() }
        catch { case NonFatal(_) => warmFailures += 1 }
        spark.catalog.clearCache()
      }
      if (warmFailures > 0)
        System.err.println(s"[bench] warmup: $warmFailures/${selected.size} queries failed against $warmDir")
    } catch { case NonFatal(_) => () }
    // min of N interleaved passes per query: a single sample can't be
    // separated from sandbox GC/scheduling spikes (the round-2 driver
    // recorded 6× one-off regressions on queries whose plans hadn't
    // changed). Interleaving whole passes — not back-to-back repeats —
    // keeps one transient load burst from poisoning all samples of the
    // same query.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // SPARK_GRAFT_BENCH_FULL=1: materialize every OUTPUT COLUMN via
    // the executed plan's RDD instead of count(). df.count() builds a
    // count(1) aggregate over the query, and Spark 4's distinct-keys
    // propagation then ELIMINATES left-join branches whose values the
    // count never reads — for "documents LEFT JOIN <unique-keyed
    // agg>" readout shapes (the memorization family, triangles' tn
    // side) the count measures only the surviving scan, not the
    // query. Default stays count() so the cross-round driver chain
    // remains comparable; the full mode exists to record the honest
    // cost of those lines (BUILD_NOTES round-9 table).
    val fullEval = sys.env.get("SPARK_GRAFT_BENCH_FULL").contains("1")
    def execute(df: org.apache.spark.sql.DataFrame): Unit =
      if (fullEval) df.queryExecution.toRdd.count() else df.count()
    val samples = scala.collection.mutable.Map.empty[String, Double]
    // a query that throws is never timed (a failure must not read as
    // a fast query): it is listed under "failed", kept out of
    // queries / queries_norm / total, and not re-run in later passes
    val failed = scala.collection.mutable.SortedSet.empty[String]
    for (_ <- 1 to passes) {
      selected.foreach { case (name, fn) =>
        if (!failed(name)) {
          val t0 = System.nanoTime()
          try {
            execute(fn(spark, sfDir))
            val dt = (System.nanoTime() - t0) / 1e9
            samples.updateWith(name) {
              case Some(prev) => Some(math.min(prev, dt))
              case None       => Some(dt)
            }
          } catch { case NonFatal(e) =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            failed += name
          }
          // queries persist intermediates (LSH signatures etc.); drop
          // them so later timings don't pay earlier queries' memory
          // pressure
          spark.catalog.clearCache()
        }
      }
    }
    val results = samples.toMap -- failed
    val failedJson = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // calibration-NORMALIZED per-query values (value / calibration):
    // cross-round common-line audits divide out rig-day drift
    // mechanically instead of by hand (round-14 wrong #3/#4 — the
    // official artifact samples one arbitrary rig-day). Each value
    // is the min over `passes` interleaved passes (min-of-N is the
    // committed-map discipline, not a one-sample roll).
    val qsNorm =
      if (calibration > 0)
        results.map { case (k, v) => s"\"" + k + "\":" + (v / calibration) }
          .mkString("{", ",", "}")
      else "{}"
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","calibration_s":$calibration,"passes":$passes,"queries":$qs,"queries_norm":$qsNorm,"failed":$failedJson,"sf":"$sfDir"}"""
    println(fullJson)
    // the per-query dict above can exceed the driver's tail capture —
    // repeat the headline number LAST in a short line so the round's
    // total always survives truncation
    println(s"""{"metric":"total_only","value":$total,"unit":"sec","calibration_s":$calibration,"passes":$passes,"n_queries":${results.size},"failed":$failedJson,"sf":"$sfDir"}""")
    // persist the COMPLETE timing map to a file: the driver's stdout
    // tail truncates past ~50 per-query lines, and cross-round
    // common-line audits need every declared query's number, not a
    // 20% sample. Default lands in the repo root for commit;
    // override with SPARK_GRAFT_BENCH_OUT.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write $outFile: $e") }
    spark.stop()
  }
}
