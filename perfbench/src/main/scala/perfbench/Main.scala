package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** One benchmark run inside one JVM: set up, measure, check answers and
  * write `result.json` into the run directory. `perfbench/run.py` builds,
  * launches and verifies around it.
  *
  * Usage: Main --workload ingest|serve|batch --seed N --seconds S
  *             --trace 0|1 --run-dir DIR [--scale sf0.1|sf0.01|sf0.001]
  *
  * Untraced, the named workload runs alone and its end-to-end metrics are
  * measured. Traced, every workload runs once with spans and listeners on,
  * so one traced run gives the per-layer metrics of all of them.
  */
object Main {
  val setupReps = 3
  val defaultScale = Map("ingest" -> "sf0.1", "serve" -> "sf0.1", "batch" -> "sf0.01")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    require(defaultScale.contains(workload), s"unknown workload $workload")
    def conf(w: String) = RunConf(kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("run-dir"),
      Gen.scales(kv.getOrElse("scale", defaultScale(w))))
    val res = new Result
    val runDir = kv("run-dir")
    val spark = Session.create(runDir)
    try {
      val sessionS = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      res.put("rig.loadavg_start",
        ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage, "load")
      val c = conf(workload)
      val trace = new Trace(spark, c.trace)
      if (c.trace) {
        res.put("rig.calibration_s", calibration(spark), "s")
        val part = math.max(3.0, c.seconds / 2)
        val ci = conf("ingest")
        Ingest.run(spark, ci, Ingest.setup(spark, ci, 1), res, trace, part)
        val cs = conf("serve")
        Serve.run(spark, cs, Serve.setup(spark, cs, 1), res, trace, part)
        val cb = conf("batch")
        val dir = Batch.setup(spark, cb, 1)
        Batch.warmup(spark, cb, dir)
        Batch.run(spark, cb, dir, res, trace, 1)
      } else {
        // the median of several set-ups; the last one is measured
        def reps[F](setup: Int => F): (Double, F) = {
          val rs = (1 to setupReps).map { i =>
            val t0 = System.nanoTime()
            val fx = setup(i)
            ((System.nanoTime() - t0) / 1e9, fx)
          }
          (Stats.median(rs.map(_._1)), rs.last._2)
        }
        workload match {
          case "ingest" =>
            val (s, fx) = reps(Ingest.setup(spark, c, _))
            res.put("setup_s", sessionS + s, "s")
            Ingest.run(spark, c, fx, res, trace, c.seconds)
          case "serve" =>
            val (s, fx) = reps(Serve.setup(spark, c, _))
            res.put("setup_s", sessionS + s, "s")
            Serve.run(spark, c, fx, res, trace, c.seconds)
          case "batch" =>
            val (s, dir) = reps(Batch.setup(spark, c, _))
            val w0 = System.nanoTime()
            Batch.warmup(spark, c, dir)
            val warmS = (System.nanoTime() - w0) / 1e9
            res.put("setup_s", sessionS + s + warmS, "s")
            Batch.run(spark, c, dir, res, trace, Batch.passesFor(c.seconds))
        }
      }
      trace.close()
      rig(res)
    } finally {
      spark.stop()
      // the engine's build-once artifacts and Spark's scratch live here
      deleteTree(new File(runDir, "tmp"))
      deleteTree(new File(runDir, "spark-local"))
      writeResult(runDir, res)
    }
  }

  /** The fixed job `graft.Bench` calibrates the machine with: min of three
    * after one untimed run.
    */
  private def calibration(spark: org.apache.spark.sql.SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    (1 to 3).map(_ => once()).min
  }

  private def rig(res: Result): Unit = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    res.put("rig.gc_s", gcMs / 1000.0, "s")
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    res.put("rig.heap_peak_mb", heapPeak / 1048576.0, "MB")
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def writeResult(runDir: String, res: Result): Unit = {
    val json = Json.obj(Seq(
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "problems" -> Json.arr(res.problems.map(Json.str).toSeq),
      "metrics" -> Json.obj(res.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    java.nio.file.Files.writeString(new File(runDir, "result.json").toPath, json)
  }
}
