package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // older testdata generations carry TIMESTAMP(NANOS); this reads
      // them as epoch-nano Long (Tables.events normalizes either
      // generation to that contract).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // size-based post-shuffle coalescing (see Bench.scala): fewer
      // near-empty reduce tasks at small SFs, same plans otherwise
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      // full extensions (functions + RewriteJaccard/RewriteCosine):
      // every oracled query runs with the optimizer rules active, so a
      // rewrite-induced divergence fails the hash gate, not just specs
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the extensions inject every function of the GraftFunctions.all
    // table, so library call sites find them registered
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: SPARK_GRAFT_ONLY=q_a,q_b runs (and dumps oracles
    // for) just those queries. The driver never sets it — its full-run
    // contract is unchanged.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None        => SparkEntry.queries
    }
    // NonFatal only: an OOM or other fatal error ends the run instead
    // of carrying on in a broken JVM
    val failed = scala.collection.mutable.SortedSet.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      finally spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS the full map, even under SPARK_GRAFT_ONLY: stale parquet
    // dirs from an earlier full run may sit in outDir, and a filtered
    // oracle file would silently drop their oracle coverage in a later
    // driver compare. The filter only limits query EXECUTION.
    val oracles = SparkEntry.oracleSql
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // a query that ran but has no oracle SQL and is not declared
    // NoOracle lost its oracle (a Generated oracle still None after
    // its run): scripts/check_oracle.py would silently check rows only
    val noOracle = SparkEntry.declared.collect {
      case EntryInfra.Query(name, _, EntryInfra.NoOracle(_)) => name
    }.toSet
    selected.keys.filterNot(n => failed(n) || oracles.contains(n) || noOracle(n))
      .toSeq.sorted.foreach { name =>
        System.err.println(s"[verify] $name: no oracle")
        failed += name
      }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(",")}")
    spark.stop()
  }
}
