package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.ops._
import graft.quality.RuleBasedScorer
import graft.similarity.Similarity
import graft.textanalysis.TextAnalysis

import EntryInfra._

/** The query contract — see SURVEY.md §7.
  *
  * Every key in `queries` is one operator from SURVEY.md §2 (or a
  * training-data-pipeline extra), declared once with its oracle
  * decision in its family's `Seq[Query]`; `oracleSql` holds the DuckDB
  * equivalent for the hash-match correctness gate. Column names and
  * ordering are aligned on both sides; doubles flow through exact
  * decimal sums (or explicit rounding) so float summation order can
  * never flip a hash.
  */
object SparkEntry extends EntryInfra
    with RelationalEntries
    with SearchEntries
    with DedupEntries
    with GraphEntries
    with AnnEntries
    with PqEntries
    with TextEntries
    with CurationEntries
    with MediaEntries {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The caller's session may not carry the nanos config the events
    * table needs — set it here (dynamic SQLConf), and fall back to a
    * nanos-free flagship if the session rejects it.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sf = "/root/testdata/sf0.001"
    // catch ONLY the conf rejection — a failure reading events must
    // surface, not silently swap flagships
    val nanosOk =
      try { spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"); true }
      catch { case scala.util.control.NonFatal(_) => false }
    if (nanosOk) StatsOps.viewStats(Tables.events(spark, sf))
    else RelationalOps.pricingSummary(Tables.lineitem(spark, sf))
  }

  /** Every declared query, family by family — the one list that
    * `queries` and `oracleSql` derive from.
    */
  private[graft] lazy val declared: Seq[Query] =
    relationalQueries ++ searchQueries ++ dedupQueries ++ graphQueries ++ annQueries ++ pqQueries ++ textQueries ++ curationQueries ++ mediaQueries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.run).toMap

  /** DuckDB SQL per oracled query: a `SameAs` twin gets its target's
    * SQL, a `Generated` oracle appears once its query has run in this
    * JVM, and `NoOracle` queries are absent. `SameAs` resolves one
    * level only, so a chain or cycle yields no SQL instead of looping.
    */
  def oracleSql: Map[String, String] = {
    val byName = declared.map(q => q.name -> q.oracle).toMap
    def own(o: Oracle): Option[String] = o match {
      case Sql(text)      => Some(text)
      case Generated(gen) => gen()
      case _              => None
    }
    declared.flatMap { q =>
      val sql = q.oracle match {
        case SameAs(target) => byName.get(target).flatMap(own)
        case o              => own(o)
      }
      sql.map(q.name -> _)
    }.toMap
  }
}
