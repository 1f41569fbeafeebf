package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.dedup.Dedup
import graft.selection.Dsir
import graft.similarity.Similarity
import graft.textanalysis.TextAnalysis

/** Every library operator backed by a graft native runs in a session
  * that never registered graft's functions — `newSession()` of the
  * suite session, which gets neither its temp functions nor any
  * extensions. GraftFunctions.ensure registers them on first use, and
  * the rows equal the suite session's.
  */
class BareSessionSpec extends SparkSpec {

  private def registered(s: SparkSession): Seq[String] =
    GraftFunctions.all.map(_._1).filter(n =>
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))

  private def docs(s: SparkSession) = Tables.documents(s, sfDir)
  private def emb(s: SparkSession) = Tables.embeddings(s, sfDir)

  /** The documents plus truncated copies of every fifth one, so the
    * near-duplicate operators have pairs to find.
    */
  private def corpus(s: SparkSession): DataFrame = {
    val d = docs(s).select("doc_id", "text")
    val ws = split(col("text"), " ", -1)
    d.unionByName(d.filter(col("doc_id") % 5 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 2, lit(1))))
        .as("text")))
  }

  // driver-side artifacts, built once in the suite session
  private lazy val rot = Similarity.principalRotation(emb(spark))
  private lazy val dsirModel =
    Dsir.dsirTrainWith(docs(spark), col("lang") === "en", 64)
  private lazy val merges = TextAnalysis.bpeMerges(docs(spark), 8)
    .orderBy(col("rank")).collect()
    .map(r => (r.getString(1), r.getString(2))).toSeq

  private val operators: Seq[(String, SparkSession => DataFrame)] = Seq(
    "bruteForceTopK (cosineFor)" -> (s =>
      Similarity.bruteForceTopK(emb(s), 0L, 5)),
    "annTopK xx (srpBucketFor)" -> (s =>
      Similarity.annTopK(emb(s), 0L, 5)),
    "annTopK md5 (srpBucketMd5For)" -> (s =>
      Similarity.annTopK(emb(s), 0L, 5, hashMode = "md5")),
    "randomProject (jlProjectFor)" -> (s =>
      Similarity.randomProject(emb(s), 4)),
    "quantizedTopK (quantizeEmbeddings, qdotFor)" -> (s =>
      Similarity.quantizedTopK(Similarity.quantizeEmbeddings(emb(s)), 0L, 5)),
    "quantStatsReadout" -> (s => Similarity.quantStatsReadout(emb(s))),
    "rotatedTruncationRecall" -> (s =>
      Similarity.rotatedTruncationRecall(emb(s), rot, Seq(0L, 1L), 5,
        Seq(4))),
    "minhashNearDuplicates xx (minhashSignatures, shinglesFor)" -> (s =>
      Dedup.minhashNearDuplicates(corpus(s), "doc_id", "text")),
    "minhashNearDuplicates md5" -> (s =>
      Dedup.minhashNearDuplicates(corpus(s), "doc_id", "text",
        hashMode = "md5")),
    "containmentNearDuplicates (sorted-intersect verify)" -> (s =>
      Dedup.containmentNearDuplicates(corpus(s), "doc_id", "text")),
    "simhashNearDuplicates xx" -> (s =>
      Dedup.simhashNearDuplicates(corpus(s), "doc_id", "text")),
    "simhashNearDuplicates md5" -> (s =>
      Dedup.simhashNearDuplicates(corpus(s), "doc_id", "text",
        hashMode = "md5")),
    "segmentDedup (segmentsFor)" -> (s =>
      Dedup.segmentDedup(corpus(s), "doc_id", "text")),
    "fingerprints (rollingHashFor)" -> (s =>
      TextAnalysis.fingerprints(docs(s))),
    "repetitionStats (ngramsFor)" -> (s =>
      TextAnalysis.repetitionStats(docs(s))),
    "tokenEntropy (entropyNatsFor)" -> (s =>
      TextAnalysis.tokenEntropy(docs(s))),
    "compressionRatio" -> (s => TextAnalysis.compressionRatio(docs(s))),
    "bpeEncode" -> (s => TextAnalysis.bpeEncode(docs(s), merges)),
    "bucketCounts (bucketsFor)" -> (s => Dsir.bucketCounts(docs(s), 64)),
    "dsirScore (score6For)" -> (s => Dsir.dsirScore(docs(s), dsirModel)))

  operators.foreach { case (name, run) =>
    test(s"bare session: $name registers graft's functions on demand, " +
        "rows ≡ the registered session's") {
      val bare = spark.newSession()
      assert(registered(bare).isEmpty)
      // the bare run goes first and the shared cache is cleared after
      // each run, so neither side can be served from the other's
      // persisted intermediates
      val got = run(bare).collect().map(_.toString).sorted.toSeq
      spark.catalog.clearCache()
      val want = run(spark).collect().map(_.toString).sorted.toSeq
      spark.catalog.clearCache()
      assert(want.nonEmpty)
      assert(got === want)
      assert(registered(bare) === GraftFunctions.all.map(_._1))
    }
  }
}
