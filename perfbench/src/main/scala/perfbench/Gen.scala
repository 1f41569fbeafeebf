package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The engine only ever sees what these produce:
  * the seed never reaches program code.
  *
  * Table shapes follow the engine's parquet contract (`graft.Tables`),
  * row counts follow the named scale factor.
  */
object Gen {

  final case class Scale(name: String, docs: Int, vectors: Int, orders: Int)

  val scales: Map[String, Scale] = Seq(
    Scale("sf0.1", 5000, 2000, 150000),
    Scale("sf0.01", 500, 500, 15000),
    Scale("sf0.001", 500, 500, 1500)).map(s => s.name -> s).toMap

  /** Vocabulary: two stopwords (the quality scorer's language signal)
    * followed by content words whose popularity is Zipf-distributed.
    */
  val vocab: IndexedSeq[String] = IndexedSeq("the", "a") ++
    (0 until 400).map(i => s"w${Integer.toString(i * 7919 % 46656, 36)}")

  /** Inverse-CDF sampler for P(rank = r) ∝ 1 / (r + 1)^s over n ranks. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val langs = Array("en", "en", "en", "en", "zh", "de", "fr", "es")
  private val boilerplate = Seq(
    "the a subscribe to the newsletter for the weekly digest",
    "a all rights reserved the terms of service apply")

  /** One document body: Zipf words, with a share carrying shared
    * boilerplate (segment dedup), PII (the quality gate) or copied from an
    * earlier document with a few words changed (near-dup detection).
    */
  def documentRows(seed: Long, n: Int): IndexedSeq[Row] = {
    val rng = new SplittableRandom(seed ^ 0x5eedL)
    val words = new Zipf(vocab.size, 1.05)
    val texts = new Array[String](n)
    (0 until n).map { id =>
      val text =
        if (id > 10 && rng.nextInt(10) == 0) {
          val base = texts(rng.nextInt(id)).split(" ")
          (1 to 1 + rng.nextInt(3)).foreach(_ =>
            base(rng.nextInt(base.length)) = vocab(words.sample(rng)))
          base.mkString(" ")
        } else {
          val len = 8 + rng.nextInt(72)
          val body = Seq.fill(len)(vocab(words.sample(rng))).mkString(" ")
          val withBp =
            if (rng.nextInt(5) == 0) body + " " + boilerplate(rng.nextInt(2))
            else body
          if (rng.nextInt(25) == 0) withBp + s" contact u$id@example.com"
          else withBp
        }
      texts(id) = text
      Row(id.toLong, text, langs(rng.nextInt(langs.length)), s"src${id % 20}",
        text.length.toLong)
    }
  }

  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** 64-d vectors around ten label centres. */
  def embeddingRows(seed: Long, n: Int): IndexedSeq[Row] = {
    val rng = new SplittableRandom(seed ^ 0xe3bL)
    val centres = Array.fill(10, 64)(rng.nextDouble() * 2 - 1)
    (0 until n).map { id =>
      val label = rng.nextInt(10)
      val v = centres(label).map(c => (c + (rng.nextDouble() - 0.5) * 0.8).toFloat)
      Row(id.toLong, v.toSeq, label)
    }
  }

  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  /** Order keys are a seeded ~25% sample of [0, 4n): the graph queries
    * derive their link graphs from key arithmetic, so the sample shapes
    * which groups, triangles and stars exist.
    */
  def orders(spark: SparkSession, seed: Long, n: Int): DataFrame =
    spark.range(0, 4L * n, 1, 4)
      .filter(s"pmod(xxhash64(id, ${seed}L), 4) = 0")
      .selectExpr(
        "id AS o_orderkey",
        s"pmod(xxhash64(id, ${seed}L, 1), 10000) AS o_custkey",
        "CASE WHEN id % 3 = 0 THEN 'F' WHEN id % 3 = 1 THEN 'O' ELSE 'P' END AS o_orderstatus",
        s"CAST(pmod(xxhash64(id, ${seed}L, 2), 50000000) AS DOUBLE) / 100 AS o_totalprice",
        s"timestamp_seconds(694224000 + pmod(xxhash64(id, ${seed}L, 3), 220000000)) AS o_orderdate",
        "concat(CAST(id % 5 + 1 AS STRING), '-PRIO') AS o_orderpriority")

  /** Write the tables the workloads read into `dir` as `<name>.parquet`;
    * `orders` only when the graph queries need it.
    */
  def writeTables(spark: SparkSession, seed: Long, scale: Scale,
      dir: String, withOrders: Boolean = true): Unit = {
    spark.createDataFrame(
      spark.sparkContext.parallelize(documentRows(seed, scale.docs), 4),
      documentSchema).write.parquet(s"$dir/documents.parquet")
    spark.createDataFrame(
      spark.sparkContext.parallelize(embeddingRows(seed, scale.vectors), 4),
      embeddingSchema).write.parquet(s"$dir/embeddings.parquet")
    if (withOrders)
      orders(spark, seed, scale.orders).write.parquet(s"$dir/orders.parquet")
  }

  /** A document as the CDC row payload carries it (`graft.cdc.Cdc.rowSchema`). */
  final case class Doc(id: Long, text: String, lang: String, source: String,
      status: String, version: Int) {
    def json: String =
      s"""{"doc_id":$id,"text":"$text","lang":"$lang","source":"$source",""" +
        s""""n_chars":${text.length},"status":"$status","version":$version,""" +
        s""""s3_key":"$id/content"}"""
  }

  def docs(rows: Seq[Row]): IndexedSeq[Doc] = rows.map(r =>
    Doc(r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
      "created", 1)).toIndexedSeq

  /** A Debezium-style envelope as the Kafka value, keyed by document id. */
  def envelope(op: String, before: Option[Doc], after: Option[Doc],
      tsMs: Long): (String, String) = {
    val id = after.orElse(before).get.id
    id.toString -> (s"""{"op":"$op","before":${before.fold("null")(_.json)},""" +
      s""""after":${after.fold("null")(_.json)},"ts_ms":$tsMs}""")
  }
}
