package graft

import org.scalatest.funsuite.AnyFunSuite

import EntryInfra._

/** The declaration contract of [[SparkEntry]]: every query is declared
  * exactly once with one oracle decision, and a shared oracle is
  * spelled `SameAs`, never a copy of another query's SQL. Reads the
  * declarations only — no Spark job runs.
  */
class QueryDeclarationSpec extends AnyFunSuite {

  private val declared = SparkEntry.declared
  private val byName = declared.map(q => q.name -> q.oracle).toMap

  test("286 queries, no name declared twice across families") {
    val repeated = declared.groupBy(_.name).collect {
      case (name, qs) if qs.size > 1 => name
    }
    assert(repeated.isEmpty, s"declared more than once: $repeated")
    assert(declared.size == 286)
    assert(SparkEntry.queries.keySet == byName.keySet)
  }

  test("the NoOracle set is exactly the 10 documented rows") {
    val noOracle = declared.collect {
      case Query(name, _, NoOracle(reason)) =>
        assert(reason.nonEmpty, s"$name: NoOracle without a reason")
        name
    }.toSet
    assert(noOracle == Set("q_ann_lsh", "q_compression_ratio",
      "q_dedup_clusters", "q_dedup_survivors", "q_embedding_neardup",
      "q_minhash_neardup", "q_simhash_neardup",
      "q_value_percentiles_approx", "q_view_stats_approx",
      "q_view_stats_sketch"))
  }

  test("every SameAs target is declared, oracled and not itself a SameAs") {
    declared.collect { case Query(name, _, SameAs(target)) => name -> target }
      .foreach { case (name, target) =>
        assert(name != target, s"$name names itself")
        byName.get(target) match {
          case None              => fail(s"$name: SameAs target $target is not declared")
          case Some(NoOracle(_)) => fail(s"$name: SameAs target $target has no oracle")
          case Some(SameAs(t2))  => fail(s"$name: SameAs target $target is itself SameAs($t2)")
          case Some(_)           =>
        }
      }
  }

  test("no two Sql declarations carry identical text") {
    val copies = declared.collect { case Query(name, _, Sql(text)) => text -> name }
      .groupBy(_._1).values.map(_.map(_._2)).filter(_.size > 1)
    assert(copies.isEmpty,
      s"identical oracle SQL — declare the twins SameAs: ${copies.mkString("; ")}")
  }

  test("every oracleSql key is a declared query with an oracle") {
    val oracles = SparkEntry.oracleSql
    assert(oracles.keySet.subsetOf(byName.keySet))
    oracles.keys.foreach(k => assert(!byName(k).isInstanceOf[NoOracle], k))
    // static SQL (and SameAs onto it) resolves without any query run
    declared.collect { case Query(name, _, Sql(text)) =>
      assert(oracles.get(name).contains(text), name)
    }
  }
}
