package graft.textanalysis

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.RollingHashUtil.FpMod

/** Composed (built-in-function) forms of the text operators whose
  * library implementation is a native graft.plans expression. They
  * are the parity references the specs compare the natives against.
  */
object TextAnalysisComposed {

  /** Karp-Rabin rolling polynomial hash of the whole document:
    * three interpreted lambdas per character.
    */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(filter(split(text, ""), c => c =!= ""),
        c => ascii(c).cast("long")),
      lit(0L), (acc, x) => pmod(acc * 31 + x, lit(FpMod)))

  /** Row-local token entropy in nats, rounded to 4: one run-length
    * fold over the sorted tokens accumulating Σ c·round(ln(n/c)·1e6)
    * in exact integer micro-nats, then ÷(n·10⁶).
    */
  def entropyNats(ws: Column): Column = {
    val n = size(ws).cast("long")
    def term(c: Column): Column =
      c * round(log(n.cast("double") / c) * 1e6).cast("long")
    val st0 = struct(lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("acc"))
    val ent6 = aggregate(array_sort(ws), st0,
      (st, w) => when(st.getField("prev") <=> w,
          struct(w.as("prev"), (st.getField("run") + 1L).as("run"),
            st.getField("acc").as("acc")))
        .otherwise(struct(w.as("prev"), lit(1L).as("run"),
          (st.getField("acc") + when(st.getField("run") > 0,
            term(st.getField("run"))).otherwise(lit(0L))).as("acc"))),
      st => when(st.getField("run") > 0,
        st.getField("acc") + term(st.getField("run"))).otherwise(lit(0L)))
    round(ent6 / (n * lit(1e6)), 4)
  }
}
