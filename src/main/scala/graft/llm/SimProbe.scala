package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Measurement shim for the optimization rounds — exposes cleanVec's
  * algebra to sub-plan timers outside the `llm` package without widening
  * Similarity's API. Not part of the engine's query surface. */
object SimProbe {
  def clean(c: Column): Column = {
    val broken = exists(c, x => {
      val xd = x.cast("double")
      xd.isNull || !(abs(xd) <= lit(Double.MaxValue))
    })
    when(!broken, transform(c, x => x.cast("double")))
  }
}
