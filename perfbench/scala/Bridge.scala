package graft.perfbench

import org.apache.spark.sql.DataFrame

/** `Corpus.clean`'s language/quality gate is private to graft; this
  * bridge lets the traced corpus run time the same function. */
object Bridge {
  def langQualityGate(documents: DataFrame): DataFrame =
    graft.text.TextAnalysis.langQualityGate(documents)
}
