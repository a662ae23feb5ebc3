package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType

/** The Turkish normalization pipelines in Catalyst: the Column form of the
  * [[TrText]] kernels, and the only one.
  *
  * Each builder is a single static call per row, so a fused stage (e.g. page
  * synthesis → extract → normalize → block-key) stays inside
  * WholeStageCodegen. Interpreted eval and generated code call the same
  * kernel; null in gives null out. full / static / punct are N9 / N10 / N11
  * in SURVEY.md §2.1. */
object TrNormalize {
  private def call(kernel: String, c: Column): Column =
    Bridge.staticCall(TrText, kernel, StringType, Seq(c -> StringType))

  def full(c: Column): Column = call("normalizeFullS", c)
  def static(c: Column): Column = call("normalizeStaticS", c)
  def punct(c: Column): Column = call("normalizePunctOnlyS", c)
}
