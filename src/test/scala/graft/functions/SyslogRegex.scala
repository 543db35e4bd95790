package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.pipeline.{FailSpec, Stage}

/** The regex formulation of the syslogparser grammar: the normative
  * pattern of [[Syslog]], evaluated with `rlike` and one
  * `regexp_extract` per capture group. Specs check the scanner kernels
  * against it.
  */
object SyslogRegex {

  val Pattern = "^<(\\d{1,3})>(\\S+) (\\S+) ([^:\\[\\s]+)(?:\\[(\\d+)\\])?: (.*)$"

  def isSyslog(raw: Column): Column = raw.rlike(Pattern)

  /** the six groups as a struct of strings, null when the line does not match */
  def groups(raw: Column): Column =
    when(isSyslog(raw), struct(Syslog.GroupNames.zipWithIndex.map { case (name, i) =>
      regexp_extract(raw, Pattern, i + 1).as(name)
    }: _*))

  /** [[Syslog.stage]] routing on the regex instead of the scanner */
  def stage: Stage = {
    val kernel = Syslog.stage
    kernel.copy(failWhen = kernel.failWhen.map(f =>
      f.copy(cond = !isSyslog(col("payload").cast("string")))))
  }
}
