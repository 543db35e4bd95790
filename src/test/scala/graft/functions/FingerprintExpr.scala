package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import TextFunctions.{charHash, words, P}

/** The pure-`Column` higher-order-function form of
  * [[TextFunctions.fingerprint]]. GraftFunctionsSpec checks the codegen
  * kernel against it.
  */
object FingerprintExpr {

  def apply(text: Column): Column =
    aggregate(
      transform(words(text), w => charHash(w)),
      lit(7L),
      (acc, h) => pmod(acc * 131 + h, lit(P)))
}
