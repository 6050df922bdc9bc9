package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.SimHash
import graft.operators.MinHash

/** Built-in-only formulations of the fused MinHash and SimHash
  * expressions: the spellings the fused expressions replaced, kept as
  * the equivalence oracles the specs compare them against (same values,
  * same order, same null behavior). */
object HofSpellings {

  /** [[MinHash.shingles]] as split + transform/slice/concat_ws. */
  def shinglesHof(text: Column, n: Int): Column = {
    val w = split(text, " ")
    when(size(w) >= n,
      transform(
        sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", w)))
  }

  /** [[MinHash.setJaccard]] as intersection size over union size. */
  def setJaccardBuiltin(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** [[MinHash.signature]] with the shingle subtree duplicated per slot. */
  def signatureHof(sh: Column, k: Int = MinHash.NumHashes): Column =
    array((0 until k).map(i => array_min(transform(sh, s => xxhash64(s, lit(i))))): _*)

  /** [[SimHash.simhash]] as aggregate/zip_with/transform votes over the
    * distinct tokens, xxhash64 recomputed per bit position. */
  def simhashHof(text: Column): Column = {
    val powers = Seq.tabulate(SimHash.Bits)(i => 1L << i)
    val tokens = array_distinct(split(lower(trim(text)), " "))
    val votes = aggregate(
      tokens,
      array_repeat(lit(0), SimHash.Bits),
      (acc, t) =>
        zip_with(acc,
          transform(typedlit(powers),
            p => when(xxhash64(t).bitwiseAND(p) =!= 0L, 1).otherwise(-1)),
          (a, b) => a + b))
    aggregate(
      zip_with(votes, typedlit(powers), (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), _ + _)
  }
}
