package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.MinHash

/** Built-in-only formulations of the fused MinHash expressions: the
  * spellings the fused expressions replaced, kept as the equivalence
  * oracles the specs compare them against (same values, same order,
  * same null behavior). */
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
}
