package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SimHash document fingerprint (SURVEY.md §2.B — dedup family).
  * Per token: xxhash64 → ±1 vote per bit position; the signature bit is
  * the vote sign. Near-duplicates differ in few bits, so candidate pairs
  * come from equal signatures (or small hamming distance via bit_count ^).
  * One codegen'd expression ([[SimHashSignature]]), no UDF.
  */
object SimHash {
  val Bits = 32

  /** 32-bit simhash of a whitespace-tokenized text column, as LongType:
    * each distinct token of `lower(trim(text))` split on single spaces
    * votes once; NULL for NULL text. */
  def simhash(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(SimHashSignature(ColumnBridge.expression(lower(trim(text)))))
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
