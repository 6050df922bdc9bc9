package graft

import org.scalacheck.{Arbitrary, Gen, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.sources.{ManifestTable, Rollup, RootCodec, RootRecord}

/** `decode(encode(r)) == r` over generated root records whose strings
  * are hostile to a line or regex reader: `}`, `"files"` and
  * `"features"` as stats-column names, quotes, backslashes, newlines,
  * empty strings; and whose stats hold NaN (compared by bits), ±Inf
  * and -0.0. */
object RootCodecProps extends Properties("rootCodec") {

  private val hostile = Gen.oneOf("}", "{", "]", "[", ",", ":", "\"files\"",
    "\"features\"", "files", "features", "stats", "a\"b", "a\\b", "a\nb",
    "\t", "", "a}b", "é日本", "  \"features\": [\"x\"],", "data/x", "NaN")
  private val str: Gen[String] = Gen.frequency(
    4 -> hostile, 2 -> Gen.alphaNumStr,
    1 -> Gen.listOfN(3, hostile).map(_.mkString))
  private val path = str.map("data/" + _)
  private val dbl = Gen.frequency(
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, Double.MinPositiveValue, Double.MaxValue),
    3 -> Arbitrary.arbitrary[Double])
  private def small[A](g: Gen[A]) = Gen.choose(0, 4).flatMap(Gen.listOfN(_, g))
  private def opt[A](g: Gen[A]) = Gen.option(g)
  private val long = Arbitrary.arbitrary[Long]
  private val ordinals = Gen.listOf(Gen.choose(0L, 1L << 40))
    .map(_.distinct.sorted).map(os => os: Seq[Long])

  private val record: Gen[RootRecord] = for {
    version <- Arbitrary.arbitrary[Int]
    op <- opt(str)
    commitMs <- opt(long)
    rollup <- opt(Gen.zip(long, long, long, long).map((Rollup.apply _).tupled))
    features <- small(str)
    txns <- small(Gen.zip(str, long))
    checks <- small(Gen.zip(str, str))
    tombstones <- small(Gen.zip(str, small(path)))
    dvs <- small(Gen.zip(path, ordinals))
    bloom <- opt(Gen.zip(small(str), long, Arbitrary.arbitrary[Int])
      .map((ManifestTable.BloomConfig.apply _).tupled))
    transforms <- small(Gen.zip(str, str, long, str)
      .map((ManifestTable.PartitionTransform.apply _).tupled))
    ingestSegs <- small(str)
    partitionBy <- small(str)
    schema <- opt(small(str).map(ns =>
      StructType(ns.distinct.map(StructField(_, LongType)))))
    stats <- small(Gen.zip(path, small(Gen.zip(str, Gen.zip(dbl, dbl)))))
    segments <- small(str)
    files <- small(path)
  } yield RootRecord(version, op, commitMs, rollup, features, txns.toMap,
    checks.toMap, tombstones, dvs.toMap, bloom, transforms, ingestSegs,
    partitionBy, schema, stats.map { case (f, m) => f -> m.toMap }.toMap,
    segments, files)

  /** Stats doubles as their bits, so NaN equals NaN and -0.0 differs
    * from 0.0. */
  private def comparable(r: RootRecord) = (r.copy(stats = Map.empty),
    r.stats.map { case (f, m) => f -> m.map { case (c, (mn, mx)) =>
      c -> (java.lang.Double.doubleToLongBits(mn), java.lang.Double.doubleToLongBits(mx))
    } })

  property("decode(encode(r)) == r") = forAll(record) { r =>
    comparable(RootCodec.decode(RootCodec.encode(r), "t", 0)) == comparable(r)
  }
}
