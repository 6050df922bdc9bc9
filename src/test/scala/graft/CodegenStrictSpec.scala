package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{SimHash, VectorOps}
import graft.operators.{IvfAnn, MinHash}

/** Every custom Expression must actually COMPILE under Janino — with
  * fallback disabled, a reference the generated Java can't resolve
  * (e.g. a Scala object's MODULE$ through its mirror class) fails the
  * test instead of silently dropping the stage to interpreted mode
  * (which is exactly what happened to the minhash expressions before
  * round 3: CompileException in the verify logs, 10-60× perf loss).
  */
class CodegenStrictSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def strict[A](body: => A): A = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("MinHashSignature compiles and matches the built-in xxhash64 chain") {
    strict {
      val df = Seq(Seq("a b c", "b c d"), Seq("x y z")).toDF("sh")
      val got = df.select(MinHash.signature(col("sh"), 4).as("sig"))
        .collect().map(_.getSeq[Long](0))
      val want = df.select(HofSpellings.signatureHof(col("sh"), 4).as("sig"))
        .collect().map(_.getSeq[Long](0))
      assert(got.toSeq.map(_.toSeq) === want.toSeq.map(_.toSeq))
    }
  }

  test("ShingleMinHash compiles and matches shingles->signature") {
    strict {
      val df = Seq("the quick brown fox jumps", "ab", "").toDF("text")
      val got = df.select(MinHash.fusedSignature(col("text"), 3, 4).as("sig"))
        .collect().map(_.getSeq[Long](0))
      val want = df
        .select(MinHash.signature(MinHash.shingles(col("text"), 3), 4).as("sig"))
        .collect().map(_.getSeq[Long](0))
      assert(got.toSeq.map(_.toSeq) === want.toSeq.map(_.toSeq))
    }
  }

  test("DotProduct compiles under strict codegen") {
    strict {
      val df = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      val r = df.select(VectorOps.dot(col("a"), col("b"))).collect().head.getDouble(0)
      assert(r === 11.0)
    }
  }

  test("NextIdentityValue compiles and interleaves ordinals across partitions") {
    strict {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      // 4 partitions × 25 rows: base 90, step 7 — unique values, the
      // first value is exactly base + step (ordinal 1 = partition 0's
      // first row), and the largest ordinal is <= rows rounded up to a
      // partition multiple (the tight-gap interleave contract)
      val got = spark.range(0, 100, 1, 4)
        .select(ColumnBridge.column(
          graft.functions.NextIdentityValue(90L, 7L)).as("id"))
        .collect().map(_.getLong(0))
      assert(got.length == 100 && got.distinct.length == 100)
      assert(got.min == 97L)
      assert(got.forall(v => (v - 90L) % 7L == 0))
      assert(got.max <= 90L + 7L * 100L, s"gap too large: ${got.max}")
      // interpreted eval agrees with the generated code
      val expr = graft.functions.NextIdentityValue(90L, 7L)
      expr.initialize(0)
      assert(expr.eval(null) == 97L)
    }
  }

  test("MaxSimScore compiles and matches a hand-computed MaxSim") {
    strict {
      // q = [1,0 | 0,2], c = [0,3 | 1,1]  (subDim = 2, two sub-vectors
      // each). sub-dots: q0·c0=0, q0·c1=1 → max 1; q1·c0=6, q1·c1=2 →
      // max 6. MaxSim = 7. Degenerate inputs (empty / non-multiple)
      // must be NULL, not garbage.
      val df = Seq((Seq(1L, 0L, 0L, 2L), Seq(0L, 3L, 1L, 1L))).toDF("q", "c")
      assert(df.select(VectorOps.maxSim(col("q"), col("c"), 2))
        .collect().head.getLong(0) === 7L)
      val bad = Seq((Seq(1L, 0L, 0L), Seq(0L, 3L)), (Seq.empty[Long], Seq(1L, 2L)))
        .toDF("q", "c")
      assert(bad.select(VectorOps.maxSim(col("q"), col("c"), 2))
        .collect().forall(_.isNullAt(0)))
    }
  }

  test("SimHashSignature compiles and matches the built-in vote chain") {
    strict {
      val df = Seq("Spark makes  big data simple", "", null, "ω ω é").toDF("text")
      val r = df.select(SimHash.simhash(col("text")), HofSpellings.simhashHof(col("text"))).collect()
      assert(r.map(x => Option(x.get(0))).toSeq === r.map(x => Option(x.get(1))).toSeq)
      assert(r(2).isNullAt(0))
    }
  }

  test("IvfCells compiles and matches the typedlit quantizer") {
    strict {
      val cs = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 0.0))
      val df = Seq(Seq(0.9f, 0.1f), Seq(0.2f, 1.5f), null).toDF("v")
      def cells(c1: Column, c2: Column) =
        df.select(c1, c2).collect().map(r => (r.getInt(0), r.getSeq[Int](1))).toSeq
      val got = cells(IvfAnn.assign(col("v"), cs), IvfAnn.probeCells(col("v"), cs, 2))
      assert(got === cells(CurateSpellings.assign(col("v"), cs), CurateSpellings.probeCells(col("v"), cs, 2)))
      assert(got === Seq((2, Seq(2, 0)), (1, Seq(1, 2)), (2, Seq(2, 1))))
    }
  }
}
