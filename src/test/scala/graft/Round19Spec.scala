package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SaveMode
import graft.sources.{GraftCatalog, ManifestTable}

/** r19 surfaces: the QUALIFY rewrite (both predicate forms, the
  * CTAS/MV routes, the not-claimed shapes) and the append-only
  * enforcement on watermarked aggregate view streams (ADVICE r18). */
class Round19Spec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_r19_$tag").toString + "/t"

  test("QUALIFY window form equals the hand-written subquery spelling") {
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L),
        (4L, "b", 5L), (5L, "b", 50L))
      .toDF("id", "grp", "v").createOrReplaceTempView("r19q")
    val got = spark.sql(
      """SELECT grp, id, v FROM r19q
        |QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v DESC) <= 2
        |ORDER BY grp, v DESC""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = spark.sql(
      """SELECT grp, id, v FROM (
        |  SELECT grp, id, v,
        |    row_number() OVER (PARTITION BY grp ORDER BY v DESC) AS rn
        |  FROM r19q) WHERE rn <= 2
        |ORDER BY grp, v DESC""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)
    assert(got === Seq(("a", 3L, 30L), ("a", 2L, 20L),
      ("b", 5L, 50L), ("b", 4L, 5L)))
  }

  test("QUALIFY alias form: the predicate names a SELECT alias, helper columns stay hidden") {
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("id", "grp", "v").createOrReplaceTempView("r19qa")
    val out = spark.sql(
      """SELECT grp, id, rank() OVER (PARTITION BY grp ORDER BY v DESC) AS rk
        |FROM r19qa
        |QUALIFY rk = 1
        |ORDER BY grp""".stripMargin)
    assert(out.columns.toSeq === Seq("grp", "id", "rk"),
      "the rewrite must not leak helper columns")
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("a", 2L), ("b", 3L)))
    // the predicate may reference BASE columns absent from the SELECT
    // list (the Snowflake/DuckDB contract): v is not projected, yet
    // filters alongside the rank alias
    val base = spark.sql(
      """SELECT grp, id, rank() OVER (PARTITION BY grp ORDER BY v DESC) AS rk
        |FROM r19qa
        |QUALIFY rk = 1 AND v > 15
        |ORDER BY grp""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(base === Seq(("a", 2L), ("b", 3L)))
    // GROUP BY ALL + alias-form QUALIFY in one statement (the DuckDB
    // oracle can't combine them yet — pinned here against the
    // subquery spelling instead)
    val g = spark.sql(
      """SELECT grp, count(*) AS n,
        |  rank() OVER (ORDER BY count(*) DESC, grp) AS rk
        |FROM r19qa GROUP BY ALL
        |QUALIFY rk = 1""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(g === Seq(("a", 2L)))
  }

  test("QUALIFY composes through CTAS, materialized views, and WITH queries") {
    val t = tmp("ctas"); val mt = tmp("mv")
    GraftCatalog.unregister("r19_top"); GraftCatalog.unregister("r19_mv")
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "b", 3L))
      .toDF("id", "grp", "v").createOrReplaceTempView("r19qc")
    try {
      spark.sql(
        s"""CREATE TABLE graft.r19_top LOCATION '$t' AS
           |SELECT grp, id, v FROM r19qc
           |QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v DESC) = 1""".stripMargin)
      assert(spark.sql("SELECT id FROM graft.r19_top ORDER BY id")
        .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
      spark.sql(
        s"""CREATE MATERIALIZED VIEW graft.r19_mv LOCATION '$mt' AS
           |SELECT grp, id, v FROM graft.r19_top
           |QUALIFY rank() OVER (ORDER BY v DESC) = 1""".stripMargin)
      spark.sql("REFRESH MATERIALIZED VIEW graft.r19_mv").collect()
      assert(spark.sql("SELECT id FROM graft.r19_mv").collect()
        .map(_.getLong(0)).toSeq === Seq(3L))
      // WITH prefix: the CTE stays intact, the main query rewrites
      val w = spark.sql(
        """WITH c AS (SELECT grp, v FROM r19qc WHERE v > 5)
          |SELECT grp, v FROM c
          |QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v) = 1
          |ORDER BY grp""".stripMargin).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(w === Seq(("a", 10L), ("b", 30L)))
    } finally Seq("r19_mv", "r19_top").foreach(GraftCatalog.unregister)
  }

  test("QUALIFY is not claimed inside string literals or subqueries; no-FROM refuses") {
    Seq((1L, "QUALIFY me")).toDF("id", "note")
      .createOrReplaceTempView("r19qs")
    // the word inside a string literal / in data: statement untouched
    assert(spark.sql("SELECT note FROM r19qs WHERE note = 'QUALIFY me'")
      .count() === 1)
    // a QUALIFY-free statement containing a subquery with ORDER/LIMIT
    // still parses through the delegate untouched
    assert(spark.sql(
      "SELECT * FROM (SELECT id FROM r19qs LIMIT 1)").count() === 1)
    // QUALIFY without FROM is identifier position — unclaimed, the
    // delegate's own parse error surfaces (pre-r19 statements where
    // the word is an alias keep parsing: `1 AS qualify` is fine)
    intercept[Exception](spark.sql("SELECT 1 QUALIFY true"))
    assert(spark.sql("SELECT 1 AS qualify").collect().head.getInt(0) === 1)
  }

  test("QUALIFY binds to the LAST branch of a set operation") {
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "b", 40L))
      .toDF("id", "grp", "v").createOrReplaceTempView("r19qu")
    // UNION ALL: the first branch passes through whole; QUALIFY
    // filters only the second (the Snowflake/DuckDB branch binding);
    // the trailing ORDER BY still orders the whole union
    val got = spark.sql(
      """SELECT id, v FROM r19qu WHERE grp = 'a'
        |UNION ALL
        |SELECT id, v FROM r19qu
        |QUALIFY row_number() OVER (ORDER BY v DESC) = 1
        |ORDER BY id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 10L), (2L, 20L), (4L, 40L)))
    // window-form in the last branch of an INTERSECT chain
    val i = spark.sql(
      """SELECT id FROM r19qu WHERE v >= 20
        |INTERSECT
        |SELECT id FROM r19qu
        |QUALIFY rank() OVER (ORDER BY v DESC) <= 2
        |ORDER BY id""".stripMargin).collect().map(_.getLong(0)).toSeq
    assert(i === Seq(3L, 4L))
    // QUALIFY in EVERY branch: the predicate terminates at the next
    // set-op keyword and the rewrite claims branch by branch through
    // the re-entrant parse
    val both = spark.sql(
      """SELECT id, v FROM r19qu WHERE grp = 'a'
        |QUALIFY row_number() OVER (ORDER BY v) = 1
        |UNION ALL
        |SELECT id, v FROM r19qu WHERE grp = 'b'
        |QUALIFY row_number() OVER (ORDER BY v DESC) = 1
        |ORDER BY id""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(both === Seq((1L, 10L), (4L, 40L)))
    // projection-modifier EXCEPT before FROM is NOT a set operation:
    // the statement still claims and rewrites as one branch
    val ex = spark.sql(
      """SELECT * EXCEPT (grp) FROM r19qu
        |QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v) = 1
        |ORDER BY id""".stripMargin)
    assert(ex.columns.toSeq === Seq("id", "v"))
    assert(ex.collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
  }

  test("QUALIFY: DISTINCT window-form refuses, alias form filters post-dedup, OFFSET rides the outer query") {
    Seq((1L, "a", 10L), (1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("id", "grp", "v").createOrReplaceTempView("r19qd")
    val e = intercept[IllegalArgumentException](spark.sql(
      """SELECT DISTINCT grp, v FROM r19qd
        |QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v) = 1""".stripMargin))
    assert(e.getMessage.contains("DISTINCT"), e.getMessage)
    // alias form: the window is an explicit SELECT-list column, the
    // filter applies above the completed (deduplicated) SELECT
    val a = spark.sql(
      """SELECT DISTINCT grp, v,
        |  rank() OVER (PARTITION BY grp ORDER BY v) AS rk
        |FROM r19qd
        |QUALIFY rk = 1
        |ORDER BY grp""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(a === Seq(("a", 10L), ("b", 30L)))
    // OFFSET after QUALIFY belongs to the outer query, not the
    // predicate
    val o = spark.sql(
      """SELECT id, v FROM r19qd
        |QUALIFY row_number() OVER (ORDER BY v DESC, id) <= 3
        |ORDER BY v DESC LIMIT 3 OFFSET 1""".stripMargin).collect()
      .map(_.getLong(0)).toSeq
    assert(o === Seq(2L, 1L))
    // … including when OFFSET is the FIRST keyword after the
    // predicate (no ORDER/LIMIT to terminate it first)
    val bare = spark.sql(
      """SELECT id, v FROM r19qd
        |QUALIFY row_number() OVER (ORDER BY v DESC, id) <= 3
        |OFFSET 1""".stripMargin).count()
    assert(bare === 2L)
  }

  test("QUALIFY claims inside CTE bodies and derived tables; comments and literals never mis-claim") {
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "b", 40L))
      .toDF("id", "grp", "v").createOrReplaceTempView("r19qn")
    // CTE body (Snowflake/DuckDB allow QUALIFY there; the deep claim
    // rewrites the body in place)
    val cte = spark.sql(
      """WITH top AS (
        |  SELECT grp, id, v FROM r19qn
        |  QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v DESC) = 1)
        |SELECT grp, id FROM top ORDER BY grp""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(cte === Seq(("a", 2L), ("b", 4L)))
    // derived table
    val dt = spark.sql(
      """SELECT t.id FROM (
        |  SELECT id, v FROM r19qn
        |  QUALIFY rank() OVER (ORDER BY v DESC) <= 2) t
        |ORDER BY t.id""".stripMargin).collect().map(_.getLong(0)).toSeq
    assert(dt === Seq(3L, 4L))
    // the word QUALIFY inside a line comment, a block comment, and a
    // string literal must never be claimed as the clause
    assert(spark.sql(
      "SELECT id FROM r19qn -- QUALIFY is just a word here\nORDER BY id")
      .count() === 4)
    assert(spark.sql(
      "SELECT 'QUALIFY' AS w /* QUALIFY inside /* nested */ comment */ FROM r19qn")
      .count() === 4)
  }

  test("the word QUALIFY keeps working as an identifier (pre-r19 statements unbroken)") {
    // a column named qualify
    Seq((1L, 5L), (2L, 9L)).toDF("qualify", "v")
      .createOrReplaceTempView("r19qi")
    assert(spark.sql("SELECT qualify FROM r19qi ORDER BY qualify")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(spark.sql(
      "SELECT t.qualify FROM r19qi t WHERE t.qualify = 2").count() === 1)
    // a TABLE named qualify — bare, with WHERE, with GROUP BY
    Seq((1L, "a"), (2L, "b")).toDF("id", "grp")
      .createOrReplaceTempView("qualify")
    assert(spark.sql("SELECT id FROM qualify").count() === 2)
    assert(spark.sql("SELECT id FROM qualify WHERE id = 1").count() === 1)
    assert(spark.sql(
      "SELECT grp, count(*) AS n FROM qualify GROUP BY grp").count() === 2)
    assert(spark.sql("SELECT id FROM qualify ORDER BY id LIMIT 1")
      .collect().head.getLong(0) === 1L)
    // shapes beyond the follower whitelist fall back through the
    // parse-failure net: a bare table alias, a boolean-operator use
    assert(spark.sql("SELECT t.id FROM qualify t").count() === 2)
    assert(spark.sql(
      "SELECT v FROM r19qi WHERE qualify IS NOT NULL").count() === 2)
    // identifier use does not mask a REAL clause later in the
    // statement: the table named qualify, then a genuine QUALIFY
    val mixed = spark.sql(
      """SELECT id, grp FROM qualify
        |QUALIFY row_number() OVER (PARTITION BY grp ORDER BY id) = 1
        |ORDER BY id""".stripMargin).collect().map(_.getLong(0)).toSeq
    assert(mixed === Seq(1L, 2L))
    // …including across SUBQUERIES: an identifier use in the first
    // derived table, a real clause in the second
    val sub = spark.sql(
      """SELECT a.qualify, b.id FROM
        |  (SELECT qualify FROM r19qi) a
        |  CROSS JOIN
        |  (SELECT id FROM qualify
        |   QUALIFY row_number() OVER (ORDER BY id) = 1) b""".stripMargin)
      .count()
    assert(sub === 2)
    // a unary-operator predicate stays claimable
    val neg = spark.sql(
      """SELECT id, rank() OVER (ORDER BY id) AS rk FROM qualify
        |QUALIFY -rk >= -1""".stripMargin).collect().map(_.getLong(0)).toSeq
    assert(neg === Seq(1L))
  }

  test("QUALIFY name shadowing resolves to the base column — the DuckDB/oracle reading") {
    // SELECT v*2 AS v … QUALIFY v >= 10: DuckDB binds the QUALIFY v
    // to the BASE column (verified against duckdb directly), and the
    // helper-in-projection expansion matches (Spark resolves real
    // columns before lateral aliases)
    Seq((1L, 5L), (2L, 20L)).toDF("id", "v")
      .createOrReplaceTempView("r19shadow")
    val got = spark.sql(
      """SELECT id, v*2 AS v, row_number() OVER (ORDER BY id) AS rn
        |FROM r19shadow
        |QUALIFY v >= 10 ORDER BY id""".stripMargin).collect()
      .map(_.getLong(0)).toSeq
    assert(got === Seq(2L), "QUALIFY must read the base v (5, 20), not the alias")
  }

  test("GROUP BY ALL with a window-form QUALIFY refuses; alias form stays claimed") {
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("id", "grp", "v").createOrReplaceTempView("r19gba")
    val e = intercept[IllegalArgumentException](spark.sql(
      """SELECT grp, count(*) AS n FROM r19gba GROUP BY ALL
        |QUALIFY rank() OVER (ORDER BY count(*) DESC) = 1""".stripMargin))
    assert(e.getMessage.contains("GROUP BY ALL"), e.getMessage)
    // the alias spelling of the same query works (pinned in the
    // alias-form test too; re-asserted here as the refusal's guidance)
    val ok = spark.sql(
      """SELECT grp, count(*) AS n,
        |  rank() OVER (ORDER BY count(*) DESC) AS rk
        |FROM r19gba GROUP BY ALL
        |QUALIFY rk = 1""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ok === Seq(("a", 2L)))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target by the source's new columns") {
    val t = tmp("mevo")
    GraftCatalog.unregister("r19_evo")
    // one file per row: the merge touches id 2's file only
    ManifestTable.commit(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "grp", "v")
        .repartitionByRange(2, org.apache.spark.sql.functions.col("id")),
      SaveMode.Overwrite)
    GraftCatalog.register("r19_evo", t)
    Seq((2L, "B", 25L, "eu"), (3L, "c", 30L, "us"))
      .toDF("id", "grp", "v", "region").createOrReplaceTempView("r19_evo_src")
    try {
      val filesBefore = ManifestTable.snapshotFiles(spark, t).toSet
      spark.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO graft.r19_evo t
          |USING r19_evo_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val out = spark.sql(
        "SELECT id, grp, v, region FROM graft.r19_evo ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          Option(r.getString(3)))).toSeq
      // row 1 untouched: the new column surfaces as NULL; rows 2/3
      // carry real values
      assert(out === Seq((1L, "a", 10L, None), (2L, "B", 25L, Some("eu")),
        (3L, "c", 30L, Some("us"))))
      // untouched files must not rewrite: evolution is metadata + the
      // matched/inserted rows only
      val filesAfter = ManifestTable.snapshotFiles(spark, t).toSet
      assert(filesBefore.intersect(filesAfter).nonEmpty ||
        filesBefore.isEmpty,
        "evolution must not force a full-table rewrite")
      // WITHOUT the clause, the same widening source refuses loudly
      spark.sql("DELETE FROM graft.r19_evo WHERE id = 3")
      Seq((4L, "d", 40L, "ap", true))
        .toDF("id", "grp", "v", "region", "vip")
        .createOrReplaceTempView("r19_evo_src2")
      val e = intercept[Exception](spark.sql(
        """MERGE INTO graft.r19_evo t
          |USING r19_evo_src2 s ON t.id = s.id
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      assert(e.getMessage != null)
    } finally GraftCatalog.unregister("r19_evo")
  }

  test("watermarked aggregate view stream refuses a base with non-append history (ADVICE r18)") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.streaming.ChangeFeedStream
    val t = tmp("guard")
    ManifestTable.commit(spark, t,
      Seq((1L, "a", 10L, "2024-01-01 10:00:00"),
          (2L, "b", 20L, "2024-01-01 10:01:00"))
        .toDF("id", "cat", "v", "ts_s")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s"))
    GraftCatalog.register("r19_guard", t)
    GraftCatalog.registerView("r19_guard_v",
      "SELECT cat, count(*) AS n FROM graft.r19_guard GROUP BY cat")
    try {
      // append-only history: the watermarked aggregate view streams
      val ok = ChangeFeedStream.readTableStream(spark, "graft.r19_guard_v",
        autoPump = false, watermark = Some(("ts", "0 seconds")))
      assert(ok.isStreaming)
      // an INSERT-ONLY MERGE removes no files and no rows — its op
      // name alone must not break the append contract (the guard
      // consults the manifest's actual dv/tombstone delta)
      Seq((3L, "c", 30L, "2024-01-01 10:02:00"))
        .toDF("id", "cat", "v", "ts_s")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
        .createOrReplaceTempView("r19_guard_src")
      spark.sql(
        """MERGE INTO graft.r19_guard t USING r19_guard_src s
          |ON t.id = s.id
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(ChangeFeedStream.readTableStream(spark, "graft.r19_guard_v",
        autoPump = false, watermark = Some(("ts", "0 seconds"))).isStreaming,
        "an insert-only MERGE is append-safe — the stream must construct")
      // a DELETE enters the history: the feed can no longer represent
      // the table to an aggregate — construction refuses with the
      // row-level-CDC pointer
      spark.sql("DELETE FROM graft.r19_guard WHERE id = 1")
      val e = intercept[IllegalArgumentException](
        ChangeFeedStream.readTableStream(spark, "graft.r19_guard_v",
          autoPump = false, watermark = Some(("ts", "0 seconds"))))
      assert(e.getMessage.contains("non-append") &&
        e.getMessage.contains("readRowChangeStream"), e.getMessage)
      // the plain (row-safe) view path is unaffected — per-row
      // transforms over the feed never aggregate retractions
      GraftCatalog.registerView("r19_guard_p",
        "SELECT cat, v FROM graft.r19_guard WHERE v > 0")
      assert(ChangeFeedStream.readTableStream(spark, "graft.r19_guard_p",
        autoPump = false).isStreaming)
      // POST-START enforcement: the contract is re-assertable past
      // any stream-start head (the auto-pump calls this per tick;
      // external pumps call it from their scheduler). The DELETE
      // above broke it relative to the pre-delete head...
      val hPre = 1 // the table's single append commit
      intercept[ChangeFeedStream.AppendContractException](
        ChangeFeedStream.assertAppendOnly(spark, t, hPre))
      // ...and holds relative to the current head (nothing after it)
      ChangeFeedStream.assertAppendOnly(spark, t,
        ManifestTable.currentVersion(spark, t))
    } finally {
      Seq("r19_guard_v", "r19_guard_p").foreach(GraftCatalog.unregisterView)
      GraftCatalog.unregister("r19_guard")
    }
  }
}
