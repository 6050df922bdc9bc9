package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable

/** Row-granular deletion vectors (r10): per-file deleted-row-position
  * sets recorded as metadata, the scattered-delete complement to
  * predicate tombstones. Pins: zero files move however scattered the
  * victims; every read path hides exactly the vectored rows; rewrites
  * apply (and thereby clear) their files' vectors; materialize/compact
  * clear all; restore restores the target's set; vector≡eager
  * equality; and the mid-derive race (a vector landing on a file a
  * merge is rewriting forces the re-derive, never a resurrection). */
class DeletionVectorSpec extends AnyFunSuite with SparkFixture {

  private def fresh(): String =
    java.nio.file.Files.createTempDirectory("graft_dv").toString

  private def df(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("id", "v")
  }

  private def ids(d: DataFrame): Set[Long] =
    d.collect().map(_.getLong(0)).toSet

  test("a scattered delete moves zero files and hides exactly the victims") {
    val t = fresh()
    ManifestTable.commit(spark, t,
      df((1L to 40L).map(i => i -> s"v$i"): _*).repartitionByRange(4, col("id")),
      SaveMode.Overwrite, statsColumns = Seq("id"))
    val files1 = ManifestTable.snapshotFiles(spark, t)
    val v = ManifestTable.deleteWhereVector(spark, t, col("id") % 7 === 0)
    assert(v === 2)
    assert(ManifestTable.snapshotFiles(spark, t) === files1,
      "a vector delete must not move or add any data file")
    assert(ManifestTable.deleteVectors(spark, t).nonEmpty)
    val expect = (1L to 40L).filterNot(_ % 7 == 0).toSet
    assert(ids(ManifestTable.read(spark, t)) === expect)
    // readWhere composes stats pruning with the vector filter
    assert(ids(ManifestTable.readWhere(spark, t, col("id") <= 15L))
      === expect.filter(_ <= 15))
    // time travel: v1 still shows everything
    assert(ids(ManifestTable.read(spark, t, 1)) === (1L to 40L).toSet)
  }

  test("vector delete equals the eager delete, row for row") {
    val tv = fresh(); val te = fresh()
    val data = df((1L to 30L).map(i => i -> s"x$i"): _*).repartitionByRange(3, col("id"))
    ManifestTable.commit(spark, tv, data, SaveMode.Overwrite, statsColumns = Seq("id"))
    ManifestTable.commit(spark, te, data, SaveMode.Overwrite, statsColumns = Seq("id"))
    val pred = col("id") % 5 === 1
    ManifestTable.deleteWhereVector(spark, tv, pred)
    ManifestTable.deleteWhere(spark, te, pred)
    assert(ids(ManifestTable.read(spark, tv)) === ids(ManifestTable.read(spark, te)))
  }

  test("a merge rewriting a vectored file applies the vector; the entry self-cleans") {
    val t = fresh()
    ManifestTable.commit(spark, t, df(1L -> "a", 2L -> "b", 3L -> "c").coalesce(1),
      SaveMode.Overwrite, statsColumns = Seq("id"))
    ManifestTable.deleteWhereVector(spark, t, col("id") === 1L)
    assert(ids(ManifestTable.read(spark, t)) === Set(2L, 3L))
    // upsert touches the (single) vectored file → rewrite applies the DV
    ManifestTable.upsert(spark, t, df(2L -> "B"), Seq("id"))
    assert(ids(ManifestTable.read(spark, t)) === Set(2L, 3L),
      "the vectored row must not resurrect through the rewrite")
    assert(ManifestTable.deleteVectors(spark, t).isEmpty,
      "the rewritten file's vector entry must self-clean")
    assert(ManifestTable.read(spark, t).filter(col("id") === 2L)
      .head().getString(1) === "B")
  }

  test("vector deletes compose; materializeDeletes clears them without changing content") {
    val t = fresh()
    ManifestTable.commit(spark, t,
      df((1L to 20L).map(i => i -> s"v$i"): _*).repartitionByRange(2, col("id")),
      SaveMode.Overwrite, statsColumns = Seq("id"))
    ManifestTable.deleteWhereVector(spark, t, col("id") % 4 === 0)
    ManifestTable.deleteWhereVector(spark, t, col("id") % 6 === 0)
    val expect = (1L to 20L).filterNot(i => i % 4 == 0 || i % 6 == 0).toSet
    assert(ids(ManifestTable.read(spark, t)) === expect)
    val files = ManifestTable.snapshotFiles(spark, t)
    ManifestTable.materializeDeletes(spark, t)
    assert(ManifestTable.deleteVectors(spark, t).isEmpty)
    assert(ids(ManifestTable.read(spark, t)) === expect,
      "materialization must not change the visible table")
    assert(ManifestTable.snapshotFiles(spark, t) !== files,
      "materialization rewrites the vectored files")
  }

  test("restore restores the target's vector set") {
    val t = fresh()
    ManifestTable.commit(spark, t, df(1L -> "a", 2L -> "b", 3L -> "c").coalesce(1),
      SaveMode.Overwrite, statsColumns = Seq("id"))
    ManifestTable.deleteWhereVector(spark, t, col("id") === 2L) // v2
    ManifestTable.materializeDeletes(spark, t)                  // v3: cleared
    ManifestTable.restore(spark, t, 2)
    assert(ManifestTable.deleteVectors(spark, t).nonEmpty,
      "restore to a vectored version must bring the vectors back")
    assert(ids(ManifestTable.read(spark, t)) === Set(1L, 3L))
  }

  test("the CDF never surfaces rows dead at the to-version as live") {
    val t = fresh()
    ManifestTable.commit(spark, t, df(1L -> "a", 2L -> "b", 3L -> "c").coalesce(1),
      SaveMode.Overwrite, statsColumns = Seq("id"))
    ManifestTable.upsert(spark, t, df(2L -> "B"), Seq("id"))          // v2: churn
    ManifestTable.deleteWhereVector(spark, t, col("id") === 3L)       // v3: metadata
    // full-range row CDF: id 3 is not live at the head — it must not
    // arrive as an insert
    val full = ManifestTable.rowChanges(spark, t, 0, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getAs[String]("_change_type"))).toSet
    assert(full === Set((1L, "insert"), (2L, "insert")), s"got $full")
    // churn-spanning range: the vectored row of a rewritten file
    // classifies as DELETE (pre-image present, post-image dead)
    val mid = ManifestTable.rowChanges(spark, t, 1, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getAs[String]("_change_type"))).toSet
    assert(mid === Set((2L, "update_post"), (3L, "delete")), s"got $mid")
    // file-granular feed: rows of delivered files read LIVE at `to`
    val t2 = fresh()
    ManifestTable.commit(spark, t2, df(1L -> "x", 2L -> "y", 3L -> "z").coalesce(1),
      SaveMode.Overwrite, statsColumns = Seq("id"))
    ManifestTable.deleteWhereVector(spark, t2, col("id") === 2L)
    assert(ids(ManifestTable.changes(spark, t2, 0)) === Set(1L, 3L),
      "a vector-deleted row must not flow to feed consumers as live")
    // the vectored delete surfaces exactly once: in the range holding
    // the vector's commit, not again when materialization rewrites the
    // file — and a range spanning both reports it once too
    def feed(tb: String, since: Int) = ManifestTable.rowChanges(spark, tb, since, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getAs[String]("_change_type"))).toSet
    assert(feed(t2, 1) === Set((2L, "delete")))
    ManifestTable.materializeDeletes(spark, t2)
    assert(feed(t2, 2) === Set(), "materialization must not report the delete again")
    assert(feed(t2, 1) === Set((2L, "delete")))
  }

  test("a vectored delete in a rewritten file is reported once across consecutive ranges") {
    // the file the vector lands in was itself written by a rewrite: the
    // range holding both reports the delete (pre-image from the older
    // file, post-image vectored away); the later materialization must
    // not report it a second time
    val t = fresh()
    ManifestTable.commit(spark, t, df(1L -> "a", 2L -> "b", 3L -> "c").coalesce(1),
      SaveMode.Overwrite, statsColumns = Seq("id"))                  // v1
    ManifestTable.upsert(spark, t, df(2L -> "B"), Seq("id"))          // v2: rewrite
    ManifestTable.deleteWhereVector(spark, t, col("id") === 3L)       // v3: vector
    ManifestTable.materializeDeletes(spark, t)                        // v4: rewrite
    def deletes(since: Int, to: Int) =
      ManifestTable.rowChanges(spark, t, since, Seq("id"), to)
        .filter(col("_change_type") === "delete").collect().map(_.getLong(0)).toSeq
    assert(deletes(1, 3) === Seq(3L))
    assert(deletes(3, 4) === Nil, "the materialization re-reported the vectored delete")
    assert(deletes(1, 4) === Seq(3L))
    assert(ids(ManifestTable.read(spark, t)) === Set(1L, 2L))
  }

  test("a lazy delete under a later vector on the same file is reported once, at materialization") {
    val t = fresh()
    ManifestTable.commit(spark, t,
      df((1L to 6L).map(i => i -> s"v$i"): _*).coalesce(1),
      SaveMode.Overwrite, statsColumns = Seq("id"))                  // v1
    ManifestTable.deleteWhereLazy(spark, t, col("id") === 5L)         // v2: tombstone
    ManifestTable.deleteWhereVector(spark, t, col("id") === 2L)       // v3: vector, same file
    ManifestTable.materializeDeletes(spark, t)                        // v4: rewrite
    def deletes(since: Int, to: Int) =
      ManifestTable.rowChanges(spark, t, since, Seq("id"), to)
        .filter(col("_change_type") === "delete").collect().map(_.getLong(0)).toSeq.sorted
    assert(deletes(1, 2) === Nil, "a lazy delete is deferred")
    assert(deletes(2, 3) === Seq(2L))
    assert(deletes(1, 3) === Seq(2L), "the vector churn surfaced the deferred delete early")
    assert(deletes(3, 4) === Seq(5L))
    assert(deletes(1, 4) === Seq(2L, 5L))
    assert(ids(ManifestTable.read(spark, t)) === Set(1L, 3L, 4L, 6L))
  }

  test("the row feed is split-additive over a lazy delete of a row appended inside the range") {
    val t = fresh()
    ManifestTable.commit(spark, t, df(1L -> "a", 2L -> "b").coalesce(1),
      SaveMode.Overwrite, statsColumns = Seq("id"))                  // v1
    ManifestTable.commit(spark, t, df(4L -> "d", 5L -> "e").coalesce(1),
      statsColumns = Seq("id"))                                       // v2: append
    ManifestTable.deleteWhereLazy(spark, t, col("id") === 4L)         // v3: tombstone
    ManifestTable.materializeDeletes(spark, t)                        // v4: rewrite
    // per key: inserts minus deletes over (since, to]
    def net(since: Int, to: Int): Map[Long, Int] =
      ManifestTable.rowChanges(spark, t, since, Seq("id"), to).collect()
        .map(r => r.getLong(0) -> (r.getAs[String]("_change_type") match {
          case "insert" => 1; case "delete" => -1; case _ => 0 }))
        .groupMapReduce(_._1)(_._2)(_ + _)
    def sum(ranges: (Int, Int)*): Map[Long, Int] =
      ranges.map { case (a, b) => net(a, b) }.reduce((x, y) =>
        (x.keySet ++ y.keySet).map(k => k -> (x.getOrElse(k, 0) + y.getOrElse(k, 0))).toMap)
        .filter(_._2 != 0)
    assert(net(1, 2) === Map(4L -> 1, 5L -> 1))
    assert(net(2, 3) === Map.empty, "a lazy delete is deferred")
    assert(net(1, 3) === Map(4L -> 1, 5L -> 1),
      "a row appended and lazily deleted inside the range is still an insert until materialized")
    assert(net(3, 4) === Map(4L -> -1))
    assert(net(1, 4) === Map(5L -> 1))
    val fine = sum((1, 2), (2, 3), (3, 4))
    assert(fine === Map(5L -> 1))
    assert(sum((1, 3), (3, 4)) === fine)
    assert(sum((1, 4)) === fine)
    assert(ids(ManifestTable.read(spark, t)) === Set(1L, 2L, 5L))
  }

  test("vectors work on a partitioned table (path-derived columns, per-file positions)") {
    val t = fresh()
    import spark.implicits._
    val data = (1L to 12L).map(i => (i, s"v$i", if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "v", "p")
    ManifestTable.commit(spark, t, data, SaveMode.Overwrite,
      partitionBy = Seq("p"), statsColumns = Seq("id"))
    val files1 = ManifestTable.snapshotFiles(spark, t)
    ManifestTable.deleteWhereVector(spark, t, col("id") % 3 === 0)
    assert(ManifestTable.snapshotFiles(spark, t) === files1)
    val expect = (1L to 12L).filterNot(_ % 3 == 0).toSet
    assert(ids(ManifestTable.read(spark, t)) === expect)
    // partition pruning (stats) composes with the vector filter
    val odd = ManifestTable.readWhere(spark, t, col("p") === "odd")
    assert(ids(odd) === expect.filter(_ % 2 == 1))
  }

  test("a vector landing mid-derive on a rewritten file forces the re-derive (no resurrection)") {
    val t = fresh()
    ManifestTable.commit(spark, t, df(1L -> "a", 2L -> "b").coalesce(1),
      SaveMode.Overwrite, statsColumns = Seq("id"))
    var attempts = 0
    var fired = false
    var inside = false
    ManifestTable.beforeConditionalCommit = () => {
      if (!inside) {
        attempts += 1
        if (!fired) {
          fired = true; inside = true
          // the interloper vectors row 1 INSIDE the file the merge is
          // rewriting — a blind reconcile would republish the merge's
          // pre-vector post-image and resurrect the row
          try ManifestTable.deleteWhereVector(spark, t, col("id") === 1L)
          finally inside = false
        }
      }
    }
    try ManifestTable.upsert(spark, t, df(2L -> "B"), Seq("id"))
    finally ManifestTable.beforeConditionalCommit = () => ()
    assert(attempts === 2,
      s"a mid-derive vector on an affected file must force a re-derive, saw $attempts")
    assert(ids(ManifestTable.read(spark, t)) === Set(2L),
      "the vectored row must stay deleted through the raced merge")
    assert(ManifestTable.read(spark, t).head().getString(1) === "B")
  }
}
