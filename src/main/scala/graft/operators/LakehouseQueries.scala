package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryRegistry._
import graft.functions.VectorOps
import graft.sources.Tables

/** Data-lake maintenance operators (SURVEY.md §2 round-3 additions).
  *
  * The reference family is a lake ETL ([R] etl.py: build dim/fact
  * parquet tables from raw events) — these are the operations the same
  * lake needs on day 2: a generated calendar dimension (the reference
  * builds its `time` dim from observed timestamps), CDC latest-wins
  * MERGE into a dimension, wide→long unpivot for metric tables,
  * Z-order clustering keys for file layout, and connected-components
  * duplicate clustering (the grouping step behind fuzzy dedup, here
  * oracle-checked end-to-end against a DuckDB recursive CTE).
  *
  * Scale stance: the spine explodes from a 1-row min/max aggregate
  * (driver-side-constant sized output, never a shuffle of the fact);
  * the MERGE is one shuffle on the key (AQE picks broadcast when the
  * changelog is small); zkey is 32 codegen'd bit ops per row, no
  * shuffle; CC propagates labels only over edge members — at 100 TB
  * the edge list is the tiny near-dup fraction, not the corpus.
  */
object LakehouseQueries {

  /** 16-bit × 2 Morton/Z-order interleave — bit i of x lands at 2i, of
    * y at 2i+1. Static unroll keeps it inside whole-stage codegen. */
  def zkey16(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftrightunsigned(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftrightunsigned(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  val entries: Seq[Entry] = Seq(

    // C13: small-file compaction (the lake's OPTIMIZE pass). First
    // write partitionBy WITHOUT pre-repartitioning — every shuffle task
    // writes into every partition dir, the small-file explosion as it
    // actually happens — then compact by re-reading and rewriting with
    // one writer per partition value. The judged output proves data
    // fidelity through both rewrites; CompactionSpec asserts the file
    // count actually collapses (at 100 TB this is the difference
    // between a NameNode/S3-listing meltdown and ~one file per
    // partition per write).
    Entry(
      "c13_compaction",
      (s, d) => {
        val base = s"${sys.props("java.io.tmpdir")}/graft_c13_${new java.io.File(d).getName}"
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"),
            col("ts").cast("long").as("ts_us"))
        ev.repartition(8, col("event_id"))
          .write.mode("overwrite").partitionBy("event_type").parquet(s"$base/raw")
        s.read.parquet(s"$base/raw")
          .repartition(col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(s"$base/compact")
        s.read.parquet(s"$base/compact")
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, count(*) AS cnt, ${dsumSql("value")} AS sum_value
              |FROM events GROUP BY 1 ORDER BY event_type NULLS FIRST""".stripMargin)
    ),

    // C11: generated calendar dimension ("date spine") — explode a
    // day sequence between the fact's min/max date. The reference
    // derives its time dim from observed rows ([R] etl.py
    // process_log_data); a spine also covers days with no activity,
    // which is what gap-free reporting joins need.
    Entry(
      "c11_date_spine",
      (s, d) => {
        val bounds = Tables.orders(s, d)
          .agg(min(col("o_orderdate").cast("date")).as("lo"),
            max(col("o_orderdate").cast("date")).as("hi"))
        bounds
          .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("d"))
          .select(
            date_format(col("d"), "yyyy-MM-dd").as("day"),
            year(col("d")).as("y"),
            month(col("d")).as("m"),
            dayofmonth(col("d")).as("dom"),
            (weekday(col("d")) + 1).as("dow"), // ISO: 1=Mon..7=Sun
            (weekday(col("d")) + 1 >= 6).as("is_weekend"))
          .orderBy("day")
      },
      Some("""WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
             |CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
             |s AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM b)
             |SELECT strftime(d, '%Y-%m-%d') AS day, CAST(year(d) AS INT) AS y,
             |CAST(month(d) AS INT) AS m, CAST(dayofmonth(d) AS INT) AS dom,
             |CAST(isodow(d) AS INT) AS dow, isodow(d) >= 6 AS is_weekend
             |FROM s ORDER BY day NULLS FIRST""".stripMargin)
    ),

    // C12: CDC latest-wins MERGE (upsert) into a dimension — the lake
    // maintenance primitive behind MERGE INTO. Changelog = latest
    // purchase event per user (row_number on ms-truncated ts,
    // event_id tie-break — identical total order on both engines),
    // plus synthetic new-customer keys to exercise the INSERT branch.
    // op marks what MERGE did per row: U=updated, K=kept, I=inserted.
    Entry(
      "c12_upsert_latest",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("tms").desc, col("event_id").desc)
        val latest = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("value"),
            unix_millis(col("ts")).as("tms"), col("event_id"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("value"))
        val changelog = latest.unionAll(
          latest.filter(col("user_id") % 50 === 0)
            .select((col("user_id") + 1000000L).as("user_id"), col("value")))
        Tables.customer(s, d)
          .join(changelog, col("c_custkey") === col("user_id"), "full_outer")
          .select(
            coalesce(col("c_custkey"), col("user_id")).as("key"),
            coalesce(col("c_name"), lit("NEW")).as("name"),
            round(coalesce(col("value"), col("c_acctbal")), 2).as("acctbal"),
            when(col("c_custkey").isNull, "I")
              .when(col("user_id").isNull, "K")
              .otherwise("U").as("op"))
          .orderBy("key")
      },
      Some("""WITH u0 AS (
             |  SELECT user_id, value FROM (
             |    SELECT user_id, value,
             |      row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
             |    FROM events WHERE event_type = 'purchase') WHERE rn = 1),
             |upd AS (SELECT * FROM u0
             |  UNION ALL SELECT user_id + 1000000, value FROM u0 WHERE user_id % 50 = 0)
             |SELECT coalesce(c.c_custkey, u.user_id) AS key,
             |coalesce(c.c_name, 'NEW') AS name,
             |round(coalesce(u.value, c.c_acctbal), 2) AS acctbal,
             |CASE WHEN c.c_custkey IS NULL THEN 'I'
             |     WHEN u.user_id IS NULL THEN 'K' ELSE 'U' END AS op
             |FROM customer c FULL OUTER JOIN upd u ON c.c_custkey = u.user_id
             |ORDER BY key NULLS FIRST""".stripMargin)
    ),

    // G12: unpivot/melt — wide metric columns back to long (name,
    // value) rows; the inverse of g10_pivot. All value columns must
    // share one type, so counts are cast to double up front.
    Entry(
      "g12_unpivot",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"),
            count(lit(1)).cast("double").as("cnt"))
          .unpivot(
            Array(col("l_returnflag")),
            Array(col("sum_qty"), col("sum_price"), col("cnt")),
            "metric", "val")
          .orderBy("l_returnflag", "metric"),
      Some(s"""WITH agg AS (SELECT l_returnflag,
              |${dsumSql("l_quantity")} AS sum_qty,
              |${dsumSql("l_extendedprice")} AS sum_price,
              |CAST(count(*) AS DOUBLE) AS cnt
              |FROM lineitem GROUP BY 1)
              |SELECT l_returnflag, metric, val
              |FROM agg UNPIVOT (val FOR metric IN (sum_qty, sum_price, cnt))
              |ORDER BY l_returnflag NULLS FIRST, metric NULLS FIRST""".stripMargin)
    ),

    // S6: Z-order (Morton) clustering key over (l_partkey, l_suppkey)
    // — sorting files by zkey co-locates both dimensions so min/max
    // file stats prune scans filtered on EITHER key (the data-layout
    // move behind OPTIMIZE ZORDER BY at 100 TB). The key itself is
    // pure codegen'd bit arithmetic; verified bit-for-bit vs DuckDB.
    Entry(
      "s6_zorder_key",
      (s, d) =>
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            zkey16(col("l_partkey"), col("l_suppkey")).as("zkey"))
          .orderBy("zkey", "l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |CAST(list_sum(list_transform(range(0,16), i ->
             |(((l_partkey >> i) & 1) << (2*i)) + (((l_suppkey >> i) & 1) << (2*i+1)))) AS BIGINT) AS zkey
             |FROM lineitem
             |ORDER BY zkey NULLS FIRST, l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin)
    ),

    // B2f: duplicate CLUSTERS, oracle-checked end-to-end — edges are
    // the b2_cosine_neardup pair set (exact blocked cosine >= 0.35),
    // grouping is distributed min-label propagation
    // (MinHash.connectedComponents — the same engine code the
    // rows-only minhash dedup uses), and the oracle recomputes
    // components in DuckDB with a recursive CTE. Multi-hop chains
    // (size-3 components exist at sf0.01) verify transitive
    // propagation, not just single edges.
    Entry(
      "b2_cc_clusters",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding").as("v"))
          .withColumn("nrm", VectorOps.norm(col("v")))
        val a = e.select(col("label"), col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
        val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
        val pairs = a.join(b, Seq("label"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("cos", VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .filter(round(col("cos"), 6) >= 0.35)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
          // the blocked-cosine self-join feeds members AND every CC
          // round — materialize it once, not once per consumer
          .transform(graft.QueryRegistry.ckpt)
        val members = pairs.select(col("doc_a").as("doc_id"))
          .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
        val comp = MinHash.connectedComponents(members, pairs)
          .select(col("doc_id").as("m_id"), col("dup_group").as("m_grp"))
        Tables.embeddings(s, d).select(col("vec_id"))
          .join(comp, col("vec_id") === col("m_id"), "left")
          .select(col("vec_id"), coalesce(col("m_grp"), col("vec_id")).as("dup_group"))
          .orderBy("vec_id")
      },
      Some("""WITH RECURSIVE
             |n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             |      sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
             |      FROM embeddings),
             |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |          FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
             |          WHERE round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.35),
             |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |          UNION ALL SELECT id_b, id_a FROM pairs),
             |walk(vec_id, lbl) AS (
             |  SELECT vec_id, vec_id FROM embeddings
             |  UNION
             |  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.vec_id WHERE w.lbl < e.src
             |)
             |SELECT vec_id, min(lbl) AS dup_group FROM walk GROUP BY vec_id
             |ORDER BY vec_id NULLS FIRST""".stripMargin)
    ),

    // B2g: canonical-document selection — after dup-cluster grouping,
    // keep exactly one representative per cluster: the member with the
    // largest L2 norm (quality proxy; ties broken by id). This is the
    // "which copy survives" step a dedup pipeline runs after
    // clustering. Same cosine edge graph + CC as b2_cc_clusters; the
    // selection itself is one window over clusters (keys = cluster
    // ids, cardinality ≪ corpus), so at 100 TB its shuffle moves only
    // cluster members, and the norm ordering makes the survivor set
    // deterministic under any execution order.
    Entry(
      "b2_canonical_keep",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), col("embedding").as("v"))
          .withColumn("nrm", VectorOps.norm(col("v")))
        val a = e.select(col("label"), col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
        val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
        val pairs = a.join(b, Seq("label"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("cos", VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .filter(round(col("cos"), 6) >= 0.35)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
          .transform(graft.QueryRegistry.ckpt)
        val members = pairs.select(col("doc_a").as("doc_id"))
          .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
        val comp = MinHash.connectedComponents(members, pairs)
        val m = comp.join(e.select(col("vec_id"), col("nrm")),
            comp("doc_id") === col("vec_id"))
          .select(col("dup_group"), col("vec_id"), col("nrm"))
        Curation.canonicalPerCluster(m, "dup_group", "vec_id", "nrm")
          .select(col("dup_group"), col("n_members"),
            col("vec_id").as("canonical_id"), round(col("nrm"), 6).as("canon_l2"))
          .orderBy("dup_group")
      },
      Some("""WITH RECURSIVE
             |n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             |      sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
             |      FROM embeddings),
             |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |          FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
             |          WHERE round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.35),
             |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |          UNION ALL SELECT id_b, id_a FROM pairs),
             |walk(vec_id, lbl) AS (
             |  SELECT vec_id, vec_id FROM embeddings
             |  UNION
             |  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.vec_id WHERE w.lbl < e.src
             |),
             |grp AS (SELECT vec_id, min(lbl) AS dup_group FROM walk GROUP BY vec_id),
             |m AS (SELECT g.dup_group, g.vec_id, n.nrm FROM grp g JOIN n USING (vec_id)),
             |sel AS (SELECT dup_group, vec_id, nrm,
             |          count(*) OVER (PARTITION BY dup_group) AS n_members,
             |          row_number() OVER (PARTITION BY dup_group
             |            ORDER BY nrm DESC, vec_id) AS rn
             |        FROM m)
             |SELECT dup_group, n_members, vec_id AS canonical_id,
             |  round(nrm, 6) AS canon_l2
             |FROM sel WHERE rn = 1 AND n_members >= 2
             |ORDER BY dup_group NULLS FIRST""".stripMargin)
    ),

    // B2h: graph importance scoring — 5 power-iteration steps of
    // PageRank (d=0.85) over the undirected cosine-similarity graph,
    // the iterative-compute pattern behind reference-corpus weighting
    // and graph-based data valuation. Each step is one join + one
    // aggregation; the state is FIXED-POINT micro-units (pr·10⁶ as
    // longs: integer division per contribution, exact long sums,
    // (85·x) DIV 100 damping), so every iteration is independent of
    // summation order AND of either engine's double→decimal rounding
    // — the earlier decimal-accumulator formulation diverged at sf0.1
    // when one contribution's ×10⁶ product double-rounded onto an
    // exact .5. At 100 TB the edge list is the near-dup graph
    // (≪ corpus); the iteration count is fixed, giving O(iters)
    // shuffles of O(edges) — the standard distributed PR shape, with
    // the materialized edge list reused across all iterations.
    Entry(
      "b2_graph_rank",
      (s, d) => {
        val edges = Similarity
          .similarityEdges(Tables.embeddings(s, d), threshold = 0.35)
          .transform(graft.QueryRegistry.ckpt)
        val ids = Tables.embeddings(s, d).select(col("vec_id").as("id"))
        Similarity.pageRank(ids, edges, iters = 5)
          .select(col("id").as("vec_id"), col("pr_micro"))
          .orderBy("vec_id")
      },
      Some {
        val base =
          """WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
            |      sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
            |      FROM embeddings),
            |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
            |          FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
            |          WHERE round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.35),
            |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
            |          UNION ALL SELECT id_b, id_a FROM pairs),
            |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
            |pr0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS pr_micro FROM embeddings),
            |""".stripMargin
        val iters = (1 to 5).map { i =>
          s"""pr$i AS (SELECT p.vec_id,
             |    CAST(150000 + (85 * coalesce(s.contrib, 0)) // 100 AS BIGINT) AS pr_micro
             |  FROM pr0 p LEFT JOIN (
             |    SELECT e.dst AS vec_id,
             |      CAST(sum(q.pr_micro // dg.deg) AS BIGINT) AS contrib
             |    FROM edges e JOIN pr${i - 1} q ON e.src = q.vec_id
             |    JOIN deg dg ON dg.src = e.src
             |    GROUP BY e.dst) s USING (vec_id))""".stripMargin
        }.mkString(",\n")
        base + iters +
          "\nSELECT vec_id, pr_micro FROM pr5 ORDER BY vec_id NULLS FIRST"
      }
    ),

    // C16: dynamic partition overwrite — the lake-maintenance rewrite
    // that replaces ONLY the partitions present in the incoming batch
    // (partitionOverwriteMode=dynamic) and must leave every other
    // partition untouched. The patch bumps n_chars for lang='en' docs;
    // the read-back per-lang rollup proves 'en' changed and the other
    // four languages survived byte-identical. At 100 TB this is the
    // daily-refresh primitive: rewrite one day's partition, never the
    // table.
    Entry(
      "c16_dynamic_overwrite",
      (s, d) => {
        // PID-scoped path: the overwrite phase deletes partition files,
        // so a concurrent JVM reading the same path would hit
        // FileNotFound mid-scan (unlike the append-only c4/c5 temps)
        val base = scratchDir("c16", d)
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
        docs.write.mode("overwrite").partitionBy("lang").parquet(base)
        docs.filter(col("lang") === "en")
          .withColumn("n_chars", col("n_chars") + 1000)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("lang").parquet(base)
        s.read.parquet(base)
          .groupBy("lang")
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS cnt,
             |  CAST(sum(CASE WHEN lang = 'en' THEN n_chars + 1000
             |           ELSE n_chars END) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY lang
             |ORDER BY lang NULLS FIRST""".stripMargin)
    ),

    // C18: config-driven object-store scan — the reference's literal
    // entry point ([R] etl.py: credentials from dl.cfg, tables under
    // an s3a:// base URI). The judged query drives the REAL code path
    // (dl.cfg parse → Hadoop-conf credential injection → base-URI
    // resolution → spark.read) with a file:// base, the same
    // FileSystem abstraction s3a:// plugs into (offline sandbox: no
    // egress). Oracle reads the same table directly.
    Entry(
      "c18_lake_config_scan",
      (s, d) => {
        val cfgText =
          s"""[AWS]
             |AWS_ACCESS_KEY_ID='offline-demo-key'
             |AWS_SECRET_ACCESS_KEY='offline-demo-secret'
             |base_uri = file://${new java.io.File(d).getAbsolutePath}
             |""".stripMargin
        val cfg = graft.sources.LakeConfig.parse(cfgText)
        graft.sources.Lake.table(s, cfg, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
             |ORDER BY n_nationkey NULLS FIRST""".stripMargin)
    ),

    // C19: ACID MERGE through the manifest-commit protocol — base
    // snapshot (overwrite) + keyed upsert, read back from the LATEST
    // manifest. Construction is idempotent (the overwrite resets the
    // head each run; versions accumulate but the final snapshot is
    // identical), so repeated bench/verify runs hash the same. The
    // oracle computes the post-merge image directly from `customer`.
    // Demonstrates what c12_upsert_latest emulates, with real
    // isolation: a reader never sees base+updates interleaved, only a
    // committed snapshot (ManifestTableSpec proves the torn cases).
    Entry(
      "c19_manifest_merge",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c19", d)
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        graft.sources.ManifestTable.commit(s, t,
          cust.filter(col("c_custkey") <= 1000), SaveMode.Overwrite)
        graft.sources.ManifestTable.upsert(s, t,
          cust.filter(col("c_custkey").between(500, 1500))
            .withColumn("c_acctbal", col("c_acctbal") + 100),
          Seq("c_custkey"))
        graft.sources.ManifestTable.read(s, t)
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("bal"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name,
             |  round(CASE WHEN c_custkey BETWEEN 500 AND 1500
             |        THEN c_acctbal + 100 ELSE c_acctbal END, 2) AS bal
             |FROM customer
             |WHERE c_custkey <= 1000 OR c_custkey BETWEEN 500 AND 1500
             |ORDER BY c_custkey NULLS FIRST""".stripMargin)
    ),

    // C20: time travel through the manifest protocol — the same
    // base-overwrite + keyed-upsert construction as c19, read back at
    // version HEAD−1: the pre-upsert image, byte-identical to the base
    // commit no matter how many earlier runs' versions precede it
    // (each run's overwrite+upsert pair means head−1 is always this
    // run's base). The oracle recomputes that pre-image directly from
    // `customer`, so the snapshot-isolation claim is hash-verified,
    // not just spec'd: if the upsert leaked into the old version — or
    // the old version's files were clobbered — the hash moves.
    Entry(
      "c20_time_travel",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c20", d)
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        graft.sources.ManifestTable.commit(s, t,
          cust.filter(col("c_custkey") <= 1000), SaveMode.Overwrite)
        graft.sources.ManifestTable.upsert(s, t,
          cust.filter(col("c_custkey").between(500, 1500))
            .withColumn("c_acctbal", col("c_acctbal") + 100),
          Seq("c_custkey"))
        val head = graft.sources.ManifestTable.currentVersion(s, t)
        graft.sources.ManifestTable.read(s, t, version = head - 1)
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("bal"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
             |FROM customer WHERE c_custkey <= 1000
             |ORDER BY c_custkey NULLS FIRST""".stripMargin)
    ),

    // C21: the reference's ACTUAL ingest shape, judged — a multi-level
    // JSON glob rooted at a LakeConfig base URI (A1 ∘ A13, Lake.json).
    // The query materializes documents as lang-partitioned JSON under
    // a file:// lake base, then reads it back through the config-driven
    // glob path (schema inference included) and rolls up per source —
    // any loss or duplication in glob expansion, inference, or the
    // base-URI resolution moves the hash. Oracle recomputes from the
    // original table.
    Entry(
      "c21_lake_json_ingest",
      (s, d) => {
        val base = scratchDir("c21", d)
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
          .write.mode("overwrite").partitionBy("lang")
          .json(s"$base/log_data")
        val cfg = graft.sources.LakeConfig(s"file://$base")
        graft.sources.Lake.json(s, cfg, "log_data/*/*.json")
          .groupBy("source")
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS cnt,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY source
             |ORDER BY source NULLS FIRST""".stripMargin)
    ),

    // C22: the manifest lifecycle end to end, judged — base commit →
    // delete-by-predicate (file-pruned rewrite) → version expiry →
    // head read. After expire(keepLast = 1) only the post-delete
    // manifest survives, so the final read proves the delete semantics
    // AND that expiry left the head lineage intact (carried-by-
    // reference files from the base commit must survive the reclaim).
    Entry(
      "c22_delete_expire",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c22", d)
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        graft.sources.ManifestTable.commit(s, t,
          cust.filter(col("c_custkey") <= 2000), SaveMode.Overwrite)
        graft.sources.ManifestTable.deleteWhere(s, t, col("c_acctbal") < 0)
        graft.sources.ManifestTable.expire(s, t, keepLast = 1)
        graft.sources.ManifestTable.read(s, t)
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("bal"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
             |FROM customer
             |WHERE c_custkey <= 2000 AND c_acctbal >= 0
             |ORDER BY c_custkey NULLS FIRST""".stripMargin)
    ),

    // C23: the change-feed consumer pattern, judged — base commit →
    // keyed upsert → delete-by-predicate, then ONE incremental read of
    // `changes(sinceVersion = base)` instead of a table re-scan. The
    // feed is file-granular and, since the r8 touched-file MERGE,
    // bounded by CHURN: carried base files never enter it, so its
    // exact content is layout-dependent (a carried-along neighbor row
    // appears iff it shared a file with a changed row). The consumer
    // therefore restricts to the key range its mutation batch touched
    // — every such key is PROVABLY in the feed (upsert wrote its
    // post-image file) — and classifies live/deleted via the anti-join
    // against the head. `distinct` collapses the upsert-file /
    // delete-survivor-file duplication (both hold the identical
    // post-upsert image). Row-level classification beyond the batch's
    // range — including deletes in untouched files — is c27
    // rowChanges' job. Oracle replays the upsert range directly from
    // `customer`; a lost mutation or misclassification moves the hash.
    // Bench note: this query's cost is three REAL manifest commits
    // (write + publish) before one incremental read — write cost, not
    // plan cost; do not chase it as a read-path regression.
    Entry(
      "c23_change_feed",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c23", d)
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val vBase = graft.sources.ManifestTable.commit(s, t,
          cust.filter(col("c_custkey") <= 1000), SaveMode.Overwrite)
        graft.sources.ManifestTable.upsert(s, t,
          cust.filter(col("c_custkey").between(500, 1500))
            .withColumn("c_acctbal", col("c_acctbal") + 100),
          Seq("c_custkey"))
        graft.sources.ManifestTable.deleteWhere(s, t, col("c_acctbal") < 0)
        val feed = graft.sources.ManifestTable.changes(s, t, vBase).distinct()
          .filter(col("c_custkey").between(500, 1500))
        val live = graft.sources.ManifestTable.read(s, t)
          .select(col("c_custkey"), lit(1).as("__live"))
        feed.join(live, Seq("c_custkey"), "left")
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("bal"),
            when(col("__live").isNotNull, lit("live"))
              .otherwise(lit("deleted")).as("change_type"))
          .orderBy("c_custkey")
      },
      Some("""WITH upd AS (
             |  SELECT c_custkey, c_name, c_acctbal + 100 AS bal0
             |  FROM customer WHERE c_custkey BETWEEN 500 AND 1500)
             |SELECT c_custkey, c_name, round(bal0, 2) AS bal,
             |  CASE WHEN bal0 < 0 THEN 'deleted' ELSE 'live' END AS change_type
             |FROM upd ORDER BY c_custkey NULLS FIRST""".stripMargin)
    ),

    // C24: TWO differently-credentialed lake roots in ONE plan — the
    // cross-account join every multi-tenant pipeline runs (raw bucket
    // ⋈ curated bucket). Each LakeConfig carries its own credentials
    // in S3A's per-bucket form (exactly what Lake.configure rewrites
    // plain fs.s3a.* keys into for an s3a:// base — LakeSpec proves
    // the rewrite and two-bucket coexistence; file:// drives the same
    // FileSystem abstraction offline). The corpus is split across the
    // two roots by doc_id parity, read back through both configs, and
    // unioned — any loss, duplication, or cross-config clobbering
    // moves the per-lang rollup hash. Oracle recomputes from the
    // undivided table.
    Entry(
      "c24_two_lakes",
      (s, d) => {
        val base = scratchDir("c24", d)
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        docs.filter(col("doc_id") % 2 === 0)
          .write.mode("overwrite").parquet(s"$base/lake_a/documents.parquet")
        docs.filter(col("doc_id") % 2 === 1)
          .write.mode("overwrite").parquet(s"$base/lake_b/documents.parquet")
        val cfgA = graft.sources.LakeConfig(s"file://$base/lake_a",
          Map("fs.s3a.bucket.lake-a.access.key" -> "KEY-A"))
        val cfgB = graft.sources.LakeConfig(s"file://$base/lake_b",
          Map("fs.s3a.bucket.lake-b.access.key" -> "KEY-B",
            "fs.s3a.bucket.lake-b.endpoint" -> "localhost:9000"))
        graft.sources.Lake.table(s, cfgA, "documents")
          .unionByName(graft.sources.Lake.table(s, cfgB, "documents"))
          .groupBy("lang")
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS cnt,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY lang
             |ORDER BY lang NULLS FIRST""".stripMargin)
    ),

    // C25: manifest-level data skipping, judged — the scan-pruning a
    // real table format exists for. The commit records per-file
    // (min,max) of o_orderkey (`statsColumns`); the write is range-
    // partitioned so each file owns a tight key range; the manifest
    // index under `read` prunes files on the MANIFEST's stats from the
    // filter pushed onto it, before Spark opens anything (StatsSkipSpec
    // asserts the reader is handed strictly fewer files than the
    // snapshot holds). The hash proves pruning lost no qualifying row
    // and leaked no pruned one. At 100 TB this is the difference between listing
    // 100k files and listing the ~3 owning the predicate's range.
    Entry(
      "c25_stats_skip",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c25", d)
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"))
        graft.sources.ManifestTable.commit(s, t,
          ord.repartitionByRange(8, col("o_orderkey")), SaveMode.Overwrite,
          statsColumns = Seq("o_orderkey"))
        graft.sources.ManifestTable.read(s, t)
          .filter(col("o_orderkey").between(1000, 5000))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority NULLS FIRST""".stripMargin)
    ),

    // C26: schema evolution on append, judged — the Delta mergeSchema
    // rule: an append may ADD columns; files written before the column
    // read it as null through the recorded (widened) snapshot schema,
    // with no per-file footer pass. The oracle replays the widened
    // union (NULL for the pre-evolution half) directly from `customer`
    // — a reader that dropped the old files, nulled the wrong half, or
    // footer-sniffed its way to a mixed schema moves the hash.
    // ManifestTableSpec pins the time-travel view (v1 still reads the
    // narrow schema).
    Entry(
      "c26_schema_evolve",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c26", d)
        val cust = Tables.customer(s, d)
        graft.sources.ManifestTable.commit(s, t,
          cust.filter(col("c_custkey") <= 1000)
            .select(col("c_custkey"), col("c_name")),
          SaveMode.Overwrite)
        graft.sources.ManifestTable.commit(s, t,
          cust.filter(col("c_custkey") > 1000 && col("c_custkey") <= 2000)
            .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
          SaveMode.Append, mergeSchema = true)
        graft.sources.ManifestTable.read(s, t)
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("bal"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS bal
             |FROM customer WHERE c_custkey <= 1000
             |UNION ALL
             |SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
             |FROM customer WHERE c_custkey > 1000 AND c_custkey <= 2000
             |ORDER BY c_custkey NULLS FIRST""".stripMargin)
    ),

    // C27: ROW-level change feed, judged — c23's hand-rolled
    // feed-classification as one API call. rowChanges diffs the churned
    // files of base→head by key and labels each row insert /
    // update_post / delete (post-image for the first two, pre-image
    // for the last), with rewritten-but-identical survivors filtered
    // by null-safe struct equality. The oracle replays merge + delete
    // from `customer` and classifies against the base image — a missed
    // mutation, a survivor leaking into the feed, or a pre/post-image
    // mixup all move the hash.
    Entry(
      "c27_row_cdf",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c27", d)
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val vBase = graft.sources.ManifestTable.commit(s, t,
          cust.filter(col("c_custkey") <= 1000), SaveMode.Overwrite)
        graft.sources.ManifestTable.upsert(s, t,
          cust.filter(col("c_custkey").between(500, 1500))
            .withColumn("c_acctbal", col("c_acctbal") + 100),
          Seq("c_custkey"))
        graft.sources.ManifestTable.deleteWhere(s, t, col("c_acctbal") < 0)
        graft.sources.ManifestTable.rowChanges(s, t, vBase, Seq("c_custkey"))
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("bal"), col("_change_type"))
          .orderBy("c_custkey")
      },
      Some("""WITH base AS (
             |  SELECT c_custkey, c_name, c_acctbal FROM customer
             |  WHERE c_custkey <= 1000),
             |upd AS (
             |  SELECT c_custkey, c_name, c_acctbal + 100 AS bal
             |  FROM customer WHERE c_custkey BETWEEN 500 AND 1500),
             |merged AS (
             |  SELECT b.c_custkey, b.c_name, b.c_acctbal AS bal FROM base b
             |  WHERE b.c_custkey NOT IN (SELECT c_custkey FROM upd)
             |  UNION ALL SELECT * FROM upd),
             |head AS (SELECT * FROM merged WHERE bal >= 0)
             |SELECT c_custkey, c_name, round(bal, 2) AS bal, _change_type
             |FROM (
             |  SELECT h.c_custkey, h.c_name, h.bal,
             |    CASE WHEN b.c_custkey IS NULL THEN 'insert'
             |         ELSE 'update_post' END AS _change_type
             |  FROM head h LEFT JOIN base b USING (c_custkey)
             |  WHERE b.c_custkey IS NULL OR h.bal IS DISTINCT FROM b.c_acctbal
             |  UNION ALL
             |  SELECT b.c_custkey, b.c_name, b.c_acctbal, 'delete'
             |  FROM base b
             |  WHERE b.c_custkey NOT IN (SELECT c_custkey FROM head))
             |ORDER BY c_custkey NULLS FIRST""".stripMargin)
    ),

    // C28: conditional MERGE, judged — the full Delta matched-clause
    // shape in one commit: matched + (src bal < 0)  → DELETE; matched +
    // (src bal > current) → UPDATE to the source row; matched,
    // neither → keep; unmatched source keys → INSERT. With src bal =
    // 2×current, the three clauses partition target rows by sign of
    // c_acctbal (negative deletes, positive doubles, zero keeps), so
    // every clause is exercised with rows the oracle's CASE replays
    // exactly. Conditions reference BOTH sides (`_src.<col>` vs plain
    // target column) — the API contract ManifestTableSpec pins.
    Entry(
      "c28_conditional_merge",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c28", d)
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        graft.sources.ManifestTable.commit(s, t,
          cust.filter(col("c_custkey") <= 2000), SaveMode.Overwrite)
        graft.sources.ManifestTable.merge(s, t,
          cust.filter(col("c_custkey").between(1000, 3000))
            .withColumn("c_acctbal", col("c_acctbal") * 2),
          Seq("c_custkey"),
          whenMatchedUpdate = Some(col("_src.c_acctbal") > col("c_acctbal")),
          whenMatchedDelete = Some(col("_src.c_acctbal") < 0))
        graft.sources.ManifestTable.read(s, t)
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("bal"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, round(bal, 2) AS bal FROM (
             |  SELECT c_custkey, c_name,
             |    CASE WHEN c_custkey >= 1000 AND c_acctbal * 2 > c_acctbal
             |         THEN c_acctbal * 2 ELSE c_acctbal END AS bal
             |  FROM customer
             |  WHERE c_custkey <= 2000
             |    AND NOT (c_custkey >= 1000 AND c_acctbal * 2 < 0)
             |  UNION ALL
             |  SELECT c_custkey, c_name, c_acctbal * 2 AS bal
             |  FROM customer WHERE c_custkey > 2000 AND c_custkey <= 3000)
             |ORDER BY c_custkey NULLS FIRST""".stripMargin)
    ),

    // C30: AUTOMATIC data skipping from the predicate itself, judged —
    // the Delta UX on top of c25's machinery: the caller hands
    // `readWhere` one composite predicate; the table extracts the
    // conjunctive o_orderkey range from its expression tree, prunes
    // files on the manifest stats, and applies the full predicate
    // row-level. The string-equality conjunct extracts too (enc-space,
    // since r8 string stats) but its column is deliberately UNTRACKED
    // — pruning must conservatively ignore it yet still filter its
    // rows. The hash proves
    // extraction+pruning lost no qualifying row; StatsSkipSpec pins
    // that the scan actually shrank and the extractor's fold rules.
    Entry(
      "c30_predicate_skip",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c30", d)
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"), col("o_orderstatus"))
        graft.sources.ManifestTable.commit(s, t,
          ord.repartitionByRange(8, col("o_orderkey")), SaveMode.Overwrite,
          statsColumns = Seq("o_orderkey"))
        graft.sources.ManifestTable.readWhere(s, t,
            col("o_orderkey").between(1000, 5000) &&
            col("o_orderpriority") === "1-URGENT")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders
             |WHERE o_orderkey BETWEEN 1000 AND 5000
             |  AND o_orderpriority = '1-URGENT'
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus NULLS FIRST""".stripMargin)
    ),

    // C31: STRING data skipping, judged — the categorical-predicate
    // pattern (status/tenant/source columns): string stats ride the
    // same manifest double-range format through the order-preserving
    // 6-byte-prefix encoding (monotone under Spark's bytewise string
    // order, so min/max of the encoding bound every row's and prefix
    // collisions only ever KEEP files); readWhere encodes the string
    // literal identically and prunes to the files whose enc-range owns
    // the value. A status-clustered layout makes the skip real
    // (StatsSkipSpec pins kept < total and write-side ≡ query-side
    // encoding); the hash proves it lost no row of any status.
    Entry(
      "c31_string_skip",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c31", d)
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        graft.sources.ManifestTable.commit(s, t,
          ord.repartitionByRange(6, col("o_orderstatus"), col("o_orderkey")),
          SaveMode.Overwrite, statsColumns = Seq("o_orderstatus"))
        graft.sources.ManifestTable.readWhere(s, t,
            col("o_orderstatus") === "F")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders WHERE o_orderstatus = 'F'
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus NULLS FIRST""".stripMargin)
    ),

    // C32: PARTITIONED manifest table, judged — the reference's own
    // Hive-layout idiom (A2, judged raw as c4) composed with the ACID
    // format: `commit(partitionBy = lang, statsColumns = doc_id)`
    // writes `lang=<v>/` dirs under the committed uuid, the manifest
    // records the partition spec and each file's partition value as a
    // degenerate stats range, and `readWhere(lang = 'en' AND doc_id <
    // 2000)` prunes BY PARTITION first, then by the doc_id range
    // WITHIN the partition — stacked, one mechanism
    // (PartitionedTableSpec asserts both prune steps shrink the scan).
    // The partition column itself lives only in the paths; the read
    // derives it Delta-style (typed from the recorded schema), so the
    // hash also proves path→column materialization is lossless. At
    // 100 TB this is the default deployment: a date-partitioned fact
    // table whose queries touch one partition's few files.
    Entry(
      "c32_partitioned_table",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c32", d)
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
          .repartitionByRange(4, col("doc_id"))
        graft.sources.ManifestTable.commit(s, t, docs, SaveMode.Overwrite,
          partitionBy = Seq("lang"), statsColumns = Seq("doc_id"))
        graft.sources.ManifestTable.readWhere(s, t,
            col("lang") === "en" && col("doc_id") < 2000)
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("source")
      },
      Some("""SELECT source, lang, count(*) AS cnt,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE lang = 'en' AND doc_id < 2000
             |GROUP BY source, lang
             |ORDER BY source NULLS FIRST""".stripMargin)
    ),

    // C33: TIMESTAMP-as-of time travel, judged — c20's version-pinned
    // pre-image read, re-resolved through the commit wall-clock the
    // manifest records (the Delta `TIMESTAMP AS OF` UX): the consumer
    // asks for "the table as of the instant the base commit landed"
    // and versionAsOf must resolve that instant to the base version
    // even when the following upsert committed within the same
    // millisecond — commit times are forced strictly increasing at
    // publish (parentMs + 1), so the resolution is total, not racy.
    // The oracle recomputes the base image directly from `customer`;
    // a same-ms tie resolving to the post-upsert snapshot moves the
    // hash. ManifestTableSpec pins the between-commits and
    // before-first-commit cases.
    Entry(
      "c33_time_travel_ts",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c33", d)
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        graft.sources.ManifestTable.commit(s, t,
          cust.filter(col("c_custkey") <= 1000), SaveMode.Overwrite)
        val tBase = graft.sources.ManifestTable.commitTimeMs(s, t).get
        graft.sources.ManifestTable.upsert(s, t,
          cust.filter(col("c_custkey").between(500, 1500))
            .withColumn("c_acctbal", col("c_acctbal") + 100),
          Seq("c_custkey"))
        graft.sources.ManifestTable.readAsOf(s, t, tBase)
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("bal"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
             |FROM customer WHERE c_custkey <= 1000
             |ORDER BY c_custkey NULLS FIRST""".stripMargin)
    ),

    // C34: INCREMENTAL small-file OPTIMIZE, judged — the steady-state
    // maintenance pass a 100 TB table actually runs. A well-sized base
    // (2 range-clustered files over the first 40% of the key space)
    // accumulates 6 straggler commits (1%-of-keyspace slices, one tiny
    // file each — the shape every micro-batch ingest leaves behind);
    // `compactSmall` then plans ENTIRELY from the manifest's recorded
    // per-file byte sizes (no file is stat'ed), packs the 6 stragglers
    // into ONE bin committed as its own conditional snapshot, and
    // carries both base files BY REFERENCE — work is O(small files),
    // never O(table), and a conflicting concurrent writer would skip
    // the bin, not abort the pass (SmallFileCompactionSpec drives
    // those races deterministically). The requires pin the structural
    // claims (1 bin, base carried, 3 files at head); the hash proves
    // the repack was lossless. The oracle rebuilds the same key
    // domain: keys ≤ 2/5·max plus the six 1% slices above it —
    // telescoping to one contiguous range both engines floor-divide
    // identically (all values positive).
    Entry(
      "c34_small_files",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c34", d)
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val mx = ord.agg(max(col("o_orderkey"))).first().getLong(0)
        val cut = mx * 2 / 5
        graft.sources.ManifestTable.commit(s, t,
          ord.filter(col("o_orderkey") <= cut)
            .repartitionByRange(2, col("o_orderkey")),
          SaveMode.Overwrite, statsColumns = Seq("o_orderkey"))
        val baseFiles = graft.sources.ManifestTable.snapshotFiles(s, t).toSet
        val baseSizes = graft.sources.ManifestTable.snapshotSizes(s, t)
        (0 until 6).foreach { i =>
          val lo = cut + (mx - cut) * i / 100
          val hi = cut + (mx - cut) * (i + 1) / 100
          graft.sources.ManifestTable.commit(s, t,
            ord.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
              .coalesce(1))
        }
        val bins = graft.sources.ManifestTable.compactSmall(s, t,
          minFileBytes = baseSizes.values.min, maxBinBytes = 1L << 30)
        require(bins == 1, s"6 stragglers must pack into one bin, got $bins")
        val after = graft.sources.ManifestTable.snapshotFiles(s, t)
        require(baseFiles.subsetOf(after.toSet),
          "base files must carry by reference, not rewrite")
        require(after.size == baseFiles.size + 1,
          s"head must be base + one packed file, got ${after.size}")
        graft.sources.ManifestTable.read(s, t)
          .groupBy((col("o_orderkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("bucket")
      },
      Some(s"""WITH m AS (SELECT max(o_orderkey) AS mx, max(o_orderkey)*2//5 AS cut
             |           FROM orders)
             |SELECT o_orderkey % 10 AS bucket, count(*) AS cnt,
             |  ${dsumSql("o_totalprice")} AS sum_price
             |FROM orders, m
             |WHERE o_orderkey <= cut + (mx - cut)*6//100
             |GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin)
    ),

    // C35: RESTORE, judged — rollback as a NEW commit (the Delta
    // RESTORE shape, the incident-response move at 100 TB): base
    // commit → a "bad" upsert poisons the head (updates + junk
    // inserts) → `restore(v1)` flips the head back to the base image
    // BY REFERENCE in O(manifest) time — zero rows move, the requires
    // pin that the restored head's file set IS v1's and that the
    // poisoned v2 stays inspectable (rollback preserves history; the
    // bad version remains readable until expired). The hash proves
    // the restored image equals the pre-poison base exactly — the
    // oracle recomputes it from `customer` and never sees the upsert.
    Entry(
      "c35_restore",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c35", d)
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val vBase = graft.sources.ManifestTable.commit(s, t,
          cust.filter(col("c_custkey") <= 1200), SaveMode.Overwrite,
          statsColumns = Seq("c_custkey"))
        graft.sources.ManifestTable.upsert(s, t,
          cust.filter(col("c_custkey").between(600, 1800))
            .withColumn("c_acctbal", col("c_acctbal") * -1),
          Seq("c_custkey"))
        val v = graft.sources.ManifestTable.restore(s, t, vBase)
        require(v == vBase + 2, s"restore must land as a new version, got $v")
        require(graft.sources.ManifestTable.snapshotFiles(s, t, v) ==
          graft.sources.ManifestTable.snapshotFiles(s, t, vBase),
          "restore must reference the base version's files, not rewrite them")
        require(graft.sources.ManifestTable.read(s, t, vBase + 1)
          .filter(col("c_acctbal") < -0.01).count() > 0,
          "the undone version must stay inspectable")
        graft.sources.ManifestTable.read(s, t)
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal"), 2).as("bal"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
             |FROM customer WHERE c_custkey <= 1200
             |ORDER BY c_custkey NULLS FIRST""".stripMargin)
    ),

    // C36: CHECK constraints, judged — table-level invariants recorded
    // in the manifest and enforced BEFORE any data lands (the Delta
    // ALTER TABLE ADD CONSTRAINT contract): base commit →
    // addConstraint (validates every existing row in one pass) → a
    // valid append lands → a violating append AND a violating upsert
    // are both refused with nothing written (the requires pin version
    // count and data-dir cleanliness) → drop → a previously-refused
    // shape lands. The hash proves exactly the permitted rows — and
    // only those — survive the gauntlet; the oracle rebuilds the same
    // set from `orders` with the constraint as a WHERE clause on the
    // batch it gated.
    Entry(
      "c36_constraints",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c36", d)
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        // key ranges derived from the corpus (sf-independent); floors
        // match the oracle's `//`
        val mx = ord.agg(max(col("o_orderkey"))).first().getLong(0)
        val (b1, b2, b3) = (mx * 2 / 5, mx * 3 / 5, mx * 7 / 10)
        graft.sources.ManifestTable.commit(s, t,
          ord.filter(col("o_orderkey") <= b1), SaveMode.Overwrite,
          statsColumns = Seq("o_orderkey"))
        // the scratch table is session-reused: a prior aborted run may
        // have left the constraint behind — reset to a known state
        graft.sources.ManifestTable.checkConstraints(s, t).keys
          .foreach(n => graft.sources.ManifestTable.dropConstraint(s, t, n))
        graft.sources.ManifestTable.addConstraint(s, t,
          "price_positive", "o_totalprice > 0")
        graft.sources.ManifestTable.commit(s, t,
          ord.filter(col("o_orderkey") > b1 && col("o_orderkey") <= b2))
        val v3 = graft.sources.ManifestTable.currentVersion(s, t)
        val badBatch = ord.filter(col("o_orderkey") > b2 && col("o_orderkey") <= b3)
          .withColumn("o_totalprice", col("o_totalprice") * -1)
        val refusedCommit =
          try { graft.sources.ManifestTable.commit(s, t, badBatch); false }
          catch { case _: IllegalArgumentException => true }
        val refusedMerge =
          try {
            graft.sources.ManifestTable.upsert(s, t,
              badBatch, Seq("o_orderkey")); false
          } catch { case _: IllegalArgumentException => true }
        require(refusedCommit && refusedMerge,
          "violating batches must be refused on both write paths")
        require(graft.sources.ManifestTable.currentVersion(s, t) == v3,
          "refused batches must not commit a version")
        graft.sources.ManifestTable.dropConstraint(s, t, "price_positive")
        graft.sources.ManifestTable.commit(s, t,
          ord.filter(col("o_orderkey") > b2 && col("o_orderkey") <= b3))
        graft.sources.ManifestTable.read(s, t)
          .groupBy((col("o_custkey") % 7).as("bucket"))
          .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("bucket")
      },
      Some(s"""SELECT o_custkey % 7 AS bucket, count(*) AS cnt,
             |  ${dsumSql("o_totalprice")} AS sum_price
             |FROM orders
             |WHERE o_orderkey <= (SELECT max(o_orderkey)*7//10 FROM orders)
             |GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin)
    ),

    // C37: DESCRIBE HISTORY, judged — the audit-trail UX every
    // lakehouse operator lives in. Each publish records its operation
    // kind in the manifest; `history()` assembles version/op/clock/
    // file/byte/churn rows ENTIRELY from manifests — O(versions)
    // driver-side, zero data touched at any table size. The query runs
    // the full 8-op lifecycle (overwrite → append → merge → delete →
    // compact → restore → add-constraint → drop-constraint) and emits
    // the op sequence; the scratch table is session-reused, so the
    // judged output takes the LAST 8 versions renumbered 1..8 — every
    // rerun appends the identical suffix. The oracle is the literal
    // expected sequence: any mislabeled, missing, or phantom commit
    // moves the hash.
    Entry(
      "c37_history",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c37", d)
        val M = graft.sources.ManifestTable
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val mx = cust.agg(max(col("c_custkey"))).first().getLong(0)
        // session-reused scratch: clear any constraint a prior aborted
        // run left behind BEFORE the lifecycle's first version lands,
        // so the judged suffix stays contiguous
        if (M.currentVersion(s, t) >= 1)
          M.checkConstraints(s, t).keys.foreach(n => M.dropConstraint(s, t, n))
        M.commit(s, t, cust.filter(col("c_custkey") <= mx / 2)
            .repartitionByRange(2, col("c_custkey")),
          SaveMode.Overwrite, statsColumns = Seq("c_custkey"))
        val tail0 = M.currentVersion(s, t) // overwrite lands the suffix's row 1
        M.commit(s, t,
          cust.filter(col("c_custkey") > mx / 2 && col("c_custkey") <= mx * 6 / 10)
            .coalesce(1))
        M.upsert(s, t,
          cust.filter(col("c_custkey") <= mx / 10)
            .withColumn("c_acctbal", col("c_acctbal") + 1), Seq("c_custkey"))
        M.deleteWhere(s, t,
          col("c_custkey") > mx * 4 / 10 && col("c_custkey") <= mx / 2)
        M.compact(s, t, targetFiles = 2)
        M.restore(s, t, tail0)
        M.addConstraint(s, t, "key_nonneg", "c_custkey >= 0")
        M.dropConstraint(s, t, "key_nonneg")
        val h = M.history(s, t).filter(col("version") >= tail0)
        require(h.count() == 8, "the lifecycle must land exactly 8 versions")
        h.select((col("version") - lit(tail0) + 1).cast("long").as("seq"),
            col("op"))
          .orderBy("seq")
      },
      Some("""SELECT CAST(seq AS BIGINT) AS seq, op FROM (VALUES
             |  (1, 'overwrite'), (2, 'append'), (3, 'merge'),
             |  (4, 'delete'), (5, 'compact'), (6, 'restore'),
             |  (7, 'add-constraint'), (8, 'drop-constraint')) AS t(seq, op)
             |ORDER BY seq""".stripMargin)
    ),

    // C38: LAZY DELETE (merge-on-read tombstones), judged — DELETE as
    // a metadata-only commit, the shape a 100 TB GDPR/retention
    // pipeline needs (copy-on-write DELETE rewrites files immediately;
    // lazy records the predicate + its stats-pruned target files in
    // O(manifest) and lets reads filter until a background
    // materialize). The requires pin the contract: the lazy commit
    // moves ZERO data files, its tombstone targets only the files
    // whose recorded key ranges intersect the predicate, and the later
    // materializeDeletes rewrites EXACTLY the targeted files (others
    // carry by reference) and clears the set. The hash proves the
    // delete semantics end to end — reads after the lazy commit and
    // after materialization agree with the oracle's NOT-predicate.
    Entry(
      "c38_lazy_delete",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c38", d)
        val M = graft.sources.ManifestTable
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val mx = ord.agg(max(col("o_orderkey"))).first().getLong(0)
        M.commit(s, t, ord.filter(col("o_orderkey") <= mx / 2)
            .repartitionByRange(4, col("o_orderkey")),
          SaveMode.Overwrite, statsColumns = Seq("o_orderkey"))
        val before = M.snapshotFiles(s, t)
        M.deleteWhereLazy(s, t,
          col("o_orderkey") > mx / 10 && col("o_orderkey") <= mx / 5)
        require(M.snapshotFiles(s, t) == before,
          "a lazy delete must move zero data files")
        val targets = M.deleteTombstones(s, t).flatMap(_._2).toSet
        require(targets.nonEmpty && targets.size < before.size,
          s"targets must be stats-pruned: ${targets.size} of ${before.size}")
        val lazyCount = M.read(s, t).count()
        M.materializeDeletes(s, t)
        val after = M.snapshotFiles(s, t)
        require(before.toSet -- after.toSet == targets,
          "materialize must rewrite exactly the targeted files")
        require(M.deleteTombstones(s, t).isEmpty, "tombstones must clear")
        require(M.read(s, t).count() == lazyCount,
          "materialization must not change read-visible state")
        M.read(s, t)
          .groupBy((col("o_orderkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("bucket")
      },
      Some(s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
             |SELECT o_orderkey % 10 AS bucket, count(*) AS cnt,
             |  ${dsumSql("o_totalprice")} AS sum_price
             |FROM orders, m
             |WHERE o_orderkey <= mx//2
             |  AND NOT (o_orderkey > mx//10 AND o_orderkey <= mx//5)
             |GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin)
    ),

    // C39: metadata-only COLUMN EVOLUTION, judged — ALTER TABLE ADD /
    // DROP COLUMN as O(manifest) commits at any table size: addColumn
    // records the widened schema (old files read the new column as
    // null, zero data moves), a later append carries real values, and
    // dropColumn narrows the recorded schema (the bytes stay on disk,
    // no reader requests them again, stats entries stripped). The
    // requires pin zero file churn on both DDL commits; the hash
    // proves the three-way read semantics — null backfill for
    // pre-evolution rows, real values for post-evolution rows, and
    // the dropped column truly gone (its values can no longer leak
    // into the output).
    Entry(
      "c39_column_evolution",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        import org.apache.spark.sql.types.LongType
        val t = scratchDir("c39", d)
        val M = graft.sources.ManifestTable
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val mx = ord.agg(max(col("o_orderkey"))).first().getLong(0)
        M.commit(s, t, ord.filter(col("o_orderkey") <= mx / 2)
            .repartitionByRange(2, col("o_orderkey")),
          SaveMode.Overwrite, statsColumns = Seq("o_orderkey"))
        val files1 = M.snapshotFiles(s, t)
        M.addColumn(s, t, "bonus", LongType)
        require(M.snapshotFiles(s, t) == files1, "ADD COLUMN moves no data")
        M.commit(s, t,
          ord.filter(col("o_orderkey") > mx / 2 &&
              col("o_orderkey") <= mx * 6 / 10)
            .withColumn("bonus", col("o_orderkey") % 7))
        val files2 = M.snapshotFiles(s, t)
        M.dropColumn(s, t, "o_custkey")
        require(M.snapshotFiles(s, t) == files2, "DROP COLUMN moves no data")
        require(!M.read(s, t).columns.contains("o_custkey"))
        M.read(s, t)
          .groupBy((col("o_orderkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("cnt"),
            dsum(col("o_totalprice")).as("sum_price"),
            sum(coalesce(col("bonus"), lit(0L))).as("sum_bonus"))
          .orderBy("bucket")
      },
      Some(s"""WITH m AS (SELECT max(o_orderkey) AS mx FROM orders)
             |SELECT o_orderkey % 10 AS bucket, count(*) AS cnt,
             |  ${dsumSql("o_totalprice")} AS sum_price,
             |  CAST(sum(CASE WHEN o_orderkey > mx//2 THEN o_orderkey % 7
             |               ELSE 0 END) AS BIGINT) AS sum_bonus
             |FROM orders, m
             |WHERE o_orderkey <= mx*6//10
             |GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin)
    ),

    // C29: the OPTIMIZE-ZORDER lifecycle, judged end to end — ingest
    // (unclustered commit), `compact(sortBy = zkey16(part, supp),
    // statsColumns = part, supp)` (one conditional commit: z-sorted
    // larger files WITH their recorded 2-D ranges), then a 2-D box
    // filter over a `read` of the head. Z-ordered files hold tight
    // ranges on BOTH dimensions, so the box keeps only the files
    // owning its tiles (StatsSkipSpec asserts the skip count against
    // this exact layout); the hash proves the full lifecycle —
    // compaction rewrote losslessly AND pruning was sound. This is
    // c13/s6/ZOrderSkipSpec's demonstration promoted into the table
    // format's own read path.
    Entry(
      "c29_zorder_optimize",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c29", d)
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        // ingest order (by orderkey) is uncorrelated with the later
        // predicate dims — the layout OPTIMIZE exists to fix
        graft.sources.ManifestTable.commit(s, t,
          li.repartitionByRange(16, col("l_orderkey"), col("l_linenumber")),
          SaveMode.Overwrite)
        graft.sources.ManifestTable.compact(s, t, targetFiles = 16,
          sortBy = Seq(zkey16(col("l_partkey"), col("l_suppkey"))),
          statsColumns = Seq("l_partkey", "l_suppkey"))
        graft.sources.ManifestTable.read(s, t)
          .filter(col("l_partkey").between(100, 400) &&
            col("l_suppkey").between(10, 40))
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("l_quantity")), 2).as("sum_qty"))
          .orderBy("l_suppkey")
      },
      Some("""SELECT l_suppkey, count(*) AS cnt,
             |  round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem
             |WHERE l_partkey BETWEEN 100 AND 400
             |  AND l_suppkey BETWEEN 10 AND 40
             |GROUP BY l_suppkey
             |ORDER BY l_suppkey NULLS FIRST""".stripMargin)
    ),

    // C40: NULL-count data skipping, judged (r10) — the Delta nullCount
    // idiom: writeData records per-file null/non-null counts for every
    // stats column as degenerate ranges on reserved keys, and
    // readWhere's DNF extraction turns `IS NULL` / `IS NOT NULL` into
    // [1, ∞) interval constraints on them. The table is committed so
    // nullness is file-clustered (an all-null batch and a no-null
    // batch): the IS NULL read must not receive the no-null files and
    // vice versa — both asserted in-query — and the hash proves the
    // skip lost no row and leaked none. At 100 TB "find the rows still
    // missing enrichment" (IS NULL scan) touches only the files that
    // have any, not the table.
    Entry(
      "c40_null_skip",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c40", d)
        val M = graft.sources.ManifestTable
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderpriority"),
            when(col("o_orderpriority") === "1-URGENT",
              lit(null).cast("double"))
              .otherwise(col("o_totalprice")).as("opt_price"))
        M.commit(s, t, ord.filter(col("o_orderpriority") === "1-URGENT")
            .coalesce(2),
          SaveMode.Overwrite, statsColumns = Seq("opt_price"))
        M.commit(s, t, ord.filter(col("o_orderpriority") =!= "1-URGENT")
            .coalesce(2))
        val total = M.snapshotFiles(s, t).size
        val nulls = M.readWhere(s, t, col("opt_price").isNull)
        val notNulls = M.readWhere(s, t, col("opt_price").isNotNull)
        require(nulls.inputFiles.length < total,
          s"IS NULL must skip the no-null files (${nulls.inputFiles.length}/$total)")
        require(notNulls.inputFiles.length < total,
          s"IS NOT NULL must skip the all-null files (${notNulls.inputFiles.length}/$total)")
        nulls.agg(count(lit(1)).as("cnt"),
            sum(col("o_orderkey")).as("sum_key"))
          .withColumn("side", lit("null"))
          .unionByName(notNulls.agg(count(lit(1)).as("cnt"),
              sum(col("o_orderkey")).as("sum_key"))
            .withColumn("side", lit("not_null")))
          .select(col("side"), col("cnt"), col("sum_key"))
          .orderBy("side")
      },
      Some("""SELECT 'null' AS side, count(*) AS cnt,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders WHERE o_orderpriority = '1-URGENT'
             |UNION ALL
             |SELECT 'not_null' AS side, count(*) AS cnt,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
             |FROM orders WHERE o_orderpriority <> '1-URGENT'
             |ORDER BY side NULLS FIRST""".stripMargin)
    ),

    // C41: exactly-once streaming upsert INTO the manifest table,
    // judged (r10) — the batch twin of ManifestSink (foreachBatch →
    // keyed MERGE with the Delta txnAppId/txnVersion idiom; the live
    // stream + checkpoint-restart path is ManifestSinkSpec). The event
    // log plays as three micro-batches (sliced by event_id, each
    // collapsed latest-wins within itself), merged under the strict
    // CDC condition on (ms, event_id); then batch 1 is RE-DELIVERED —
    // the crash-between-commit-and-checkpoint case — and must no-op:
    // the recorded (appId, batchId) rides the same atomic publish as
    // the data. In-query requires pin one-version-per-batch and the
    // no-op replay; the hash proves the final state equals the global
    // latest event per user, i.e. replay changed nothing and
    // out-of-order batch arrival resolved by the CDC condition.
    Entry(
      "c41_stream_upsert",
      (s, d) => {
        val t = scratchDir("c41", d)
        val M = graft.sources.ManifestTable
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), unix_millis(col("ts")).as("tms"))
        val upd = Some(col("_src.tms") > col("tms") ||
          (col("_src.tms") === col("tms") &&
            col("_src.event_id") > col("event_id")))
        def batch(b: Int) = graft.streaming.ManifestSink.latestWins(
          ev.filter(col("event_id") % 3 === b),
          Seq("user_id"), Seq("tms", "event_id"))
        (0 until 3).foreach(b => M.merge(s, t, batch(b), Seq("user_id"),
          whenMatchedUpdate = upd, txn = Some(("c41-app", b.toLong))))
        val v = M.currentVersion(s, t)
        require(v == 3, s"one version per delivered batch, got $v")
        M.merge(s, t, batch(1), Seq("user_id"),
          whenMatchedUpdate = upd, txn = Some(("c41-app", 1L)))
        require(M.currentVersion(s, t) == v,
          "a replayed batch must not commit a new version")
        M.read(s, t)
          .select(col("user_id"), col("tms").as("last_ms"),
            col("event_id").as("last_event"),
            col("event_type").as("last_type"),
            round(col("value"), 2).as("val"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS last_ms,
             |  event_id AS last_event, event_type AS last_type,
             |  round(value, 2) AS val
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |    ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn FROM events)
             |WHERE rn = 1
             |ORDER BY user_id NULLS FIRST""".stripMargin)
    ),

    // C42: row-granular deletion vectors, judged (r10) — the Delta DV
    // shape: a SCATTERED delete (one key residue spread across every
    // file — the GDPR-erasure pattern predicate tombstones and eager
    // rewrites both handle badly) records per-file row-position
    // vectors in a metadata-only commit. In-query requires pin the
    // contract: the snapshot's file list is UNCHANGED (zero data
    // moved), yet every read hides the victims. The result reads the
    // vectored head twice — a full aggregate and a stats-pruned
    // readWhere slice — so the hash proves the vector filter composes
    // with data skipping and lost no row either way; the oracle
    // replays the delete as a plain WHERE.
    Entry(
      "c42_deletion_vectors",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c42", d)
        val M = graft.sources.ManifestTable
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"))
        M.commit(s, t, ord.repartitionByRange(6, col("o_orderkey")),
          SaveMode.Overwrite, statsColumns = Seq("o_orderkey"))
        val files1 = M.snapshotFiles(s, t)
        M.deleteWhereVector(s, t, col("o_custkey") % 10 === 3)
        require(M.snapshotFiles(s, t) == files1,
          "a vector delete must move zero data files")
        require(M.deleteVectors(s, t).nonEmpty, "vectors must be recorded")
        val full = M.read(s, t)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("slice", lit("all"))
        val sliced = M.readWhere(s, t, col("o_orderkey") <= 3000L)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("slice", lit("low"))
        full.unionByName(sliced)
          .select(col("slice"), col("o_orderpriority"), col("cnt"),
            col("sum_price"))
          .orderBy("slice", "o_orderpriority")
      },
      Some("""SELECT 'all' AS slice, o_orderpriority, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders WHERE o_custkey % 10 <> 3
             |GROUP BY o_orderpriority
             |UNION ALL
             |SELECT 'low' AS slice, o_orderpriority, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders WHERE o_custkey % 10 <> 3 AND o_orderkey <= 3000
             |GROUP BY o_orderpriority
             |ORDER BY slice NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    ),

    // C43: SHALLOW CLONE, judged (r10) — the Delta zero-copy clone
    // lifecycle end-to-end: the clone's v1 references the donor's
    // files BY PATH through the extern ledger (the in-query require
    // pins zero bytes under the clone's data dir right after the
    // clone), then both sides DIVERGE — the clone upserts a repriced
    // key slice (a real localizing write) and lazily deletes a
    // priority class; the donor is untouched (its file set is
    // require-pinned across every clone-side op). The result reads
    // BOTH sides, so the hash proves isolation in each direction and
    // that clone reads compose extern resolution with tombstones,
    // stats skipping, and local rewrites in one snapshot.
    Entry(
      "c43_shallow_clone",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val src = scratchDir("c43s", d)
        val dst = scratchDir("c43d", d)
        // a clone targets a FRESH path and the requires below pin
        // exact version numbers — reset both roots so the query is
        // rerun-safe within one JVM (bench runs it twice)
        def rmRf(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRf)
          f.delete(); ()
        }
        rmRf(new java.io.File(src)); rmRf(new java.io.File(dst))
        val M = graft.sources.ManifestTable
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"))
        M.commit(s, src, ord.repartitionByRange(4, col("o_orderkey")),
          SaveMode.Overwrite, statsColumns = Seq("o_orderkey"))
        val donorFiles = M.snapshotFiles(s, src)
        M.cloneShallow(s, src, dst)
        def localBytes(t: String): Long = {
          def walk(f: java.io.File): Long =
            if (f.isDirectory)
              Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
            else f.length
          val dd = new java.io.File(t, "data")
          if (dd.exists) walk(dd) else 0L
        }
        require(localBytes(dst) == 0L,
          "a shallow clone must move zero data bytes")
        // diverge the clone: a localizing upsert + a lazy delete
        M.upsert(s, dst,
          ord.filter(col("o_orderkey") <= 100L)
            .withColumn("o_totalprice", col("o_totalprice") * 2),
          Seq("o_orderkey"))
        M.deleteWhereLazy(s, dst, col("o_orderpriority") === "1-URGENT")
        require(M.snapshotFiles(s, src) == donorFiles &&
            M.currentVersion(s, src) == 1,
          "clone-side writes must never touch the donor")
        require(localBytes(dst) > 0L,
          "the clone's upsert must write under the clone's own data dir")
        val cloneSide = M.read(s, dst)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("side", lit("clone"))
        val donorSide = M.read(s, src)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("side", lit("donor"))
        cloneSide.unionByName(donorSide)
          .select(col("side"), col("o_orderpriority"), col("cnt"),
            col("sum_price"))
          .orderBy("side", "o_orderpriority")
      },
      Some("""SELECT 'clone' AS side, o_orderpriority, count(*) AS cnt,
             |  round(sum(CASE WHEN o_orderkey <= 100 THEN o_totalprice * 2
             |                 ELSE o_totalprice END), 2) AS sum_price
             |FROM orders WHERE o_orderpriority <> '1-URGENT'
             |GROUP BY o_orderpriority
             |UNION ALL
             |SELECT 'donor' AS side, o_orderpriority, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY side NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    ),

    // C44: per-file BLOOM FILTER indexes, judged (r10) — the Delta
    // bloom-filter-index / Parquet-bloom shape, end to end: the data
    // lands HASH-SCATTERED (every file spans the whole key space, so
    // the min/max stats that carry c25/c30 prune NOTHING here), the
    // table configures blooms on a long key and a derived
    // high-cardinality string, and one OPTIMIZE rewrite indexes the
    // history (writeData reads the config from the head — every later
    // writer indexes its files with zero call-site cooperation). The
    // point lookup then prunes through per-uuid sidecar bit sets — the
    // in-query require pins ≤ 1/4 of the files scanned where range
    // stats would scan all — and the hash proves the pruned read lost
    // nothing (the oracle replays both lookups as plain WHEREs).
    Entry(
      "c44_bloom_skip",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c44", d)
        val M = graft.sources.ManifestTable
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"),
            concat(lit("cust-"), col("o_custkey")).as("cust_tag"))
        M.commit(s, t, ord.repartition(16, col("o_orderkey")),
          SaveMode.Overwrite, statsColumns = Seq("o_orderkey"))
        M.addBloom(s, t, Seq("o_orderkey", "cust_tag"))
        M.compact(s, t, targetFiles = 16)
        val total = M.snapshotFiles(s, t).size
        val key = ord.agg(max("o_orderkey")).head.getLong(0)
        val tag = ord.agg(min("cust_tag")).head.getString(0)
        val keyHit = M.readWhere(s, t, col("o_orderkey") === key)
        require(keyHit.inputFiles.length <= math.max(3, total / 4),
          s"bloom must prune the point lookup " +
            s"(${keyHit.inputFiles.length}/$total files)")
        val tagHit = M.readWhere(s, t, col("cust_tag") === tag)
        keyHit.agg(count(lit(1)).as("cnt"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("side", lit("key"))
          .unionByName(tagHit.agg(count(lit(1)).as("cnt"),
              round(sum(col("o_totalprice")), 2).as("sum_price"))
            .withColumn("side", lit("cust")))
          .select(col("side"), col("cnt"), col("sum_price"))
          .orderBy("side")
      },
      Some("""SELECT 'cust' AS side, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders
             |WHERE 'cust-' || CAST(o_custkey AS VARCHAR) =
             |  (SELECT min('cust-' || CAST(o_custkey AS VARCHAR)) FROM orders)
             |UNION ALL
             |SELECT 'key' AS side, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders WHERE o_orderkey = (SELECT max(o_orderkey) FROM orders)
             |ORDER BY side NULLS FIRST""".stripMargin)
    ),

    // C45: metadata-only count(*), judged (r10) — the Delta
    // numRecords / metadata-only-query optimization across the whole
    // delete lifecycle: per-file row counts recorded by the write-time
    // stats pass answer COUNT from one manifest parse (stage 'all'),
    // stay EXACT under a metadata-only deletion-vector delete (the
    // hidden ordinals subtract, stage 'after_dv'), REFUSE — None,
    // never a wrong number — while a predicate tombstone's hidden-row
    // count is unknown (in-query require), and recover once
    // materializeDeletes rewrites the targets (stage 'final'). Every
    // cnt in the result came from ManifestTable.rowCount — zero data
    // files read — and the oracle recomputes all three from the raw
    // rows, so the hash proves metadata arithmetic equals the scan.
    Entry(
      "c45_metadata_count",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c45", d)
        val M = graft.sources.ManifestTable
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        M.commit(s, t, ord.repartitionByRange(6, col("o_orderkey")),
          SaveMode.Overwrite, statsColumns = Seq("o_orderkey"))
        val all = M.rowCount(s, t)
        require(all.nonEmpty, "a stats-tracked table must count from metadata")
        M.deleteWhereVector(s, t, col("o_custkey") % 10 === 3)
        val afterDv = M.rowCount(s, t)
        require(afterDv.nonEmpty, "deletion vectors subtract exactly")
        M.deleteWhereLazy(s, t, col("o_orderpriority") === "1-URGENT")
        require(M.rowCount(s, t).isEmpty,
          "a pending tombstone must refuse the metadata count")
        M.materializeDeletes(s, t)
        val fin = M.rowCount(s, t)
        require(fin.nonEmpty, "materialized deletes restore the count")
        import s.implicits._
        Seq(("all", all.get), ("after_dv", afterDv.get), ("final", fin.get))
          .toDF("stage", "cnt").orderBy("stage")
      },
      Some("""SELECT 'after_dv' AS stage, count(*) AS cnt
             |FROM orders WHERE o_custkey % 10 <> 3
             |UNION ALL
             |SELECT 'all' AS stage, count(*) AS cnt FROM orders
             |UNION ALL
             |SELECT 'final' AS stage, count(*) AS cnt
             |FROM orders
             |WHERE o_custkey % 10 <> 3 AND o_orderpriority <> '1-URGENT'
             |ORDER BY stage NULLS FIRST""".stripMargin)
    ),

    // C46: HIDDEN PARTITIONING, judged (r10) — Iceberg's partition
    // transforms end to end: the table lays out by `bucket(16,
    // o_custkey)`, a DERIVED column that is recorded in the manifest,
    // recomputed by every writer, and NEVER surfaces on a read (the
    // in-query require pins the read schema to the source columns
    // alone). A customer point lookup prunes to ~one bucket through
    // the transform — the predicate names only o_custkey; the layout
    // column stays invisible — which is the operational win: the
    // layout can change without breaking a single query. The result
    // reads the bucketed table twice (the pruned lookup and a full
    // aggregate), so the hash proves transform pruning lost nothing
    // and the hidden column never polluted the output.
    Entry(
      "c46_hidden_partitioning",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c46", d)
        val M = graft.sources.ManifestTable
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"))
        // co-locate rows with their bucket before the write so each
        // bucket dir gets ~one file (the writer a real pipeline would
        // use); the expression mirrors the transform definition
        M.commit(s, t,
          ord.repartition(16, pmod(xxhash64(col("o_custkey")), lit(16))),
          SaveMode.Overwrite, partitionBy = Seq("bucket(16,o_custkey)"),
          statsColumns = Seq("o_orderkey"))
        val visible = M.read(s, t).columns.toSeq.sorted
        require(visible ==
            Seq("o_custkey", "o_orderkey", "o_orderpriority", "o_totalprice"),
          s"the derived layout column must stay hidden, saw $visible")
        val total = M.snapshotFiles(s, t).size
        val ck = ord.agg(min("o_custkey")).head.getLong(0)
        val hit = M.readWhere(s, t, col("o_custkey") === ck)
        require(hit.inputFiles.length <= math.max(3, total / 4),
          s"bucket pruning through the hidden transform " +
            s"(${hit.inputFiles.length}/$total files)")
        hit.agg(count(lit(1)).as("cnt"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .withColumn("side", lit("cust"))
          .unionByName(M.read(s, t)
            .agg(count(lit(1)).as("cnt"),
              round(sum(col("o_totalprice")), 2).as("sum_price"))
            .withColumn("side", lit("all")))
          .select(col("side"), col("cnt"), col("sum_price"))
          .orderBy("side")
      },
      Some("""SELECT 'all' AS side, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders
             |UNION ALL
             |SELECT 'cust' AS side, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders WHERE o_custkey = (SELECT min(o_custkey) FROM orders)
             |ORDER BY side NULLS FIRST""".stripMargin)
    ),

    // C47: COPY INTO, judged (r10) — idempotent landing-zone
    // ingestion, the Delta COPY INTO / Iceberg add_files shape: two
    // landing batches arrive at different times; each copyInto
    // consumes exactly the files it has not seen (in-query requires
    // pin one version per NEW batch and a strict no-op on the exact
    // re-run — the crash-and-rerun case every ingestion pipeline
    // hits), with the consumed-source ledger riding the same atomic
    // publish as the data, so memory survives compaction and expiry.
    // The hash proves the final table equals the landing zone's union
    // with no row ingested twice; the metadata-only count cross-checks
    // the row accounting without a scan.
    Entry(
      "c47_copy_into",
      (s, d) => {
        val t = scratchDir("c47t", d)
        val landing = scratchDir("c47l", d)
        // rerun-safe: re-landed files get new mtimes and would
        // re-ingest into the old table — reset both roots
        def rmRf(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRf)
          f.delete(); ()
        }
        rmRf(new java.io.File(t)); rmRf(new java.io.File(landing))
        val M = graft.sources.ManifestTable
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"))
        ord.filter(col("o_orderkey") % 2 === 0).coalesce(2)
          .write.parquet(s"$landing/batch1")
        val v1 = M.copyInto(s, t, s"$landing/*",
          statsColumns = Seq("o_orderkey"))
        require(v1 == 1, s"first ingest commits v1, got $v1")
        require(M.copyInto(s, t, s"$landing/*") == 1,
          "an exact re-run must be a no-op")
        ord.filter(col("o_orderkey") % 2 === 1).coalesce(2)
          .write.parquet(s"$landing/batch2")
        val v2 = M.copyInto(s, t, s"$landing/*")
        require(v2 == 2, s"the new batch alone commits v2, got $v2")
        require(M.rowCount(s, t).contains(ord.count()),
          "metadata count must equal the landing union")
        M.read(s, t)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority NULLS FIRST""".stripMargin)
    ),

    // C48: calendar-granularity hidden partitioning, judged (r10) —
    // the other half of c46's transform family: the table lays out by
    // months(o_orderdate) (a TIMESTAMP_NTZ source — the round's NTZ
    // seconds-domain fix is on this exact path), the derived month
    // column never surfaces, and a plain date-range predicate prunes
    // whole month partitions through the monotone calendar mapping —
    // the in-query require pins that a ~1.6-year slice of a ~6.6-year
    // table drops most files while the hash proves it lost no row.
    // Time travel composes: the result also reads the PRE-layout
    // version (v1, flat) and both images hash-match the same oracle
    // rows, proving the layout change was invisible to queries — the
    // operational promise hidden partitioning exists for.
    Entry(
      "c48_calendar_partitioning",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c48", d)
        val M = graft.sources.ManifestTable
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        M.commit(s, t, ord.coalesce(4), SaveMode.Overwrite,
          statsColumns = Seq("o_orderkey")) // v1: flat layout
        M.commit(s, t,
          ord.repartition(24, year(col("o_orderdate")) * 12
            + month(col("o_orderdate"))),
          SaveMode.Overwrite, partitionBy = Seq("months(o_orderdate)"),
          statsColumns = Seq("o_orderkey")) // v2: month layout
        require(!M.read(s, t).columns.contains("o_orderdate_month"),
          "the derived month column must stay hidden")
        val total = M.snapshotFiles(s, t).size
        val cut = lit("2000-01-01").cast(
          ord.schema("o_orderdate").dataType)
        val hit = M.readWhere(s, t, col("o_orderdate") >= cut)
        require(hit.inputFiles.length * 2 < total,
          s"month pruning through the hidden transform " +
            s"(${hit.inputFiles.length}/$total files)")
        def agg(df: org.apache.spark.sql.DataFrame, side: String) =
          df.filter(col("o_orderdate") >= cut)
            .agg(count(lit(1)).as("cnt"),
              round(sum(col("o_totalprice")), 2).as("sum_price"))
            .withColumn("side", lit(side))
        agg(hit, "monthly").unionByName(agg(M.read(s, t, 1), "flat"))
          .select(col("side"), col("cnt"), col("sum_price"))
          .orderBy("side")
      },
      Some("""SELECT 'flat' AS side, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
             |UNION ALL
             |SELECT 'monthly' AS side, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
             |ORDER BY side NULLS FIRST""".stripMargin)
    ),

    // C49: metadata-only TYPE WIDENING, judged (r12) — the Delta
    // type-widening / Iceberg `int → long` evolution shape. v1 lands
    // the even orders with an int32 key; widenColumn(int→long) is ONE
    // manifest commit (the in-query requires pin zero files moved and
    // ranges carried verbatim); v3 appends the odd orders shifted
    // past int32's ceiling — values the original type could not hold.
    // One read spans both eras (Spark's parquet reader up-casts the
    // old int32 pages under the recorded long schema), the hash
    // proves era-spanning arithmetic is exact, and a pre-widen-era
    // point lookup must still prune the new-era files through the
    // UNTOUCHED old stats — at 100 TB this is a key outgrowing int32
    // costing one root write instead of a full rewrite.
    Entry(
      "c49_type_widening",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        import org.apache.spark.sql.types.LongType
        val t = scratchDir("c49", d)
        val M = graft.sources.ManifestTable
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        M.commit(s, t,
          ord.filter(col("o_orderkey") % 2 === 0)
            .withColumn("o_orderkey", col("o_orderkey").cast("int"))
            .repartitionByRange(4, col("o_orderkey")),
          SaveMode.Overwrite, statsColumns = Seq("o_orderkey"))
        val filesBefore = M.snapshotFiles(s, t)
        val statsBefore = M.snapshotStats(s, t)
        M.widenColumn(s, t, "o_orderkey", LongType)
        require(M.snapshotFiles(s, t) == filesBefore,
          "widening must be metadata-only — zero data files move")
        require(M.snapshotStats(s, t) == statsBefore,
          "widening is value-preserving — recorded ranges carry verbatim")
        val shift = 10_000_000_000L // beyond int32, unreachable pre-widen
        M.commit(s, t, ord.filter(col("o_orderkey") % 2 === 1)
          .withColumn("o_orderkey", col("o_orderkey") + shift))
        // old stats still prune: a pre-widen-era key keeps the shifted
        // new-era files out of the scan
        val minEven = ord.filter(col("o_orderkey") % 2 === 0)
          .agg(min("o_orderkey")).head.getLong(0)
        val hit = M.readWhere(s, t, col("o_orderkey") === minEven)
        require(hit.inputFiles.length < M.snapshotFiles(s, t).size,
          "old-era ranges must keep pruning after the widen")
        M.read(s, t)
          .withColumn("era",
            when(col("o_orderkey") > lit(shift), "widened").otherwise("narrow"))
          .groupBy("era", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            max(col("o_orderkey")).as("max_key"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .orderBy("era", "o_orderpriority")
      },
      Some("""SELECT era, o_orderpriority, count(*) AS cnt,
             |  max(k) AS max_key, round(sum(o_totalprice), 2) AS sum_price
             |FROM (
             |  SELECT 'narrow' AS era, o_orderkey AS k, o_totalprice,
             |    o_orderpriority
             |  FROM orders WHERE o_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT 'widened' AS era, o_orderkey + 10000000000 AS k,
             |    o_totalprice, o_orderpriority
             |  FROM orders WHERE o_orderkey % 2 = 1
             |)
             |GROUP BY era, o_orderpriority
             |ORDER BY era NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    ),

    // C50: the EVERYTHING-COMPOSED maintenance lifecycle, judged
    // (r12) — every lakehouse mechanism the engine ships, exercised on
    // ONE table in the order a production pipeline hits them: a
    // hidden-partitioned (bucket(8, o_custkey)), bloom-indexed
    // (o_orderkey), SEGMENTED table ingests two landing batches via
    // idempotent COPY INTO, takes a metadata-only deletion-vector
    // delete, bin-packs its small files (compactSmall), and expires
    // its history — and every composed invariant is require-pinned
    // mid-query: the hidden layout survives the rewrite, bloom
    // pruning still fires on the packed files, the ingest ledger
    // rides through compaction AND expiry (the exact re-run stays a
    // no-op), the DV'd rows stay deleted, and the manifest stays
    // segmented throughout. The hash proves the surviving table
    // equals the landing union minus the deleted keys — no mechanism
    // lost or resurrected a row while composing with the other five.
    Entry(
      "c50_maintenance_lifecycle",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c50t", d)
        val landing = scratchDir("c50l", d)
        // rerun-safe, like c47: re-landed files get new mtimes and
        // would re-ingest into a stale table — reset both roots
        def rmRf(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rmRf)
          f.delete(); ()
        }
        rmRf(new java.io.File(t)); rmRf(new java.io.File(landing))
        val M = graft.sources.ManifestTable
        val conf = s.sparkContext.hadoopConfiguration
        val prevSeg = Option(conf.get(M.SegmentFilesKey))
        conf.setInt(M.SegmentFilesKey, 8) // force the segmented regime
        try {
          val ord = Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"), col("o_orderpriority"))
          M.commit(s, t, ord.limit(0), SaveMode.Overwrite,
            partitionBy = Seq("bucket(8,o_custkey)"),
            statsColumns = Seq("o_orderkey"))
          M.addBloom(s, t, Seq("o_orderkey"))
          ord.filter(col("o_orderkey") % 2 === 0).coalesce(2)
            .write.parquet(s"$landing/batch1")
          M.copyInto(s, t, s"$landing/*")
          ord.filter(col("o_orderkey") % 2 === 1).coalesce(2)
            .write.parquet(s"$landing/batch2")
          M.copyInto(s, t, s"$landing/*")
          require(M.snapshotSegments(s, t).nonEmpty,
            "the bucketed ingest must cross into the segmented regime")
          require(M.rowCount(s, t).contains(ord.count()),
            "two ingests must equal the landing union exactly once")
          // metadata-only scattered delete: every 97th key, via DVs
          M.deleteWhereVector(s, t, col("o_orderkey") % 97 === 0)
          val before = M.snapshotFiles(s, t)
          M.compactSmall(s, t) // every sf-test file is sub-threshold
          val files = M.snapshotFiles(s, t)
          require(files.size < before.size,
            s"bin-packing must collapse files (${before.size} -> ${files.size})")
          require(files.forall(_.contains("o_custkey_bucket=")),
            "the hidden bucket layout must survive the rewrite")
          M.expire(s, t, keepLast = 1)
          // ledger carriage: the exact re-run is STILL a no-op after
          // compaction and expiry rewrote/reclaimed everything else
          val head = M.currentVersion(s, t)
          require(M.copyInto(s, t, s"$landing/*") == head,
            "the ingest memory must survive compaction and expiry")
          // bloom survival: the packed files were re-indexed at the
          // rewrite, so a point lookup prunes with no further OPTIMIZE
          val probeKey = ord.filter(col("o_orderkey") % 97 =!= 0)
            .agg(min("o_orderkey")).head.getLong(0)
          val hit = M.readWhere(s, t, col("o_orderkey") === probeKey)
          require(hit.inputFiles.length < M.snapshotFiles(s, t).size,
            "bloom pruning must fire on the compacted files")
          M.read(s, t)
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("cnt"),
              round(sum(col("o_totalprice")), 2).as("sum_price"))
            .orderBy("o_orderpriority")
        } finally prevSeg match {
          case Some(v) => conf.set(M.SegmentFilesKey, v)
          case None => conf.unset(M.SegmentFilesKey)
        }
      },
      Some("""SELECT o_orderpriority, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders WHERE o_orderkey % 97 <> 0
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority NULLS FIRST""".stripMargin)
    ),

    // C51: COLUMN MAPPING, judged (r12) — rename without rewrite, the
    // Delta columnMapping idiom: the recorded schema carries each
    // column's stable PHYSICAL name in field metadata, so
    // renameColumn(o_totalprice → price) is ONE root write (the
    // in-query require pins zero files moved) and files of BOTH eras
    // — written before and after the rename — read correctly under
    // the new logical name in one scan. Time travel still shows v1
    // under its own spelling (require), the root stamps the `colmap`
    // protocol feature so a mapping-ignorant engine era refuses
    // instead of silently nulling the renamed column (require), and
    // stats keys re-spell with the rename so pruning keeps firing on
    // the SURVIVING spelling (require). The hash proves the rename
    // was invisible to the data: era-spanning aggregates equal the
    // raw table's.
    Entry(
      "c51_column_mapping",
      (s, d) => {
        import org.apache.spark.sql.SaveMode
        val t = scratchDir("c51", d)
        val M = graft.sources.ManifestTable
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        M.commit(s, t,
          ord.filter(col("o_orderkey") % 2 === 0)
            .repartitionByRange(4, col("o_orderkey")),
          SaveMode.Overwrite, statsColumns = Seq("o_orderkey"))
        val filesBefore = M.snapshotFiles(s, t)
        M.renameColumn(s, t, "o_totalprice", "price")
        require(M.snapshotFiles(s, t) == filesBefore,
          "rename must be metadata-only — zero data files move")
        require(M.tableFeatures(s, t).contains("colmap"),
          "a mapping-bearing root must stamp the colmap protocol feature")
        require(M.read(s, t, 1).columns.contains("o_totalprice"),
          "time travel reads the pre-rename version under ITS spelling")
        M.commit(s, t, ord.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("o_totalprice", "price"))
        // stats still prune through the (unrenamed) key column
        val minKey = ord.agg(min("o_orderkey")).head.getLong(0)
        val hit = M.readWhere(s, t, col("o_orderkey") === minKey)
        require(hit.inputFiles.length < M.snapshotFiles(s, t).size,
          "stats pruning must survive the rename commit")
        M.read(s, t)
          .withColumn("era", when(col("o_orderkey") % 2 === 0, "pre_rename")
            .otherwise("post_rename"))
          .groupBy("era", "o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("price")), 2).as("sum_price"))
          .orderBy("era", "o_orderpriority")
      },
      Some("""SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'pre_rename'
             |    ELSE 'post_rename' END AS era,
             |  o_orderpriority, count(*) AS cnt,
             |  round(sum(o_totalprice), 2) AS sum_price
             |FROM orders
             |GROUP BY era, o_orderpriority
             |ORDER BY era NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    )
  )
}
