package graft.functions

import org.apache.spark.sql.functions._
import graft.QueryRegistry._
import graft.sources.Tables

/** Scalar/array/map function families — SURVEY.md §2.C F1–F9. Covers the
  * reference's A7 (ts→timestamp UDF — here the built-in timestamp_millis,
  * with the UDF *mechanism* demoed in F7) and A8 (date parts for the time
  * dim). Everything except F7/F8 stays on codegen'd built-ins.
  */
object FunctionQueries {

  val entries: Seq[Entry] = Seq(
    // F1: string functions over the documents corpus.
    Entry(
      "f1_strings",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            upper(col("lang")).as("lang_up"),
            length(col("text")).as("text_len"),
            substring(col("text"), 1, 20).as("head20"),
            concat_ws("|", col("lang"), col("source")).as("tag"),
            regexp_replace(col("source"), "[0-9]+", "#").as("src_norm"),
            regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
            size(split(col("text"), " ")).as("n_tokens"),
            lpad(col("lang"), 5, "_").as("lang_pad"),
            trim(lit("  x  ")).as("trimmed"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, upper(lang) AS lang_up, length(text) AS text_len,
             |substring(text, 1, 20) AS head20,
             |concat_ws('|', lang, source) AS tag,
             |regexp_replace(source, '[0-9]+', '#', 'g') AS src_norm,
             |regexp_extract(text, '([a-z]+)', 1) AS first_word,
             |CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             |lpad(lang, 5, '_') AS lang_pad,
             |trim('  x  ') AS trimmed
             |FROM documents ORDER BY doc_id NULLS FIRST""".stripMargin)
    ),

    // F1b: second string family — translate/reverse/repeat/split_part,
    // prefix/suffix/containment predicates, bounded add_months.
    Entry(
      "f1b_strings_extra",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            translate(col("lang"), "aeiou", "01234").as("lang_tr"),
            reverse(col("source")).as("src_rev"),
            repeat(col("lang"), 2).as("lang2"),
            expr("split_part(source, 'c', 2)").as("src_num"),
            expr("left(text, 5)").as("head5"),
            expr("right(text, 5)").as("tail5"),
            col("source").startsWith("src1").as("is_src1x"),
            col("source").endsWith("0").as("ends0"),
            col("text").contains("the").as("has_the"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |translate(lang, 'aeiou', '01234') AS lang_tr,
             |reverse(source) AS src_rev,
             |repeat(lang, 2) AS lang2,
             |split_part(source, 'c', 2) AS src_num,
             |left(text, 5) AS head5,
             |right(text, 5) AS tail5,
             |starts_with(source, 'src1') AS is_src1x,
             |ends_with(source, '0') AS ends0,
             |contains(text, 'the') AS has_the
             |FROM documents ORDER BY doc_id NULLS FIRST""".stripMargin)
    ),

    // F2: date/time parts (reference A8 builds the `time` dim this way)
    // plus the epoch-millis roundtrip that replaces the reference's A7 UDF.
    // o_orderdate is parquet TIMESTAMP_NTZ — cast to (UTC-session)
    // TIMESTAMP for the epoch functions; timestamp-valued outputs are
    // emitted as epoch millis so both engines compare plain longs.
    Entry(
      "f2_datetime",
      (s, d) => {
        val ots = col("o_orderdate").cast("timestamp")
        Tables.orders(s, d)
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).as("y"),
            month(col("o_orderdate")).as("m"),
            dayofmonth(col("o_orderdate")).as("dom"),
            (dayofweek(col("o_orderdate"))).as("dow_sun1"),
            unix_millis(date_trunc("month", ots)).as("month_start_ms"),
            date_add(col("o_orderdate").cast("date"), 30).cast("string").as("plus30"),
            unix_millis(ots).as("epoch_ms"),
            unix_millis(timestamp_millis(unix_millis(ots))).as("roundtrip_ms"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
             |dayofmonth(o_orderdate) AS dom,
             |CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow_sun1,
             |epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms,
             |CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
             |epoch_ms(o_orderdate) AS epoch_ms,
             |epoch_ms(o_orderdate) AS roundtrip_ms
             |FROM orders ORDER BY o_orderkey NULLS FIRST""".stripMargin)
    ),

    // F2b: calendar functions beyond the reference's time-dim set —
    // quarter/dayofyear/ISO week, last_day, ISO-Monday week truncation.
    // (months_between deliberately omitted: no DuckDB twin with
    // fractional-month semantics.)
    Entry(
      "f2b_calendar",
      (s, d) =>
        Tables.orders(s, d)
          .select(
            col("o_orderkey"),
            quarter(col("o_orderdate")).as("q"),
            dayofyear(col("o_orderdate")).as("doy"),
            weekofyear(col("o_orderdate")).as("iso_week"),
            last_day(col("o_orderdate").cast("date")).cast("string").as("month_end"),
            unix_millis(date_trunc("week", col("o_orderdate").cast("timestamp"))).as("week_start_ms"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |CAST(quarter(o_orderdate) AS INT) AS q,
             |CAST(dayofyear(o_orderdate) AS INT) AS doy,
             |CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
             |CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
             |epoch_ms(date_trunc('week', o_orderdate)) AS week_start_ms
             |FROM orders ORDER BY o_orderkey NULLS FIRST""".stripMargin)
    ),

    // F3: math functions. ln/pow float results rounded to 6 (libm
    // implementations may differ in the last ulp across engines).
    Entry(
      "f3_math",
      (s, d) =>
        // spread (r19): decouples the math projection and the global
        // sort's sample pass from the single-row-group scan — the
        // parquet decode then runs once (feeding the exchange) instead
        // of twice serially (sort sampling re-executed the scan)
        // sort the 5 SOURCE columns, derive the 8 math columns AFTER
        // (r19, guide §2 "shuffle fewer bytes": a Project above a Sort
        // preserves ordering, Catalyst only pushes projections the
        // other way — this halves the range-exchange and sort width;
        // the math itself runs once either way). (l_orderkey,
        // l_linenumber) is not unique; the other three source columns
        // complete a total order, so the dump's row order is reproducible
        spread(Tables.lineitem(s, d))
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"), col("l_discount"), col("l_quantity"))
          .orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_quantity")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(col("l_extendedprice"), 1).as("r1"),
            abs(col("l_discount") - 0.05).as("adiff"),
            ceil(col("l_quantity") / 7.0).as("c7"),
            floor(col("l_quantity") / 7.0).as("f7"),
            round(pow(col("l_quantity"), 1.5), 6).as("p15"),
            round(log(col("l_extendedprice")), 6).as("ln_price"),
            round(sqrt(col("l_quantity")), 6).as("sqrt_qty"),
            pmod(col("l_orderkey"), lit(7)).as("pm7")),
      Some("""SELECT l_orderkey, l_linenumber,
             |round(l_extendedprice, 1) AS r1,
             |abs(l_discount - 0.05) AS adiff,
             |CAST(ceil(l_quantity / 7.0) AS BIGINT) AS c7,
             |CAST(floor(l_quantity / 7.0) AS BIGINT) AS f7,
             |round(pow(l_quantity, 1.5), 6) AS p15,
             |round(ln(l_extendedprice), 6) AS ln_price,
             |round(sqrt(l_quantity), 6) AS sqrt_qty,
             |((l_orderkey % 7) + 7) % 7 AS pm7
             |FROM lineitem ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
             |l_extendedprice NULLS FIRST, l_discount NULLS FIRST, l_quantity NULLS FIRST""".stripMargin)
    ),

    // F4: conditional / null handling.
    Entry(
      "f4_conditional",
      (s, d) =>
        Tables.customer(s, d)
          .select(
            col("c_custkey"),
            when(col("c_acctbal") < 0, "debt")
              .when(col("c_acctbal") < 5000, "mid")
              .otherwise("rich").as("bal_band"),
            coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("(bldg)")).as("seg"),
            greatest(col("c_acctbal"), lit(0.0)).as("bal_pos"),
            least(col("c_nationkey"), lit(10)).as("nk_cap"))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
             |CASE WHEN c_acctbal < 0 THEN 'debt' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'rich' END AS bal_band,
             |coalesce(nullif(c_mktsegment, 'BUILDING'), '(bldg)') AS seg,
             |greatest(c_acctbal, 0.0) AS bal_pos,
             |least(c_nationkey, 10) AS nk_cap
             |FROM customer ORDER BY c_custkey NULLS FIRST""".stripMargin)
    ),

    // F5: array / higher-order functions over the embedding vectors.
    Entry(
      "f5_arrays",
      (s, d) =>
        Tables.embeddings(s, d)
          .select(
            col("vec_id"),
            size(col("embedding")).as("dim"),
            round(element_at(col("embedding"), 1).cast("double"), 6).as("e1"),
            round(
              aggregate(
                transform(slice(col("embedding"), 1, 8), x => x.cast("double")),
                lit(0.0), (a, x) => a + x),
              6).as("head8_sum"),
            // sorted3 elements emitted as scalars: the driver's pandas
            // hash-compare cannot sort/hash a raw array column
            // (ADVICE.md r01 — f5 was effectively unverified).
            round(element_at(sort_array(slice(col("embedding"), 1, 3)), 1).cast("double"), 6).as("s3a"),
            round(element_at(sort_array(slice(col("embedding"), 1, 3)), 2).cast("double"), 6).as("s3b"),
            round(element_at(sort_array(slice(col("embedding"), 1, 3)), 3).cast("double"), 6).as("s3c"),
            aggregate(sequence(lit(1), col("label") + 1), lit(0L), (a, x) => a + x).as("tri"),
            array_contains(sequence(lit(0), lit(4)), col("label")).as("lab_lt5"))
          .orderBy("vec_id"),
      Some("""SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
             |round(CAST(embedding[1] AS DOUBLE), 6) AS e1,
             |round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6) AS head8_sum,
             |round(CAST(list_sort(embedding[1:3])[1] AS DOUBLE), 6) AS s3a,
             |round(CAST(list_sort(embedding[1:3])[2] AS DOUBLE), 6) AS s3b,
             |round(CAST(list_sort(embedding[1:3])[3] AS DOUBLE), 6) AS s3c,
             |CAST(list_sum(range(1, label + 2)) AS BIGINT) AS tri,
             |label <= 4 AS lab_lt5
             |FROM embeddings ORDER BY vec_id NULLS FIRST""".stripMargin)
    ),

    // F6: map/struct construction and access via from_json on events.props.
    Entry(
      "f6_map_struct",
      (s, d) =>
        Tables.events(s, d)
          .withColumn("m", from_json(col("props"), lit("map<string,int>")))
          .select(
            col("event_id"),
            element_at(col("m"), "k").as("k_val"),
            array_join(map_keys(col("m")), ",").as("keys"),
            struct(col("event_type").as("t"), col("user_id").as("u")).getField("t").as("st_type"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             |CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
             |array_to_string(json_keys(props), ',') AS keys,
             |event_type AS st_type
             |FROM events ORDER BY event_id NULLS FIRST""".stripMargin)
    ),

    // F10: hash digests + bitwise ops (join-key engineering, sharding,
    // signature building blocks for the dedup family).
    Entry(
      "f10_hash_bitwise",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            md5(col("text")).as("h_md5"),
            sha2(col("text"), 256).as("h_sha256"),
            col("doc_id").bitwiseAND(lit(255L)).as("band_and"),
            col("doc_id").bitwiseOR(lit(16L)).as("b_or"),
            col("doc_id").bitwiseXOR(lit(21L)).as("b_xor"),
            shiftleft(col("doc_id"), 3).as("b_shl"),
            shiftright(col("doc_id"), 2).as("b_shr"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256,
             |doc_id & 255 AS band_and, doc_id | 16 AS b_or,
             |xor(doc_id, 21) AS b_xor, doc_id << 3 AS b_shl, doc_id >> 2 AS b_shr
             |FROM documents ORDER BY doc_id NULLS FIRST""".stripMargin)
    ),

    // F6b: from_json with an explicit STRUCT schema (the typed,
    // 100 TB-preferred alternative to F6's map inference) + named_struct
    // round-trip through a struct-typed column.
    Entry(
      "f6b_json_struct",
      (s, d) =>
        Tables.events(s, d)
          .withColumn("p", from_json(col("props"), lit("k INT")))
          .select(
            col("event_id"),
            col("p.k").as("k_int"),
            struct(col("event_type").as("t"), col("user_id").as("u")).as("st"))
          .select(col("event_id"), col("k_int"),
            col("st.t").as("st_type"), col("st.u").as("st_user"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             |CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
             |event_type AS st_type, user_id AS st_user
             |FROM events ORDER BY event_id NULLS FIRST""".stripMargin)
    ),

    // F7: the scala UDF *mechanism* (reference A7) — long-word counter.
    // Kept off the relational hot paths; everything else is built-ins.
    Entry(
      "f7_udf",
      (s, d) => {
        val longWords = udf((text: String) =>
          if (text == null) 0 else text.split(" ").count(_.length > 4))
        Tables.documents(s, d)
          .select(col("doc_id"), longWords(col("text")).as("n_long_words"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 4)) AS INT) AS n_long_words
             |FROM documents ORDER BY doc_id NULLS FIRST""".stripMargin)
    ),

    // F8: typed Aggregator UDAF — per-label centroid of the embeddings.
    // Oracle checks two dimensions via 1-indexed element avg.
    Entry(
      "f8_udaf_centroid",
      (s, d) =>
        Tables.embeddings(s, d)
          .groupBy("label")
          .agg(VectorOps.centroid(col("embedding")).as("c"), count(lit(1)).as("n"))
          .select(
            col("label"),
            round(element_at(col("c"), 1), 6).as("c1"),
            round(element_at(col("c"), 2), 6).as("c2"),
            col("n"))
          .orderBy("label"),
      Some("""SELECT label, round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS c1,
             |round(avg(CAST(embedding[2] AS DOUBLE)), 6) AS c2, count(*) AS n
             |FROM embeddings GROUP BY label ORDER BY label NULLS FIRST""".stripMargin)
    ),

    // F11: ANSI-safe arithmetic — Spark 4 runs ANSI mode by default, so
    // pipeline code uses try_* to get NULL-on-error instead of job
    // aborts (the robustness posture for dirty data at 100 TB).
    Entry(
      "f11_try_ops",
      (s, d) =>
        // (l_orderkey, l_linenumber) is not unique; every output column
        // derives from these four source columns, so rows still tied
        // after the sort are identical and the dump's order is fixed
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_returnflag"))
          .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(try_divide(col("l_quantity"), col("l_linenumber") - 1), 6).as("qty_per"),
            try_element_at(split(col("l_returnflag"), ","), lit(2)).as("missing_elem"),
            // malformed input on ~0.1% of rows: a try_cast that fails on
            // EVERY row pays a thrown/caught exception per row (measured
            // 13 s at sf0.1) — dirty data is rare by nature, the demo
            // should price it that way.
            expr("try_cast(CASE WHEN l_orderkey % 1000 = 0 THEN 'x' ELSE '7' END AS INT)").as("bad_int"),
            expr("try_cast(l_quantity AS INT)").as("qty_int")),
      Some("""SELECT l_orderkey, l_linenumber,
             |round(l_quantity / nullif(l_linenumber - 1, 0), 6) AS qty_per,
             |string_split(l_returnflag, ',')[2] AS missing_elem,
             |TRY_CAST(CASE WHEN l_orderkey % 1000 = 0 THEN 'x' ELSE '7' END AS INT) AS bad_int,
             |TRY_CAST(l_quantity AS INT) AS qty_int
             |FROM lineitem ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST,
             |l_quantity NULLS FIRST, l_returnflag NULLS FIRST""".stripMargin)
    ),

    // F9b: positional generator — posexplode keeps the element index
    // (the oracle zips unnest with a 0-based range).
    Entry(
      "f9b_posexplode",
      (s, d) =>
        Tables.documents(s, d)
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
          .orderBy("doc_id", "pos"),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id < 50)
             |SELECT doc_id, CAST(unnest(range(0, len(ws))) AS INT) AS pos, unnest(ws) AS word
             |FROM w ORDER BY doc_id NULLS FIRST, pos NULLS FIRST""".stripMargin)
    ),

    // F9: generator — explode tokens, global top-20 word counts.
    Entry(
      "f9_explode_wordcount",
      (s, d) =>
        Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("word"))
          .groupBy("word")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("word").asc)
          .limit(20),
      Some("""SELECT word, count(*) AS cnt FROM (
             |SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |GROUP BY word ORDER BY cnt DESC NULLS LAST, word NULLS FIRST LIMIT 20""".stripMargin)
    ),

    // F12: the Spark 4 VARIANT type — parse_json into a variant,
    // path-extract typed fields (incl. a nested object), aggregate on
    // them. The JSON is assembled by string concat from columns so
    // both engines parse IDENTICAL text (to_json's float formatting
    // would drift). DuckDB replays with json_extract_string. Variant
    // decode is codegen'd row work; the rollup is types-sized.
    Entry(
      "f12_variant",
      (s, d) => {
        val js = concat(lit("{\"t\":\""), col("event_type"),
          lit("\",\"nest\":{\"u\":"), col("user_id"),
          lit("},\"k\":"), get_json_object(col("props"), "$.k"), lit("}"))
        Tables.events(s, d)
          .select(parse_json(js).as("v"))
          .select(
            variant_get(col("v"), "$.t", "string").as("t"),
            variant_get(col("v"), "$.nest.u", "long").as("u"),
            variant_get(col("v"), "$.k", "int").as("k"))
          .groupBy("t")
          .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
            max(col("u")).as("max_u"))
          .orderBy("t")
      },
      Some("""WITH j AS (SELECT
             |  '{"t":"' || event_type || '","nest":{"u":' || user_id ||
             |    '},"k":' || json_extract_string(props, '$.k') || '}' AS js
             |  FROM events),
             |x AS (SELECT json_extract_string(js, '$.t') AS t,
             |  CAST(json_extract_string(js, '$.nest.u') AS BIGINT) AS u,
             |  CAST(json_extract_string(js, '$.k') AS INT) AS k FROM j)
             |SELECT t, count(*) AS cnt, CAST(sum(k) AS BIGINT) AS sum_k,
             |  max(u) AS max_u
             |FROM x GROUP BY t ORDER BY t NULLS FIRST""".stripMargin)
    ),

    // F13: the higher-order-function family on array columns —
    // exists/forall, predicate filter (incl. the index-aware lambda;
    // Spark indices are 0-based, DuckDB's 1-based, offset in the
    // oracle), zip_with, transform+array_max. All codegen'd lambda
    // evaluation over the in-row array: no explode, no shuffle — at
    // 100 TB this family is the difference between per-row vector math
    // and a corpus×dim row explosion.
    Entry(
      "f13_hof",
      (s, d) => {
        val v = col("embedding")
        val h8 = slice(v, 1, 8)
        Tables.embeddings(s, d)
          .select(
            col("vec_id"),
            exists(v, x => x.cast("double") > 0.5).as("has_big"),
            forall(v, x => abs(x.cast("double")) < 1.0).as("all_small"),
            size(filter(v, x => x.cast("double") > 0)).as("n_pos"),
            size(filter(v, (x, i) => (x.cast("double") < 0) && i % 2 === 0)).as("n_neg_even"),
            round(
              aggregate(
                zip_with(h8, reverse(h8), (x, y) => x.cast("double") * y.cast("double")),
                lit(0.0), (a, x) => a + x),
              6).as("rev_dot"),
            round(array_max(transform(v, x => abs(x.cast("double")))), 6).as("max_abs"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id,
             |len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.5)) > 0 AS has_big,
             |len(list_filter(embedding, x -> NOT (abs(CAST(x AS DOUBLE)) < 1.0))) = 0 AS all_small,
             |CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0)) AS INT) AS n_pos,
             |CAST(len(list_filter(embedding, (x, i) ->
             |  CAST(x AS DOUBLE) < 0 AND (i - 1) % 2 = 0)) AS INT) AS n_neg_even,
             |round(list_sum(list_transform(range(1, 9), i ->
             |  CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
             |  CAST(embedding[CAST(9 - i AS INT)] AS DOUBLE))), 6) AS rev_dot,
             |round(list_max(list_transform(embedding,
             |  x -> abs(CAST(x AS DOUBLE)))), 6) AS max_abs
             |FROM embeddings ORDER BY vec_id NULLS FIRST""".stripMargin)
    ),

    // F13b: the map higher-order functions — map built from data
    // (from_json ∪ a computed entry via map_concat), transform_values,
    // map_filter, map_keys. Output rendered as sorted scalars so the
    // hash-compare never sees a raw map column. DuckDB has no map
    // lambdas over JSON — the oracle replays the two entries'
    // semantics explicitly (equivalent SQL, same result).
    Entry(
      "f13b_map_hof",
      (s, d) => {
        val m = map_concat(
          from_json(col("props"), lit("map<string,int>")),
          map(lit("u"), (col("user_id") % 100).cast("int")))
        Tables.events(s, d)
          .withColumn("mv", transform_values(m, (_, v) => v * 2))
          .withColumn("keep", map_filter(col("mv"), (_, v) => v >= 60))
          .select(
            col("event_id"),
            size(col("keep")).as("n_kept"),
            array_join(sort_array(map_keys(col("keep"))), ",").as("kept_keys"),
            coalesce(element_at(col("mv"), "k"), lit(-1)).as("k2"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (SELECT event_id,
             |    CAST(json_extract_string(props, '$.k') AS INT) * 2 AS kv,
             |    CAST(user_id % 100 AS INT) * 2 AS uv
             |  FROM events)
             |SELECT event_id,
             |CAST((CASE WHEN kv >= 60 THEN 1 ELSE 0 END) +
             |     (CASE WHEN uv >= 60 THEN 1 ELSE 0 END) AS INT) AS n_kept,
             |coalesce(array_to_string(list_sort(
             |  (CASE WHEN kv >= 60 THEN ['k'] ELSE [] END) ||
             |  (CASE WHEN uv >= 60 THEN ['u'] ELSE [] END)), ','), '') AS kept_keys,
             |coalesce(kv, -1) AS k2
             |FROM b ORDER BY event_id NULLS FIRST""".stripMargin)
    )
  )
}
