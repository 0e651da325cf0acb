package graft.functions

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar function surface (SURVEY.md §2.3) — one bundled query per family,
  * every function a codegen'd built-in (`org.apache.spark.sql.functions`),
  * no UDFs. Cross-engine parity notes are inline where DuckDB semantics
  * diverge (dayofweek origin, global regexp_replace, floor result type…).
  */
object Scalars {

  val qs: Map[String, Q] = Map(

    "q_str_funcs" -> Q(
      fn = (s, d) =>
        Tables(s, d, "part").select(
          col("p_partkey"),
          upper(col("p_name")).as("up"),
          lower(col("p_type")).as("lo"),
          length(col("p_name")).cast(LongType).as("len"),
          substring(col("p_name"), 1, 5).as("sub"),
          trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"),
          ltrim(concat(lit("  "), col("p_name"))).as("ltrimmed"),
          rtrim(concat(col("p_name"), lit("  "))).as("rtrimmed"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("cat"),
          concat_ws("|", col("p_brand"), col("p_type"), col("p_name")).as("catws"),
          lpad(col("p_size").cast(StringType), 4, "0").as("padded"),
          rpad(col("p_brand"), 12, "*").as("rpadded"),
          regexp_replace(col("p_name"), " ", "_").as("replaced"),
          // serialized — an array column breaks the gate's pandas row sort
          array_join(split(col("p_name"), " "), "|").as("tokens"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
          regexp_replace(col("p_type"), "[AEIOU]", "#").as("devoweled"),
          instr(col("p_name"), "a").cast(LongType).as("a_pos"),
          reverse(col("p_name")).as("rev"),
          levenshtein(col("p_name"), col("p_brand")).cast(LongType).as("lev"),
          col("p_name").rlike("a.*e").as("has_pat"),
          split_part(col("p_type"), lit(" "), lit(2)).as("type_mid"))
          .orderBy("p_partkey"),
      oracle = Some("""
        SELECT p_partkey,
               upper(p_name) AS up, lower(p_type) AS lo, length(p_name) AS len,
               substr(p_name, 1, 5) AS sub,
               trim('  ' || p_name || '  ') AS trimmed,
               ltrim('  ' || p_name) AS ltrimmed,
               rtrim(p_name || '  ') AS rtrimmed,
               p_brand || '-' || p_type AS cat,
               concat_ws('|', p_brand, p_type, p_name) AS catws,
               lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
               rpad(p_brand, 12, '*') AS rpadded,
               replace(p_name, ' ', '_') AS replaced,
               array_to_string(string_split(p_name, ' '), '|') AS tokens,
               regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
               regexp_replace(p_type, '[AEIOU]', '#', 'g') AS devoweled,
               instr(p_name, 'a') AS a_pos,
               reverse(p_name) AS rev,
               levenshtein(p_name, p_brand) AS lev,
               regexp_matches(p_name, 'a.*e') AS has_pat,
               split_part(p_type, ' ', 2) AS type_mid
        FROM part ORDER BY p_partkey""")),

    "q_date_funcs" -> Q(
      fn = (s, d) =>
        Tables(s, d, "orders").select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast(LongType).as("y"),
          quarter(col("o_orderdate")).cast(LongType).as("q"),
          month(col("o_orderdate")).cast(LongType).as("m"),
          dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
          dayofweek(col("o_orderdate")).cast(LongType).as("dow"), // 1 = Sunday
          // date_trunc coerces NTZ→LTZ; cast back (UTC session ⇒ same wall time)
          date_trunc("month", col("o_orderdate")).cast(TimestampNTZType).as("month_start"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast(DateType)).cast(LongType).as("days_since"),
          date_add(col("o_orderdate"), 30).as("plus30"),
          add_months(col("o_orderdate"), 2).as("plus2m"),
          last_day(col("o_orderdate")).as("eom"),
          to_date(col("o_orderdate")).as("as_date"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).as("made"))
          .orderBy("o_orderkey"),
      // DuckDB: dayofweek is 0=Sunday (Spark: 1=Sunday) → +1;
      // date_trunc('month') yields DATE → cast back to TIMESTAMP;
      // epoch() yields DOUBLE → cast BIGINT; date_add yields DATE in Spark.
      oracle = Some("""
        SELECT o_orderkey,
               year(o_orderdate) AS y, quarter(o_orderdate) AS q,
               month(o_orderdate) AS m, dayofmonth(o_orderdate) AS dom,
               dayofweek(o_orderdate) + 1 AS dow,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               date_diff('day', DATE '1995-01-01', o_orderdate) AS days_since,
               CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
               CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
               last_day(o_orderdate) AS eom,
               CAST(o_orderdate AS DATE) AS as_date,
               CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
               make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS made
        FROM orders ORDER BY o_orderkey""")),

    // Sub-day time functions over the event stream (orders/lineitem
    // timestamps are all midnight, so hour/minute/second need events.ts —
    // ms-truncated NTZ from Tables, mirrored by date_trunc in the oracle).
    "q_ts_funcs" -> Q(
      fn = (s, d) =>
        Tables(s, d, "events").select(
          col("event_id"),
          hour(col("ts")).cast(LongType).as("h"),
          minute(col("ts")).cast(LongType).as("mi"),
          second(col("ts")).cast(LongType).as("sec"),
          date_trunc("hour", col("ts")).cast(TimestampNTZType).as("hour_start"),
          date_trunc("day", col("ts")).cast(TimestampNTZType).as("day_start"),
          unix_millis(col("ts").cast(TimestampType)).as("epoch_ms"),
          expr("timestampadd(HOUR, 2, ts)").cast(TimestampNTZType).as("plus2h"),
          expr("timestampdiff(MINUTE, date_trunc('day', ts), ts)")
            .cast(LongType).as("mins_since_midnight"))
          .orderBy("event_id"),
      oracle = Some("""
        WITH e AS (SELECT event_id, date_trunc('milliseconds', ts) AS ts FROM events)
        SELECT event_id,
               hour(ts) AS h, minute(ts) AS mi, second(ts) AS sec,
               date_trunc('hour', ts) AS hour_start,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
               epoch_ms(ts) AS epoch_ms,
               ts + INTERVAL 2 HOUR AS plus2h,
               date_diff('minute', date_trunc('day', ts), ts) AS mins_since_midnight
        FROM e ORDER BY event_id""")),

    "q_math_funcs" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          r4(col("l_extendedprice") / 7).as("div7"),
          floor(col("l_extendedprice")).as("flr"),
          ceil(col("l_extendedprice")).as("cl"),
          abs(col("l_discount") - 0.05).as("absd"),
          r4(pow(col("l_quantity"), 2)).as("qty_sq"),
          r4(sqrt(col("l_quantity"))).as("qty_sqrt"),
          r4(exp(col("l_discount"))).as("e_disc"),
          r4(log(col("l_quantity"))).as("ln_qty"),
          r4(log10(col("l_quantity"))).as("log10_qty"),
          pmod(col("l_orderkey"), lit(7)).as("pm"),
          signum(col("l_discount") - 0.05).as("sgn"),
          greatest(col("l_quantity"), col("l_tax") * 100).as("gr"),
          least(col("l_quantity"), col("l_discount") * 100).as("ls"),
          // error-safe division: divisor 0 yields null, not an error/Inf
          try_divide(col("l_quantity"), col("l_linenumber") - 1).as("safe_div"))
          .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "div7", "qty_sq"),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               CAST(ROUND(l_extendedprice / 7, 4) AS DOUBLE) AS div7,
               CAST(floor(l_extendedprice) AS BIGINT) AS flr,
               CAST(ceil(l_extendedprice) AS BIGINT) AS cl,
               abs(l_discount - 0.05) AS absd,
               CAST(ROUND(pow(l_quantity, 2), 4) AS DOUBLE) AS qty_sq,
               CAST(ROUND(sqrt(l_quantity), 4) AS DOUBLE) AS qty_sqrt,
               CAST(ROUND(exp(l_discount), 4) AS DOUBLE) AS e_disc,
               CAST(ROUND(ln(l_quantity), 4) AS DOUBLE) AS ln_qty,
               CAST(ROUND(log10(l_quantity), 4) AS DOUBLE) AS log10_qty,
               ((l_orderkey % 7) + 7) % 7 AS pm,
               CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn,
               greatest(l_quantity, l_tax * 100) AS gr,
               least(l_quantity, l_discount * 100) AS ls,
               l_quantity / nullif(l_linenumber - 1, 0) AS safe_div
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, div7, qty_sq""")),

    "q_cond_funcs" -> Q(
      fn = (s, d) =>
        Tables(s, d, "orders").select(
          col("o_orderkey"),
          when(col("o_totalprice") > 200000, "big")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("small").as("size_class"),
          when(col("o_orderstatus") === "F", "done").otherwise("pending").as("st"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("X")).as("closed_or_x"),
          nvl(nullif(col("o_orderpriority"), lit("5-LOW")), lit("not-low")).as("prio"))
          .orderBy("o_orderkey"),
      oracle = Some("""
        SELECT o_orderkey,
               CASE WHEN o_totalprice > 200000 THEN 'big'
                    WHEN o_totalprice > 100000 THEN 'mid'
                    ELSE 'small' END AS size_class,
               CASE WHEN o_orderstatus = 'F' THEN 'done' ELSE 'pending' END AS st,
               coalesce(nullif(o_orderstatus, 'O'), 'X') AS closed_or_x,
               coalesce(nullif(o_orderpriority, '5-LOW'), 'not-low') AS prio
        FROM orders ORDER BY o_orderkey""")),

    "q_cast_decimal" -> Q(
      fn = (s, d) =>
        Tables(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast(IntegerType).as("qty_int"),
          // decimal round-trips emit as double / plain string (exact — see
          // Q.dec4 scaladoc on why DECIMAL itself can't be an output type)
          dec2(col("l_extendedprice")).cast(DoubleType).as("price_dec"),
          dec2(col("l_extendedprice")).cast(StringType).as("price_str"),
          col("l_shipdate").cast(DateType).as("ship_date"),
          col("l_orderkey").cast(DoubleType).as("key_dbl"),
          (dec2(col("l_extendedprice")) * dec2(col("l_quantity"))).cast(DecimalType(20, 4))
            .cast(DoubleType).as("amount"),
          (dec2(col("l_extendedprice")) + dec2(col("l_tax"))).cast(DecimalType(14, 2))
            .cast(DoubleType).as("price_plus_tax"))
          .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "price_dec"),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               CAST(l_quantity AS INT) AS qty_int,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS price_str,
               CAST(l_shipdate AS DATE) AS ship_date,
               CAST(l_orderkey AS DOUBLE) AS key_dbl,
               CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(20,4)) AS DOUBLE) AS amount,
               CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)) AS DECIMAL(14,2)) AS DOUBLE) AS price_plus_tax
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, price_dec""")),

    "q_array_funcs" -> Q(
      fn = (s, d) =>
        Tables(s, d, "embeddings").select(
          col("vec_id"),
          size(col("embedding")).cast(LongType).as("dim"),
          r4(element_at(col("embedding"), 1).cast(DoubleType)).as("first_val"),
          // element lists serialize through fixed-scale DECIMAL strings:
          // exact for 4dp-rounded values, and decimal formatting collapses
          // DuckDB ROUND's -0.0 to '0.0000' (Spark's BigDecimal round never
          // emits -0.0, so raw double arrays could differ in zero sign).
          concat_ws(",", transform(slice(col("embedding"), 1, 3),
            x => round(x.cast(DoubleType) * 2, 4)
              .cast(DecimalType(14, 4)).cast(StringType))).as("head3_x2"),
          concat_ws(",", transform(
            sort_array(transform(slice(col("embedding"), 1, 4),
              x => round(x.cast(DoubleType), 4))),
            v => v.cast(DecimalType(14, 4)).cast(StringType))).as("head4_sorted"),
          r4(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast(DoubleType))).as("sum_all"),
          size(filter(col("embedding"), x => x > 0)).cast(LongType).as("n_pos"),
          exists(col("embedding"), x => x.cast(DoubleType) > 0.5).as("has_big"),
          size(array_distinct(transform(slice(col("embedding"), 1, 8),
            x => round(x.cast(DoubleType), 2)))).cast(LongType).as("nd_head8"),
          r4(aggregate(zip_with(col("embedding"), reverse(col("embedding")),
            (x, y) => x.cast(DoubleType) * y.cast(DoubleType)), lit(0.0),
            (acc, v) => acc + v)).as("dot_rev"))
          .orderBy("vec_id"),
      // list_reduce seeds with the first element; Spark's aggregate seeds
      // 0.0 — identical left-fold sequence since 0.0 + x == x exactly.
      // `+ 0.0` after ROUND normalizes DuckDB's -0.0 to +0.0 (Spark side
      // can't produce -0.0 from round).
      oracle = Some("""
        SELECT vec_id,
               len(embedding) AS dim,
               CAST(ROUND(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS DOUBLE) AS first_val,
               array_to_string(list_transform(list_slice(CAST(embedding AS DOUBLE[]), 1, 3),
                              x -> CAST(CAST(round(x * 2, 4) AS DECIMAL(14,4)) AS VARCHAR)), ',') AS head3_x2,
               array_to_string(list_transform(
                 list_sort(list_transform(list_slice(CAST(embedding AS DOUBLE[]), 1, 4),
                                          x -> round(x, 4))),
                 v -> CAST(CAST(v AS DECIMAL(14,4)) AS VARCHAR)), ',') AS head4_sorted,
               CAST(ROUND(list_reduce(CAST(embedding AS DOUBLE[]), (a, b) -> a + b), 4) + 0.0 AS DOUBLE) AS sum_all,
               len(list_filter(embedding, x -> x > 0)) AS n_pos,
               len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0.5)) > 0 AS has_big,
               len(list_distinct(list_transform(list_slice(CAST(embedding AS DOUBLE[]), 1, 8),
                                                x -> round(x, 2)))) AS nd_head8,
               CAST(ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
                 list_reverse(CAST(embedding AS DOUBLE[]))), 4) + 0.0 AS DOUBLE) AS dot_rev
        FROM embeddings ORDER BY vec_id""")),

    "q_explode" -> Q(
      fn = (s, d) =>
        Tables(s, d, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "val")))
          .select(col("vec_id"), col("pos").cast(LongType).as("pos"), r4(col("val").cast(DoubleType)).as("val"))
          .orderBy("vec_id", "pos"),
      // `+ 0.0` normalizes DuckDB ROUND's -0.0 (Spark round can't emit it).
      oracle = Some("""
        SELECT vec_id, u.pos - 1 AS pos,
               CAST(ROUND(CAST(u.val AS DOUBLE), 4) + 0.0 AS DOUBLE) AS val
        FROM embeddings,
             LATERAL (SELECT generate_subscripts(embedding, 1) AS pos,
                             unnest(embedding) AS val) u
        ORDER BY vec_id, pos""")),

    // Outer generator: posexplode_outer keeps rows whose generated list is
    // EMPTY as a single null-extended row (inner explode drops them).
    "q_explode_outer" -> Q(
      fn = (s, d) =>
        Tables(s, d, "embeddings")
          // The filtered array is projected FIRST, then the bare column
          // reference explodes: with the interpreted higher-order `filter`
          // inline under the generator it dominated the query (~9x slower
          // than q_explode on the same table).
          .select(col("vec_id"),
            filter(col("embedding"), x => x.cast(DoubleType) > 0.3).as("kept"))
          .select(col("vec_id"),
            posexplode_outer(col("kept")).as(Seq("pos", "val")))
          .select(col("vec_id"), col("pos").cast(LongType).as("pos"),
            r4(col("val").cast(DoubleType)).as("val"))
          .orderBy(col("vec_id"), col("pos").asc_nulls_first),
      oracle = Some("""
        SELECT vec_id, u.pos - 1 AS pos,
               CAST(ROUND(CAST(u.val AS DOUBLE), 4) + 0.0 AS DOUBLE) AS val
        FROM embeddings LEFT JOIN LATERAL (
          SELECT generate_subscripts(l, 1) AS pos, unnest(l) AS val
          FROM (SELECT list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0.3) AS l)) u
          ON true
        ORDER BY vec_id, pos NULLS FIRST""")),

    // Schema-aligning union: unionByName with allowMissingColumns
    // null-fills columns absent on one side (DuckDB: UNION ALL BY NAME).
    "q_union_byname" -> Q(
      fn = (s, d) => {
        val a = Tables(s, d, "nation").select(col("n_nationkey"), col("n_name"))
        val b = Tables(s, d, "nation")
          .select(col("n_name"), col("n_nationkey"), col("n_regionkey"))
        a.unionByName(b, allowMissingColumns = true)
          .orderBy(col("n_nationkey"), col("n_regionkey").asc_nulls_first)
      },
      oracle = Some("""
        SELECT n_nationkey, n_name, NULL AS n_regionkey FROM nation
        UNION ALL BY NAME
        SELECT n_name, n_nationkey, n_regionkey FROM nation
        ORDER BY n_nationkey, n_regionkey NULLS FIRST""")),

    "q_json_funcs" -> Q(
      fn = (s, d) =>
        Tables(s, d, "events").select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
            .getField("k").as("k_int"),
          to_json(struct(col("event_type"))).as("as_json"))
          .orderBy("event_id"),
      oracle = Some("""
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
               to_json(struct_pack(event_type)) AS as_json
        FROM events ORDER BY event_id""")),

    // Map functions. Key/value lists serialize to strings (array columns
    // break the gate's pandas row sort); values go through exact DECIMAL
    // math so the serialized strings match DuckDB bit-for-bit.
    "q_map_funcs" -> Q(
      fn = (s, d) =>
        Tables(s, d, "events").select(
          col("event_id"),
          map_from_arrays(
            array(lit("v"), lit("v2")),
            array(dec2(col("value")), (dec2(col("value")) * 2).cast(DecimalType(15, 2)))).as("m"))
          .select(
            col("event_id"),
            array_join(map_keys(col("m")), ",").as("ks"),
            concat_ws(",", transform(map_values(col("m")),
              v => v.cast(StringType))).as("vs"),
            element_at(col("m"), "v").cast(DoubleType).as("v"))
          .orderBy("event_id"),
      oracle = Some("""
        SELECT event_id,
               'v,v2' AS ks,
               CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) || ',' ||
                 CAST(CAST(CAST(value AS DECIMAL(12,2)) * 2 AS DECIMAL(15,2)) AS VARCHAR) AS vs,
               CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
        FROM events ORDER BY event_id""")),

    // Spark 4 VARIANT: semi-structured ingestion without a declared schema —
    // the shredded binary encoding makes repeated path extraction O(field)
    // rather than O(re-parse), which is the 100-TB answer to JSON-string
    // event payloads (parse once at ingest, extract many times downstream).
    // Row-level: events.props parsed to variant + typed path extraction; a
    // constructed nested document exercises array-index and object-chain
    // paths. Oracle extracts the same paths with DuckDB's JSON operators.
    "q_variant_json" -> Q(
      fn = (s, d) =>
        Tables(s, d, "events")
          .select(
            col("event_id"),
            col("event_type"),
            parse_json(col("props")).as("v"),
            parse_json(concat(
              lit("{\"a\":["), get_json_object(col("props"), "$.k"),
              lit(",2],\"b\":{\"c\":\""), col("event_type"), lit("\"}}"))).as("nested"))
          .select(
            col("event_id"),
            col("event_type"),
            variant_get(col("v"), "$.k", "bigint").as("k_int"),
            variant_get(col("v"), "$.k", "string").as("k_str"),
            variant_get(col("v"), "$.missing", "bigint").as("k_missing"),
            is_variant_null(variant_get(col("v"), "$.k", "variant")).as("k_is_json_null"),
            variant_get(col("nested"), "$.a[1]", "bigint").as("a1"),
            variant_get(col("nested"), "$.b.c", "string").as("bc"))
          .orderBy("event_id"),
      oracle = Some("""
        SELECT event_id, event_type,
               CAST(props->>'$.k' AS BIGINT) AS k_int,
               props->>'$.k' AS k_str,
               CAST(props->>'$.missing' AS BIGINT) AS k_missing,
               COALESCE(json_type(props, '$.k') = 'NULL', false) AS k_is_json_null,
               CAST(('{"a":[' || (props->>'$.k') || ',2],"b":{"c":"' || event_type || '"}}')
                 ->>'$.a[1]' AS BIGINT) AS a1,
               ('{"a":[' || (props->>'$.k') || ',2],"b":{"c":"' || event_type || '"}}')
                 ->>'$.b.c' AS bc
        FROM events ORDER BY event_id""")),

    // Unicode canonicalization (graft NfcNormalize / StripAccents
    // expressions vs DuckDB nfc_normalize / strip_accents): a decomposed
    // raw string (base letter + U+0301 combining acute, synthesized
    // deterministically from the corpus) composes under NFC iff a
    // precomposed codepoint exists, and accent-strip recovers the original
    // on either path. len_raw/len_nfc expose the composition in char
    // counts. Canonical composition is stability-frozen, so JDK and
    // utf8proc agree byte for byte.
    "q_text_normalize" -> Q(
      fn = (s, d) => {
        val nfc = call_function("nfc_normalize", col("raw"))
        Tables(s, d, "documents")
          .select(col("doc_id"), concat(
            substring(col("text"), 1, 1), lit("\u0301"),
            substring(col("text"), 2, 8)).as("raw"))
          .select(
            col("doc_id"),
            col("raw"),
            nfc.as("nfc"),
            call_function("strip_accents", nfc).as("ascii"),
            length(col("raw")).cast(LongType).as("len_raw"),
            length(nfc).cast(LongType).as("len_nfc"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id, raw,
               nfc_normalize(raw) AS nfc,
               strip_accents(nfc_normalize(raw)) AS ascii,
               length(raw) AS len_raw,
               length(nfc_normalize(raw)) AS len_nfc
        FROM (SELECT doc_id,
                     substr(text, 1, 1) || chr(769) || substr(text, 2, 8) AS raw
              FROM documents)
        ORDER BY doc_id""")),

    // ANSI-mode safe arithmetic (the try_* family): malformed casts,
    // division by zero, bigint overflow, and out-of-bounds array access
    // all degrade to NULL instead of failing the job — the semantics a
    // 100-TB pipeline needs when one bad row must not kill a stage. The
    // oracle spells out the EXPECTED null/value pattern directly, so the
    // row content is the contract.
    "q_try_funcs" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          SELECT p_partkey,
                 try_cast(p_name AS INT) AS bad_int,
                 try_cast(CAST(p_size AS STRING) AS INT) AS good_int,
                 try_divide(p_retailprice, 0.0) AS div0,
                 try_divide(p_retailprice, 4.0) AS div4,
                 try_add(9223372036854775807L, p_partkey) AS add_ovf,
                 try_element_at(array(1, 2, 3), 2) AS elem2,
                 try_element_at(array(1, 2, 3), 5) AS elem_oob
          FROM part ORDER BY p_partkey""")
      },
      oracle = Some("""
        SELECT p_partkey,
               CAST(NULL AS INT) AS bad_int,
               p_size AS good_int,
               CAST(NULL AS DOUBLE) AS div0,
               p_retailprice / 4.0 AS div4,
               CASE WHEN p_partkey = 0 THEN 9223372036854775807 END AS add_ovf,
               2 AS elem2,
               CAST(NULL AS INT) AS elem_oob
        FROM part ORDER BY p_partkey""")),

    // Spark 4 string collations: case-insensitive grouping via
    // UNICODE_CI, demonstrated on a synthetically case-noised type
    // column. For this ASCII domain the CI equivalence classes coincide
    // with lower(), which is how the oracle states the expected result;
    // the point is the engine-level collation surface (comparisons and
    // GROUP BY keys honoring the collation, no manual normalization in
    // the grouping).
    "q_collation_ci" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          WITH t AS (SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                                 ELSE p_type END AS tm
                     FROM part)
          SELECT lower(k) AS t_ci, n FROM (
            SELECT collate(tm, 'UNICODE_CI') AS k, COUNT(*) AS n
            FROM t GROUP BY collate(tm, 'UNICODE_CI'))
          ORDER BY t_ci""")
      },
      oracle = Some("""
        WITH t AS (SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_type)
                               ELSE p_type END AS tm
                   FROM part)
        SELECT lower(tm) AS t_ci, COUNT(*) AS n
        FROM t GROUP BY lower(tm) ORDER BY t_ci""")),

    // Dynamic data masking (the column-level redaction a governed release
    // applies on read): Spark's mask() replaces character classes
    // (upper→X, lower→x, digit→n by default, custom replacements
    // supported), preserving length and structure. The oracle reproduces
    // the class mapping with global regex replaces.
    "q_mask" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          SELECT p_partkey,
                 mask(p_name) AS m_name,
                 mask(p_brand) AS m_brand,
                 mask(p_brand, 'X', 'x', '9') AS m_custom
          FROM part ORDER BY p_partkey""")
      },
      oracle = Some("""
        SELECT p_partkey,
               regexp_replace(regexp_replace(regexp_replace(
                 p_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
                 AS m_name,
               regexp_replace(regexp_replace(regexp_replace(
                 p_brand, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
                 AS m_brand,
               regexp_replace(regexp_replace(regexp_replace(
                 p_brand, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', '9', 'g')
                 AS m_custom
        FROM part ORDER BY p_partkey""")),

    // XPath extraction (xpath_int / xpath_string / xpath over an XML
    // payload column — the XML sibling of the JSON/VARIANT path family).
    // The document is synthesized from corpus columns, so the oracle can
    // state the expected extractions directly from the source columns;
    // round-tripping through the XML string is what's under test.
    "q_xpath" -> Q(
      fn = (s, d) => {
        Tables.registerViews(s, d)
        s.sql("""
          WITH x AS (
            SELECT p_partkey,
                   '<part><size>' || p_size || '</size><brand>' || p_brand ||
                   '</brand><tok>' || replace(p_name, ' ', '</tok><tok>') ||
                   '</tok></part>' AS xml
            FROM part)
          SELECT p_partkey,
                 xpath_int(xml, '/part/size') AS size_back,
                 xpath_string(xml, '/part/brand') AS brand_back,
                 CAST(size(xpath(xml, '/part/tok/text()')) AS BIGINT) AS n_toks,
                 xpath_string(xml, '/part/tok[1]') AS first_tok
          FROM x ORDER BY p_partkey""")
      },
      oracle = Some("""
        SELECT p_partkey,
               p_size AS size_back,
               p_brand AS brand_back,
               len(string_split(p_name, ' ')) AS n_toks,
               string_split(p_name, ' ')[1] AS first_tok
        FROM part ORDER BY p_partkey""")))
}
