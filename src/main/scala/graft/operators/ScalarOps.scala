package graft.operators

import graft.{QueryDef, QueryPack, Tables}
import org.apache.spark.sql.functions._

/** Scalar function batteries: string / date / JSON / array (SURVEY §2.2
  * ext tier). All codegen'd built-ins — each query is a single narrow
  * map stage over the scan, no shuffle except the final presentation sort.
  */
object ScalarOps extends QueryPack {

  // ------------------------------------------------------- strings
  private val scalarString = QueryDef(
    "q_scalar_string",
    (s, d) => {
      import s.implicits._
      Tables.part(s, d)
        .select(
          $"p_partkey",
          lower($"p_name").as("name_lc"),
          substring($"p_type", 1, 4).as("type_prefix"),
          regexp_extract($"p_brand", "(\\d+)", 1).as("brand_num"),
          concat_ws("|", $"p_brand", $"p_type").as("brand_type"),
          length($"p_name").as("name_len"),
          replace($"p_name", lit(" "), lit("_")).as("name_snake"))
        .orderBy($"p_partkey")
    },
    Some("""SELECT p_partkey,
      lower(p_name) AS name_lc,
      substring(p_type, 1, 4) AS type_prefix,
      regexp_extract(p_brand, '(\d+)', 1) AS brand_num,
      concat_ws('|', p_brand, p_type) AS brand_type,
      CAST(length(p_name) AS INT) AS name_len,
      replace(p_name, ' ', '_') AS name_snake
      FROM part ORDER BY p_partkey"""),
    "String battery: lower/substring/regexp_extract/concat_ws/length/replace")

  // ---------------------------------------------------------- dates
  private val scalarDate = QueryDef(
    "q_scalar_datemath",
    (s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .select(
          $"o_orderkey",
          year($"o_orderdate").as("yr"),
          month($"o_orderdate").as("mo"),
          dayofmonth($"o_orderdate").as("dom"),
          unix_timestamp(date_trunc("month", $"o_orderdate")).as("month_start"),
          datediff(lit("1999-01-01").cast("date"), $"o_orderdate".cast("date"))
            .as("days_to_1999"),
          date_format(date_add($"o_orderdate".cast("date"), 30), "yyyy-MM-dd")
            .as("plus_30d"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
      CAST(year(o_orderdate) AS INT) AS yr,
      CAST(month(o_orderdate) AS INT) AS mo,
      CAST(day(o_orderdate) AS INT) AS dom,
      CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_start,
      CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS INT) AS days_to_1999,
      strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d
      FROM orders ORDER BY o_orderkey"""),
    "Date battery: year/month/day, date_trunc, datediff, date arithmetic")

  // ----------------------------------------------------------- JSON
  private val scalarJson = QueryDef(
    "q_scalar_json",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select(
          $"event_id",
          get_json_object($"props", "$.k").cast("long").as("k_val"))
        .filter($"k_val".isNotNull)
        .orderBy($"event_id")
    },
    Some("""SELECT event_id,
      CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
      FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
      ORDER BY event_id"""),
    "JSON path extraction from the events.props payload (reference O3 analog)")

  // -------------------------------------------------------- Variant
  // The modern semi-structured path (Spark 4 VariantType): parse the
  // payload ONCE into Variant's binary encoding, then every extraction
  // is a cheap typed path lookup — at 100 TB this beats re-parsing JSON
  // text per get_json_object call, and variant columns are storable/
  // shreddable in parquet. The declared columns are the extracted
  // scalars (the variant itself stays internal: binary cells aren't
  // driver-hashable). try_variant_get on a missing path yields NULL,
  // not an error — the declared n_missing proves that contract.
  private val variantExtract = QueryDef(
    "q_variant_extract",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id", parse_json($"props").as("v"))
        .select($"event_id",
          variant_get($"v", "$.k", "long").as("k_val"),
          try_variant_get($"v", "$.missing", "long").as("missing"))
        // null-safe bucket (-1): a row without $.k must land in the same
        // deterministic group on both engines (NULL sort order differs).
        // Plain % (not pmod), mirroring DuckDB's truncated modulo exactly
        // so a future fixture with negative keys can't diverge (ADVICE r4)
        .groupBy(coalesce($"k_val" % 10, lit(-1L)).as("bucket"))
        .agg(count("*").as("n"), sum($"k_val").as("sum_k"),
          count($"missing").as("n_missing"))
        .orderBy($"bucket")
    },
    Some("""SELECT coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10, -1) AS bucket,
      count(*) AS n,
      CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      CAST(count(CASE WHEN json_extract_string(props, '$.missing') IS NOT NULL
        THEN 1 END) AS BIGINT) AS n_missing
      FROM events GROUP BY 1 ORDER BY bucket"""),
    "Variant ingestion: parse once, typed path extraction, missing-path NULLs")

  // ---------------------------------------------------------- arrays
  // Float elements are widened to double (exact) then cast to DECIMAL(18,6)
  // — scale 6, NOT 9: at scale 9 the two engines' double->decimal
  // conversions disagree by 1 ulp on ~1 element in 3 million (caught at
  // sf0.1), because the rounding boundary approaches double's own noise
  // floor. Scale 6 keeps a ~1000x safety margin.
  private val arrayMap = QueryDef(
    "q_array_map",
    (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .select(
          $"vec_id",
          size($"embedding").as("dim"),
          element_at($"embedding", 1).cast("double").cast("decimal(18,6)")
            .cast("double").as("e1"),
          element_at($"embedding", 64).cast("double").cast("decimal(18,6)")
            .cast("double").as("e64"),
          aggregate(
            transform($"embedding", x => x.cast("double").cast("decimal(18,6)")),
            lit(0).cast("decimal(28,6)"),
            // accumulator stays at p=28: (28,6)+(18,6) promotes to (29,6)
            // losslessly; at p=38 Spark would demote the scale and round
            // every fold step. aggregate() needs merge type == zero type,
            // hence the explicit down-cast (exact while |sum| < 1e22).
            (acc, x) => (acc + x).cast("decimal(28,6)"))
            .cast("decimal(38,6)").cast("double").as("sum_e"))
        .orderBy($"vec_id")
    },
    Some("""SELECT vec_id,
      CAST(len(embedding) AS INT) AS dim,
      CAST(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS e1,
      CAST(CAST(CAST(embedding[64] AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS e64,
      CAST(CAST(list_sum(list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_e
      FROM embeddings ORDER BY vec_id"""),
    "Array battery: size/element_at/transform/aggregate over embeddings")

  // -------------------------------------------------- explode/generator
  private val explodeArray = QueryDef(
    "q_explode",
    (s, d) => {
      import s.implicits._
      Tables.embeddings(s, d)
        .filter($"vec_id" < 20)
        .select($"vec_id",
          posexplode(slice($"embedding", 1, 8)))
        .select($"vec_id", ($"pos" + 1).cast("int").as("dim"),
          $"col".cast("double").cast("decimal(18,6)").cast("double").as("val"))
        .orderBy($"vec_id", $"dim")
    },
    Some("""SELECT vec_id, CAST(i AS INT) AS dim,
      CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) AS val
      FROM embeddings, unnest(generate_series(1, 8)) AS t(i)
      WHERE vec_id < 20 ORDER BY vec_id, dim"""),
    "posexplode generator over array slices")

  // ------------------------------------------------ null-handling ops
  // The fixtures are null-free, so nulls are introduced deterministically
  // (nullif) and then handled — coalesce / isNull / na-style defaults.
  private val nullHandling = QueryDef(
    "q_null_handling",
    (s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .select($"o_orderkey",
          nullif($"o_orderstatus", lit("O")).as("status_or_null"))
        .select($"o_orderkey", $"status_or_null",
          coalesce($"status_or_null", lit("OPEN")).as("status_filled"),
          $"status_or_null".isNull.cast("int").as("was_null"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
      nullif(o_orderstatus, 'O') AS status_or_null,
      coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
      CAST(nullif(o_orderstatus, 'O') IS NULL AS INT) AS was_null
      FROM orders ORDER BY o_orderkey"""),
    "null introduction + propagation + defaulting (nullif/coalesce/isNull)")

  // ------------------------------------------------ SQL front door
  // The same engine through spark.sql text — views + correlated scalar
  // subqueries (decorrelated by Catalyst into outer joins + aggregates).
  // The views live in a new session, so a caller's own v_customer or
  // v_orders is never replaced.
  private val sqlSubquery = QueryDef(
    "q_sql_subquery",
    (s, d) => {
      val ss = s.newSession()
      Tables.customer(ss, d).createOrReplaceTempView("v_customer")
      Tables.orders(ss, d).createOrReplaceTempView("v_orders")
      ss.sql("""
        SELECT c_custkey,
          (SELECT count(*) FROM v_orders o
            WHERE o.o_custkey = c.c_custkey) AS n_orders,
          CAST(CAST((SELECT max(CAST(o_totalprice AS DECIMAL(18,2))) FROM v_orders o
            WHERE o.o_custkey = c.c_custkey) AS DECIMAL(38,2)) AS DOUBLE) AS max_price
        FROM v_customer c
        ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey,
      (SELECT count(*) FROM orders o
        WHERE o.o_custkey = c.c_custkey) AS n_orders,
      CAST(CAST((SELECT max(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders o
        WHERE o.o_custkey = c.c_custkey) AS DECIMAL(38,2)) AS DOUBLE) AS max_price
      FROM customer c
      ORDER BY c_custkey"""),
    "spark.sql text front door: correlated scalar subqueries, decorrelated")

  // ------------------------------------------------------- map type
  // MapType through the runtime: build, look up, enumerate sorted keys —
  // outputs are plain columns so the oracle recomputes them directly.
  private val mapOps = QueryDef(
    "q_map_ops",
    (s, d) => {
      import s.implicits._
      val m = map_from_arrays(
        array(lit("etype"), lit("uid")),
        array($"event_type", $"user_id".cast("string")))
      Tables.events(s, d)
        .select($"event_id", m.as("m"))
        .select($"event_id",
          element_at($"m", "etype").as("etype"),
          element_at($"m", "uid").as("uid_str"),
          size($"m").cast("int").as("n_keys"),
          array_join(array_sort(map_keys($"m")), ",").as("keys_sorted"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, event_type AS etype,
      CAST(user_id AS VARCHAR) AS uid_str,
      2 AS n_keys, 'etype,uid' AS keys_sorted
      FROM events ORDER BY event_id"""),
    "MapType runtime: map_from_arrays, element_at, map_keys")

  // ---------------------------------------------------------- math
  // Exact-arithmetic math battery: abs/sign/floor/ceil on decimals,
  // integer modulo and bit ops, greatest/least. Transcendentals (sqrt,
  // log, exp) are deliberately excluded from oracle queries — their
  // last-ulp behavior is libm-dependent and differs across engines.
  private val scalarMath = QueryDef(
    "q_scalar_math",
    (s, d) => {
      import s.implicits._
      val bal = $"c_acctbal".cast("decimal(18,2)")
      Tables.customer(s, d)
        .select(
          $"c_custkey",
          abs(bal).cast("double").as("abs_bal"),
          signum(bal).cast("int").as("sign_bal"),
          floor(bal).cast("long").as("floor_bal"),
          ceil(bal).cast("long").as("ceil_bal"),
          pmod($"c_custkey", lit(7)).cast("long").as("mod7"),
          $"c_custkey".bitwiseAND(lit(255L)).as("and255"),
          shiftleft($"c_custkey", 2).as("shl2"),
          greatest(bal, lit(0).cast("decimal(18,2)")).cast("double").as("bal_floor0"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey,
      CAST(abs(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS abs_bal,
      CAST(sign(CAST(c_acctbal AS DECIMAL(18,2))) AS INT) AS sign_bal,
      CAST(floor(CAST(c_acctbal AS DECIMAL(18,2))) AS BIGINT) AS floor_bal,
      CAST(ceil(CAST(c_acctbal AS DECIMAL(18,2))) AS BIGINT) AS ceil_bal,
      CAST(c_custkey % 7 AS BIGINT) AS mod7,
      c_custkey & 255 AS and255,
      c_custkey << 2 AS shl2,
      CAST(greatest(CAST(c_acctbal AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS bal_floor0
      FROM customer ORDER BY c_custkey"""),
    "Exact math battery: abs/sign/floor/ceil/mod/bit-ops/greatest")

  // -------------------------------------------------- strings, part 2
  // Padding / translation / reversal / edit distance / position — the
  // rest of the deterministic string surface (initcap excluded: DuckDB
  // has no equivalent to oracle it against).
  private val scalarString2 = QueryDef(
    "q_scalar_string2",
    (s, d) => {
      import s.implicits._
      Tables.part(s, d)
        .select(
          $"p_partkey",
          lpad($"p_brand", 12, "*").as("brand_pad"),
          translate($"p_type", "aeiou", "_____").as("type_tr"),
          reverse($"p_name").as("name_rev"),
          levenshtein($"p_brand", lit("Brand#11")).cast("int").as("lev_brand"),
          instr($"p_name", "a").cast("int").as("pos_a"),
          repeat($"p_brand", 2).as("brand2"))
        .orderBy($"p_partkey")
    },
    Some("""SELECT p_partkey,
      lpad(p_brand, 12, '*') AS brand_pad,
      translate(p_type, 'aeiou', '_____') AS type_tr,
      reverse(p_name) AS name_rev,
      CAST(levenshtein(p_brand, 'Brand#11') AS INT) AS lev_brand,
      CAST(strpos(p_name, 'a') AS INT) AS pos_a,
      repeat(p_brand, 2) AS brand2
      FROM part ORDER BY p_partkey"""),
    "String battery 2: lpad/translate/reverse/levenshtein/instr/repeat")

  // ------------------------------------------- DataFrameNaFunctions
  // The na.* API surface: deterministic nulls in (nullif), then
  // na.replace on a value map, na.fill defaults, and a na.drop branch
  // tagged so both retention paths land in one result. Mirrors exactly
  // in SQL (CASE/coalesce + filter), so the whole battery oracles.
  private val naOps = QueryDef(
    "q_na_ops",
    (s, d) => {
      import s.implicits._
      val withNulls = Tables.orders(s, d)
        .select($"o_orderkey",
          nullif($"o_orderstatus", lit("P")).as("status"),
          nullif($"o_orderpriority", lit("3-MEDIUM")).as("prio"))
      val cleaned = withNulls.na
        .replace("status", Map("F" -> "FINAL"))
        .na.fill(Map("status" -> "UNKNOWN", "prio" -> "0-NONE"))
      val dropped = withNulls.na.drop("any", Seq("status", "prio"))
        .select($"o_orderkey").withColumn("kept_by_drop", lit(1))
      cleaned.join(dropped, Seq("o_orderkey"), "left")
        .select($"o_orderkey", $"status", $"prio",
          coalesce($"kept_by_drop", lit(0)).as("kept_by_drop"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
      coalesce(CASE WHEN nullif(o_orderstatus, 'P') = 'F' THEN 'FINAL'
                    ELSE nullif(o_orderstatus, 'P') END, 'UNKNOWN') AS status,
      coalesce(nullif(o_orderpriority, '3-MEDIUM'), '0-NONE') AS prio,
      CAST(nullif(o_orderstatus, 'P') IS NOT NULL
        AND nullif(o_orderpriority, '3-MEDIUM') IS NOT NULL AS INT) AS kept_by_drop
      FROM orders ORDER BY o_orderkey"""),
    "DataFrameNaFunctions battery: na.replace / na.fill / na.drop")

  override def defs: Seq[QueryDef] =
    Seq(scalarString, scalarDate, scalarJson, variantExtract, arrayMap,
      explodeArray, nullHandling, sqlSubquery, mapOps, scalarMath,
      scalarString2, naOps)
}
