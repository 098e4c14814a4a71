package graft.operators

import graft.{Q, QueryModule, Tables}
import graft.Tables.dec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.1.G — scalar function surface (string / datetime / math /
  * array / map / json).
  *
  * Everything here is built-in `org.apache.spark.sql.functions` (or SQL
  * `expr` over built-ins) — no UDFs — so the whole projection stays inside
  * WholeStageCodegen and predicates on these tables remain pushable.
  *
  * Cross-engine hazards handled (SURVEY.md §2.0): Spark `ceil/floor` on
  * double return LONG while DuckDB returns DOUBLE (oracle casts to
  * BIGINT); Spark `signum` returns DOUBLE while DuckDB `sign` returns INT
  * (both cast to BIGINT); transcendental results (`sqrt/ln/exp/pow`) are
  * cast to DECIMAL(18,6) on both sides so last-ULP libm differences
  * cannot surface (then to DOUBLE for the declared surface, see
  * SparkEntry.normalize); `posexplode` is 0-based vs UNNEST WITH
  * ORDINALITY 1-based (oracle shifts).
  */
object ScalarFns extends QueryModule {

  val fnStringSuite = Q(
    "fn_string_suite",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .part(spark, dir)
        .select(
          $"p_partkey",
          upper($"p_name").as("name_upper"),
          lower($"p_brand").as("brand_lower"),
          substring($"p_name", 1, 4).as("name_pre4"),
          concat_ws(":", $"p_brand", $"p_type").as("brand_type"),
          trim(concat(lit("  "), $"p_name", lit("  "))).as("name_trim"),
          length($"p_name").as("name_len"),
          expr("replace(p_name, 'a', '@')").as("name_repl"),
          element_at(split($"p_name", " "), 1).as("first_word"),
          regexp_extract($"p_name", "([a-z]+) ([a-z]+)", 2).as("second_word"),
          $"p_name".like("c%").as("starts_c"),
          $"p_name".startsWith("w").as("starts_w"),
          lpad($"p_brand", 10, "*").as("brand_pad"))
        .orderBy($"p_partkey")
    },
    Some("""
      SELECT p_partkey,
        UPPER(p_name) AS name_upper,
        LOWER(p_brand) AS brand_lower,
        SUBSTRING(p_name, 1, 4) AS name_pre4,
        CONCAT_WS(':', p_brand, p_type) AS brand_type,
        TRIM(CONCAT('  ', p_name, '  ')) AS name_trim,
        LENGTH(p_name) AS name_len,
        REPLACE(p_name, 'a', '@') AS name_repl,
        STRING_SPLIT(p_name, ' ')[1] AS first_word,
        REGEXP_EXTRACT(p_name, '([a-z]+) ([a-z]+)', 2) AS second_word,
        p_name LIKE 'c%' AS starts_c,
        STARTS_WITH(p_name, 'w') AS starts_w,
        LPAD(p_brand, 10, '*') AS brand_pad
      FROM part ORDER BY p_partkey
    """.trim))

  val fnDatetimeSuite = Q(
    "fn_datetime_suite",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .events(spark, dir)
        .select(
          $"event_id",
          year($"ts").as("y"),
          month($"ts").as("m"),
          dayofmonth($"ts").as("d"),
          hour($"ts").as("h"),
          date_trunc("month", $"ts").as("month_start"),
          last_day($"ts".cast(DateType)).as("month_end"),
          date_add($"ts".cast(DateType), 7).as("plus7"),
          datediff($"ts".cast(DateType), lit("2024-01-01").cast(DateType)).as("days_since"))
        .orderBy($"event_id")
    },
    Some("""
      SELECT event_id,
        EXTRACT(year FROM ts) AS y,
        EXTRACT(month FROM ts) AS m,
        EXTRACT(day FROM ts) AS d,
        EXTRACT(hour FROM ts) AS h,
        CAST(DATE_TRUNC('month', ts) AS TIMESTAMP) AS month_start,
        LAST_DAY(CAST(ts AS DATE)) AS month_end,
        CAST(ts AS DATE) + 7 AS plus7,
        DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_since
      FROM events ORDER BY event_id
    """.trim))

  val fnMathSuite = Q(
    "fn_math_suite",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .part(spark, dir)
        .select(
          $"p_partkey",
          round($"p_retailprice", 1).as("price_round"),
          abs($"p_size" - 25).as("size_abs"),
          ceil($"p_retailprice").as("price_ceil"),
          floor($"p_retailprice").as("price_floor"),
          dec(sqrt($"p_retailprice"), 18, 6).as("price_sqrt"),
          dec(log($"p_retailprice"), 18, 6).as("price_ln"),
          dec(exp($"p_size" / lit(100.0)), 18, 6).as("size_exp"),
          dec(pow($"p_retailprice", lit(0.5)), 18, 6).as("price_pow"),
          ($"p_size" % 7).as("size_mod"),
          signum($"p_retailprice" - 1000.0).cast(IntegerType).as("price_sign"))
        .orderBy($"p_partkey")
    },
    Some("""
      SELECT p_partkey,
        ROUND(p_retailprice, 1) AS price_round,
        ABS(p_size - 25) AS size_abs,
        CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
        CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
        CAST(CAST(SQRT(p_retailprice) AS DECIMAL(18,6)) AS DOUBLE) AS price_sqrt,
        CAST(CAST(LN(p_retailprice) AS DECIMAL(18,6)) AS DOUBLE) AS price_ln,
        CAST(CAST(EXP(p_size / CAST(100.0 AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS size_exp,
        CAST(CAST(POW(p_retailprice, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS price_pow,
        CAST(p_size % 7 AS BIGINT) AS size_mod,
        CAST(SIGN(p_retailprice - 1000.0) AS BIGINT) AS price_sign
      FROM part ORDER BY p_partkey
    """.trim))

  /** Array outputs are serialized to comma-joined fixed-scale decimal
    * strings: the driver's pandas comparator cannot sort list cells
    * (`unhashable type: numpy.ndarray`), and fixed-scale decimal→string
    * rendering is identical in both engines while raw float→string is
    * not. The array ops themselves (slice/transform/min/max/contains)
    * still run on the native array column.
    */
  val fnArrayOps = Q(
    "fn_array_ops",
    (spark, dir) => {
      import spark.implicits._
      val dec3str = (x: org.apache.spark.sql.Column) =>
        dec(x.cast(DoubleType), 18, 3).cast(StringType)
      Tables
        .embeddings(spark, dir)
        .select(
          $"vec_id",
          size($"embedding").as("dim"),
          element_at($"embedding", 1).as("first_elem"),
          array_join(transform(slice($"embedding", 1, 8), dec3str), ",").as("head8"),
          array_contains($"embedding", 0.0f).as("has_zero"),
          array_min($"embedding").as("min_elem"),
          array_max($"embedding").as("max_elem"),
          array_join(transform($"embedding", dec3str), ",").as("rounded3"))
        .orderBy($"vec_id")
    },
    Some("""
      SELECT vec_id,
        len(embedding) AS dim,
        CAST(embedding[1] AS DOUBLE) AS first_elem,
        array_to_string(list_transform(list_slice(embedding, 1, 8),
          x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,3)) AS VARCHAR)), ',') AS head8,
        list_contains(embedding, 0.0) AS has_zero,
        CAST(list_min(embedding) AS DOUBLE) AS min_elem,
        CAST(list_max(embedding) AS DOUBLE) AS max_elem,
        array_to_string(list_transform(embedding,
          x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,3)) AS VARCHAR)), ',') AS rounded3
      FROM embeddings ORDER BY vec_id
    """.trim))

  val fnExplodePosexplode = Q(
    "fn_explode_posexplode",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .embeddings(spark, dir)
        .select($"vec_id", posexplode($"embedding").as(Seq("pos", "val")))
        .groupBy($"pos")
        .agg(
          sum(dec($"val".cast(DoubleType), 18, 6)).as("sum_val"),
          count(lit(1)).as("n"))
        .orderBy($"pos")
    },
    // DuckDB 1.0.0 has no WITH ORDINALITY; parallel UNNESTs zip, and
    // range(len) yields 0-based positions matching posexplode.
    Some("""
      SELECT pos,
        CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE) AS sum_val,
        COUNT(*) AS n
      FROM (SELECT UNNEST(embedding) AS val,
                   UNNEST(range(len(embedding))) AS pos
            FROM embeddings)
      GROUP BY pos
      ORDER BY pos
    """.trim))

  val fnMapOps = Q(
    "fn_map_ops",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .events(spark, dir)
        .select($"event_id", from_json($"props", MapType(StringType, LongType)).as("m"))
        .select(
          $"event_id",
          array_join(map_keys($"m"), ",").as("ks"),
          array_join(transform(map_values($"m"), _.cast(StringType)), ",").as("vs"),
          element_at($"m", "k").as("k_val"))
        .orderBy($"event_id")
    },
    // events.props is verified single-key {"k": <int>} (FIXTURES.md) —
    // the oracle reconstructs the map surface from JSON primitives. Keys
    // and values are comma-joined strings (map/array cells crash the
    // driver's pandas comparator).
    Some("""
      SELECT event_id,
        array_to_string(json_keys(props), ',') AS ks,
        CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS VARCHAR) AS vs,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
      FROM events ORDER BY event_id
    """.trim))

  val fnJsonExtract = Q(
    "fn_json_extract",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .events(spark, dir)
        .select($"event_type", get_json_object($"props", "$.k").cast(LongType).as("k"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), count($"k").as("n_k"), max($"k").as("max_k"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        COUNT(json_extract_string(props, '$.k')) AS n_k,
        MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type
    """.trim))

  /** Regex surface: extract / replace-all / match-test / count. Patterns
    * stay within the POSIX-class subset where Java regex (Spark) and RE2
    * (DuckDB) agree; DuckDB's regexp_replace needs the 'g' flag to match
    * Spark's replace-all semantics, and regexp_count is expressed as
    * LEN(REGEXP_EXTRACT_ALL(...)) on the oracle side.
    */
  val fnRegexSuite = Q(
    "fn_regex_suite",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .part(spark, dir)
        .select(
          $"p_partkey",
          regexp_extract($"p_brand", "([0-9]+)", 1).cast(LongType).as("brand_num"),
          regexp_replace($"p_name", "[aeiou]", "").as("name_novowel"),
          regexp_replace($"p_brand", "[0-9]", "#").as("brand_masked"),
          regexp_extract($"p_name", "^([a-z]+)", 1).as("first_token"),
          $"p_type".rlike("^PROMO").as("is_promo"),
          regexp_count($"p_name", lit("[a-z]+")).cast(LongType).as("n_words"))
        .orderBy($"p_partkey")
    },
    Some("""
      SELECT p_partkey,
        CAST(REGEXP_EXTRACT(p_brand, '([0-9]+)', 1) AS BIGINT) AS brand_num,
        REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS name_novowel,
        REGEXP_REPLACE(p_brand, '[0-9]', '#', 'g') AS brand_masked,
        REGEXP_EXTRACT(p_name, '^([a-z]+)', 1) AS first_token,
        REGEXP_MATCHES(p_type, '^PROMO') AS is_promo,
        CAST(LEN(REGEXP_EXTRACT_ALL(p_name, '[a-z]+')) AS BIGINT) AS n_words
      FROM part ORDER BY p_partkey
    """.trim))

  /** Bitwise + conditional surface over integer keys: AND/OR/XOR, shifts,
    * popcount, least/greatest (decimal-guarded), nullif. All outputs cast
    * to BIGINT on both sides so integer width never enters the compare.
    */
  val fnBitwiseConditional = Q(
    "fn_bitwise_conditional",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .lineitem(spark, dir)
        .select(
          $"l_orderkey", $"l_linenumber".cast(LongType).as("l_linenumber"),
          $"l_orderkey".bitwiseAND(lit(255L)).as("band"),
          $"l_orderkey".bitwiseOR(lit(1024L)).as("bor"),
          $"l_orderkey".bitwiseXOR($"l_partkey").as("bxor"),
          shiftleft($"l_linenumber", 3).cast(LongType).as("shl"),
          shiftright($"l_orderkey", 2).cast(LongType).as("shr"),
          bit_count($"l_orderkey").cast(LongType).as("popcount"),
          least(dec($"l_quantity"), lit(25).cast(DecimalType(18, 2))).as("qty_capped"),
          greatest($"l_linenumber".cast(LongType), lit(3L)).as("ln_floor3"),
          nullif($"l_linenumber".cast(LongType) % 2, lit(0L)).as("odd_or_null"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""
      SELECT l_orderkey,
        CAST(l_linenumber AS BIGINT) AS l_linenumber,
        l_orderkey & 255 AS band,
        l_orderkey | 1024 AS bor,
        xor(l_orderkey, l_partkey) AS bxor,
        CAST(l_linenumber << 3 AS BIGINT) AS shl,
        CAST(l_orderkey >> 2 AS BIGINT) AS shr,
        CAST(BIT_COUNT(l_orderkey) AS BIGINT) AS popcount,
        CAST(LEAST(CAST(l_quantity AS DECIMAL(18,2)), CAST(25 AS DECIMAL(18,2))) AS DOUBLE) AS qty_capped,
        GREATEST(CAST(l_linenumber AS BIGINT), 3) AS ln_floor3,
        NULLIF(CAST(l_linenumber AS BIGINT) % 2, 0) AS odd_or_null
      FROM lineitem ORDER BY l_orderkey, l_linenumber
    """.trim))

  /** Cryptographic/content hashes for fingerprinting and dedup keys:
    * md5 and sha256 are the cross-engine pair (DuckDB lacks sha1/crc32;
    * xxhash64 is Spark-specific and covered property-style by the
    * deterministic-split row). Hex casing differs per engine → lower()
    * on both sides.
    */
  val fnHashSuite = Q(
    "fn_hash_suite",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .customer(spark, dir)
        .select(
          $"c_custkey",
          lower(md5($"c_name")).as("md5_hex"),
          lower(sha2($"c_name", 256)).as("sha256_hex"),
          substring(lower(md5(concat_ws("|", $"c_name", $"c_mktsegment"))), 1, 8).as("key8"))
        .orderBy($"c_custkey")
    },
    Some("""
      SELECT c_custkey,
        LOWER(MD5(c_name)) AS md5_hex,
        LOWER(SHA256(c_name)) AS sha256_hex,
        SUBSTRING(LOWER(MD5(CONCAT_WS('|', c_name, c_mktsegment))), 1, 8) AS key8
      FROM customer ORDER BY c_custkey
    """.trim))

  /** URL decomposition (`parse_url`) — the web-corpus provenance step a
    * crawl pipeline runs on every document. URLs are synthesized from
    * document columns (the corpus stores no raw URLs), so the oracle can
    * state each expected part directly from the same columns instead of
    * re-implementing a parser — same output, independent derivation.
    * parse_url is a Spark built-in (java.net.URI-backed); the per-host
    * rollup shows the standard per-domain accounting shape.
    */
  val fnUrlSuite = Q(
    "fn_url_suite",
    (spark, dir) => {
      import spark.implicits._
      val url = concat(
        lit("https://"), $"source", lit(".example.org/docs/"),
        $"doc_id".cast(StringType), lit("?lang="), $"lang", lit("&v=2"))
      Tables.documents(spark, dir)
        .select($"doc_id", $"n_chars", url.as("url"))
        .select(
          $"doc_id",
          parse_url($"url", lit("PROTOCOL")).as("proto"),
          parse_url($"url", lit("HOST")).as("host"),
          parse_url($"url", lit("PATH")).as("path"),
          parse_url($"url", lit("QUERY"), lit("lang")).as("q_lang"),
          $"n_chars")
        .groupBy($"proto", $"host", $"q_lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("sum_chars"),
          min($"path").as("first_path"))
        .orderBy($"host", $"q_lang")
    },
    Some("""
      SELECT 'https' AS proto,
        source || '.example.org' AS host,
        lang AS q_lang,
        COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        MIN('/docs/' || CAST(doc_id AS VARCHAR)) AS first_path
      FROM documents
      GROUP BY 1, 2, 3 ORDER BY host, q_lang
    """.trim))

  /** Error-safe arithmetic: `try_divide`/`try_mod` null out division by
    * zero and `try_add` nulls out BIGINT overflow instead of throwing —
    * the dirty-data discipline for long pipelines (under ANSI semantics
    * one bad row aborts a 6-hour job; `try_*` quarantines it as NULL to
    * filter and audit downstream). The oracle derives the same NULLs
    * with explicit CASE guards — an independent formulation, so the
    * pass proves the semantics, not the spelling.
    */
  val fnSafeArithmetic = Q(
    "fn_safe_arithmetic",
    (spark, dir) => {
      import spark.implicits._
      Tables.lineitem(spark, dir)
        .select(
          $"l_orderkey", $"l_linenumber",
          expr("try_divide(l_extendedprice, l_quantity - 25.0)")
            .cast(DecimalType(18, 6)).as("safe_div"),
          expr("try_mod(cast(l_orderkey as bigint), cast(l_quantity - 25.0 as bigint))")
            .as("safe_mod"),
          expr("try_add(9223372036854775800L, cast(l_quantity as bigint))")
            .as("safe_add"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""
      SELECT l_orderkey, l_linenumber,
        CAST(CAST(CASE WHEN l_quantity = 25.0 THEN NULL
          ELSE l_extendedprice / (l_quantity - 25.0) END AS DECIMAL(18,6)) AS DOUBLE) AS safe_div,
        CASE WHEN CAST(l_quantity - 25.0 AS BIGINT) = 0 THEN NULL
          ELSE CAST(l_orderkey AS BIGINT) % CAST(l_quantity - 25.0 AS BIGINT) END AS safe_mod,
        CASE WHEN CAST(l_quantity AS BIGINT) > 7 THEN NULL
          ELSE 9223372036854775800 + CAST(l_quantity AS BIGINT) END AS safe_add
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber
    """.trim))

  /** Null-preserving explode (`posexplode_outer`): a doc whose filtered
    * token array is EMPTY keeps its row with NULL pos/token, where plain
    * `explode` silently drops it — the row-loss bug every per-document
    * fan-out pipeline hits (a doc with no long tokens must still appear
    * in a per-doc report). The long-token filter runs as a lambda
    * `filter` (higher-order function, codegen'd, no UDF).
    */
  val fnExplodeOuter = Q(
    "fn_explode_outer",
    (spark, dir) => {
      import spark.implicits._
      val longToks = filter(
        split(lower($"text"), " "), t => length(t) >= 7)
      Tables.documents(spark, dir)
        .select($"doc_id", posexplode_outer(longToks).as(Seq("pos", "tok")))
        .select(
          $"doc_id",
          $"pos".cast("long").as("pos"),
          coalesce($"tok", lit("(no-long-token)")).as("tok"))
        .orderBy($"doc_id", $"pos")
    },
    // DuckDB drops empty arrays on UNNEST like explode does; outer
    // semantics are reconstructed with a LEFT JOIN back to the doc list
    // (and range(len) zips 0-based positions, as in fn_explode_posexplode)
    Some("""
      WITH exploded AS (
        SELECT doc_id,
          UNNEST(list_filter(string_split(lower(text), ' '), t -> LENGTH(t) >= 7)) AS tok,
          UNNEST(range(len(list_filter(string_split(lower(text), ' '), t -> LENGTH(t) >= 7)))) AS pos
        FROM documents)
      SELECT d.doc_id,
        CAST(e.pos AS BIGINT) AS pos,
        COALESCE(e.tok, '(no-long-token)') AS tok
      FROM documents d LEFT JOIN exploded e USING (doc_id)
      ORDER BY doc_id, pos
    """.trim))

  /** Spark 4 VARIANT — the binary semi-structured type (open-variant
    * encoding, the shredded-storage path): JSON text parsed ONCE into a
    * variant, then typed `variant_get` extractions; `try_parse_json`
    * quarantines malformed rows as NULL instead of failing the scan
    * (exercised on a deliberately corrupted copy). The oracle derives
    * the same values from the SOURCE columns — independent derivation,
    * so a pass proves the variant round-trip is lossless and typed.
    *
    * Scale notes (100 TB): parse once, extract many — each
    * `get_json_object` re-parses the string, so N extractions cost N
    * parses; a variant costs one parse and O(1) typed reads. That is
    * the reason the type exists.
    */
  val fnVariantSemistructured = Q(
    "fn_variant_semistructured",
    (spark, dir) => {
      import spark.implicits._
      Tables.events(spark, dir)
        .select($"event_id", $"event_type", $"value", $"props")
        .withColumn("payload",
          to_json(struct($"event_type", $"value", $"props")))
        .select(
          $"event_id",
          expr("variant_get(parse_json(payload), '$.event_type', 'string')").as("vtype"),
          expr("variant_get(parse_json(payload), '$.value', 'double')").as("vvalue"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"),
          expr("try_parse_json(substring(props, 1, length(props) - 1))")
            .isNull.as("malformed_quarantined"))
        .orderBy($"event_id")
    },
    Some("""
      SELECT event_id,
        event_type AS vtype,
        value AS vvalue,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        TRUE AS malformed_quarantined
      FROM events ORDER BY event_id
    """.trim))

  /** Higher-order LAMBDA functions over arrays — the codegen-friendly
    * per-row compute path that replaces scalar UDFs (`fn_array_ops`
    * covers transform/slice; this row pins the fold and predicate
    * family): `aggregate` (decimal-guarded fold — per-element rounding
    * then exact addition, so the fold value is order- and
    * engine-independent; the final scale-6 downcast rounds HALF_UP in
    * Spark but truncates in DuckDB, so the oracle rounds explicitly),
    * `filter`, `exists`, `forall`, and `zip_with`
    * (element-paired against the reversed head — rendered at fixed
    * decimal scale so both engines produce identical strings).
    */
  val fnHofLambdaSuite = Q(
    "fn_hof_lambda_suite",
    (spark, dir) => {
      import spark.implicits._
      val dec3str = (x: org.apache.spark.sql.Column) =>
        dec(x, 18, 3).cast(StringType)
      val head4 = slice($"emb", 1, 4)
      Tables
        .embeddings(spark, dir)
        .select($"vec_id", $"embedding".cast("array<double>").as("emb"))
        .select(
          $"vec_id",
          aggregate($"emb", lit(0).cast(DecimalType(38, 12)),
            (acc, x) => (acc + (x * x).cast(DecimalType(28, 12)))
              .cast(DecimalType(38, 12)))
            .cast(DecimalType(18, 6)).cast(DoubleType).as("sumsq"),
          size(filter($"emb", x => x > 0)).cast(LongType).as("n_pos"),
          exists($"emb", x => abs(x) > 2.0).as("any_big"),
          forall($"emb", x => abs(x) < 10.0).as("all_small"),
          array_join(
            zip_with(head4, reverse(head4),
              (a, b) => concat(dec3str(a), lit(":"), dec3str(b))),
            ",").as("zip_head"))
        .orderBy($"vec_id")
    },
    Some("""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
      )
      SELECT vec_id,
        CAST(CAST(round(list_sum(list_transform(emb, x -> CAST(x*x AS DECIMAL(28,12)))), 6)
          AS DECIMAL(18,6)) AS DOUBLE) AS sumsq,
        len(list_filter(emb, x -> x > 0)) AS n_pos,
        list_bool_or(list_transform(emb, x -> abs(x) > 2.0)) AS any_big,
        list_bool_and(list_transform(emb, x -> abs(x) < 10.0)) AS all_small,
        array_to_string(list_transform(range(1, 5),
          i -> CAST(CAST(emb[CAST(i AS INT)] AS DECIMAL(18,3)) AS VARCHAR) || ':' ||
            CAST(CAST(emb[CAST(5 - i AS INT)] AS DECIMAL(18,3)) AS VARCHAR)), ',') AS zip_head
      FROM e ORDER BY vec_id
    """.trim))

  /** Map HIGHER-ORDER functions — the lambda family over MapType that
    * `fn_map_ops` (keys/values/element_at) and `fn_hof_lambda_suite`
    * (array lambdas) leave uncovered: `transform_values`,
    * `map_filter`, `map_zip_with` (outer-merge of two maps), and
    * `transform_keys`. Maps are built per-row from order columns and
    * rendered as lexicographically sorted `k=v` strings (map iteration
    * order is engine-internal; the sorted rendering is the
    * deterministic contract). The oracle derives the same strings
    * directly from the source columns — an independent derivation, no
    * map type crosses the comparator.
    */
  val fnMapHof = Q(
    "fn_map_hof",
    (spark, dir) => {
      import spark.implicits._
      val render = (m: org.apache.spark.sql.Column) => array_join(
        array_sort(transform(map_entries(m),
          e => concat(e.getField("key"), lit("="),
            e.getField("value").cast(StringType)))), ",")
      Tables.orders(spark, dir)
        .select($"o_orderkey",
          map(lit("base"), dec($"o_totalprice"),
            lit("fee"), dec(lit(5))).as("m1"),
          map(lit("base"), dec(lit(10)),
            lit("tip"), dec(lit(2.5))).as("m2"))
        .select(
          $"o_orderkey",
          render(transform_values($"m1", (_, v) => dec(v * 2))).as("doubled"),
          render(map_filter($"m1", (_, v) => v > 1000)).as("big_only"),
          render(map_zip_with($"m1", $"m2", (_, a, b) =>
            dec(coalesce(a, dec(lit(0))) + coalesce(b, dec(lit(0))))))
            .as("merged"),
          render(transform_keys($"m1", (k, _) => upper(k))).as("upper_keys"))
        .orderBy($"o_orderkey")
    },
    Some("""
      WITH b AS (
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS base
        FROM orders
      )
      SELECT o_orderkey,
        'base=' || CAST(CAST(base * 2 AS DECIMAL(18,2)) AS VARCHAR) ||
          ',fee=10.00' AS doubled,
        CASE WHEN base > 1000
          THEN 'base=' || CAST(base AS VARCHAR) ELSE '' END AS big_only,
        'base=' || CAST(CAST(base + 10 AS DECIMAL(18,2)) AS VARCHAR) ||
          ',fee=5.00,tip=2.50' AS merged,
        'BASE=' || CAST(base AS VARCHAR) || ',FEE=5.00' AS upper_keys
      FROM b ORDER BY o_orderkey
    """.trim))

  def qs: Seq[Q] = Seq(
    fnStringSuite, fnDatetimeSuite, fnMathSuite, fnArrayOps,
    fnExplodePosexplode, fnMapOps, fnJsonExtract,
    fnRegexSuite, fnBitwiseConditional, fnHashSuite, fnUrlSuite,
    fnSafeArithmetic, fnExplodeOuter, fnVariantSemistructured,
    fnHofLambdaSuite, fnMapHof)
}
