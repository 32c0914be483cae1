package graft.operators

import graft.{KeySpec, QFn, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar-function families (SURVEY.md §2.7) — one kitchen-sink query
  * per family, each column chosen to be dialect-portable against the
  * DuckDB oracle:
  *  - rounding only on positive values (Spark HALF_UP == DuckDB
  *    half-away-from-zero for positives); `bround` (half-even) is
  *    exercised in specs, not in oracle output;
  *  - transcendentals (exp/ln) rounded to 6 digits — last-ulp libm
  *    differences are absorbed, verified exact on the test data by the
  *    preflight;
  *  - higher-order array functions fold over INT word lengths, so the
  *    math is exact in both engines;
  *  - day-of-week normalized to Spark's 1=Sunday convention in SQL.
  * All are narrow per-row projections — at scale they stay inside one
  * WholeStageCodegen span with zero shuffles (verified in specs).
  */
object Functions {

  /** String family over part names/brands. */
  val fnString: QFn = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_name")).as("up"),
      lower(col("p_brand")).as("lo"),
      substring(col("p_name"), 1, 8).as("sub8"),
      length(col("p_name")).as("len"),
      lpad(col("p_brand"), 12, "*").as("pad"),
      concat_ws("-", col("p_brand"), col("p_type")).as("cat"),
      size(split(col("p_name"), " ")).as("n_words"),
      instr(col("p_name"), "bolt").cast("int").as("pos_bolt"),
      regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
      regexp_replace(col("p_name"), "[aeiou]", "*").as("devowel"),
      levenshtein(col("p_brand"), col("p_type")).as("lev"),
      trim(lpad(col("p_brand"), 10, " ")).as("trimmed"),
      reverse(col("p_brand")).as("rev"))
      .orderBy("p_partkey")

  /** Date/time family over order dates (UTC pinned both engines). */
  val fnDate: QFn = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      year(col("o_orderdate")).as("yr"),
      month(col("o_orderdate")).as("mo"),
      dayofmonth(col("o_orderdate")).as("dom"),
      dayofweek(col("o_orderdate")).as("dow"),
      dayofyear(col("o_orderdate")).as("doy"),
      quarter(col("o_orderdate")).as("qtr"),
      date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
      datediff(lit("1998-12-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_end"),
      unix_timestamp(col("o_orderdate")).as("epoch_s"),
      to_date(col("o_orderdate")).as("as_date"),
      make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).as("made"),
      last_day(col("o_orderdate")).as("eom"),
      // both engines clamp day-of-month overflow (Nov 30 + 3mo → Feb 28)
      add_months(col("o_orderdate").cast("date"), 3).as("plus3mo"),
      // months_between on two first-of-month dates is an exact integer
      // (as double) in Spark; DuckDB's oracle is closed-form year/month
      // arithmetic — the fractional-day branch is deliberately avoided
      // because its /31 convention is Spark-specific
      months_between(make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)),
        lit("1995-01-01").cast("date")).as("months_since"))
      .orderBy("o_orderkey")

  /** Timestamp arithmetic over event instants (UTC pinned): interval
    * add/subtract, elapsed whole units vs a fixed anchor (positive
    * diffs only, so Spark's truncate-toward-zero equals the oracle's
    * floor — DuckDB's own date_diff counts boundary CROSSINGS and is
    * deliberately avoided), formatting, epoch extraction. */
  val fnTsArith: QFn = (s, d) =>
    Tables.events(s, d).select(
      col("event_id"),
      expr("timestampadd(HOUR, 2, ts)").as("plus2h"),
      expr("timestampadd(MINUTE, -30, ts)").as("minus30m"),
      expr("timestampdiff(HOUR, timestamp'2024-01-01 00:00:00', ts)").as("hours_since"),
      expr("timestampdiff(SECOND, timestamp'2024-01-01 00:00:00', ts)").as("secs_since"),
      date_format(col("ts"), "yyyy-MM-dd HH").as("fmt_hour"),
      unix_millis(col("ts")).as("epoch_ms"))
      .orderBy("event_id")

  /** Math family over retail prices (all positive → portable
    * rounding). r1 rounds in EXACT DECIMAL, not on the double: a
    * .x5 price is a genuine half-up tie where double-round behavior
    * is engine-specific (none ship in the current data — this keeps
    * a regeneration from flipping the key red; r9 round audit). The
    * transcendental rounds stay round(6): exp/ln/log10 land
    * ulp-apart across engines at worst and round is the absorber
    * there, where fq would split across a grid edge. */
  val fnMath: QFn = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      round(col("p_retailprice")
        .cast(org.apache.spark.sql.types.DecimalType(30, 2)), 1)
        .cast("double").as("r1"),
      ceil(col("p_retailprice")).as("ce"),
      floor(col("p_retailprice")).as("fl"),
      abs(col("p_retailprice") - 950.0).as("ab"),
      (col("p_retailprice") * col("p_retailprice")).as("sq"),
      sqrt(col("p_retailprice")).as("sqr"),
      round(exp(col("p_retailprice") / 1000.0), 6).as("ex"),
      round(log(col("p_retailprice")), 6).as("ln_"),
      round(log10(col("p_retailprice")), 6).as("l10"),
      signum(col("p_retailprice") - 950.0).as("sgn"),
      greatest(col("p_retailprice"), lit(950.0)).as("gst"),
      least(col("p_retailprice"), lit(950.0)).as("lst"),
      pmod(col("p_partkey"), lit(7L)).as("md"))
      .orderBy("p_partkey")

  /** Conditional family: CASE / coalesce / nullif / nvl2. */
  val fnCond: QFn = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      when(col("o_totalprice") > 200000.0, "big")
        .when(col("o_totalprice") > 100000.0, "mid")
        .otherwise("small").as("bucket"),
      coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("status_or_open"),
      nvl2(nullif(col("o_orderpriority"), lit("1-URGENT")), lit(0), lit(1)).as("is_urgent"),
      (col("o_orderstatus") === "F").cast("int").as("is_final"))
      .orderBy("o_orderkey")

  /** Array family + higher-order functions (transform/filter/aggregate
    * fold over INT word lengths → exact in both engines) + explode
    * (the Generator/UDTF surface) in a token-count aggregate. */
  val fnArray: QFn = (s, d) => {
    val words = split(col("text"), " ")
    Tables.documents(s, d).select(
      col("doc_id"),
      size(words).as("n_words"),
      size(array_distinct(words)).as("n_distinct"),
      element_at(words, 1).as("w1"),
      array_min(words).as("wmin"),
      array_max(words).as("wmax"),
      array_contains(words, "spark").cast("int").as("has_spark"),
      concat_ws(" ", slice(words, 1, 3)).as("first3"),
      aggregate(transform(words, w => length(w)), lit(0),
        (acc, x) => acc + x).as("sum_len"),
      size(filter(words, w => length(w) > 4)).as("n_long"),
      array_position(words, "table").cast("int").as("pos_table"))
      .orderBy("doc_id")
  }

  /** Map family: build a map from zipped key/value arrays, read it
    * back via element_at / map_keys / map_values (scalar outputs only —
    * map columns don't hash-compare across engines). */
  val fnMap: QFn = (s, d) => {
    val m = map_from_arrays(
      array(lit("len"), lit("words")),
      array(length(col("text")).cast("long"), size(split(col("text"), " ")).cast("long")))
    Tables.documents(s, d).select(
      col("doc_id"),
      element_at(m, "len").as("m_len"),
      element_at(m, "words").as("m_words"),
      size(map_keys(m)).as("n_keys"),
      concat_ws(",", map_keys(m)).as("keys_csv"),
      aggregate(map_values(m), lit(0L), (a, x) => a + x).as("vals_sum"))
      .orderBy("doc_id")
  }

  /** JSON family over `events.props` ({"k": int}). */
  val fnJson: QFn = (s, d) =>
    Tables.events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k_get"),
      from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
        .getField("k").as("k_parsed"),
      (get_json_object(col("props"), "$.k").cast("long") * 2).as("k2"),
      get_json_object(col("props"), "$.missing").as("k_missing"),
      length(col("props")).as("raw_len"))
      .orderBy("event_id")

  /** Spark 4 VARIANT type: `parse_json` into the binary variant
    * encoding, typed path extraction with `variant_get` (strict) and
    * `try_variant_get` (lenient) — the schema-on-read semi-structured
    * column a lakehouse ingests when JSON shapes drift. The oracle is
    * plain JSON-path extraction: variant is an encoding, not a
    * semantics change. */
  val fnVariant: QFn = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(
        col("event_id"),
        variant_get(col("v"), "$.k", "int").as("k_var"),
        (variant_get(col("v"), "$.k", "long") * 2).as("k_var2"),
        try_variant_get(col("v"), "$.missing", "string").as("k_missing"))
      .orderBy("event_id")

  /** Spark-4 XML scalar surface: build an XML document per row,
    * parse it back with `from_xml` against a typed schema, extract
    * the fields. Values survive the double round-trip bit-exactly
    * (names are xml-safe lowercase words; numerics print/parse
    * losslessly), so the oracle just re-emits the source columns. */
  val fnXml: QFn = (s, d) => {
    val xmlSchema = StructType(Seq(
      StructField("name", StringType),
      StructField("size", IntegerType),
      StructField("price", DoubleType)))
    Tables.part(s, d)
      .select(col("p_partkey"),
        concat(lit("<part><name>"), col("p_name"), lit("</name><size>"),
          col("p_size"), lit("</size><price>"), col("p_retailprice"),
          lit("</price></part>")).as("x"))
      .select(col("p_partkey"), from_xml(col("x"), xmlSchema).as("p"))
      .select(col("p_partkey"), col("p.name").as("name"),
        col("p.size").as("size"), col("p.price").as("price"))
      .orderBy("p_partkey")
  }

  /** Data masking (`mask`) — the column-governance scalar: default
    * class masking (upper→X, lower→x, digit→n, other kept) and fully
    * custom replacement characters. The oracle is a per-character
    * class CASE — single pass, so replacement characters can never be
    * re-replaced (the chained-regexp pitfall). */
  val fnMask: QFn = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      mask(col("p_brand")).as("m_default"),
      mask(col("p_brand"), lit("U"), lit("l"), lit("d"), lit("o")).as("m_custom"))
      .orderBy("p_partkey")

  /** TRY-mode arithmetic — the error-safe scalar family: under ANSI
    * semantics a divide-by-zero or bigint overflow kills the job at
    * row N of a 100 TB scan; `try_divide`/`try_add` degrade to NULL
    * row-locally instead. div0's denominator is identically zero and
    * every orderkey overflows MaxValue, so both columns are
    * provably-NULL in the oracle (orderkey 0 alone fits without
    * overflow and keeps its exact sum) while divq carries the real
    * quotient. */
  val fnTrySafe: QFn = (s, d) =>
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      try_divide(col("l_extendedprice"),
        col("l_quantity") - col("l_quantity")).as("div0"),
      try_divide(col("l_extendedprice"), col("l_quantity")).as("divq"),
      try_add(col("l_orderkey"), lit(Long.MaxValue)).as("add_ovf"))
      .orderBy("l_orderkey", "l_linenumber")

  /** URL scalar family: synthesize one well-formed URL per part row
    * (varying host, percent-encoded path segment — `p_brand` carries
    * a literal '#', so encoding is load-bearing — query params and a
    * fragment), then take it apart with Spark's native
    * `parse_url`/`url_decode`. The oracle reconstructs every expected
    * component from the same source columns WITHOUT a URL parser, so
    * the two engines agree only if Spark's parser extracts exactly
    * the components the URL was built from. */
  val fnUrl: QFn = (s, d) => {
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
      .withColumn("u", concat(
        lit("https://h"), pmod(col("p_partkey"), lit(50)),
        lit(".example.com:8443/catalog/"), expr("url_encode(p_brand)"),
        lit("/item?partkey="), col("p_partkey"),
        lit("&size="), col("p_size"), lit("#frag")))
      .select(col("p_partkey"),
        expr("parse_url(u, 'HOST')").as("host"),
        expr("parse_url(u, 'PATH')").as("path"),
        expr("parse_url(u, 'QUERY')").as("query"),
        expr("parse_url(u, 'QUERY', 'size')").as("size_param"),
        expr("parse_url(u, 'REF')").as("frag"),
        expr("url_decode(parse_url(u, 'QUERY', 'partkey'))").as("key_param"))
      .orderBy("p_partkey")
  }

  /** Struct columns: build, nest, project fields back out. */
  val fnStruct: QFn = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      struct(
        col("o_orderstatus").as("status"),
        struct(col("o_totalprice").as("amount"),
          col("o_orderpriority").as("prio")).as("detail")).as("ord"))
      .select(
        col("o_orderkey"),
        col("ord.status").as("status"),
        col("ord.detail.amount").as("amount"),
        (col("ord.detail.amount") > 150000.0).cast("int").as("is_big"),
        length(col("ord.detail.prio")).as("prio_len"))
      .orderBy("o_orderkey")

  /** Bitwise + hash function family. */
  val fnBitwiseHash: QFn = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      col("p_partkey").bitwiseAND(lit(255L)).as("band"),
      col("p_partkey").bitwiseOR(lit(4096L)).as("bor"),
      col("p_partkey").bitwiseXOR(lit(21L)).as("bxor"),
      shiftleft(col("p_partkey"), 3).as("shl"),
      shiftright(col("p_partkey"), 2).as("shr"),
      bit_count(col("p_partkey")).as("popcnt"),
      md5(col("p_name")).as("md5_hex"),
      sha2(col("p_brand"), 256).as("sha256_hex"),
      length(sha2(concat(col("p_name"), col("p_type")), 512)).as("sha512_len"))
      .orderBy("p_partkey")

  /** Spark 4 collation: case-insensitive (UTF8_LCASE) vs binary
    * string comparison as first-class column semantics — no more
    * lower()-wrapping every predicate. The oracle expresses the same
    * comparisons with explicit case folding. */
  val fnCollation: QFn = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      (collate(upper(col("p_type")), "UTF8_LCASE") ===
        collate(col("p_type"), "UTF8_LCASE")).as("ci_eq"),
      (upper(col("p_type")) === col("p_type")).as("bin_eq"),
      startswith(collate(upper(col("p_name")), "UTF8_LCASE"),
        collate(lit("std"), "UTF8_LCASE")).as("ci_prefix"))
      .orderBy("p_partkey")

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("fn_url", fnUrl, shuffles = 1,
      // expected URL components reconstructed from the source columns,
      // no parser involved: host drops the port, the path keeps the
      // percent-encoded brand ('#' -> %23), the param round-trips
      """SELECT p_partkey,
           'h' || (p_partkey % 50) || '.example.com' AS host,
           '/catalog/' || replace(p_brand, '#', '%23') || '/item' AS path,
           'partkey=' || p_partkey || '&size=' || p_size AS query,
           p_size::VARCHAR AS size_param,
           'frag' AS frag,
           p_partkey::VARCHAR AS key_param
         FROM part ORDER BY p_partkey"""),
    KeySpec.batch("fn_xml", fnXml, shuffles = 1,
      """SELECT p_partkey, p_name AS name, CAST(p_size AS INT) AS size,
           p_retailprice AS price
         FROM part ORDER BY p_partkey"""),
    KeySpec.batch("fn_mask", fnMask, shuffles = 1,
      """SELECT p_partkey,
           array_to_string(list_transform(regexp_extract_all(p_brand, '.'),
             c -> CASE WHEN c >= 'A' AND c <= 'Z' THEN 'X'
                       WHEN c >= 'a' AND c <= 'z' THEN 'x'
                       WHEN c >= '0' AND c <= '9' THEN 'n' ELSE c END), '')
             AS m_default,
           array_to_string(list_transform(regexp_extract_all(p_brand, '.'),
             c -> CASE WHEN c >= 'A' AND c <= 'Z' THEN 'U'
                       WHEN c >= 'a' AND c <= 'z' THEN 'l'
                       WHEN c >= '0' AND c <= '9' THEN 'd' ELSE 'o' END), '')
             AS m_custom
         FROM part ORDER BY p_partkey"""),
    KeySpec.batch("fn_try_safe", fnTrySafe, shuffles = 1,
      """SELECT l_orderkey, l_linenumber,
           CAST(NULL AS DOUBLE) AS div0,
           l_extendedprice / l_quantity AS divq,
           CASE WHEN l_orderkey > 0 THEN CAST(NULL AS BIGINT)
                ELSE 9223372036854775807 + l_orderkey END AS add_ovf
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    KeySpec.batch("fn_variant", fnVariant, shuffles = 1,
      """SELECT event_id,
           CAST(props->>'$.k' AS INT) AS k_var,
           CAST(props->>'$.k' AS BIGINT) * 2 AS k_var2,
           props->>'$.missing' AS k_missing
         FROM events ORDER BY event_id"""),
    KeySpec.batch("fn_string", fnString, shuffles = 1,
      """SELECT p_partkey,
           upper(p_name) AS up, lower(p_brand) AS lo,
           substr(p_name, 1, 8) AS sub8,
           CAST(length(p_name) AS INT) AS len,
           lpad(p_brand, 12, '*') AS pad,
           concat_ws('-', p_brand, p_type) AS cat,
           CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
           CAST(instr(p_name, 'bolt') AS INT) AS pos_bolt,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS devowel,
           CAST(levenshtein(p_brand, p_type) AS INT) AS lev,
           trim(lpad(p_brand, 10, ' ')) AS trimmed,
           reverse(p_brand) AS rev
         FROM part ORDER BY p_partkey"""),
    KeySpec.batch("fn_date", fnDate, shuffles = 1,
      """SELECT o_orderkey,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(dayofmonth(o_orderdate) AS INT) AS dom,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus30,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS INT) AS days_to_end,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           CAST(o_orderdate AS DATE) AS as_date,
           make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS made,
           last_day(CAST(o_orderdate AS DATE)) AS eom,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3mo,
           CAST((year(o_orderdate) - 1995) * 12 + (month(o_orderdate) - 1) AS DOUBLE) AS months_since
         FROM orders ORDER BY o_orderkey"""),
    KeySpec.batch("fn_ts_arith", fnTsArith, shuffles = 1,
      """SELECT event_id,
           CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR AS plus2h,
           CAST(ts AS TIMESTAMP) - INTERVAL 30 MINUTE AS minus30m,
           CAST(floor((epoch(CAST(ts AS TIMESTAMP)) - epoch(TIMESTAMP '2024-01-01 00:00:00')) / 3600) AS BIGINT) AS hours_since,
           CAST(floor(epoch(CAST(ts AS TIMESTAMP)) - epoch(TIMESTAMP '2024-01-01 00:00:00')) AS BIGINT) AS secs_since,
           strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H') AS fmt_hour,
           epoch_ms(CAST(ts AS TIMESTAMP)) AS epoch_ms
         FROM events ORDER BY event_id"""),
    KeySpec.batch("fn_math", fnMath, shuffles = 1,
      """SELECT p_partkey,
           CAST(round(CAST(p_retailprice AS DECIMAL(30,2)), 1) AS DOUBLE) AS r1,
           CAST(ceil(p_retailprice) AS BIGINT) AS ce,
           CAST(floor(p_retailprice) AS BIGINT) AS fl,
           abs(p_retailprice - 950.0) AS ab,
           p_retailprice * p_retailprice AS sq,
           sqrt(p_retailprice) AS sqr,
           round(exp(p_retailprice / 1000.0), 6) AS ex,
           round(ln(p_retailprice), 6) AS ln_,
           round(log10(p_retailprice), 6) AS l10,
           CAST(sign(p_retailprice - 950.0) AS DOUBLE) AS sgn,
           greatest(p_retailprice, 950.0) AS gst,
           least(p_retailprice, 950.0) AS lst,
           p_partkey % 7 AS md
         FROM part ORDER BY p_partkey"""),
    KeySpec.batch("fn_cond", fnCond, shuffles = 1,
      """SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000.0 THEN 'big'
                WHEN o_totalprice > 100000.0 THEN 'mid'
                ELSE 'small' END AS bucket,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
           CASE WHEN nullif(o_orderpriority, '1-URGENT') IS NOT NULL THEN 0 ELSE 1 END AS is_urgent,
           CAST(o_orderstatus = 'F' AS INT) AS is_final
         FROM orders ORDER BY o_orderkey"""),
    KeySpec.batch("fn_array", fnArray, shuffles = 1,
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_words,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
           string_split(text, ' ')[1] AS w1,
           list_min(string_split(text, ' ')) AS wmin,
           list_max(string_split(text, ' ')) AS wmax,
           CAST(list_contains(string_split(text, ' '), 'spark') AS INT) AS has_spark,
           array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS first3,
           CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS INT) AS sum_len,
           CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 4)) AS INT) AS n_long,
           CAST(coalesce(list_position(string_split(text, ' '), 'table'), 0) AS INT) AS pos_table
         FROM documents ORDER BY doc_id"""),
    KeySpec.batch("fn_map", fnMap, shuffles = 1,
      """SELECT doc_id,
           CAST(length(text) AS BIGINT) AS m_len,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS m_words,
           2 AS n_keys,
           'len,words' AS keys_csv,
           CAST(length(text) + len(string_split(text, ' ')) AS BIGINT) AS vals_sum
         FROM documents ORDER BY doc_id"""),
    KeySpec.batch("fn_json", fnJson, shuffles = 1,
      """SELECT event_id,
           CAST(props->>'$.k' AS INT) AS k_get,
           CAST(props->>'$.k' AS INT) AS k_parsed,
           CAST(props->>'$.k' AS BIGINT) * 2 AS k2,
           props->>'$.missing' AS k_missing,
           CAST(length(props) AS INT) AS raw_len
         FROM events ORDER BY event_id"""),
    KeySpec.batch("fn_struct", fnStruct, shuffles = 1,
      """SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS amount,
           CAST(o_totalprice > 150000.0 AS INT) AS is_big,
           CAST(length(o_orderpriority) AS INT) AS prio_len
         FROM orders ORDER BY o_orderkey"""),
    KeySpec.batch("fn_collation", fnCollation, shuffles = 1,
      """SELECT p_partkey,
           lower(upper(p_type)) = lower(p_type) AS ci_eq,
           upper(p_type) = p_type AS bin_eq,
           starts_with(lower(upper(p_name)), lower('std')) AS ci_prefix
         FROM part ORDER BY p_partkey"""),
    KeySpec.batch("fn_bitwise_hash", fnBitwiseHash, shuffles = 1,
      """SELECT p_partkey,
           p_partkey & 255 AS band,
           p_partkey | 4096 AS bor,
           xor(p_partkey, 21) AS bxor,
           p_partkey << 3 AS shl,
           p_partkey >> 2 AS shr,
           CAST(bit_count(p_partkey) AS INT) AS popcnt,
           md5(p_name) AS md5_hex,
           sha256(p_brand) AS sha256_hex,
           128 AS sha512_len
         FROM part ORDER BY p_partkey"""))
}
