package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GeoFunctions => G, TextFunctions => TF}
import graft.plans.GeoConstants
import graft.sources.Tables

/** One registered query per implemented operator from SURVEY.md §2, each with
  * a DuckDB oracle (the driver's correctness gate runs both and hash-compares).
  *
  * Parity conventions shared by every query here and its oracle:
  *  - every DOUBLE output column is `round(x, 6)` in BOTH engines (both round
  *    half-away-from-zero for doubles, and 6 dp absorbs fp-reorder noise) —
  *    EXCEPT billion-scale monetary sums, which use round(x, 2): at ~1e9
  *    magnitude the reorder noise itself reaches 1e-6;
  *  - every result carries a total ORDER BY (driver compare may be
  *    row-order-sensitive);
  *  - `events.ts` is nanosecond-precision: exact values travel as `ts_ns`
  *    (`epoch_ns(ts)` on the DuckDB side), buckets as truncated timestamps;
  *  - counts stay BIGINT; DuckDB integer sums are cast to BIGINT (DuckDB
  *    sums ints into HUGEINT, Spark into LONG).
  */
final case class Q(name: String, oracle: Option[String])(
    val run: (SparkSession, String) => DataFrame)

object Queries {
  /** Synthetic "weather grid" view: maps the deterministic TPC-H-ish
    * lineitem onto the mover's hypercube row model (one row per
    * time/lat/lon point with data variables — SURVEY §1.1, bq.py:321-386).
    * Same SQL text is valid in Spark and DuckDB, so both engines derive
    * byte-identical coordinates. 0.05° grid step. */
  // multipliers coprime to the moduli so ANY contiguous key range (each
  // scale factor's) spreads across the full grid
  private[graft] val gridCols = Seq(
    "l_orderkey", "l_linenumber",
    "l_shipdate AS time",
    "((l_orderkey * 131 + l_linenumber * 17) % 3600) / CAST(20 AS DOUBLE) - 90 AS latitude",
    "((l_orderkey * 89 + l_linenumber * 131) % 7200) / CAST(20 AS DOUBLE) - 180 AS longitude",
    "l_quantity AS temperature",
    "l_discount * CAST(100 AS DOUBLE) AS humidity")
  private[graft] val gridSql =
    s"SELECT ${gridCols.mkString(", ")} FROM lineitem"

  private[graft] def grid(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).selectExpr(gridCols: _*)

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------- A1 A3 A4 A5
    Q("q01_pricing_summary", Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 6) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(avg(l_quantity), 6) AS avg_qty,
             round(avg(l_extendedprice), 6) AS avg_price,
             round(avg(l_discount), 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))(
      (s, d) => Tables.lineitem(s, d)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          round(sum($"l_quantity"), 6).as("sum_qty"),
          round(sum($"l_extendedprice"), 2).as("sum_base_price"),
          round(avg($"l_quantity"), 6).as("avg_qty"),
          round(avg($"l_extendedprice"), 6).as("avg_price"),
          round(avg($"l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")),

    // ---------------------------------------------------------------- P1 O1 O2
    Q("q02_select_limit", Some("""
      SELECT l_orderkey, l_linenumber, l_partkey,
             round(l_extendedprice, 6) AS price
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber, l_partkey, price
      LIMIT 20 OFFSET 10"""))(
      (s, d) => Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", $"l_partkey",
          round($"l_extendedprice", 6).as("price"))
        // (l_orderkey, l_linenumber) is not unique in the synthetic lineitem:
        // extend the sort to a total order so OFFSET/LIMIT picks identical rows
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"price")
        .offset(10).limit(20)),

    // ---------------------------------------------------------------- P4 P5
    Q("q03_where_coords", Some("""
      SELECT l_orderkey, l_linenumber,
             round(l_quantity, 6) AS qty,
             round(l_discount, 6) AS disc,
             l_returnflag
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        AND l_quantity > 45.0 AND l_discount <= 0.05 AND l_returnflag = 'R'
      ORDER BY l_orderkey, l_linenumber, qty, disc"""))(
      (s, d) => Tables.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1998-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1999-01-01").cast("timestamp") &&
          $"l_quantity" > 45.0 && $"l_discount" <= 0.05 && $"l_returnflag" === "R")
        .select($"l_orderkey", $"l_linenumber",
          round($"l_quantity", 6).as("qty"),
          round($"l_discount", 6).as("disc"), $"l_returnflag")
        .orderBy($"l_orderkey", $"l_linenumber", $"qty", $"disc")),

    // ---------------------------------------------------------------- P6 (both OR branches — fixes ref's first-term bug, where.py:229-238)
    Q("q04_where_dnf", Some("""
      SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 6) AS sum_qty
      FROM lineitem
      WHERE (l_returnflag = 'A' AND l_quantity > 48)
         OR (l_returnflag = 'R' AND l_quantity < 2)
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""))(
      (s, d) => Tables.lineitem(s, d)
        .filter(($"l_returnflag" === "A" && $"l_quantity" > 48) ||
          ($"l_returnflag" === "R" && $"l_quantity" < 2))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 6).as("sum_qty"))
        .orderBy($"l_returnflag")),

    // ---------------------------------------------------------------- A2 A3 (GROUP BY time_date, apply.py:132-151)
    Q("q05_bucket_day", Some("""
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS time_day,
             round(avg(value), 6) AS avg_value,
             round(sum(value), 6) AS sum_value,
             count(*) AS n
      FROM events GROUP BY 1 ORDER BY 1"""))(
      (s, d) => Tables.events(s, d)
        .groupBy(date_trunc("DAY", $"ts").cast("timestamp_ntz").as("time_day"))
        .agg(round(avg($"value"), 6).as("avg_value"),
          round(sum($"value"), 6).as("sum_value"),
          count(lit(1)).as("n"))
        .orderBy($"time_day")),

    // ---------------------------------------------------------------- A2 (GROUP BY time_month + extra key)
    Q("q06_bucket_month", Some("""
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS time_month,
             o_orderpriority,
             round(sum(o_totalprice), 2) AS sum_o_totalprice,
             count(*) AS n
      FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""))(
      (s, d) => Tables.orders(s, d)
        .groupBy(date_trunc("MONTH", $"o_orderdate").cast("timestamp_ntz").as("time_month"),
          $"o_orderpriority")
        .agg(round(sum($"o_totalprice"), 2).as("sum_o_totalprice"),
          count(lit(1)).as("n"))
        .orderBy($"time_month", $"o_orderpriority")),

    // ---------------------------------------------------------------- A4 A5 (whole-table agg, apply.py:296-299)
    Q("q07_global_agg", Some("""
      SELECT round(avg(l_quantity), 6) AS avg_l_quantity,
             round(min(l_extendedprice), 6) AS min_l_extendedprice,
             round(max(l_extendedprice), 6) AS max_l_extendedprice,
             round(sum(l_discount), 6) AS sum_l_discount,
             count(*) AS n
      FROM lineitem"""))(
      (s, d) => Tables.lineitem(s, d)
        .agg(round(avg($"l_quantity"), 6).as("avg_l_quantity"),
          round(min($"l_extendedprice"), 6).as("min_l_extendedprice"),
          round(max($"l_extendedprice"), 6).as("max_l_extendedprice"),
          round(sum($"l_discount"), 6).as("sum_l_discount"),
          count(lit(1)).as("n"))),

    // ---------------------------------------------------------------- P3 (area [N,W,S,E] box, bq.py:332-335) over the hypercube grid (R2)
    Q("q08_area_filter", Some(s"""
      WITH grid AS ($gridSql)
      SELECT latitude, longitude,
             round(avg(temperature), 6) AS avg_temperature,
             count(*) AS n
      FROM grid
      WHERE latitude BETWEEN 10 AND 45 AND longitude BETWEEN -120 AND -60
      GROUP BY latitude, longitude
      ORDER BY latitude, longitude"""))(
      (s, d) => grid(s, d)
        .filter($"latitude".between(10, 45) && $"longitude".between(-120, -60))
        .groupBy($"latitude", $"longitude")
        .agg(round(avg($"temperature"), 6).as("avg_temperature"),
          count(lit(1)).as("n"))
        .orderBy($"latitude", $"longitude")),

    // ---------------------------------------------------------------- P7 (country='australia' -> bounding box, where.py:140-171 + constant.py)
    Q("q09_country_filter", Some(s"""
      WITH grid AS ($gridSql)
      SELECT round(avg(temperature), 6) AS avg_temperature,
             round(min(temperature), 6) AS min_temperature,
             count(*) AS n
      FROM grid
      WHERE latitude BETWEEN -44 AND -10 AND longitude BETWEEN 113 AND 154"""))(
      (s, d) => {
        val box = GeoConstants.countries("australia")
        grid(s, d)
          .filter($"latitude".between(box.latMin, box.latMax) &&
            $"longitude".between(box.lonMin, box.lonMax))
          .agg(round(avg($"temperature"), 6).as("avg_temperature"),
            round(min($"temperature"), 6).as("min_temperature"),
            count(lit(1)).as("n"))
      }),

    // ---------------------------------------------------------------- J1 (broadcast dim joins)
    Q("q10_join_dims", Some("""
      SELECT r_name, n_name,
             round(sum(o_totalprice), 2) AS revenue,
             count(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name"""))(
      (s, d) => Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(round(sum($"o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy($"r_name", $"n_name")),

    // ---------------------------------------------------------------- J3 P8 (skip-existing as anti-join)
    Q("q11_anti_join", Some("""
      SELECT p_partkey, p_name
      FROM part
      WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
                              WHERE l_returnflag = 'A' AND l_quantity >= 48)
      ORDER BY p_partkey"""))(
      (s, d) => Tables.part(s, d)
        .join(Tables.lineitem(s, d)
          .filter($"l_returnflag" === "A" && $"l_quantity" >= 48),
          $"p_partkey" === $"l_partkey", "left_anti")
        .select($"p_partkey", $"p_name")
        .orderBy($"p_partkey")),

    // ---------------------------------------------------------------- J3 (semi join / EXISTS)
    Q("q12_semi_join", Some("""
      SELECT s_suppkey, s_name
      FROM supplier
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
      ORDER BY s_suppkey"""))(
      (s, d) => Tables.supplier(s, d)
        .join(Tables.lineitem(s, d).filter($"l_quantity" >= 49),
          $"s_suppkey" === $"l_suppkey", "left_semi")
        .select($"s_suppkey", $"s_name")
        .orderBy($"s_suppkey")),

    // ---------------------------------------------------------------- J2 (per-variable frames merged on coord key, sinks.py:326-340)
    Q("q13_merge_outer", Some("""
      SELECT user_id, click_value, view_value
      FROM (SELECT user_id, round(sum(value), 6) AS click_value
            FROM events WHERE event_type = 'click' GROUP BY user_id) a
      FULL JOIN (SELECT user_id, round(sum(value), 6) AS view_value
                 FROM events WHERE event_type = 'view' GROUP BY user_id) b
      USING (user_id)
      ORDER BY user_id"""))(
      (s, d) => {
        val ev = Tables.events(s, d)
        val a = ev.filter($"event_type" === "click").groupBy($"user_id")
          .agg(round(sum($"value"), 6).as("click_value"))
        val b = ev.filter($"event_type" === "view").groupBy($"user_id")
          .agg(round(sum($"value"), 6).as("view_value"))
        a.join(b, Seq("user_id"), "full_outer")
          .select($"user_id", $"click_value", $"view_value")
          .orderBy($"user_id")
      }),

    // ---------------------------------------------------------------- S3 (hypercube -> wide schema via pivot)
    Q("q14_pivot_channels", Some("""
      SELECT user_id,
             round(sum(CASE WHEN event_type = 'click' THEN value END), 6) AS click,
             round(sum(CASE WHEN event_type = 'error' THEN value END), 6) AS error,
             round(sum(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase,
             round(sum(CASE WHEN event_type = 'signup' THEN value END), 6) AS signup,
             round(sum(CASE WHEN event_type = 'view' THEN value END), 6) AS view
      FROM events GROUP BY user_id ORDER BY user_id"""))(
      (s, d) => Tables.events(s, d)
        .groupBy($"user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum($"value"), 6))
        .orderBy($"user_id")),

    // ---------------------------------------------------------------- §2.7 (append-only ledger -> current state via row_number)
    Q("q15_latest_state", Some("""
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             round(value, 6) AS value
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1
      ORDER BY user_id"""))(
      (s, d) => {
        // order on microsecond-truncated time (the oracle's DuckDB reader is
        // µs-precision), tie-break by event_id
        val w = Window.partitionBy($"user_id")
          .orderBy(expr("ts_ns div 1000").desc, $"event_id".desc)
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"user_id", $"event_id", $"event_type",
            expr("ts_ns div 1000").as("ts_us"),
            round($"value", 6).as("value"))
          .orderBy($"user_id")
      }),

    // ---------------------------------------------------------------- ST1 A6 (1-minute fixed windows, streaming.py:34-55; batch equivalent)
    Q("q16_stream_window", Some("""
      SELECT CAST(date_trunc('minute', ts) AS TIMESTAMP) AS win_start,
             event_type, count(*) AS n, round(sum(value), 6) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))(
      (s, d) => Tables.events(s, d)
        .groupBy(window($"ts", "1 minute"), $"event_type")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 6).as("sum_value"))
        .select($"window.start".cast("timestamp_ntz").as("win_start"),
          $"event_type", $"n", $"sum_value")
        .orderBy($"win_start", $"event_type")),

    // ---------------------------------------------------------------- ST4 (message body parse, streaming.py:81-121)
    Q("q17_parse_props", Some("""
      SELECT TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) % 10 AS k_bucket,
             count(*) AS n, round(sum(value), 6) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1"""))(
      (s, d) => Tables.events(s, d)
        .withColumn("k_bucket",
          regexp_extract($"props", "[0-9]+", 0).cast("long") % 10)
        .groupBy($"k_bucket")
        .agg(count(lit(1)).as("n"), round(sum($"value"), 6).as("sum_value"))
        .orderBy($"k_bucket")),

    // ---------------------------------------------------------------- F12 F13 R5 R10 (MARS range fan-out + path templating)
    Q("q18_mars_expand", Some("""
      SELECT r_name, level, strftime(d, '%Y-%m-%d') AS date_str,
             printf('req/%s/%d/%s', r_name, level, strftime(d, '%Y-%m-%d')) AS request
      FROM region,
           (SELECT unnest([500, 850]) AS level),
           (SELECT unnest(generate_series(DATE '1994-01-01', DATE '1994-01-05',
                                          INTERVAL 1 DAY)) AS d)
      ORDER BY r_name, level, date_str"""))(
      (s, d) => Tables.region(s, d)
        .select($"r_name")
        .crossJoin(s.range(1).select(
          explode(array(lit(500), lit(850))).as("level")))
        .crossJoin(s.range(1).select(explode(expr(
          "sequence(DATE'1994-01-01', DATE'1994-01-05', interval 1 day)")).as("d")))
        .select($"r_name", $"level",
          date_format($"d", "yyyy-MM-dd").as("date_str"),
          format_string("req/%s/%d/%s", $"r_name", $"level",
            date_format($"d", "yyyy-MM-dd")).as("request"))
        .orderBy($"r_name", $"level", $"date_str")),

    // ---------------------------------------------------------------- F14 (hindcast dates; Feb 29 -> Feb 28 before subtracting)
    Q("q19_hdate", Some("""
      SELECT od, yrs,
             strftime(CAST((CASE WHEN month(od) = 2 AND day(od) = 29
                            THEN od - INTERVAL 1 DAY ELSE od END)
                           - to_years(yrs) AS DATE), '%Y-%m-%d') AS hdate
      FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS od FROM orders),
           (SELECT unnest([1, 2, 3, 4]) AS yrs)
      ORDER BY od, yrs"""))(
      (s, d) => Tables.orders(s, d)
        .select($"o_orderdate".cast("date").as("od")).distinct()
        .crossJoin(s.range(1).select(
          explode(array(lit(1), lit(2), lit(3), lit(4))).as("yrs")))
        .withColumn("base",
          when(month($"od") === 2 && dayofmonth($"od") === 29,
            date_sub($"od", 1)).otherwise($"od"))
        .select($"od", $"yrs",
          date_format(expr("add_months(base, -12 * yrs)"), "yyyy-MM-dd").as("hdate"))
        .orderBy($"od", $"yrs")),

    // ---------------------------------------------------------------- F7 F8 F9 F18 (safe names, UTC strings, md5)
    Q("q20_scalar_funcs", Some("""
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS utc_str,
             md5(o_orderpriority) AS prio_md5,
             regexp_replace(o_orderpriority, '[^a-zA-Z0-9-_]+', '_', 'g') AS safe_name
      FROM orders
      ORDER BY o_orderkey
      LIMIT 200"""))(
      (s, d) => Tables.orders(s, d)
        .select($"o_orderkey",
          date_format($"o_orderdate", "yyyy-MM-dd'T'HH:mm:ss'Z'").as("utc_str"),
          md5($"o_orderpriority").as("prio_md5"),
          regexp_replace($"o_orderpriority", "[^a-zA-Z0-9-_]+", "_").as("safe_name"))
        .orderBy($"o_orderkey")
        .limit(200)),

    // ---------------------------------------------------------------- F4 (longitude sanitize)
    Q("q21_lon_sanitize", Some("""
      SELECT round(((raw % 360) + 540) % 360 - 180, 6) AS lon, count(*) AS n
      FROM (SELECT (l_orderkey % 1000) * CAST(1.5 AS DOUBLE) - 400 AS raw FROM lineitem)
      GROUP BY 1 ORDER BY 1"""))(
      (s, d) => Tables.lineitem(s, d)
        .selectExpr("(l_orderkey % 1000) * CAST(1.5 AS DOUBLE) - 400 AS raw")
        .select(round(G.sanitizeLon($"raw"), 6).as("lon"))
        .groupBy($"lon").agg(count(lit(1)).as("n"))
        .orderBy($"lon")),

    // ---------------------------------------------------------------- text analysis (token/punct/stopword/quality)
    Q("q22_text_stats", Some("""
      SELECT doc_id, n_tokens, bpeish_tokens, punct_cnt,
             round(punct_ratio, 6) AS punct_ratio,
             round(stop_ratio, 6) AS stop_ratio,
             round((least(length(text)/500.0, 1.0) + least(punct_ratio*20, 1.0)
                    + least(stop_ratio*5, 1.0)) / 3.0, 6) AS quality
      FROM (
        SELECT doc_id, text,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS bpeish_tokens,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct_cnt,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                 / greatest(length(text), 1) AS punct_ratio,
               len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b'))::DOUBLE
                 / greatest(CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+')) END, 1) AS stop_ratio
        FROM documents)
      ORDER BY doc_id"""))(
      (s, d) => Tables.documents(s, d)
        .select($"doc_id", $"text",
          TF.tokenCount($"text").as("n_tokens"),
          TF.bpeishTokenCount($"text").as("bpeish_tokens"),
          TF.punctCount($"text").as("punct_cnt"),
          TF.punctRatio($"text").as("punct_ratio"),
          TF.stopwordRatio($"text").as("stop_ratio"))
        .withColumn("quality", round(
          (least(length($"text") / 500.0, lit(1.0)) +
            least($"punct_ratio" * 20, lit(1.0)) +
            least($"stop_ratio" * 5, lit(1.0))) / 3.0, 6))
        .select($"doc_id", $"n_tokens", $"bpeish_tokens", $"punct_cnt",
          round($"punct_ratio", 6).as("punct_ratio"),
          round($"stop_ratio", 6).as("stop_ratio"), $"quality")
        .orderBy($"doc_id")),

    // ---------------------------------------------------------------- text analysis (n-gram/stopword language ID)
    Q("q23_lang_id", Some("""
      SELECT lang, lang_pred, count(*) AS n
      FROM (
        SELECT lang,
               CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
                    WHEN en = greatest(en, de, es, fr) THEN 'en'
                    WHEN de = greatest(en, de, es, fr) THEN 'de'
                    WHEN es = greatest(en, de, es, fr) THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM (
          SELECT lang,
                 len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS en,
                 len(regexp_extract_all(text, '\b(der|die|das|und|ist|ein)\b')) AS de,
                 len(regexp_extract_all(text, '\b(el|la|de|y|es|un)\b')) AS es,
                 len(regexp_extract_all(text, '\b(le|la|de|et|est|un)\b')) AS fr
          FROM documents))
      GROUP BY lang, lang_pred ORDER BY lang, lang_pred"""))(
      (s, d) => Tables.documents(s, d)
        .select($"lang", TF.langId($"text").as("lang_pred"))
        .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"lang_pred")),

    // ---------------------------------------------------------------- dedup: exact (hash groupBy)
    Q("q24_dedup_exact", Some("""
      SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dup_cnt
      FROM documents GROUP BY 1 ORDER BY h"""))(
      (s, d) => Tables.documents(s, d)
        .groupBy(md5($"text").as("h"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
        .orderBy($"h")),

    // ---------------------------------------------------------------- text analysis (order-sensitive rolling fingerprint)
    Q("q25_rolling_fingerprint", Some("""
      SELECT doc_id, CAST(sum(p * (strpos('0123456789abcdef',
                                          substr(md5(tok), 1, 1)) - 1)) AS BIGINT) AS fp
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok,
                   unnest(generate_series(1, len(string_split_regex(trim(lower(text)), '\s+')))) AS p
            FROM documents)
      GROUP BY doc_id ORDER BY doc_id"""))(
      (s, d) => Tables.documents(s, d)
        .select($"doc_id", TF.rollingFingerprint($"text").as("fp"))
        .orderBy($"doc_id")),

    // ---------------------------------------------------------------- similarity: brute-force cosine top-k
    Q("q26_ann_topk", Some("""
      WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      z AS (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x,
                   unnest(q.qv)::DOUBLE AS y
            FROM embeddings e CROSS JOIN q),
      sums AS (SELECT vec_id, sum(x*y) AS dot, sqrt(sum(x*x)) AS na,
                      sqrt(sum(y*y)) AS nb
               FROM z GROUP BY vec_id)
      SELECT vec_id, round(dot / (na * nb), 6) AS cos_sim
      FROM sums ORDER BY cos_sim DESC, vec_id LIMIT 10"""))(
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
        // native codegen vec_dot, same sequential fp accumulation as the HOF
        def dotd(a: Column, b: Column): Column = graft.operators.Similarity.dot(a, b)
        emb.crossJoin(broadcast(q))
          .select($"vec_id",
            round(dotd($"embedding", $"qv") /
              (sqrt(dotd($"embedding", $"embedding")) * sqrt(dotd($"qv", $"qv"))), 6)
              .as("cos_sim"))
          .orderBy($"cos_sim".desc, $"vec_id")
          .limit(10)
      }),

    // ---------------------------------------------------------------- multimodal: opaque binary column + typed metadata (stubbed decode)
    Q("q27_multimodal_meta", Some("""
      SELECT doc_id, n_bytes, md5(text) AS content_md5,
             (n_bytes % 64) + 1 AS width,
             ((n_bytes // 7) % 64) + 1 AS height,
             CASE n_bytes % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                  ELSE 'webp' END AS format
      FROM (SELECT doc_id, text, strlen(text) AS n_bytes FROM documents)
      ORDER BY doc_id"""))(
      (s, d) => Tables.documents(s, d)
        .withColumn("content", $"text".cast("binary"))
        .withColumn("n_bytes", octet_length($"text").cast("long"))
        .select($"doc_id", $"n_bytes", md5($"content").as("content_md5"),
          (($"n_bytes" % 64) + 1).as("width"),
          (expr("n_bytes div 7") % 64 + 1).as("height"),
          when($"n_bytes" % 3 === 0, "jpeg")
            .when($"n_bytes" % 3 === 1, "png")
            .otherwise("webp").as("format"))
        .orderBy($"doc_id")),

    // ---------------------------------------------------------------- R6 O4 (round-robin subsection assignment / fair scheduling)
    // Global rank without a single-partition window: range-partition + local
    // sort gives a globally ordered RDD, and zipWithIndex derives the rank
    // from per-partition counts (one lightweight count job) — every stage
    // stays spread across the cluster even when the table is the full corpus.
    Q("q28_round_robin", Some("""
      SELECT pid, rn0 % 3 AS slot, rn0 // 3 AS round_idx,
             'license-' || CAST(rn0 % 3 AS VARCHAR) AS subsection
      FROM (SELECT o_orderkey AS pid,
                   row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
            FROM orders)
      ORDER BY pid"""))(
      (s, d) => {
        val ranked = graft.operators.ScaleToolkit.globalRank(
          Tables.orders(s, d).select($"o_orderkey".as("pid")), "pid", "rn0")
        ranked.select($"pid", ($"rn0" % 3).as("slot"),
          expr("rn0 div 3").as("round_idx"),
          concat(lit("license-"), ($"rn0" % 3).cast("string")).as("subsection"))
          .orderBy($"pid")
      }),

    // ---------------------------------------------------------------- R2 F2 F3 F5 (mover long-format rows + GeoJSON + metadata cols)
    Q("q29_mover_rows", Some(s"""
      WITH grid AS ($gridSql),
      g AS (SELECT * FROM grid
            WHERE latitude BETWEEN -10 AND 10 AND longitude BETWEEN 0 AND 40)
      SELECT l_orderkey, l_linenumber, time, latitude, longitude,
             round(temperature, 6) AS temperature,
             '{"type": "Point", "coordinates": [' || CAST(round(longitude, 6) AS VARCHAR)
               || ', ' || CAST(round(latitude, 6) AS VARCHAR) || ']}' AS geo_point,
             '{"type": "Polygon", "coordinates": [['
               || '[' || CAST(round(longitude - 0.025, 6) AS VARCHAR) || ', ' || CAST(round(latitude - 0.025, 6) AS VARCHAR) || ']' || ', '
               || '[' || CAST(round(longitude + 0.025, 6) AS VARCHAR) || ', ' || CAST(round(latitude - 0.025, 6) AS VARCHAR) || ']' || ', '
               || '[' || CAST(round(longitude + 0.025, 6) AS VARCHAR) || ', ' || CAST(round(latitude + 0.025, 6) AS VARCHAR) || ']' || ', '
               || '[' || CAST(round(longitude - 0.025, 6) AS VARCHAR) || ', ' || CAST(round(latitude + 0.025, 6) AS VARCHAR) || ']' || ', '
               || '[' || CAST(round(longitude - 0.025, 6) AS VARCHAR) || ', ' || CAST(round(latitude - 0.025, 6) AS VARCHAR) || ']'
               || ']]}' AS geo_polygon,
             TIMESTAMP '2026-01-01 00:00:00' AS data_import_time,
             'file://testdata/grid' AS data_uri,
             min(time) OVER () AS data_first_step
      FROM g
      ORDER BY l_orderkey, l_linenumber, time, temperature, latitude, longitude"""))(
      (s, d) => {
        // persisted (r19): the filtered window feeds the row projection AND
        // the first-step aggregate — one grid scan instead of two
        val g = grid(s, d)
          .filter($"latitude".between(-10, 10) && $"longitude".between(0, 40))
          .transform(graft.operators.ScaleToolkit.cached)
        g.select($"l_orderkey", $"l_linenumber",
          $"time".cast("timestamp_ntz").as("time"), $"latitude", $"longitude",
          round($"temperature", 6).as("temperature"),
          G.geoPointJson($"latitude", $"longitude").as("geo_point"),
          G.geoPolygonJson($"latitude", $"longitude", lit(0.025), lit(0.025))
            .as("geo_polygon"),
          lit("2026-01-01 00:00:00").cast("timestamp_ntz").as("data_import_time"),
          lit("file://testdata/grid").as("data_uri"))
        // first-step as a broadcast 1-row aggregate, not `min() OVER ()`
        // (the empty-partition window funnels every row into one task)
        .crossJoin(broadcast(
          g.agg(min($"time".cast("timestamp_ntz")).as("data_first_step"))))
        .orderBy($"l_orderkey", $"l_linenumber", $"time", $"temperature",
          $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 S3 (GRIB1 codec end-to-end: pack -> file -> distributed decode)
    // Deterministic values from `orders` round-trip through a REAL GRIB
    // edition-1 file (IBM-float reference value, 16-bit simple packing, two
    // messages); the oracle recomputes the grid directly from `orders` — any
    // codec bit-slip breaks the hash match.
    Q("q48_grib_extract", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-01-15 00:00:00'
                  ELSE TIMESTAMP '2026-01-15 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 997 AS DOUBLE) AS value
      FROM o
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, Grib1Writer => GW}
        val path = Fixtures.path("q48", d, "q48.grib") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 1, 15, 0, 0)
          def spec(v: Seq[Double], p1: Int) = GW.FieldSpec(
            paramId = 167, levelType = 105, levelValue = 2, refTime = t0,
            values = v, ni = 10, nj = 10,
            la1 = 50.0, lo1 = 0.0, la2 = 41.0, lo2 = 9.0, p1 = p1,
            decimalScale = 0)
          GW.write(p, Seq(spec(vals.take(100), 0), spec(vals.drop(100), 6)))
        }
        GribReader.readLongFormat(s, path)
          .select($"time", $"latitude", $"longitude", $"value")
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (GRIB edition-2 codec end-to-end, IEEE ref + templates 3.0/4.0/5.0)
    Q("q50_grib2_extract", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-03-01 00:00:00'
                  ELSE TIMESTAMP '2026-03-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 997 AS DOUBLE) AS value
      FROM o
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, Grib2Writer => GW2}
        val path = Fixtures.path("q50", d, "q50.grib2") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 3, 1, 0, 0)
          def spec(v: Seq[Double], fcst: Int) = GW2.FieldSpec(
            discipline = 0, category = 0, number = 0, levelType = 103,
            levelScaledValue = 2, refTime = t0, values = v, ni = 10, nj = 10,
            la1 = 50.0, lo1 = 0.0, la2 = 41.0, lo2 = 9.0,
            forecastTime = fcst, decimalScale = 0)
          GW2.write(p, Seq(spec(vals.take(100), 0), spec(vals.drop(100), 6)))
        }
        GribReader.readLongFormat(s, path)
          .select($"time", $"latitude", $"longitude", $"value")
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (CF time units — the ERA5 netCDF time axis)
    // Real netCDF archives encode time as "<unit> since <base>" (ERA5:
    // "hours since 1900-01-01 00:00:0.0"); the reader converts the axis to
    // epoch seconds at load. The oracle re-derives the same instants with
    // DuckDB interval arithmetic from the hour offsets.
    Q("q111_netcdf3_cftime", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT TIMESTAMP '2020-01-01 00:00:00'
               + CAST(rn0 // 100 * 3 AS BIGINT) * INTERVAL 1 HOUR AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 997 AS DOUBLE) AS t2m
      FROM o
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.netcdf.{NetCDF3, NetCDF3Reader, NetCDF3Writer => NW}
        val path = Fixtures.path("q111", d, "q111.nc") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          // 2020-01-01 in hours since 1900-01-01 (36889 days * 24)
          val baseHours = java.time.Duration.between(
            java.time.LocalDateTime.of(1900, 1, 1, 0, 0),
            java.time.LocalDateTime.of(2020, 1, 1, 0, 0)).toHours.toDouble
          NW.write(p,
            dims = Seq(NW.DimSpec("time", 2, record = true),
              NW.DimSpec("latitude", 10), NW.DimSpec("longitude", 10)),
            vars = Seq(
              NW.VarSpec("time", Seq("time"), NetCDF3.NC_DOUBLE,
                Seq(baseHours, baseHours + 3.0),
                attrs = Seq("units" -> "hours since 1900-01-01 00:00:0.0",
                  "calendar" -> "gregorian")),
              NW.VarSpec("latitude", Seq("latitude"), NetCDF3.NC_DOUBLE,
                (0 until 10).map(50.0 - _)),
              NW.VarSpec("longitude", Seq("longitude"), NetCDF3.NC_DOUBLE,
                (0 until 10).map(_.toDouble)),
              NW.VarSpec("t2m", Seq("time", "latitude", "longitude"),
                NetCDF3.NC_DOUBLE, vals)))
        }
        NetCDF3Reader.readLongFormat(s, path)
          .select(col("time").cast("timestamp_ntz").as("time"),
            $"latitude", $"longitude", $"t2m")
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 + A2 (CF noleap calendar — the CMIP/CORDEX time axis)
    // Climate-model output routinely declares calendar="noleap": every model
    // year is 365 days, Feb 29 never exists. The reader resolves each offset
    // with fixed-length-year arithmetic to (y, m, d, time-of-day) fields and
    // re-expresses those fields as proleptic-Gregorian timestamps (cftime's
    // field mapping; the reference gets it via xarray/cftime,
    // weather_mv/loader_pipeline/sinks.py:345-389) — so date_trunc month
    // buckets work on CMIP-class corpora. The oracle re-derives the mapping
    // independently: day-of-year -> month/day via date arithmetic on a
    // NON-leap Gregorian year (2001), whose month lengths equal noleap's.
    Q("q138_netcdf3_noleap", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           g AS (SELECT rn0 // 5 AS ti,
                        CAST(o_orderkey % 997 AS DOUBLE) AS tas
                 FROM o),
           t AS (SELECT tas, (1461 * ti) // 24 AS d, (1461 * ti) % 24 AS hr
                 FROM g)
      SELECT month, count(*) AS n, round(sum(tas), 6) AS sum_tas
      FROM (SELECT CAST(date_trunc('month',
                     make_timestamp(CAST(2000 + d // 365 AS BIGINT),
                       CAST(month(DATE '2001-01-01'
                                  + (d % 365) * INTERVAL 1 DAY) AS BIGINT),
                       CAST(day(DATE '2001-01-01'
                                + (d % 365) * INTERVAL 1 DAY) AS BIGINT),
                       CAST(hr AS BIGINT), 0, CAST(0 AS DOUBLE)))
                     AS TIMESTAMP) AS month,
                   tas
            FROM t) b
      GROUP BY month ORDER BY month"""))(
      (s, d) => {
        import graft.sources.netcdf.{NetCDF3, NetCDF3Reader, NetCDF3Writer => NW}
        val path = Fixtures.path("q138", d, "q138.nc") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          NW.write(p,
            dims = Seq(NW.DimSpec("time", 40, record = true),
              NW.DimSpec("latitude", 5)),
            vars = Seq(
              NW.VarSpec("time", Seq("time"), NetCDF3.NC_DOUBLE,
                (0 until 40).map(1461.0 * _), // 60 d 21 h steps: wraps months,
                                              // years, and crosses noleap Feb
                attrs = Seq("units" -> "hours since 2000-01-01",
                  "calendar" -> "noleap")),
              NW.VarSpec("latitude", Seq("latitude"), NetCDF3.NC_DOUBLE,
                (0 until 5).map(_.toDouble)),
              NW.VarSpec("tas", Seq("time", "latitude"), NetCDF3.NC_DOUBLE,
                vals)))
        }
        NetCDF3Reader.readLongFormat(s, path)
          .groupBy(date_trunc("month", $"time").cast("timestamp_ntz").as("month"))
          .agg(count(lit(1)).as("n"), round(sum($"tas"), 6).as("sum_tas"))
          .orderBy($"month")
      }),

    // ---------------------------------------------------------------- S1 + A2 (CF 360_day calendar, Zarr DSv2 path)
    // The 360_day model calendar (UKMO/HadGEM family): twelve 30-day months.
    // Feb 29 maps when the Gregorian year is leap; Feb 30 has no Gregorian
    // representation and becomes NULL (xarray convert_calendar align_on=
    // "date" NaT policy) rather than silently landing on a nearby day. Runs
    // through the Zarr DataSource-v2 reader, so NaT handling is exercised in
    // the InternalRow path too.
    Q("q139_zarr_360day", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           g AS (SELECT rn0 // 5 AS ti, rn0 % 5 AS li,
                        CAST(o_orderkey % 997 AS DOUBLE) AS tas
                 FROM o),
           t AS (SELECT li, tas, 3 * ti + 38 AS d, 6 * (ti % 4) AS hr
                 FROM g)
      SELECT CASE WHEN (d % 360) // 30 + 1 = 2 AND (d % 360) % 30 + 1 > 29
                  THEN NULL
                  ELSE make_timestamp(CAST(2000 + d // 360 AS BIGINT),
                                      CAST((d % 360) // 30 + 1 AS BIGINT),
                                      CAST((d % 360) % 30 + 1 AS BIGINT),
                                      CAST(hr AS BIGINT), 0,
                                      CAST(0 AS DOUBLE)) END AS time,
             CAST(li AS DOUBLE) AS latitude, tas
      FROM t ORDER BY time NULLS FIRST, latitude"""))(
      (s, d) => {
        import graft.sources.zarr.{ZarrWriter => ZW}
        val store = Fixtures.path("q139", d, "q139.zarr") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          // 3-day steps from day 38 with 6 h sub-day offsets: ti=7 lands on
          // 360_day Feb 30 (doy 59) -> NULL timestamp
          val times = (0 until 40).map(i => 3.0 * i + 38.0 + 0.25 * (i % 4))
          ZW.write(p, Seq(
            ZW.VarSpec("time", Seq("time"), Seq(40), Seq(40),
              data = times,
              units = Some("days since 2000-01-01"),
              calendar = Some("360_day")),
            ZW.VarSpec("latitude", Seq("latitude"), Seq(5), Seq(5),
              data = (0 until 5).map(_.toDouble)),
            ZW.VarSpec("tas", Seq("time", "latitude"), Seq(40, 5), Seq(40, 5),
              data = vals)))
        }
        s.read.format("zarr").load(store)
          .select($"time", $"latitude", $"tas")
          .orderBy($"time".asc_nulls_first, $"latitude")
      }),

    // ---------------------------------------------------------------- S1 (GRIB2 oblate shape-of-earth, ellipsoidal Mercator)
    // Regional NWP products declare oblate figures (code table 3.2 shape 7
    // here — custom WGS84-like axes); projecting them with a sphere would
    // displace coordinates by kilometres. The reader runs Snyder's
    // ellipsoidal Mercator inverse; the oracle re-derives every grid point
    // with DuckDB's own trig: ts = exp(-y/(a k0)), then four unrolled
    // rounds of the Snyder 7-9 fixed-point iteration for latitude
    // (contraction ~e^2 per round: 4 rounds land far below the 1e-6
    // rounding). Axes are cm-exact so writer -> reader -> oracle all use
    // the identical figure.
    Q("q140_grib2_oblate", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           c AS (SELECT 6378137.0 AS a,
                        sqrt(1 - (6356752.31/6378137.0)
                               * (6356752.31/6378137.0)) AS e),
           k AS (SELECT a, e,
                        a * cos(radians(20.0))
                          / sqrt(1 - e*e*sin(radians(20.0))*sin(radians(20.0))) AS ak
                 FROM c),
           base AS (SELECT a, e, ak, ak * radians(-5.0) AS x0,
                           -ak * ln(tan(pi()/4 - radians(10.0)/2)
                                    / power((1 - e*sin(radians(10.0)))
                                            / (1 + e*sin(radians(10.0))),
                                            e/2)) AS y0
                    FROM k),
           g AS (SELECT rn0 % 10 AS i, rn0 // 10 AS j,
                        CAST(o_orderkey % 997 AS DOUBLE) AS value
                 FROM o),
           p AS (SELECT value, e, ak, x0 + i * 50000.0 AS x,
                        exp(-(y0 + j * 50000.0)/ak) AS ts
                 FROM g, base),
           i0 AS (SELECT *, pi()/2 - 2*atan(ts) AS phi FROM p),
           i1 AS (SELECT * REPLACE (pi()/2 - 2*atan(ts*power(
                    (1-e*sin(phi))/(1+e*sin(phi)), e/2)) AS phi) FROM i0),
           i2 AS (SELECT * REPLACE (pi()/2 - 2*atan(ts*power(
                    (1-e*sin(phi))/(1+e*sin(phi)), e/2)) AS phi) FROM i1),
           i3 AS (SELECT * REPLACE (pi()/2 - 2*atan(ts*power(
                    (1-e*sin(phi))/(1+e*sin(phi)), e/2)) AS phi) FROM i2),
           i4 AS (SELECT * REPLACE (pi()/2 - 2*atan(ts*power(
                    (1-e*sin(phi))/(1+e*sin(phi)), e/2)) AS phi) FROM i3)
      SELECT round(degrees(phi), 6) AS latitude,
             round(degrees(x/ak), 6) AS longitude,
             value
      FROM i4 ORDER BY latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, GribProjection, Grib2Writer => GW2}
        val path = Fixtures.path("q140", d, "q140.grib2") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 3, 1, 0, 0)
          // WGS84-like axes, centimetre-exact (the shape-7 wire precision)
          val merc = GribProjection.Mercator(20.0, 6378137.0, 6356752.31)
          GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals,
            ni = 10, nj = 20, la1 = 10.0, lo1 = -5.0, la2 = 0, lo2 = 0,
            decimalScale = 0, projection = Some(merc),
            dxMeters = 50000.0, dyMeters = 50000.0)))
        }
        GribReader.readLongFormat(s, path)
          .select(round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), $"value")
          .orderBy($"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (GRIB2 rotated lat/lon, template 3.1)
    // Rotated lat/lon — the COSMO / ICON-EU / HARMONIE regional-model grid
    // (WMO GRIB2 template 3.1): the grid is regular in a frame whose south
    // pole sits at true (-40, 10); the reader unrotates each point to true
    // latitude/longitude. The oracle re-derives the unrotation with
    // DuckDB's own trig (asin/atan2), so the spherical rotation math is
    // verified by an independent evaluator; round(…, 6) absorbs libm ulps.
    Q("q108_grib2_rotated", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 100),
           g AS (SELECT CAST(rn0 * 1000 + o_orderkey % 997 AS DOUBLE) AS value,
                        radians(4.5 - (rn0 // 10) * 1.0) AS phi,
                        radians(-4.5 + (rn0 % 10) * 1.0) AS lam
                 FROM o)
      SELECT round(degrees(asin(cos(phi) * cos(lam) * sin(radians(50.0))
                                + sin(phi) * cos(radians(50.0)))), 6) AS latitude,
             round(degrees(atan2(cos(phi) * sin(lam),
                                 cos(phi) * cos(lam) * cos(radians(50.0))
                                 - sin(phi) * sin(radians(50.0)))
                           + radians(10.0)), 6) AS longitude,
             value
      FROM g ORDER BY value"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, GribProjection, Grib2Writer => GW2}
        val path = Fixtures.path("q108", d, "q108.grib2") { p =>
          val ks = Tables.orders(s, d).orderBy($"o_orderkey").limit(100)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0))
          val vals = ks.zipWithIndex.map { case (v, i) => i * 1000.0 + v }.toSeq
          val t0 = java.time.LocalDateTime.of(2026, 4, 1, 0, 0)
          GW2.write(p, Seq(GW2.FieldSpec(
            discipline = 0, category = 0, number = 0, levelType = 103,
            levelScaledValue = 2, refTime = t0, values = vals, ni = 10, nj = 10,
            la1 = 4.5, lo1 = -4.5, la2 = -4.5, lo2 = 4.5,
            decimalScale = 0, bitsPerValue = 24,
            projection = Some(GribProjection.RotatedLatLon(-40.0, 10.0)))))
        }
        GribReader.readLongFormat(s, path)
          .select(round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), $"value")
          .orderBy($"value")
      }),

    // ---------------------------------------------------------------- S1 (GRIB2 probability products, templates 4.5/4.9)
    // ENS probability output (e.g. probability of precipitation above a
    // threshold): the probability block demuxes into per-threshold
    // channels (`tp_p<type>_l<lower>[_u<upper>]`), instant (4.5) and
    // over-an-interval (4.9) variants side by side in one file.
    Q("q109_grib2_probability", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 < 100 THEN 'tp_p1_l1' ELSE 'tp_p2_l0p5_u2p5' END
               AS short_name,
             CASE WHEN rn0 < 100 THEN 'instant' ELSE 'accum' END AS step_type,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 101 AS DOUBLE) AS value
      FROM o
      ORDER BY short_name, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, Grib2Writer => GW2}
        val path = Fixtures.path("q109", d, "q109.grib2") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 101).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 5, 1, 0, 0)
          def spec(v: Seq[Double], prob: (Int, Double, Double), statP: Int) =
            GW2.FieldSpec(
              discipline = 0, category = 1, number = 8, levelType = 1,
              levelScaledValue = 0, refTime = t0, values = v, ni = 10, nj = 10,
              la1 = 50.0, lo1 = 0.0, la2 = 41.0, lo2 = 9.0,
              forecastTime = 6, statProcess = statP, decimalScale = 0,
              probability = Some(prob))
          GW2.write(p, Seq(
            spec(vals.take(100), (1, 1.0, Double.NaN), -1),
            spec(vals.drop(100), (2, 0.5, 2.5), 1)))
        }
        GribReader.readLongFormat(s, path)
          .select($"short_name", $"step_type", $"latitude", $"longitude",
            $"value")
          .orderBy($"short_name", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 S6 (glob -> distributed multi-file ingest, mixed editions, data_uri)
    // The reference's PRIMARY invocation shape: a file pattern expanded to
    // one work unit per URI (pattern_to_uris, pipeline.py:42-48). Four GRIB
    // files — two edition-1, two edition-2 — are read through ONE glob with
    // per-file index tasks; rows carry their file's data_uri, and the oracle
    // recomputes every cell from `orders`, so any slip in glob expansion,
    // per-message edition dispatch, file/value alignment, or uri plumbing
    // breaks the hash.
    Q("q52_grib_multifile", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 400)
      SELECT 'f' || CAST(rn0 // 100 AS VARCHAR) AS file_stem,
             TIMESTAMP '2026-05-01 00:00:00' + (rn0 // 100) * INTERVAL 6 HOUR AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 997 AS DOUBLE) AS value
      FROM o
      ORDER BY file_stem, time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, Grib1Writer => GW, Grib2Writer => GW2}
        val dir = Fixtures.dir("q52", d) { dir =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(400)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 5, 1, 0, 0)
          def g1(i: Int) = GW.FieldSpec(167, 105, 2, t0.plusHours(6L * i),
            vals.slice(i * 100, i * 100 + 100), ni = 10, nj = 10,
            la1 = 50.0, lo1 = 0.0, la2 = 41.0, lo2 = 9.0, decimalScale = 0)
          def g2(i: Int) = GW2.FieldSpec(0, 0, 0, 103, 2, t0.plusHours(6L * i),
            vals.slice(i * 100, i * 100 + 100), ni = 10, nj = 10,
            la1 = 50.0, lo1 = 0.0, la2 = 41.0, lo2 = 9.0, decimalScale = 0)
          GW.write(s"$dir/f0.grib", Seq(g1(0)))
          GW.write(s"$dir/f1.grib", Seq(g1(1)))
          GW2.write(s"$dir/f2.grib", Seq(g2(2)))
          GW2.write(s"$dir/f3.grib", Seq(g2(3)))
        }
        GribReader.readLongFormatGlob(s, s"$dir/*.grib")
          .select(
            regexp_extract($"data_uri", "([^/]+)\\.grib$", 1).as("file_stem"),
            $"time", $"latitude", $"longitude", $"value")
          .orderBy($"file_stem", $"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S4 (TIFF LZW + horizontal predictor end-to-end)
    // Values from `orders` round-trip through a REAL LZW-compressed,
    // predictor-2, uint16 GeoTIFF (what the reference's COG writer emits,
    // ee.py:662); the oracle recomputes the raster from `orders` — any
    // codec or predictor bit-slip breaks the hash.
    Q("q53_tiff_lzw_extract", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CAST(50 - (rn0 // 20) - 0.5 AS DOUBLE) AS latitude,
             CAST((rn0 % 20) + 0.5 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 997 AS DOUBLE) AS band_1
      FROM o
      ORDER BY latitude, longitude"""))(
      (s, d) => {
        import graft.sources.tiff.{TiffReader, TiffWriter => TW}
        val path = Fixtures.path("q53", d, "q53.tif") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          TW.write(p, TW.Spec(20, 10, 1, vals,
            pixelScale = (1.0, 1.0), tiepointXY = (0.0, 50.0), epsg = 4326,
            rowsPerStrip = 3, lzw = true, predictor = 2,
            bitsPerSample = 16, sampleFormat = 1))
        }
        TiffReader.readLongFormat(s, path)
          .orderBy($"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (GRIB2 complex packing, templates 5.2 + 5.3)
    // Same `orders` grid as q50, but message 1 packs with template 5.2
    // (grouped) and message 2 with 5.3 (grouped + second-order spatial
    // differencing) — the operational ECMWF/NCEP packings the reference
    // reads via eccodes (sinks.py:371-389). Any group/width/length or
    // differencing slip breaks the hash against the DuckDB recomputation.
    Q("q54_grib2_complex", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-06-01 00:00:00'
                  ELSE TIMESTAMP '2026-06-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 997 AS DOUBLE) AS value
      FROM o
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, Grib2Writer => GW2}
        val path = Fixtures.path("q54", d, "q54.grib2") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 6, 1, 0, 0)
          def spec(v: Seq[Double], fcst: Int, pack: Int) = GW2.FieldSpec(
            discipline = 0, category = 0, number = 0, levelType = 103,
            levelScaledValue = 2, refTime = t0, values = v, ni = 10, nj = 10,
            la1 = 50.0, lo1 = 0.0, la2 = 41.0, lo2 = 9.0,
            forecastTime = fcst, decimalScale = 0,
            packing = pack, spatialOrder = 2, groupSize = 17)
          GW2.write(p, Seq(spec(vals.take(100), 0, pack = 2),
            spec(vals.drop(100), 6, pack = 3)))
        }
        GribReader.readLongFormat(s, path)
          .select($"time", $"latitude", $"longitude", $"value")
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (GRIB1 second-order packing, WMO secondary-bitmap variant)
    // Same `orders` grid as q48, but both messages pack second-order
    // (grouped references + per-group deviation widths + secondary bitmap)
    // — the GRIB1 complex packing operational archives carry, which the
    // reference reads via eccodes. Hash-checked against the DuckDB
    // recomputation.
    Q("q55_grib1_second_order", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-07-01 00:00:00'
                  ELSE TIMESTAMP '2026-07-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 997 AS DOUBLE) AS value
      FROM o
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, Grib1Writer => GW}
        val path = Fixtures.path("q55", d, "q55.grib") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 7, 1, 0, 0)
          def spec(v: Seq[Double], p1: Int) = GW.FieldSpec(
            paramId = 167, levelType = 105, levelValue = 2, refTime = t0,
            values = v, ni = 10, nj = 10,
            la1 = 50.0, lo1 = 0.0, la2 = 41.0, lo2 = 9.0, p1 = p1,
            decimalScale = 0, secondOrder = true, groupSize = 23)
          GW.write(p, Seq(spec(vals.take(100), 0), spec(vals.drop(100), 6)))
        }
        GribReader.readLongFormat(s, path)
          .select($"time", $"latitude", $"longitude", $"value")
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (GRIB2 PNG packing, template 5.41)
    // Same `orders` grid as q54, but packed as template 5.41: the section-7
    // payload is a PNG image of the scaled X values (the operational packing
    // the reference reads via eccodes+libpng, sinks.py:371-389). Message 1
    // is 16-bit grayscale; message 2 is 8-bit with a bitmap (every 7th point
    // missing), so the pure-JVM PNG inflate + filter + bitmap paths are all
    // hash-checked against the DuckDB recomputation.
    Q("q61_grib2_png", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-08-01 00:00:00'
                  ELSE TIMESTAMP '2026-08-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(CASE WHEN rn0 < 100 THEN o_orderkey % 997
                       ELSE (o_orderkey % 997) % 251 END AS DOUBLE) AS value
      FROM o
      WHERE NOT (rn0 >= 100 AND rn0 % 7 = 0)
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, Grib2Writer => GW2}
        val path = Fixtures.path("q61", d, "q61.grib2") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 8, 1, 0, 0)
          def spec(v: Seq[Double], fcst: Int, bits: Int) = GW2.FieldSpec(
            discipline = 0, category = 0, number = 0, levelType = 103,
            levelScaledValue = 2, refTime = t0, values = v, ni = 10, nj = 10,
            la1 = 50.0, lo1 = 0.0, la2 = 41.0, lo2 = 9.0,
            forecastTime = fcst, decimalScale = 0,
            packing = 41, bitsPerValue = bits)
          val m2 = vals.drop(100).zipWithIndex.map { case (v, k) =>
            if ((k + 100) % 7 == 0) Double.NaN else v % 251 // fits 8 bits
          }
          GW2.write(p, Seq(spec(vals.take(100), 0, bits = 16),
            spec(m2, 6, bits = 8)))
        }
        GribReader.readLongFormat(s, path)
          .filter($"value".isNotNull) // bitmap-missing points decode as null
          .select($"time", $"latitude", $"longitude", $"value")
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (NetCDF-4 / HDF5)
    // Same `orders` grid as q48/q61, but through the pure-JVM HDF5 reader:
    // chunked layout (v1 chunk B-tree), deflate + shuffle filters, packed
    // int16 with CDL scale/offset decode, fill-value masking, and an
    // epoch-seconds time coordinate — the reference's NetCDF-4 path
    // (sinks.py:345-389 via xarray/netcdf4), previously a directed-error
    // boundary. Hash-checked against the DuckDB recomputation.
    Q("q63_netcdf4_extract", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-09-01 00:00:00'
                  ELSE TIMESTAMP '2026-09-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE round(CAST(o_orderkey % 997 AS DOUBLE) * 0.25 + 200, 6)
             END AS t2m
      FROM o
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.netcdf.NetCDF4Reader
        val path = Fixtures.path("q63", d, "q63.nc") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(when($"o_orderkey" % 11 === 0, lit(-1.0))
              .otherwise(($"o_orderkey" % 997).cast("double")).as("v"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 9, 1, 0, 0)
            .toEpochSecond(java.time.ZoneOffset.UTC)
          HW.write(p, Seq(
            HW.VarSpec("time", Seq("time"), Seq(2),
              Seq(t0.toDouble, t0 + 21600.0), dtype = "f8",
              units = Some("seconds since 1970-01-01")),
            HW.VarSpec("latitude", Seq("latitude"), Seq(10),
              (0 until 10).map(50.0 - _), dtype = "f8"),
            HW.VarSpec("longitude", Seq("longitude"), Seq(10),
              (0 until 10).map(_.toDouble), dtype = "f8"),
            // packed int16: stored = o_orderkey % 997 (or -1 = fill);
            // decode = stored * 0.25 + 200
            HW.VarSpec("t2m", Seq("time", "latitude", "longitude"), Seq(2, 10, 10),
              vals, dtype = "i2", chunks = Some(Seq(1, 4, 10)),
              deflate = true, shuffle = true,
              scaleFactor = Some(0.25), addOffset = Some(200.0),
              fillValue = Some(-1.0), units = Some("K"))))
        }
        NetCDF4Reader.readLongFormat(s, path)
          .select(col("time").cast("timestamp_ntz").as("time"),
            $"latitude", $"longitude", round($"t2m", 6).as("t2m"))
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (kerchunk virtual zarr over netCDF-4)
    // The q63 netCDF-4 file served WITHOUT conversion: Kerchunk.scanNetCDF4
    // indexes its chunk map once into a small refs JSON (the fsspec
    // ReferenceFileSystem pattern) and the Zarr DataSource-V2 reader
    // resolves every chunk as a byte extent of the ORIGINAL file — packed
    // int16 + deflate + shuffle + scale/offset + fill all decode through
    // the zarr codec path. Same oracle recomputation, different time base.
    Q("q143_kerchunk_refs", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-10-01 00:00:00'
                  ELSE TIMESTAMP '2026-10-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE round(CAST(o_orderkey % 997 AS DOUBLE) * 0.25 + 200, 6)
             END AS t2m
      FROM o
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.zarr.Kerchunk
        val refs = Fixtures.dir("q143", d) { dir =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(when($"o_orderkey" % 11 === 0, lit(-1.0))
              .otherwise(($"o_orderkey" % 997).cast("double")).as("v"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 10, 1, 0, 0)
            .toEpochSecond(java.time.ZoneOffset.UTC)
          val path = s"$dir/q143.nc"
          HW.write(path, Seq(
            HW.VarSpec("time", Seq("time"), Seq(2),
              Seq(t0.toDouble, t0 + 21600.0), dtype = "f8",
              units = Some("seconds since 1970-01-01")),
            HW.VarSpec("latitude", Seq("latitude"), Seq(10),
              (0 until 10).map(50.0 - _), dtype = "f8"),
            HW.VarSpec("longitude", Seq("longitude"), Seq(10),
              (0 until 10).map(_.toDouble), dtype = "f8"),
            HW.VarSpec("t2m", Seq("time", "latitude", "longitude"), Seq(2, 10, 10),
              vals, dtype = "i2", chunks = Some(Seq(1, 4, 10)),
              deflate = true, shuffle = true,
              scaleFactor = Some(0.25), addOffset = Some(200.0),
              fillValue = Some(-1.0), units = Some("K"))))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/q143.refs.json"),
            Kerchunk.scanNetCDF4(
              new org.apache.hadoop.conf.Configuration(), path)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } + "/q143.refs.json"
        s.read.format("zarr").load(refs)
          .select($"time", $"latitude", $"longitude",
            round($"t2m", 6).as("t2m"))
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (kerchunk combine: daily files -> one virtual store)
    // The open_mfdataset / MultiZarrToZarr shape: three "daily" netCDF-4
    // files — each on its OWN CF time base ("hours since that day") —
    // indexed in parallel (Kerchunk.scanAllSpark, one task per file) and
    // concatenated along time into a single refs json. The combined store
    // re-keys every chunk with its file's time offset and inlines the
    // normalized (epoch-second) axis, so one query spans the archive and
    // time predicates prune to the owning file's chunks.
    Q("q144_kerchunk_combine", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 300)
      SELECT CAST('2026-10-0' || CAST(rn0 // 100 + 1 AS VARCHAR) AS TIMESTAMP) AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE round(CAST(o_orderkey % 997 AS DOUBLE) * 0.25 + 200, 6)
             END AS t2m
      FROM o
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.zarr.Kerchunk
        val combined = Fixtures.dir("q144", d) { dir =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(300)
            .select(when($"o_orderkey" % 11 === 0, lit(-1.0))
              .otherwise(($"o_orderkey" % 997).cast("double")).as("v"))
            .collect().map(_.getDouble(0)).toSeq
          for (day <- 1 to 3) HW.write(s"$dir/d$day.nc", Seq(
            HW.VarSpec("time", Seq("time"), Seq(1), Seq(0.0),
              units = Some(s"hours since 2026-10-0$day")),
            HW.VarSpec("latitude", Seq("latitude"), Seq(10),
              (0 until 10).map(50.0 - _), dtype = "f8"),
            HW.VarSpec("longitude", Seq("longitude"), Seq(10),
              (0 until 10).map(_.toDouble), dtype = "f8"),
            HW.VarSpec("t2m", Seq("time", "latitude", "longitude"),
              Seq(1, 10, 10), vals.slice((day - 1) * 100, day * 100),
              dtype = "i2", chunks = Some(Seq(1, 4, 10)),
              deflate = true, shuffle = true,
              scaleFactor = Some(0.25), addOffset = Some(200.0),
              fillValue = Some(-1.0), units = Some("K"))))
          val refs = Kerchunk.scanAllSpark(s, s"$dir/*.nc")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/combined.json"),
            Kerchunk.combine(new org.apache.hadoop.conf.Configuration(), refs)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } + "/combined.json"
        s.read.format("zarr").load(combined)
          .select($"time", $"latitude", $"longitude",
            round($"t2m", 6).as("t2m"))
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (GRIB2 virtualized as zarr references)
    // The q50 GRIB fixture served WITHOUT conversion: Kerchunk.scanGrib
    // references each message whole and the zarr reader's grib2 "codec"
    // re-parses + decodes the selected field per chunk — GRIB archives
    // (the bulk weather format) become one queryable hypercube with time
    // chunk pruning, no bytes rewritten.
    Q("q145_grib_virtual", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-03-01 00:00:00'
                  ELSE TIMESTAMP '2026-03-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 997 AS DOUBLE) AS value
      FROM o
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{Grib2Writer => GW2}
        import graft.sources.zarr.Kerchunk
        val refs = Fixtures.dir("q145", d) { dir =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 3, 1, 0, 0)
          val path = s"$dir/q145.grib2"
          def spec(v: Seq[Double], fcst: Int) = GW2.FieldSpec(
            discipline = 0, category = 0, number = 0, levelType = 103,
            levelScaledValue = 2, refTime = t0, values = v, ni = 10, nj = 10,
            la1 = 50.0, lo1 = 0.0, la2 = 41.0, lo2 = 9.0,
            forecastTime = fcst, decimalScale = 0)
          GW2.write(path, Seq(spec(vals.take(100), 0), spec(vals.drop(100), 6)))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/q145.refs.json"),
            Kerchunk.scanGrib(
              new org.apache.hadoop.conf.Configuration(), path)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } + "/q145.refs.json"
        s.read.format("zarr").load(refs)
          .select($"time", $"latitude", $"longitude", col("2t").as("value"))
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S4 (GeoTIFF Lambert conformal conic, user-defined ProjCS GeoKeys)
    // A Lambert-grid GeoTIFF (the HRRR/NAM-derived COG shape) declared via
    // user-defined ProjCS GeoKeys — CT_LambertConfConic_2SP with explicit
    // sphere axes, standard parallels 30/60, false origin (40N, 10E) at
    // FE/FN (100, 200) km. The reader resolves the GeoKeys to the Snyder
    // LCC inverse; the oracle re-derives every pixel with DuckDB's own
    // trig (the spherical 2SP closed form, Snyder 15-1..15-5: no
    // iteration needed on a sphere). round(…, 6) absorbs libm ulps.
    Q("q146_tiff_lambert", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           c AS (SELECT 6371229.0 AS r_e,
                        ln(cos(radians(30.0)) / cos(radians(60.0)))
                          / ln(tan(pi()/4 + radians(60.0)/2)
                               / tan(pi()/4 + radians(30.0)/2)) AS n),
           k AS (SELECT r_e, n,
                        cos(radians(30.0))
                          * power(tan(pi()/4 + radians(30.0)/2), n) / n AS f
                 FROM c),
           b AS (SELECT r_e, n, f,
                        r_e * f / power(tan(pi()/4 + radians(40.0)/2), n) AS rho0
                 FROM k),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS band_1,
                        (rn0 % 10) * 40000.0 AS xp,
                        (rn0 // 10) * 30000.0 AS dy
                 FROM o),
           p AS (SELECT band_1, r_e, n, f,
                        sqrt(xp*xp + (rho0 + dy)*(rho0 + dy)) AS rho,
                        atan2(xp, rho0 + dy) AS theta
                 FROM g, b)
      SELECT round(degrees(2*atan(power(r_e*f/rho, 1/n)) - pi()/2), 6) AS latitude,
             round(10.0 + degrees(theta/n), 6) AS longitude,
             band_1
      FROM p ORDER BY latitude, longitude"""))(
      (s, d) => {
        import graft.sources.tiff.{TiffReader, TiffWriter => TW}
        val path = Fixtures.path("q146", d, "q146.tif") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          // pixel CENTERS at model (100000 + i*40000, 200000 - j*30000)
          TW.write(p, TW.Spec(10, 20, 1, vals,
            pixelScale = (40000.0, 30000.0),
            tiepointXY = (100000.0 - 20000.0, 200000.0 + 15000.0),
            epsg = 32767, rowsPerStrip = 4, deflate = true,
            extraShortKeys = Seq((3075, 8)),           // CT_LambertConfConic_2SP
            doubleKeys = Seq((3078, 30.0), (3079, 60.0), // standard parallels
              (3085, 40.0), (3084, 10.0),                // false origin lat/lon
              (3086, 100000.0), (3087, 200000.0),        // FE / FN
              (2057, 6371229.0), (2058, 6371229.0))))    // sphere axes
        }
        TiffReader.readLongFormat(s, path)
          .select(round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), $"band_1")
          .orderBy($"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S4 (GeoTIFF polar stereographic by EPSG code, WGS84 ellipsoid)
    // An NSIDC-style polar raster: EPSG 3413 (polar stereographic north,
    // true scale 70N, central meridian 45W, WGS84). The reader resolves
    // the bare EPSG code to the ELLIPSOIDAL Snyder inverse; the oracle
    // recomputes every pixel in DuckDB — ts = r / (a·m70/ts70), then four
    // unrolled rounds of the Snyder 7-9 fixed-point iteration (contraction
    // ~e² per round lands far below the 1e-6 rounding).
    Q("q147_tiff_polar", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           c AS (SELECT 6378137.0 AS a,
                        sqrt(1 - (6356752.314245179/6378137.0)
                               * (6356752.314245179/6378137.0)) AS e),
           k AS (SELECT a, e,
                        a * (cos(radians(70.0))
                             / sqrt(1 - e*e*sin(radians(70.0))*sin(radians(70.0))))
                          / (tan(pi()/4 - radians(70.0)/2)
                             / power((1 - e*sin(radians(70.0)))
                                     / (1 + e*sin(radians(70.0))), e/2)) AS amc
                 FROM c),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS band_1,
                        200000.0 + (rn0 % 10) * 50000.0 AS x,
                        -2000000.0 - (rn0 // 10) * 50000.0 AS y
                 FROM o),
           p AS (SELECT band_1, e, sqrt(x*x + y*y) / amc AS ts,
                        degrees(atan2(x, -y)) - 45.0 AS lon
                 FROM g, k),
           i0 AS (SELECT *, pi()/2 - 2*atan(ts) AS phi FROM p),
           i1 AS (SELECT * REPLACE (pi()/2 - 2*atan(ts*power(
                    (1-e*sin(phi))/(1+e*sin(phi)), e/2)) AS phi) FROM i0),
           i2 AS (SELECT * REPLACE (pi()/2 - 2*atan(ts*power(
                    (1-e*sin(phi))/(1+e*sin(phi)), e/2)) AS phi) FROM i1),
           i3 AS (SELECT * REPLACE (pi()/2 - 2*atan(ts*power(
                    (1-e*sin(phi))/(1+e*sin(phi)), e/2)) AS phi) FROM i2),
           i4 AS (SELECT * REPLACE (pi()/2 - 2*atan(ts*power(
                    (1-e*sin(phi))/(1+e*sin(phi)), e/2)) AS phi) FROM i3)
      SELECT round(degrees(phi), 6) AS latitude,
             round(lon, 6) AS longitude,
             band_1
      FROM i4 ORDER BY latitude, longitude"""))(
      (s, d) => {
        import graft.sources.tiff.{TiffReader, TiffWriter => TW}
        val path = Fixtures.path("q147", d, "q147.tif") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          // pixel CENTERS at model (200000 + i*50000, -2000000 - j*50000)
          TW.write(p, TW.Spec(10, 20, 1, vals,
            pixelScale = (50000.0, 50000.0),
            tiepointXY = (200000.0 - 25000.0, -2000000.0 + 25000.0),
            epsg = 3413, rowsPerStrip = 5, lzw = true))
        }
        TiffReader.readLongFormat(s, path)
          .select(round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), $"band_1")
          .orderBy($"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S4 (GeoTIFF transverse Mercator by EPSG code, Airy 1830)
    // A British-National-Grid GeoTIFF (EPSG 27700 — transverse Mercator on
    // Airy 1830 with k0 = 0.9996012717 and false origin 400/-100 km). The
    // reader resolves the bare code to the Snyder §8 series inverse; the
    // oracle re-derives every pixel in DuckDB — the footprint-latitude
    // series (3-26) then the 8-17/8-18 inverse polynomials, all closed
    // form. k0 folds in by scaling the semi-major axis (lengths are
    // linear in a at fixed eccentricity).
    Q("q148_tiff_osgb", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           c0 AS (SELECT CAST(6377563.396 AS DOUBLE)
                           * CAST(0.9996012717 AS DOUBLE) AS a,
                         1 - (CAST(6356256.909237285 AS DOUBLE)/6377563.396)
                           * (CAST(6356256.909237285 AS DOUBLE)/6377563.396) AS e2),
           c1 AS (SELECT a, e2, e2/(1-e2) AS ep2,
                         1 - e2/4 - 3*e2*e2/64 - 5*e2*e2*e2/256 AS m0c,
                         3*e2/8 + 3*e2*e2/32 + 45*e2*e2*e2/1024 AS m2c,
                         15*e2*e2/256 + 45*e2*e2*e2/1024 AS m4c,
                         35*e2*e2*e2/3072 AS m6c,
                         (1-sqrt(1-e2))/(1+sqrt(1-e2)) AS e1
                  FROM c0),
           c2 AS (SELECT *, a*(m0c*radians(49.0) - m2c*sin(2*radians(49.0))
                              + m4c*sin(4*radians(49.0))
                              - m6c*sin(6*radians(49.0))) AS bigm0
                  FROM c1),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS band_1,
                        (rn0 % 10) * 25000.0 AS xp,
                        300000.0 - (rn0 // 10) * 20000.0 AS yp
                 FROM o),
           mu AS (SELECT band_1, xp, a, e2, ep2, e1,
                         (bigm0 + yp) / (a*m0c) AS mu
                  FROM g, c2),
           f1 AS (SELECT band_1, xp, a, e2, ep2,
                         mu + (3*e1/2 - 27*e1*e1*e1/32)*sin(2*mu)
                            + (21*e1*e1/16 - 55*e1*e1*e1*e1/32)*sin(4*mu)
                            + (151*e1*e1*e1/96)*sin(6*mu)
                            + (1097*e1*e1*e1*e1/512)*sin(8*mu) AS phi1
                  FROM mu),
           t AS (SELECT band_1, phi1, ep2,
                        tan(phi1)*tan(phi1) AS t1,
                        ep2*cos(phi1)*cos(phi1) AS cc1,
                        a/sqrt(1 - e2*sin(phi1)*sin(phi1)) AS n1,
                        a*(1-e2)/power(1 - e2*sin(phi1)*sin(phi1), 1.5) AS r1,
                        xp/(a/sqrt(1 - e2*sin(phi1)*sin(phi1))) AS dd
                 FROM f1)
      SELECT round(degrees(phi1 - (n1*tan(phi1)/r1)*(dd*dd/2
               - (5 + 3*t1 + 10*cc1 - 4*cc1*cc1 - 9*ep2)*power(dd, 4)/24
               + (61 + 90*t1 + 298*cc1 + 45*t1*t1 - 252*ep2 - 3*cc1*cc1)
                 *power(dd, 6)/720)), 6) AS latitude,
             round(-2.0 + degrees((dd - (1 + 2*t1 + cc1)*power(dd, 3)/6
               + (5 - 2*cc1 + 28*t1 - 3*cc1*cc1 + 8*ep2 + 24*t1*t1)
                 *power(dd, 5)/120)/cos(phi1)), 6) AS longitude,
             band_1
      FROM t ORDER BY latitude, longitude"""))(
      (s, d) => {
        import graft.sources.tiff.{TiffReader, TiffWriter => TW}
        val path = Fixtures.path("q148", d, "q148.tif") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          // pixel CENTERS at grid E = 400000 + i*25000,
          // N = -100000 + 300000 - j*20000 (xp/yp relative to false origin)
          TW.write(p, TW.Spec(10, 20, 1, vals,
            pixelScale = (25000.0, 20000.0),
            tiepointXY = (400000.0 - 12500.0, 200000.0 + 10000.0),
            epsg = 27700, rowsPerStrip = 5, packBits = true))
        }
        TiffReader.readLongFormat(s, path)
          .select(round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), $"band_1")
          .orderBy($"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S4 (GeoTIFF Albers equal-area, user-defined ProjCS GeoKeys)
    // A Conus-Albers-shaped GeoTIFF declared via user-defined GeoKeys —
    // CT_AlbersEqualArea on explicit sphere axes, the USGS-style false
    // origin at (23N, 96W). The reader resolves the keys to the Snyder §14
    // inverse; the oracle re-derives every pixel with DuckDB's own trig
    // (the spherical closed form 14-3..14-11: no iteration on a sphere).
    Q("q149_tiff_albers", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           c AS (SELECT CAST(6370997.0 AS DOUBLE) AS r_e,
                        (sin(radians(29.5)) + sin(radians(45.5))) / 2 AS n),
           k AS (SELECT r_e, n,
                        cos(radians(29.5))*cos(radians(29.5))
                          + 2*n*sin(radians(29.5)) AS cc
                 FROM c),
           b AS (SELECT r_e, n, cc,
                        r_e * sqrt(cc - 2*n*sin(radians(23.0))) / n AS rho0
                 FROM k),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS band_1,
                        (rn0 % 10) * 60000.0 AS xp,
                        100000.0 - (rn0 // 10) * 90000.0 AS yp
                 FROM o),
           p AS (SELECT band_1, r_e, n, cc,
                        sqrt(xp*xp + (rho0 - yp)*(rho0 - yp)) AS rho,
                        atan2(xp, rho0 - yp) AS theta
                 FROM g, b)
      SELECT round(degrees(asin((cc - (rho*n/r_e)*(rho*n/r_e)) / (2*n))), 6)
               AS latitude,
             round(-96.0 + degrees(theta/n), 6) AS longitude,
             band_1
      FROM p ORDER BY latitude, longitude"""))(
      (s, d) => {
        import graft.sources.tiff.{TiffReader, TiffWriter => TW}
        val path = Fixtures.path("q149", d, "q149.tif") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          // pixel CENTERS at xp = i*60000, yp = 100000 - j*90000 relative
          // to the false origin (FE 70 km, FN 20 km)
          TW.write(p, TW.Spec(10, 20, 1, vals,
            pixelScale = (60000.0, 90000.0),
            tiepointXY = (70000.0 - 30000.0, 120000.0 + 45000.0),
            epsg = 32767, rowsPerStrip = 4, zstd = true,
            extraShortKeys = Seq((3075, 11)),            // CT_AlbersEqualArea
            doubleKeys = Seq((3078, 29.5), (3079, 45.5), // standard parallels
              (3085, 23.0), (3084, -96.0),               // false origin lat/lon
              (3086, 70000.0), (3087, 20000.0),          // FE / FN
              (2057, 6370997.0), (2058, 6370997.0))))    // sphere axes
        }
        TiffReader.readLongFormat(s, path)
          .select(round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), $"band_1")
          .orderBy($"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (GRIB2 transverse Mercator, template 3.12)
    // The UKMO national-grid template: grid points step in centimetres of
    // the transverse-Mercator plane. The first point sits AT the natural
    // origin (la1 = 0 on the central meridian), so its plane coordinates
    // are exactly (0, 0) on the wire and the oracle re-derives every
    // point with DuckDB's own evaluation of the Snyder §8 inverse series
    // (footprint latitude + the 8-17/8-18 polynomials) on the message's
    // cm-exact oblate axes.
    Q("q150_grib2_tm", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           c0 AS (SELECT CAST(6378137.0 AS DOUBLE) AS a,
                         1 - (CAST(6356752.31 AS DOUBLE)/6378137.0)
                           * (CAST(6356752.31 AS DOUBLE)/6378137.0) AS e2),
           c1 AS (SELECT a, e2, e2/(1-e2) AS ep2,
                         1 - e2/4 - 3*e2*e2/64 - 5*e2*e2*e2/256 AS m0c,
                         (1-sqrt(1-e2))/(1+sqrt(1-e2)) AS e1
                  FROM c0),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS value,
                        (rn0 % 10) * 25000.0 AS xp,
                        (rn0 // 10) * 20000.0 AS yp
                 FROM o),
           mu AS (SELECT value, xp, a, e2, ep2, e1, yp / (a*m0c) AS mu
                  FROM g, c1),
           f1 AS (SELECT value, xp, a, e2, ep2,
                         mu + (3*e1/2 - 27*e1*e1*e1/32)*sin(2*mu)
                            + (21*e1*e1/16 - 55*e1*e1*e1*e1/32)*sin(4*mu)
                            + (151*e1*e1*e1/96)*sin(6*mu)
                            + (1097*e1*e1*e1*e1/512)*sin(8*mu) AS phi1
                  FROM mu),
           t AS (SELECT value, phi1, ep2,
                        tan(phi1)*tan(phi1) AS t1,
                        ep2*cos(phi1)*cos(phi1) AS cc1,
                        a/sqrt(1 - e2*sin(phi1)*sin(phi1)) AS n1,
                        a*(1-e2)/power(1 - e2*sin(phi1)*sin(phi1), 1.5) AS r1,
                        xp/(a/sqrt(1 - e2*sin(phi1)*sin(phi1))) AS dd
                 FROM f1)
      SELECT round(degrees(phi1 - (n1*tan(phi1)/r1)*(dd*dd/2
               - (5 + 3*t1 + 10*cc1 - 4*cc1*cc1 - 9*ep2)*power(dd, 4)/24
               + (61 + 90*t1 + 298*cc1 + 45*t1*t1 - 252*ep2 - 3*cc1*cc1)
                 *power(dd, 6)/720)), 6) AS latitude,
             round(-2.0 + degrees((dd - (1 + 2*t1 + cc1)*power(dd, 3)/6
               + (5 - 2*cc1 + 28*t1 - 3*cc1*cc1 + 8*ep2 + 24*t1*t1)
                 *power(dd, 5)/120)/cos(phi1)), 6) AS longitude,
             value
      FROM t ORDER BY latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, GribProjection, Grib2Writer => GW2}
        val path = Fixtures.path("q150", d, "q150.grib2") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2027, 2, 1, 0, 0)
          val tm = GribProjection.TransverseMercator(-2.0,
            6378137.0, 6356752.31)
          GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals,
            ni = 10, nj = 20, la1 = 0.0, lo1 = -2.0, la2 = 0, lo2 = 0,
            decimalScale = 0, projection = Some(tm),
            dxMeters = 25000.0, dyMeters = 20000.0)))
        }
        GribReader.readLongFormat(s, path)
          .select(round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), $"value")
          .orderBy($"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (GeoTIFF virtualized as zarr references)
    // The q53-style raster served WITHOUT conversion: Kerchunk.scanTiff
    // references each deflate strip as one zarr chunk of a
    // [latitude, longitude] array, read through the zarr DSv2 path with
    // coordinate pruning on the DESCENDING latitude axis. The oracle
    // recomputes the raster from `orders` — any strip/affine/codec slip
    // breaks the hash.
    Q("q151_tiff_virtual", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CAST(50 - (rn0 // 20) - 0.5 AS DOUBLE) AS latitude,
             CAST((rn0 % 20) + 0.5 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 997 AS DOUBLE) AS band_1
      FROM o
      ORDER BY latitude, longitude"""))(
      (s, d) => {
        import graft.sources.tiff.{TiffWriter => TW}
        import graft.sources.zarr.Kerchunk
        val refs = Fixtures.dir("q151", d) { dir =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val tif = s"$dir/q151.tif"
          TW.write(tif, TW.Spec(20, 10, 1, vals,
            pixelScale = (1.0, 1.0), tiepointXY = (0.0, 50.0), epsg = 4326,
            rowsPerStrip = 2, deflate = true))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/q151.refs.json"),
            Kerchunk.scanTiff(
              new org.apache.hadoop.conf.Configuration(), tif)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } + "/q151.refs.json"
        s.read.format("zarr").load(refs)
          .select($"latitude", $"longitude", $"band_1")
          .orderBy($"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (projected COG virtualized as zarr references)
    // The r12 projected scanTiff path: a Web-Mercator deflate-strip
    // raster (the HRRR-derived / basemap COG shape) served as a virtual
    // zarr store over y/x MODEL-UNIT axes from the affine — pixel centers
    // re-derived arithmetically by the oracle.
    Q("q159_tiff_virtual_projected", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CAST(-((rn0 // 10) + 0.5) * 1000 AS DOUBLE) AS y,
             CAST(((rn0 % 10) + 0.5) * 1000 AS DOUBLE) AS x,
             CAST(o_orderkey % 997 AS DOUBLE) AS band_1
      FROM o
      ORDER BY y DESC, x"""))(
      (s, d) => {
        import graft.sources.tiff.{TiffWriter => TW}
        import graft.sources.zarr.Kerchunk
        val refs = Fixtures.dir("q159", d) { dir =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val tif = s"$dir/q159.tif"
          TW.write(tif, TW.Spec(10, 20, 1, vals,
            pixelScale = (1000.0, 1000.0), tiepointXY = (0.0, 0.0),
            epsg = 3857, rowsPerStrip = 5, deflate = true))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/q159.refs.json"),
            Kerchunk.scanTiff(
              new org.apache.hadoop.conf.Configuration(), tif)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } + "/q159.refs.json"
        s.read.format("zarr").load(refs)
          .select($"y", $"x", $"band_1")
          .orderBy($"y".desc, $"x")
      }),

    // ---------------------------------------------------------------- S4 (GeoTIFF sinusoidal — the MODIS land grid)
    // A MODIS-style sinusoidal raster (user-defined GeoKeys: CT 24 on the
    // MODIS sphere 6371007.181). The reader resolves the keys to the
    // Snyder §30 inverse; the oracle re-derives every pixel with DuckDB's
    // own trig (spherical sinusoidal is closed form).
    Q("q152_tiff_sinusoidal", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS band_1,
                        1000000.0 + (rn0 % 10) * 200000.0 AS x,
                        5000000.0 - (rn0 // 10) * 150000.0 AS y
                 FROM o),
           p AS (SELECT band_1, x, y,
                        degrees(y / CAST(6371007.181 AS DOUBLE)) AS lat
                 FROM g)
      SELECT round(lat, 6) AS latitude,
             round(-60.0 + degrees(x / (CAST(6371007.181 AS DOUBLE)
                                        * cos(radians(lat)))), 6) AS longitude,
             band_1
      FROM p ORDER BY latitude, longitude"""))(
      (s, d) => {
        import graft.sources.tiff.{TiffReader, TiffWriter => TW}
        val path = Fixtures.path("q152", d, "q152.tif") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          // pixel CENTERS at (1000000 + i*200000, 5000000 - j*150000)
          TW.write(p, TW.Spec(10, 20, 1, vals,
            pixelScale = (200000.0, 150000.0),
            tiepointXY = (1000000.0 - 100000.0, 5000000.0 + 75000.0),
            epsg = 32767, rowsPerStrip = 5, deflate = true,
            extraShortKeys = Seq((3075, 24)),         // CT_Sinusoidal
            doubleKeys = Seq((3080, -60.0),           // central meridian
              (2057, 6371007.181), (2058, 6371007.181)))) // MODIS sphere
        }
        TiffReader.readLongFormat(s, path)
          .select(round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), $"band_1")
          .orderBy($"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S4 (geostationary navigation — GOES ABI fixed-grid netCDF)
    // A GOES-R ABI-shaped netCDF-4: scan-angle coordinates in radians, a
    // radiance variable on the (y, x) grid, navigated to geodetic lat/lon
    // by the CF `geostationary` grid mapping (sweep axis x) as pure
    // column algebra. The oracle re-derives every pixel with DuckDB's own
    // trig — intersect the view ray with the ellipsoid (the quadratic of
    // the GOES-R PUG navigation equations), then geocentric -> geodetic.
    Q("q153_goes_geostationary", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           c AS (SELECT CAST(42164160.0 AS DOUBLE) AS h,
                        CAST(6378137.0 AS DOUBLE) AS a,
                        (6378137.0/CAST(6356752.31414245 AS DOUBLE))
                          * (6378137.0/6356752.31414245) AS ratio),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS rad,
                        -0.05 + (rn0 % 10) * 0.01 AS x,
                        0.08 - (rn0 // 10) * 0.008 AS y
                 FROM o),
           q AS (SELECT rad, h, a, ratio,
                        cos(x) AS cx, sin(x) AS sx,
                        cos(y) AS cy, sin(y) AS sy
                 FROM g, c),
           v AS (SELECT rad, h, ratio, cx, cy, sx, sy,
                        sx*sx + cx*cx*(cy*cy + ratio*sy*sy) AS av,
                        -2*h*cx*cy AS bv, h*h - a*a AS cv
                 FROM q),
           t AS (SELECT rad, h, ratio, cx, cy, sx, sy,
                        (-bv - sqrt(bv*bv - 4*av*cv)) / (2*av) AS ts
                 FROM v),
           p AS (SELECT rad, ratio, h - ts*cx*cy AS px,
                        ts*sx AS py, ts*cx*sy AS pz
                 FROM t)
      SELECT round(degrees(atan(ratio*pz/sqrt(px*px + py*py))), 6) AS latitude,
             round(-75.2 + degrees(atan(py/px)), 6) AS longitude,
             rad
      FROM p ORDER BY latitude, longitude"""))(
      (s, d) => {
        import graft.functions.CrsTransform
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.netcdf.NetCDF4Reader
        val path = Fixtures.path("q153", d, "q153.nc") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          HW.write(p, Seq(
            HW.VarSpec("y", Seq("y"), Seq(20),
              (0 until 20).map(j => 0.08 - j * 0.008), dtype = "f8"),
            HW.VarSpec("x", Seq("x"), Seq(10),
              (0 until 10).map(i => -0.05 + i * 0.01), dtype = "f8"),
            HW.VarSpec("Rad", Seq("y", "x"), Seq(20, 10), vals,
              dtype = "f8", chunks = Some(Seq(5, 10)), deflate = true)))
        }
        val (lon, lat) = CrsTransform.geostationaryToLonLat(
          $"x", $"y", lon0Deg = -75.2, height = 35786023.0)
        NetCDF4Reader.readLongFormat(s, path)
          .select(round(lat, 6).as("latitude"),
            round(lon, 6).as("longitude"), $"Rad".as("rad"))
          .orderBy($"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (GRIB2 space view / geostationary, template 3.90)
    // A Meteosat-style space-view sector: scan angles per pixel derive
    // from the wire integers (camera distance Nr, disk diameter in grid
    // lengths, sub-satellite millipixel), sweep axis y, -j scan. The
    // oracle re-derives every pixel with DuckDB's own trig — the same
    // ray-ellipsoid quadratic as q153 but with the SEVIRI gimbal order
    // and the angular step computed from the raw wire values.
    Q("q154_grib2_spaceview", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           c AS (SELECT CAST(6378137.0 AS DOUBLE) * 6.6107 AS h,
                        CAST(6378137.0 AS DOUBLE) AS a,
                        (6378137.0/CAST(6356752.31 AS DOUBLE))
                          * (6378137.0/6356752.31) AS ratio,
                        2*asin(CAST(1000000.0 AS DOUBLE)/6610700.0)/500 AS st),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS value,
                        h, a, ratio,
                        ((rn0 % 10) - 5) * st AS x,
                        (10 - (rn0 // 10)) * st AS y
                 FROM o, c),
           q AS (SELECT value, h, a, ratio,
                        cos(x) AS cx, sin(x) AS sx,
                        cos(y) AS cy, sin(y) AS sy
                 FROM g),
           v AS (SELECT value, h, ratio, cx, cy, sx, sy,
                        cy*cy + ratio*sy*sy AS av,
                        -2*h*cx*cy AS bv, h*h - a*a AS cv
                 FROM q),
           t AS (SELECT value, h, ratio, cx, cy, sx, sy,
                        (-bv - sqrt(bv*bv - 4*av*cv)) / (2*av) AS ts
                 FROM v),
           p AS (SELECT value, ratio, h - ts*cx*cy AS px,
                        ts*sx*cy AS py, ts*sy AS pz
                 FROM t)
      SELECT round(degrees(atan(ratio*pz/sqrt(px*px + py*py))), 6) AS latitude,
             round(9.5 + degrees(atan(py/px)), 6) AS longitude,
             value
      FROM p ORDER BY latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, GribProjection, Grib2Writer => GW2}
        val path = Fixtures.path("q154", d, "q154.grib2") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2027, 3, 1, 0, 0)
          // Meteosat-like figures: Nr = 6.6107 semi-major axes, 9.5E,
          // WGS84-like cm-exact axes; sub-satellite pixel (5, 10) of a
          // 10x20 sector, 500-grid-length disk, -j scan (north first)
          val geos = GribProjection.Geostationary(9.5,
            (6.6107 - 1.0) * 6378137.0, sweepX = false,
            6378137.0, 6356752.31)
          GW2.write(p, Seq(GW2.FieldSpec(0, 0, 0, 103, 2, t0, vals,
            ni = 10, nj = 20, la1 = 0, lo1 = 0, la2 = 0, lo2 = 0,
            decimalScale = 0, projection = Some(geos),
            dxMeters = 1.0, dyMeters = -1.0,
            spaceView = Some(GW2.SpaceView(nrRaw = 6610700, dx = 500,
              dy = 500, xpMilli = 5000, ypMilli = 10000)))))
        }
        GribReader.readLongFormat(s, path)
          .select(round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), $"value")
          .orderBy($"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (GRIB1 Lambert conformal, grid type 3)
    // The NCEP NAM/RUC-era GRIB1 projected archive shape: a Lambert grid
    // on the GRIB1 sphere (6367.47 km), first point + Di/Dj meters. The
    // oracle re-derives every point with DuckDB's own trig — the
    // spherical 2SP closed form INCLUDING the forward projection of the
    // first point (everything on the wire is millidegree/meter-exact).
    Q("q155_grib1_lambert", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           c AS (SELECT CAST(6367470.0 AS DOUBLE) AS r_e,
                        ln(cos(radians(30.0)) / cos(radians(60.0)))
                          / ln(tan(pi()/4 + radians(60.0)/2)
                               / tan(pi()/4 + radians(30.0)/2)) AS n),
           k AS (SELECT r_e, n,
                        cos(radians(30.0))
                          * power(tan(pi()/4 + radians(30.0)/2), n) / n AS f
                 FROM c),
           b AS (SELECT r_e, n, f,
                        r_e * f / power(tan(pi()/4 + radians(30.0)/2), n)
                          AS rho1
                 FROM k),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS value,
                        r_e, n, f,
                        rho1 * sin(n * radians(5.0 - 10.0))
                          + (rn0 % 10) * 40000.0 AS x,
                        -rho1 * cos(n * radians(5.0 - 10.0))
                          + (rn0 // 10) * 30000.0 AS y
                 FROM o, b),
           p AS (SELECT value, r_e, n, f,
                        sqrt(x*x + y*y) AS rho,
                        atan2(x, -y) AS theta
                 FROM g)
      SELECT round(degrees(2*atan(power(r_e*f/rho, 1/n)) - pi()/2), 6)
               AS latitude,
             round(10.0 + degrees(theta/n), 6) AS longitude,
             value
      FROM p ORDER BY latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, GribProjection, Grib1Writer => GW}
        val path = Fixtures.path("q155", d, "q155.grib") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2027, 4, 1, 0, 0)
          val lcc = GribProjection.LambertConformal(30.0, 60.0, 10.0,
            6367470.0)
          GW.write(p, Seq(GW.FieldSpec(167, 105, 2, t0, vals,
            ni = 10, nj = 20, la1 = 30.0, lo1 = 5.0, la2 = 0, lo2 = 0,
            decimalScale = 0, projection = Some(lcc),
            dxMeters = 40000.0, dyMeters = 30000.0)))
        }
        GribReader.readLongFormat(s, path)
          .select(round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), $"value")
          .orderBy($"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (projected GRIB virtualized as zarr references)
    // The HRRR archive shape: a Lambert-conformal GRIB2 file served as a
    // virtual zarr store — dims [time, y, x] over plane-meter axes, true
    // latitude/longitude as SYNTHESIZED auxiliary 2-D chunks the grib
    // codec computes from the message's own grid definition (zero
    // coordinate bytes stored anywhere). The oracle re-derives the axes
    // (plane walk from the projected first point) AND every pixel's
    // lat/lon with DuckDB's own trig (spherical Snyder 2SP inverse,
    // 15-1..15-5), against the same wire-exact parameters.
    Q("q156_grib_virtual_lambert", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           c AS (SELECT CAST(6367470.0 AS DOUBLE) AS r_e,
                        ln(cos(radians(30.0)) / cos(radians(60.0)))
                          / ln(tan(pi()/4 + radians(60.0)/2)
                               / tan(pi()/4 + radians(30.0)/2)) AS n),
           k AS (SELECT r_e, n,
                        cos(radians(30.0))
                          * power(tan(pi()/4 + radians(30.0)/2), n) / n AS f
                 FROM c),
           b AS (SELECT r_e, n, f,
                        r_e * f / power(tan(pi()/4 + radians(30.0)/2), n)
                          AS rho1
                 FROM k),
           u AS (SELECT TIMESTAMP '2026-05-01 00:00:00' AS time,
                        CAST(o_orderkey % 997 AS DOUBLE) AS value, rn0
                 FROM o
                 UNION ALL
                 SELECT TIMESTAMP '2026-05-01 06:00:00',
                        CAST(o_orderkey % 499 AS DOUBLE), rn0
                 FROM o),
           g AS (SELECT time, value, r_e, n, f,
                        rho1 * sin(n * radians(5.0 - 10.0))
                          + (rn0 % 10) * 40000.0 AS x,
                        -rho1 * cos(n * radians(5.0 - 10.0))
                          + (rn0 // 10) * 30000.0 AS y
                 FROM u, b),
           p AS (SELECT time, value, r_e, n, f, x, y,
                        sqrt(x*x + y*y) AS rho,
                        atan2(x, -y) AS theta
                 FROM g)
      SELECT time, round(y, 6) AS y, round(x, 6) AS x,
             round(degrees(2*atan(power(r_e*f/rho, 1/n)) - pi()/2), 6)
               AS latitude,
             round(10.0 + degrees(theta/n), 6) AS longitude,
             value
      FROM p ORDER BY time, y, x"""))(
      (s, d) => {
        import graft.sources.grib.{GribProjection, Grib2Writer => GW2}
        import graft.sources.zarr.Kerchunk
        val refs = Fixtures.dir("q156", d) { dir =>
          val rows = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"),
              ($"o_orderkey" % 499).cast("double"))
            .collect()
          val t0 = java.time.LocalDateTime.of(2026, 5, 1, 0, 0)
          val lcc = GribProjection.LambertConformal(30.0, 60.0, 10.0,
            6367470.0)
          val path = s"$dir/q156.grib2"
          def spec(v: Seq[Double], fcst: Int) = GW2.FieldSpec(
            discipline = 0, category = 0, number = 0, levelType = 103,
            levelScaledValue = 2, refTime = t0, values = v,
            ni = 10, nj = 20, la1 = 30.0, lo1 = 5.0, la2 = 0, lo2 = 0,
            forecastTime = fcst, decimalScale = 0,
            projection = Some(lcc), dxMeters = 40000.0, dyMeters = 30000.0)
          GW2.write(path, Seq(
            spec(rows.map(_.getDouble(0)).toSeq, 0),
            spec(rows.map(_.getDouble(1)).toSeq, 6)))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/q156.refs.json"),
            Kerchunk.scanGrib(
              new org.apache.hadoop.conf.Configuration(), path)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } + "/q156.refs.json"
        s.read.format("zarr").load(refs)
          .select($"time", round($"y", 6).as("y"), round($"x", 6).as("x"),
            round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), col("2t").as("value"))
          .orderBy($"time", $"y", $"x")
      }),

    // ---------------------------------------------------------------- S1 (rotated GRIB virtualized as zarr references)
    // The COSMO/HARMONIE archive shape: a rotated-lat/lon GRIB2 file as a
    // virtual store — dims [time, rlat, rlon] in the ROTATED frame (the
    // frame the grid is regular in), true latitude/longitude synthesized
    // by the grib codec from the rotation inverse. The oracle re-derives
    // the unrotation with DuckDB's own trig (Ry(theta) back-rotation:
    // x1 = x ct − z st, z1 = x st + z ct, then asin/atan2 + pole lon).
    Q("q157_grib_virtual_rotated", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS value,
                        10.0 - (rn0 // 10) * 1.0 AS rlat,
                        -15.0 + (rn0 % 10) * 3.0 AS rlon
                 FROM o),
           t AS (SELECT value, rlat, rlon,
                        cos(radians(rlat))*cos(radians(rlon)) AS x,
                        cos(radians(rlat))*sin(radians(rlon)) AS y,
                        sin(radians(rlat)) AS z,
                        cos(radians(50.0)) AS ct,
                        sin(radians(50.0)) AS st
                 FROM g)
      SELECT TIMESTAMP '2026-06-01 00:00:00' AS time, rlat, rlon,
             round(degrees(asin(x*st + z*ct)), 6) AS latitude,
             round(degrees(atan2(y, x*ct - z*st) + radians(10.0)), 6)
               AS longitude,
             value
      FROM t ORDER BY rlat DESC, rlon"""))(
      (s, d) => {
        import graft.sources.grib.{GribProjection, Grib2Writer => GW2}
        import graft.sources.zarr.Kerchunk
        val refs = Fixtures.dir("q157", d) { dir =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val path = s"$dir/q157.grib2"
          GW2.write(path, Seq(GW2.FieldSpec(
            discipline = 0, category = 0, number = 0, levelType = 103,
            levelScaledValue = 2,
            refTime = java.time.LocalDateTime.of(2026, 6, 1, 0, 0),
            values = vals, ni = 10, nj = 20,
            la1 = 10.0, lo1 = -15.0, la2 = -9.0, lo2 = 12.0,
            decimalScale = 0,
            projection = Some(GribProjection.RotatedLatLon(-40.0, 10.0)))))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/q157.refs.json"),
            Kerchunk.scanGrib(
              new org.apache.hadoop.conf.Configuration(), path)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } + "/q157.refs.json"
        s.read.format("zarr").load(refs)
          .select($"time", $"rlat", $"rlon",
            round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), col("2t").as("value"))
          .orderBy($"rlat".desc, $"rlon")
      }),

    // ---------------------------------------------------------------- S1 (netCDF-4 curvilinear grid: 2-D auxiliary lat/lon)
    // The ROMS/WRF ocean-model layout: dims are grid indices [time, y, x],
    // latitude/longitude are 2-D arrays over [y, x] (CF auxiliary
    // coordinates). Virtualized through kerchunk refs, the aux arrays
    // surface as value columns indexed by the row's (y, x) — the oracle
    // recomputes them from the planted closed forms.
    Q("q158_netcdf4_curvilinear", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS sst,
                        CAST(rn0 // 10 AS DOUBLE) AS y,
                        CAST(rn0 % 10 AS DOUBLE) AS x
                 FROM o)
      SELECT TIMESTAMP '2026-07-01 00:00:00' AS time, y, x,
             round(40.0 + y * 0.25 + x * 0.01, 6) AS latitude,
             round(-100.0 + x * 0.5 + y * 0.02, 6) AS longitude,
             sst
      FROM g ORDER BY y, x"""))(
      (s, d) => {
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.zarr.Kerchunk
        val refs = Fixtures.dir("q158", d) { dir =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val nc = s"$dir/q158.nc"
          def plane(f: (Int, Int) => Double): Seq[Double] =
            for (y <- 0 until 20; x <- 0 until 10) yield f(y, x)
          HW.write(nc, Seq(
            HW.VarSpec("time", Seq("time"), Seq(1), Seq(0.0),
              units = Some("seconds since 2026-07-01")),
            HW.VarSpec("y", Seq("y"), Seq(20), (0 until 20).map(_.toDouble)),
            HW.VarSpec("x", Seq("x"), Seq(10), (0 until 10).map(_.toDouble)),
            HW.VarSpec("latitude", Seq("y", "x"), Seq(20, 10),
              plane((y, x) => 40.0 + y * 0.25 + x * 0.01),
              chunks = Some(Seq(8, 8)), deflate = true),
            HW.VarSpec("longitude", Seq("y", "x"), Seq(20, 10),
              plane((y, x) => -100.0 + x * 0.5 + y * 0.02)),
            HW.VarSpec("sst", Seq("time", "y", "x"), Seq(1, 20, 10), vals,
              chunks = Some(Seq(1, 10, 10)), deflate = true, shuffle = true)))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/q158.refs.json"),
            Kerchunk.scanNetCDF4(
              new org.apache.hadoop.conf.Configuration(), nc)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } + "/q158.refs.json"
        s.read.format("zarr").load(refs)
          .select($"time", $"y", $"x",
            round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), $"sst")
          .orderBy($"y", $"x")
      }),

    // ---------------------------------------------------------------- S1 (LAEA GRIB virtualized as zarr references)
    // The EFAS/CEMS European-grid shape: a Lambert-azimuthal-equal-area
    // GRIB2 file (template 3.140) as a virtual store. The oracle re-derives
    // the plane origin (Snyder 24-1/24-2 forward at the first point) and
    // every pixel's lat/lon (20-14..20-18 inverse) with DuckDB's own trig.
    Q("q160_grib_virtual_laea", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           c AS (SELECT CAST(6367470.0 AS DOUBLE) AS r_e,
                        radians(52.0) AS p1, radians(10.0) AS l0,
                        radians(48.0) AS la1, radians(2.0) AS lo1),
           k AS (SELECT r_e, p1, l0,
                        sqrt(2 / (1 + sin(p1)*sin(la1)
                                  + cos(p1)*cos(la1)*cos(lo1 - l0))) AS kp,
                        la1, lo1
                 FROM c),
           b AS (SELECT r_e, p1, l0,
                        r_e * kp * cos(la1) * sin(lo1 - l0) AS x0,
                        r_e * kp * (cos(p1)*sin(la1)
                                    - sin(p1)*cos(la1)*cos(lo1 - l0)) AS y0
                 FROM k),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS value,
                        r_e, p1, l0,
                        x0 + (rn0 % 10) * 5000.0 AS x,
                        y0 + (rn0 // 10) * 5000.0 AS y
                 FROM o, b),
           p AS (SELECT value, r_e, p1, l0, x, y,
                        sqrt(x*x + y*y) AS rho
                 FROM g),
           q AS (SELECT value, r_e, p1, l0, x, y, rho,
                        2 * asin(rho / (2 * r_e)) AS ce
                 FROM p)
      SELECT round(y, 6) AS y, round(x, 6) AS x,
             round(degrees(asin(cos(ce)*sin(p1)
                                + y*sin(ce)*cos(p1)/rho)), 6) AS latitude,
             round(degrees(l0 + atan2(x*sin(ce),
                     rho*cos(p1)*cos(ce) - y*sin(p1)*sin(ce))), 6)
               AS longitude,
             value
      FROM q ORDER BY y, x"""))(
      (s, d) => {
        import graft.sources.grib.{GribProjection, Grib2Writer => GW2}
        import graft.sources.zarr.Kerchunk
        val refs = Fixtures.dir("q160", d) { dir =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val path = s"$dir/q160.grib2"
          GW2.write(path, Seq(GW2.FieldSpec(
            discipline = 0, category = 0, number = 0, levelType = 103,
            levelScaledValue = 2,
            refTime = java.time.LocalDateTime.of(2026, 8, 1, 0, 0),
            values = vals, ni = 10, nj = 20,
            la1 = 48.0, lo1 = 2.0, la2 = 0, lo2 = 0, decimalScale = 0,
            projection = Some(GribProjection.LambertAzimuthalEqualArea(
              52.0, 10.0, 6367470.0)),
            dxMeters = 5000.0, dyMeters = 5000.0)))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$dir/q160.refs.json"),
            Kerchunk.scanGrib(
              new org.apache.hadoop.conf.Configuration(), path)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } + "/q160.refs.json"
        s.read.format("zarr").load(refs)
          .select(round($"y", 6).as("y"), round($"x", 6).as("x"),
            round($"latitude", 6).as("latitude"),
            round($"longitude", 6).as("longitude"), col("2t").as("value"))
          .orderBy($"y", $"x")
      }),

    // ---------------------------------------------------------------- S1 (netCDF-4 with hdf5plugin registered filters)
    // The modern compressed-netCDF surface: one variable per registered
    // dynamic filter — shuffle+zstd (32015), blosc (32001), bitshuffle+lz4
    // (32008), and the HDF5-External-Filter lz4 (32004). The oracle
    // recomputes every planted cell, so any framing or bit-transpose slip
    // in any of the four decoders breaks the hash.
    Q("q161_netcdf4_plugin_filters", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200),
           g AS (SELECT CAST(o_orderkey % 997 AS DOUBLE) AS v,
                        CAST(rn0 // 10 AS DOUBLE) AS y,
                        CAST(rn0 % 10 AS DOUBLE) AS x
                 FROM o)
      SELECT y, x, v AS a_zstd, round(v * 1.5, 6) AS b_blosc,
             v + 100 AS c_bshuf, v * 2 AS d_lz4
      FROM g ORDER BY y, x"""))(
      (s, d) => {
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.netcdf.NetCDF4Reader
        val nc = Fixtures.dir("q161", d) { dir =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          def v(name: String, data: Seq[Double]) = HW.VarSpec(
            name, Seq("y", "x"), Seq(20, 10), data, dtype = "f8",
            chunks = Some(Seq(8, 10))) // 80-cell chunks: multi-block lz4,
          // bitshuffle full blocks + a 16-element rounded tail, edge chunks
          HW.write(s"$dir/q161.nc", Seq(
            HW.VarSpec("y", Seq("y"), Seq(20), (0 until 20).map(_.toDouble)),
            HW.VarSpec("x", Seq("x"), Seq(10), (0 until 10).map(_.toDouble)),
            v("a_zstd", vals).copy(shuffle = true, zstd = true),
            v("b_blosc", vals.map(x => math.rint(x * 1.5 * 1e6) / 1e6))
              .copy(blosc = true),
            v("c_bshuf", vals.map(_ + 100)).copy(
              bitshuffle = Some(2), bitshuffleBlockElems = 16),
            v("d_lz4", vals.map(_ * 2)).copy(lz4 = true)))
        } + "/q161.nc"
        NetCDF4Reader.readLongFormat(s, nc)
          .select($"y", $"x", $"a_zstd", round($"b_blosc", 6).as("b_blosc"),
            $"c_bshuf", $"d_lz4")
          .orderBy($"y", $"x")
      }),

    // ---------------------------------------------------------------- S1 (NetCDF CDF-5 / 64-bit data)
    // Same `orders` grid through the CDF-5 (64-bit data) classic variant:
    // widened header counts, an NC_INT64 variable and an NC_UBYTE variable
    // on a record time dimension — the PnetCDF large-file layout. Every
    // count/dimid width slip or unsigned decode slip breaks the hash.
    Q("q95_cdf5_extract", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-11-01 00:00:00'
                  ELSE TIMESTAMP '2026-11-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(5000000000 + o_orderkey % 997 AS DOUBLE) AS counts,
             CAST(o_orderkey % 250 AS DOUBLE) AS flags
      FROM o
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.netcdf.{NetCDF3, NetCDF3Reader, NetCDF3Writer => NW}
        val path = Fixtures.path("q95", d, "q95.nc") { p =>
          val rows = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double").as("c"),
              ($"o_orderkey" % 250).cast("double").as("f"))
            .collect()
          val t0 = java.time.LocalDateTime.of(2026, 11, 1, 0, 0)
            .toEpochSecond(java.time.ZoneOffset.UTC)
          NW.write(p,
            dims = Seq(NW.DimSpec("time", 2, record = true),
              NW.DimSpec("latitude", 10), NW.DimSpec("longitude", 10)),
            vars = Seq(
              NW.VarSpec("time", Seq("time"), NetCDF3.NC_DOUBLE,
                Seq(t0.toDouble, t0 + 21600.0),
                attrs = Seq("units" -> "seconds since 1970-01-01")),
              NW.VarSpec("latitude", Seq("latitude"), NetCDF3.NC_DOUBLE,
                (0 until 10).map(50.0 - _)),
              NW.VarSpec("longitude", Seq("longitude"), NetCDF3.NC_DOUBLE,
                (0 until 10).map(_.toDouble)),
              NW.VarSpec("counts", Seq("time", "latitude", "longitude"),
                NetCDF3.NC_INT64, rows.map(r => 5000000000.0 + r.getDouble(0)).toSeq),
              NW.VarSpec("flags", Seq("time", "latitude", "longitude"),
                NetCDF3.NC_UBYTE, rows.map(_.getDouble(1)).toSeq)),
            version = 5)
        }
        NetCDF3Reader.readLongFormat(s, path)
          .select(col("time").cast("timestamp_ntz").as("time"),
            $"latitude", $"longitude", $"counts", $"flags")
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (Zarr string dtypes)
    // Fixed-width numpy string arrays in a v2 store (|S<n> label arrays —
    // the xarray "object/bytes coordinate written as fixed strings" shape)
    // read as StringType columns through the DSv2 reader, alongside a
    // numeric sibling on the same chunk grid. Values derive from `nation`.
    Q("q101_zarr_strings", Some("""
      SELECT CAST(n_nationkey AS DOUBLE) AS station,
             n_name AS name,
             CAST(n_regionkey AS DOUBLE) AS code
      FROM nation ORDER BY station"""))(
      (s, d) => {
        val dir = Fixtures.path("q101", d, "s.zarr") { store =>
          val rows = Tables.nation(s, d).orderBy($"n_nationkey")
            .select($"n_nationkey".cast("double"), $"n_name",
              $"n_regionkey".cast("double"))
            .collect()
          val n = rows.length
          def put(rel: String, bytes: Array[Byte]): Unit = {
            val f = new java.io.File(store, rel)
            f.getParentFile.mkdirs()
            java.nio.file.Files.write(f.toPath, bytes)
          }
          def zarray(dtype: String): String =
            s"""{"zarr_format": 2, "shape": [$n], "chunks": [$n], "dtype": "$dtype",
               | "compressor": null, "fill_value": null, "filters": null,
               | "order": "C"}""".stripMargin
          def dims(): String = """{"_ARRAY_DIMENSIONS": ["station"]}"""
          def putDoubles(name: String, vs: Seq[Double]): Unit = {
            put(s"$name/.zarray", zarray("<f8").getBytes("UTF-8"))
            put(s"$name/.zattrs", dims().getBytes("UTF-8"))
            val bb = java.nio.ByteBuffer.allocate(vs.size * 8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            vs.foreach(bb.putDouble)
            put(s"$name/0", bb.array())
          }
          putDoubles("station", rows.map(_.getDouble(0)).toSeq)
          putDoubles("code", rows.map(_.getDouble(2)).toSeq)
          put("name/.zarray", zarray("|S32").getBytes("UTF-8"))
          put("name/.zattrs", dims().getBytes("UTF-8"))
          val cells = new Array[Byte](n * 32) // NUL-padded
          rows.zipWithIndex.foreach { case (r, i) =>
            val b = r.getString(1).getBytes("UTF-8")
            System.arraycopy(b, 0, cells, i * 32, b.length)
          }
          put("name/0", cells)
        }
        s.read.format("zarr").load(dir)
          .select($"station", $"name", $"code")
          .orderBy($"station")
      }),

    // ---------------------------------------------------------------- S1 (GRIB2 spectral, templates 3.50 + 5.51)
    // Spherical-harmonic spectral field (the IFS native representation the
    // reference reads through eccodes): T9 triangular truncation, complex
    // BIFS packing 5.51 — sub-truncation n <= 3 stored IEEE, the remainder
    // Laplacian-scaled by (n(n+1))^1 and simple-packed. One row per
    // coefficient; integer-valued coefficients keep the cycle exact.
    Q("q100_grib2_spectral", Some("""
      WITH o AS (SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0,
                        CAST(o_orderkey % 997 - 400 AS DOUBLE) AS v
                 FROM orders ORDER BY o_orderkey LIMIT 110),
           mn AS (SELECT mv, nv,
                         row_number() OVER (ORDER BY mv, nv) - 1 AS k
                  FROM generate_series(0, 9) AS mt(mv),
                       generate_series(0, 9) AS nt(nv)
                  WHERE nv >= mv)
      SELECT CAST(mn.mv AS BIGINT) AS m, CAST(mn.nv AS BIGINT) AS n,
             re.v AS re, im.v AS im
      FROM mn
      JOIN o re ON re.rn0 = 2 * mn.k
      JOIN o im ON im.rn0 = 2 * mn.k + 1
      ORDER BY m, n"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, Grib2Writer => GW2}
        val path = Fixtures.path("q100", d, "q100.grib2") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(110)
            .select(($"o_orderkey" % 997 - 400).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 8, 1, 0, 0)
          GW2.write(p, Seq(GW2.FieldSpec(0, 3, 5, 100, 50000, t0, vals,
            110, 1, 0.0, 0.0, 0.0, 0.0, decimalScale = 0, bitsPerValue = 24,
            packing = 51, spectralT = 9, subTruncation = 3, laplacianP = 1.0)))
        }
        GribReader.readSpectral(s, path)
          .select($"m", $"n", $"re", $"im")
          .orderBy($"m", $"n")
      }),

    // ---------------------------------------------------------------- S1 (GRIB1 spectral, grid type 50)
    // The GRIB1 spectral layout older ECMWF archives (ERA-15/40 era) carry:
    // type-50 GDS, spherical-harmonic BDS flag, (0,0) real part as an IBM
    // float leading the data section, remaining coefficients simple-packed.
    Q("q102_grib1_spectral", Some("""
      WITH o AS (SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0,
                        CAST(o_orderkey % 811 - 300 AS DOUBLE) AS v
                 FROM orders ORDER BY o_orderkey LIMIT 110),
           mn AS (SELECT mv, nv,
                         row_number() OVER (ORDER BY mv, nv) - 1 AS k
                  FROM generate_series(0, 9) AS mt(mv),
                       generate_series(0, 9) AS nt(nv)
                  WHERE nv >= mv)
      SELECT CAST(mn.mv AS BIGINT) AS m, CAST(mn.nv AS BIGINT) AS n,
             re.v AS re, im.v AS im
      FROM mn
      JOIN o re ON re.rn0 = 2 * mn.k
      JOIN o im ON im.rn0 = 2 * mn.k + 1
      ORDER BY m, n"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, Grib1Writer => GW}
        val path = Fixtures.path("q102", d, "q102.grib") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(110)
            .select(($"o_orderkey" % 811 - 300).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 8, 1, 0, 0)
          GW.write(p, Seq(GW.FieldSpec(129, 100, 500, t0, vals,
            ni = 110, nj = 1, la1 = 0, lo1 = 0, la2 = 0, lo2 = 0,
            tableVersion = 128, decimalScale = 0, bitsPerValue = 24,
            spectralT = 9)))
        }
        GribReader.readSpectral(s, path)
          .select($"m", $"n", $"re", $"im")
          .orderBy($"m", $"n")
      }),

    // ---------------------------------------------------------------- S1 (HDF5 compound datatype)
    // A compound (class 6) observation-record variable — struct { double
    // bal; int nation; char name[32]; } per point — flattens to one column
    // per member in the mover's row model (netCDF-4 compound types read
    // through netCDF-C in the reference, sinks.py:345-389). Values derive
    // from `supplier`.
    Q("q99_netcdf4_compound", Some("""
      SELECT CAST(s_suppkey AS DOUBLE) AS obs,
             round(CAST(s_acctbal AS DOUBLE), 6) AS site_bal,
             CAST(s_nationkey AS DOUBLE) AS site_nation,
             s_name AS site_name
      FROM supplier ORDER BY obs"""))(
      (s, d) => {
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.netcdf.NetCDF4Reader
        val path = Fixtures.path("q99", d, "q99.nc") { p =>
          val rows = Tables.supplier(s, d).orderBy($"s_suppkey")
            .select($"s_suppkey".cast("double"), $"s_acctbal".cast("double"),
              $"s_nationkey".cast("double"), $"s_name")
            .collect()
          val n = rows.length
          HW.write(p, Seq(
            HW.VarSpec("obs", Seq("obs"), Seq(n),
              rows.map(_.getDouble(0)).toSeq, dtype = "f8"),
            HW.VarSpec("site", Seq("obs"), Seq(n), Nil,
              compound = Seq("bal" -> "f8", "nation" -> "i4", "name" -> "s32"),
              cdata = rows.map(r =>
                Seq(r.getDouble(1), r.getDouble(2), r.getString(3))).toSeq)))
        }
        NetCDF4Reader.readLongFormat(s, path)
          .select($"obs", round($"site_bal", 6).as("site_bal"),
            $"site_nation", $"site_name")
          .orderBy($"obs")
      }),

    // ---------------------------------------------------------------- S1 (NetCDF-3 NC_CHAR)
    // Classic-format station labels: a `char name(station, strlen)` variable
    // collapses its trailing strlen dim into a STRING column (the CF char
    // convention xarray decodes; the reference reads these through
    // xarray/netcdf4, sinks.py:345-389). NUL-padded cells, a record outer
    // dim, and a numeric sibling on the same hypercube.
    Q("q98_netcdf3_chars", Some("""
      SELECT CAST(n_nationkey AS DOUBLE) AS station,
             n_name AS station_name,
             CAST(n_regionkey AS DOUBLE) AS code
      FROM nation ORDER BY station"""))(
      (s, d) => {
        import graft.sources.netcdf.{NetCDF3, NetCDF3Reader, NetCDF3Writer => NW}
        val path = Fixtures.path("q98", d, "q98.nc") { p =>
          val rows = Tables.nation(s, d).orderBy($"n_nationkey")
            .select($"n_nationkey".cast("double"), $"n_name",
              $"n_regionkey".cast("double"))
            .collect()
          val strlen = 32
          NW.write(p,
            dims = Seq(NW.DimSpec("station", rows.length, record = true),
              NW.DimSpec("name_strlen", strlen)),
            vars = Seq(
              NW.VarSpec("station", Seq("station"), NetCDF3.NC_DOUBLE,
                rows.map(_.getDouble(0)).toSeq),
              NW.VarSpec("station_name", Seq("station", "name_strlen"),
                NetCDF3.NC_CHAR,
                rows.flatMap { r =>
                  val b = r.getString(1).getBytes("UTF-8")
                  b.map(_.toDouble) ++ Seq.fill(strlen - b.length)(0.0)
                }.toSeq),
              NW.VarSpec("code", Seq("station"), NetCDF3.NC_INT,
                rows.map(_.getDouble(2)).toSeq)))
        }
        NetCDF3Reader.readLongFormat(s, path)
          .select($"station", $"station_name", $"code")
          .orderBy($"station")
      }),

    // ---------------------------------------------------------------- S1 (HDF5 szip filter)
    // The q63 grid packed behind the szip filter (id 4 — CCSDS/Rice via
    // the shared Ccsds coder): chunked int16 with scale/offset decode.
    // Any slip in the filter-param mapping, the Rice decode, or the
    // little-endian sample reassembly breaks the hash.
    Q("q96_netcdf4_szip", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-12-01 00:00:00'
                  ELSE TIMESTAMP '2026-12-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             round(CAST(o_orderkey % 997 AS DOUBLE) * 0.5 + 250, 6) AS swvl
      FROM o
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.netcdf.NetCDF4Reader
        val path = Fixtures.path("q96", d, "q96.nc") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 12, 1, 0, 0)
            .toEpochSecond(java.time.ZoneOffset.UTC)
          HW.write(p, Seq(
            HW.VarSpec("time", Seq("time"), Seq(2),
              Seq(t0.toDouble, t0 + 21600.0), dtype = "f8",
              units = Some("seconds since 1970-01-01")),
            HW.VarSpec("latitude", Seq("latitude"), Seq(10),
              (0 until 10).map(50.0 - _), dtype = "f8"),
            HW.VarSpec("longitude", Seq("longitude"), Seq(10),
              (0 until 10).map(_.toDouble), dtype = "f8"),
            HW.VarSpec("swvl", Seq("time", "latitude", "longitude"), Seq(2, 10, 10),
              vals, dtype = "i2", chunks = Some(Seq(1, 5, 10)), szip = true,
              scaleFactor = Some(0.5), addOffset = Some(250.0))))
        }
        NetCDF4Reader.readLongFormat(s, path)
          .select(col("time").cast("timestamp_ntz").as("time"),
            $"latitude", $"longitude", round($"swvl", 6).as("swvl"))
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (netCDF-4 per-var chunk grids)
    // Two data variables chunked on DIFFERENT grids (1x5x10 vs 2x10x5) in
    // one file — netCDF-C accepts any per-variable chunking, so the
    // distributed scan must too: the head var's grid plans task cells and
    // the other var resolves cells through its OWN chunk map.
    Q("q104_netcdf4_mixed_chunks", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2027-01-01 00:00:00'
                  ELSE TIMESTAMP '2027-01-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 997 AS DOUBLE) AS t2m,
             round(CAST(o_orderkey % 811 AS DOUBLE) * 0.25 + 100, 6) AS tp
      FROM o
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.netcdf.NetCDF4Reader
        val path = Fixtures.path("q104", d, "q104.nc") { p =>
          val rows = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"),
              ($"o_orderkey" % 811).cast("double"))
            .collect()
          val t0 = java.time.LocalDateTime.of(2027, 1, 1, 0, 0)
            .toEpochSecond(java.time.ZoneOffset.UTC)
          HW.write(p, Seq(
            HW.VarSpec("time", Seq("time"), Seq(2),
              Seq(t0.toDouble, t0 + 21600.0), dtype = "f8",
              units = Some("seconds since 1970-01-01")),
            HW.VarSpec("latitude", Seq("latitude"), Seq(10),
              (0 until 10).map(50.0 - _), dtype = "f8"),
            HW.VarSpec("longitude", Seq("longitude"), Seq(10),
              (0 until 10).map(_.toDouble), dtype = "f8"),
            HW.VarSpec("t2m", Seq("time", "latitude", "longitude"), Seq(2, 10, 10),
              rows.map(_.getDouble(0)).toSeq, dtype = "f8",
              chunks = Some(Seq(1, 5, 10)), deflate = true, shuffle = true),
            HW.VarSpec("tp", Seq("time", "latitude", "longitude"), Seq(2, 10, 10),
              rows.map(_.getDouble(1)).toSeq, dtype = "i2",
              chunks = Some(Seq(2, 10, 5)), deflate = true,
              scaleFactor = Some(0.25), addOffset = Some(100.0))))
        }
        NetCDF4Reader.readLongFormat(s, path)
          .select(col("time").cast("timestamp_ntz").as("time"),
            $"latitude", $"longitude", $"t2m", round($"tp", 6).as("tp"))
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (HDF5 string datatypes)
    // netCDF-4 string label variables (station ids, CF label vars — the
    // reference reads them through netCDF-C, sinks.py:345-389): one
    // fixed-length (class 3, NUL-padded cells) and one variable-length
    // (class 9 vlen-string through the global heap) variable, alongside a
    // CHUNKED numeric sibling so contiguous label vars index globally while
    // task cells come from the chunk grid. Values derive from `nation`.
    Q("q97_netcdf4_strings", Some("""
      SELECT CAST(n_nationkey AS DOUBLE) AS station,
             n_name AS name_fix,
             n_name || '-' || CAST(n_regionkey AS VARCHAR) AS name_vl,
             CAST(n_regionkey AS DOUBLE) AS code
      FROM nation ORDER BY station"""))(
      (s, d) => {
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.netcdf.NetCDF4Reader
        val path = Fixtures.path("q97", d, "q97.nc") { p =>
          val rows = Tables.nation(s, d).orderBy($"n_nationkey")
            .select($"n_nationkey".cast("double"), $"n_name",
              $"n_regionkey".cast("double"))
            .collect()
          val n = rows.length
          HW.write(p, Seq(
            HW.VarSpec("station", Seq("station"), Seq(n),
              rows.map(_.getDouble(0)).toSeq, dtype = "f8"),
            HW.VarSpec("name_fix", Seq("station"), Seq(n), Nil,
              dtype = "s32", sdata = rows.map(_.getString(1)).toSeq),
            HW.VarSpec("name_vl", Seq("station"), Seq(n), Nil,
              dtype = "vls",
              sdata = rows.map(r => r.getString(1) + "-" + r.getDouble(2).toLong).toSeq,
              vlsAttrs = Seq("long_name" -> "station name with region")),
            HW.VarSpec("code", Seq("station"), Seq(n),
              rows.map(_.getDouble(2)).toSeq, dtype = "f8",
              chunks = Some(Seq(8)))))
        }
        NetCDF4Reader.readLongFormat(s, path)
          .select($"station", $"name_fix", $"name_vl", $"code")
          .orderBy($"station")
      }),

    // ---------------------------------------------------------------- S1 (netCDF-4 VLEN ragged arrays)
    // Variable-length sequence datatype (HDF5 class 9 type 0 — netCDF-4
    // VLEN types): ragged per-station observation lists decode through the
    // global heap into ArrayType columns, then posexplode to long format.
    // Station i carries i % 4 elements (empty lists stay row-less).
    Q("q105_netcdf4_vlen", Some("""
      WITH x AS (SELECT n_nationkey,
                        UNNEST(range(0, CAST(n_nationkey % 4 AS BIGINT))) AS e
                 FROM nation)
      SELECT CAST(n_nationkey AS DOUBLE) AS station,
             CAST(e AS DOUBLE) AS pos,
             round(CAST(n_nationkey AS DOUBLE) * 10 + e * 0.5, 6) AS obs
      FROM x ORDER BY station, pos"""))(
      (s, d) => {
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.netcdf.NetCDF4Reader
        val path = Fixtures.path("q105", d, "q105.nc") { p =>
          val keys = Tables.nation(s, d).orderBy($"n_nationkey")
            .select($"n_nationkey".cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val n = keys.length
          val ragged: Seq[Seq[Double]] =
            keys.map(k => (0 until (k.toInt % 4)).map(e => k * 10 + e * 0.5))
          HW.write(p, Seq(
            HW.VarSpec("station", Seq("station"), Seq(n), keys, dtype = "f8"),
            HW.VarSpec("obs", Seq("station"), Seq(n), Nil, dtype = "vld",
              vdata = ragged)))
        }
        NetCDF4Reader.readLongFormat(s, path)
          .select($"station", posexplode($"obs").as(Seq("pos", "obs")))
          .select($"station", $"pos".cast("double").as("pos"),
            round($"obs", 6).as("obs"))
          .orderBy($"station", $"pos")
      }),

    // ---------------------------------------------------------------- S1 (netCDF-4 opaque blobs)
    // Opaque datatype (HDF5 class 5 — NC_OPAQUE): fixed-width raw byte
    // cells surface as BinaryType, hex-encoded here so DuckDB can recompute
    // the expected bytes. Station k carries the 4 bytes (k, k+1, k+2, k+3).
    Q("q106_netcdf4_opaque", Some("""
      SELECT CAST(n_nationkey AS DOUBLE) AS station,
             upper(lpad(to_hex(n_nationkey), 2, '0') ||
                   lpad(to_hex(n_nationkey + 1), 2, '0') ||
                   lpad(to_hex(n_nationkey + 2), 2, '0') ||
                   lpad(to_hex(n_nationkey + 3), 2, '0')) AS thumb_hex
      FROM nation ORDER BY station"""))(
      (s, d) => {
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.netcdf.NetCDF4Reader
        val path = Fixtures.path("q106", d, "q106.nc") { p =>
          val keys = Tables.nation(s, d).orderBy($"n_nationkey")
            .select($"n_nationkey".cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val n = keys.length
          val blobs = keys.map(k =>
            Array.tabulate(4)(j => (k.toInt + j).toByte))
          HW.write(p, Seq(
            HW.VarSpec("station", Seq("station"), Seq(n), keys, dtype = "f8"),
            HW.VarSpec("thumb", Seq("station"), Seq(n), Nil, dtype = "o4",
              bdata = blobs)))
        }
        NetCDF4Reader.readLongFormat(s, path)
          .select($"station", hex($"thumb").as("thumb_hex"))
          .orderBy($"station")
      }),

    // ---------------------------------------------------------------- S1 (HDF5 array datatype)
    // Array datatype (class 10): each cell holds a fixed 3-vector; reads as
    // an ArrayType column, posexploded for the oracle compare. Station k's
    // vector is [k, k+0.25, k+0.5].
    Q("q107_netcdf4_array_dtype", Some("""
      WITH x AS (SELECT n_nationkey, UNNEST(range(0, 3)) AS e FROM nation)
      SELECT CAST(n_nationkey AS DOUBLE) AS station,
             CAST(e AS DOUBLE) AS pos,
             round(CAST(n_nationkey AS DOUBLE) + e * 0.25, 6) AS vec
      FROM x ORDER BY station, pos"""))(
      (s, d) => {
        import graft.sources.hdf5.{Hdf5Writer => HW}
        import graft.sources.netcdf.NetCDF4Reader
        val path = Fixtures.path("q107", d, "q107.nc") { p =>
          val keys = Tables.nation(s, d).orderBy($"n_nationkey")
            .select($"n_nationkey".cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val n = keys.length
          val cells = keys.map(k => (0 until 3).map(e => k + e * 0.25))
          HW.write(p, Seq(
            HW.VarSpec("station", Seq("station"), Seq(n), keys, dtype = "f8"),
            HW.VarSpec("vec", Seq("station"), Seq(n), Nil, dtype = "a3",
              vdata = cells)))
        }
        NetCDF4Reader.readLongFormat(s, path)
          .select($"station", posexplode($"vec").as(Seq("pos", "vec")))
          .select($"station", $"pos".cast("double").as("pos"),
            round($"vec", 6).as("vec"))
          .orderBy($"station", $"pos")
      }),

    // ---------------------------------------------------------------- S1 (Zarr v2 string arrays)
    // xarray's DEFAULT on-disk string encoding: object dtype (|O) with the
    // numcodecs vlen-utf8 object codec at filters[0], plus a fixed-width
    // |S variable. Variables deliberately use THREE different chunk grids
    // so the DSv2 reader's per-var chunk resolution is oracle-gated (the
    // head-var grid plans partitions; other vars resolve cells through
    // their own grids).
    Q("q103_zarr_vlen_strings", Some("""
      SELECT CAST(n_nationkey AS DOUBLE) AS station,
             n_name || '/' || CAST(n_regionkey AS VARCHAR) AS name_vl,
             n_name AS name_fix,
             CAST(n_regionkey AS DOUBLE) AS code
      FROM nation ORDER BY station"""))(
      (s, d) => {
        import graft.sources.zarr.{ZarrWriter => ZW}
        val dir = Fixtures.path("q103", d, "q103.zarr") { store =>
          val rows = Tables.nation(s, d).orderBy($"n_nationkey")
            .select($"n_nationkey".cast("double"), $"n_name",
              $"n_regionkey".cast("double"))
            .collect()
          val n = rows.length
          ZW.write(store, Seq(
            ZW.VarSpec("station", Seq("station"), Seq(n), Seq(n), "<f8",
              rows.map(_.getDouble(0)).toSeq),
            ZW.VarSpec("name_vl", Seq("station"), Seq(n), Seq(7), "|O", Nil,
              sdata = rows.map(r => r.getString(1) + "/" + r.getDouble(2).toLong).toSeq,
              compressor = Some("zlib")),
            ZW.VarSpec("name_fix", Seq("station"), Seq(n), Seq(n), "|S32", Nil,
              sdata = rows.map(_.getString(1)).toSeq),
            ZW.VarSpec("code", Seq("station"), Seq(n), Seq(9), "<f8",
              rows.map(_.getDouble(2)).toSeq, compressor = Some("zstd"))))
        }
        s.read.format("zarr").load(dir)
          .select($"station", $"name_vl", $"name_fix", $"code")
          .orderBy($"station")
      }),

    // ---------------------------------------------------------------- S1 (GRIB2 CCSDS packing, template 5.42)
    // Same `orders` grid as q54/q61, packed with template 5.42 — the
    // CCSDS/AEC adaptive entropy coding ECMWF uses operationally (the
    // reference reads it via eccodes+libaec). Message 1 is dense 16-bit;
    // message 2 masks every 7th point behind a bitmap; any slip in the
    // Rice/FS/zero-block/second-extension decode or the unit-delay
    // unmapping breaks the hash against the DuckDB recomputation.
    Q("q64_grib2_ccsds", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-10-01 00:00:00'
                  ELSE TIMESTAMP '2026-10-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 997 AS DOUBLE) AS value
      FROM o
      WHERE NOT (rn0 >= 100 AND rn0 % 7 = 0)
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, Grib2Writer => GW2}
        val path = Fixtures.path("q64", d, "q64.grib2") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 10, 1, 0, 0)
          def spec(v: Seq[Double], fcst: Int) = GW2.FieldSpec(
            discipline = 0, category = 0, number = 0, levelType = 103,
            levelScaledValue = 2, refTime = t0, values = v, ni = 10, nj = 10,
            la1 = 50.0, lo1 = 0.0, la2 = 41.0, lo2 = 9.0,
            forecastTime = fcst, decimalScale = 0,
            packing = 42, bitsPerValue = 16)
          val m2 = vals.drop(100).zipWithIndex.map { case (v, k) =>
            if ((k + 100) % 7 == 0) Double.NaN else v
          }
          GW2.write(p, Seq(spec(vals.take(100), 0), spec(m2, 6)))
        }
        GribReader.readLongFormat(s, path)
          .filter($"value".isNotNull)
          .select($"time", $"latitude", $"longitude", $"value")
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (GRIB2 JPEG2000 packing, template 5.40)
    // Same `orders` grid as q54/q61/q64, packed with template 5.40 — the
    // NCEP-operational JPEG2000 packing (GFS/HRRR distribute in it; the
    // reference reads it via eccodes+openjpeg). The section-7 payload is a
    // lossless single-tile JPEG 2000 codestream decoded by the pure-JVM
    // MQ/EBCOT/5-3-wavelet codec. Message 1 is dense 16-bit (10x10 image,
    // two wavelet levels); message 2 masks every 7th point behind a bitmap
    // (n x 1 layout); any slip in the arithmetic coder, the coding passes,
    // the tag trees or the lifting steps breaks the hash against DuckDB.
    Q("q65_grib2_jpeg2000", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-11-01 00:00:00'
                  ELSE TIMESTAMP '2026-11-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             CAST(o_orderkey % 1499 AS DOUBLE) AS value
      FROM o
      WHERE NOT (rn0 >= 100 AND rn0 % 7 = 0)
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, Grib2Writer => GW2}
        val path = Fixtures.path("q65", d, "q65.grib2") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 1499).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 11, 1, 0, 0)
          def spec(v: Seq[Double], fcst: Int) = GW2.FieldSpec(
            discipline = 0, category = 0, number = 0, levelType = 103,
            levelScaledValue = 2, refTime = t0, values = v, ni = 10, nj = 10,
            la1 = 50.0, lo1 = 0.0, la2 = 41.0, lo2 = 9.0,
            forecastTime = fcst, decimalScale = 0,
            packing = 40, bitsPerValue = 16)
          val m2 = vals.drop(100).zipWithIndex.map { case (v, k) =>
            if ((k + 100) % 7 == 0) Double.NaN else v
          }
          GW2.write(p, Seq(spec(vals.take(100), 0), spec(m2, 6)))
        }
        GribReader.readLongFormat(s, path)
          .filter($"value".isNotNull)
          .select($"time", $"latitude", $"longitude", $"value")
          .orderBy($"time", $"latitude", $"longitude")
      }),

    // ---------------------------------------------------------------- S1 (GRIB2 IEEE packing, template 5.4)
    // Same `orders` grid, packed with template 5.4 — raw IEEE floats, the
    // packing centres use when fixed-point scaling would lose precision
    // (the reference reads it via eccodes). Message 1 is 32-bit floats
    // with a fractional part exactly representable in float32 (x + 0.25);
    // message 2 is 64-bit doubles of x/7 behind a bitmap — both sides of
    // the precision-code dispatch round-trip bit-exact against DuckDB's
    // recomputation of the same arithmetic.
    Q("q80_grib2_ieee", Some("""
      WITH o AS (SELECT o_orderkey,
                        row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0
                 FROM orders ORDER BY o_orderkey LIMIT 200)
      SELECT CASE WHEN rn0 // 100 = 0 THEN TIMESTAMP '2026-12-01 00:00:00'
                  ELSE TIMESTAMP '2026-12-01 06:00:00' END AS time,
             CAST(50 - (rn0 % 100) // 10 AS DOUBLE) AS latitude,
             CAST(rn0 % 10 AS DOUBLE) AS longitude,
             round(CASE WHEN rn0 < 100
                        THEN (o_orderkey % 997) + CAST(0.25 AS DOUBLE)
                        ELSE (o_orderkey % 997) / CAST(7 AS DOUBLE) END,
                   6) AS value
      FROM o
      WHERE NOT (rn0 >= 100 AND rn0 % 7 = 0)
      ORDER BY time, latitude, longitude"""))(
      (s, d) => {
        import graft.sources.grib.{GribReader, Grib2Writer => GW2}
        val path = Fixtures.path("q80", d, "q80.grib2") { p =>
          val vals = Tables.orders(s, d).orderBy($"o_orderkey").limit(200)
            .select(($"o_orderkey" % 997).cast("double"))
            .collect().map(_.getDouble(0)).toSeq
          val t0 = java.time.LocalDateTime.of(2026, 12, 1, 0, 0)
          def spec(v: Seq[Double], fcst: Int, bits: Int) = GW2.FieldSpec(
            discipline = 0, category = 0, number = 0, levelType = 103,
            levelScaledValue = 2, refTime = t0, values = v, ni = 10, nj = 10,
            la1 = 50.0, lo1 = 0.0, la2 = 41.0, lo2 = 9.0,
            forecastTime = fcst, decimalScale = 0,
            packing = 4, bitsPerValue = bits)
          val m2 = vals.drop(100).zipWithIndex.map { case (v, k) =>
            if ((k + 100) % 7 == 0) Double.NaN else v / 7.0
          }
          GW2.write(p, Seq(spec(vals.take(100).map(_ + 0.25), 0, bits = 32),
            spec(m2, 6, bits = 64)))
        }
        GribReader.readLongFormat(s, path)
          .filter($"value".isNotNull)
          .select($"time", $"latitude", $"longitude",
            round($"value", 6).as("value"))
          .orderBy($"time", $"latitude", $"longitude")
      })
  )

  // Implicit $"…" interpolation without a session: resolved lazily by plans.
  private implicit class ColInterp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  /** Full inventory: core SQL surface + training-data pipeline operators +
    * web-corpus ingestion/extraction. */
  lazy val everything: Seq[Q] = all ++ QueriesML.all ++ QueriesWeb.all

  lazy val byName: Map[String, (SparkSession, String) => DataFrame] =
    everything.map(q => q.name -> q.run).toMap
  lazy val oracles: Map[String, String] =
    everything.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap
}
