package graft
package battery

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.City

/** The city and lake family: the reference pipeline's batch shapes
  * (scans, aggregates, windows, joins, rollups), its SQL surface, lake
  * layout and maintenance, and the media decoders behind the vision leg.
  */
private[graft] object CityQueries {
  import Common._

  val all: Seq[Query] = Seq(
    // S1/P1: projection + casts + filter, pushed to parquet scan.
    Query("q01_scan_project", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("int").as("qty"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, CAST(trunc(l_quantity) AS INTEGER) AS qty,
                round(l_extendedprice * (1.0 - l_discount), 4) AS revenue, l_returnflag
         FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
         ORDER BY l_orderkey, l_linenumber"""),

    // P2/F3: CASE WHEN congestion derivation + count per level.
    Query("q02_congestion_case", (s, dir) => {
      t(s, dir, "events")
        .withColumn("congestion_level", City.congestionOccupancy(col("value") / 100.0))
        .groupBy("congestion_level")
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"))
        .orderBy("congestion_level")
    },
      """SELECT CASE WHEN value/100.0 > 0.8 THEN 'high'
                     WHEN value/100.0 > 0.5 THEN 'medium'
                     ELSE 'low' END AS congestion_level,
                count(1) AS n, round(avg(value), 4) AS avg_value
         FROM events GROUP BY 1 ORDER BY congestion_level"""),

    // A1: zone-style hash aggregation (partial+final, map-side combine).
    Query("q03_zone_agg", (s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(round(avg("value"), 4).as("avg_value"),
          round(sum("value"), 4).as("total_value"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      """SELECT event_type, round(avg(value), 4) AS avg_value,
                round(sum(value), 4) AS total_value, count(1) AS n
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // A2/TPC-H Q1 shape: multi-aggregate over two group keys.
    Query("q04_lineitem_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double").as("revenue"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                round(avg(l_extendedprice), 4) AS avg_price, count(1) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // A3: exact distinct counts (expand at scale: approx_count_distinct).
    Query("q05_distinct", (s, dir) => {
      t(s, dir, "events")
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("event_type")).as("n_types"))
    },
      """SELECT count(DISTINCT user_id) AS n_users,
                count(DISTINCT event_type) AS n_types FROM events"""),

    // A4/A5: global min/max/count; timestamps emitted at second
    // granularity as strings for cross-engine schema parity.
    Query("q06_minmax", (s, dir) => {
      t(s, dir, "events")
        .agg(date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("min_ts"),
          date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("max_ts"),
          count(lit(1)).as("n"))
    },
      """SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
                strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts,
                count(1) AS n FROM events"""),

    // A6/W2: tumbling 1-minute buckets per type: count, exact distinct
    // users, avg — the continuous-aggregate shape.
    Query("q07_window_1min", (s, dir) => {
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("minute", col("ts")), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          round(avg("value"), 4).as("avg_value"))
        .orderBy("bucket", "event_type")
    },
      """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
                event_type, count(1) AS n, count(DISTINCT user_id) AS n_users,
                round(avg(value), 4) AS avg_value
         FROM events GROUP BY 1, 2 ORDER BY bucket, event_type"""),

    // A7: hourly rollup with peak (max) — the declared-but-never-written
    // hourly_traffic_stats job.
    // The hourly rollup IS Rollup.hourlyState + Rollup.report (the
    // q76 machinery): decimal sums and an integer-unit exact half-up
    // average — regenerated sf0.1 data lands real hours exactly on
    // the 4-dp tie (1236.27/24 = 51.51125), where round-on-double
    // flips between engines (caught by the round-15 full sweep).
    Query("q08_hourly_rollup", (s, dir) =>
      graft.operators.Rollup.report(
          graft.operators.Rollup.hourlyState(t(s, dir, "events"),
            "ts", "value", Seq("event_type")))
        .select("hour", "event_type", "total_value", "avg_value",
          "peak_value")
        .orderBy("hour", "event_type"),
      """WITH h AS (
           SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                  event_type, count(1) AS n,
                  CAST(sum(CAST(value AS DECIMAL(20,4))) * 10000 AS BIGINT)
                    AS su,
                  round(max(value), 4) AS peak_value
           FROM events GROUP BY 1, 2)
         SELECT hour, event_type,
                CAST(su AS DOUBLE) / 10000.0 AS total_value,
                CAST((su * 2 + n) // (2 * n) AS DOUBLE) / 10000.0
                  AS avg_value,
                peak_value
         FROM h ORDER BY hour, event_type"""),

    // A8/O1: the README SQL report through the spark.sql surface.
    Query("q09_sql_report", (s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("events")
      s.sql("""SELECT event_type, round(avg(value), 4) AS avg_value, count(1) AS n
               FROM events
               WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'
               GROUP BY event_type
               ORDER BY avg_value DESC, event_type""")
    },
      """SELECT event_type, round(avg(value), 4) AS avg_value, count(1) AS n
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'
         GROUP BY event_type ORDER BY avg_value DESC, event_type"""),

    // A9/F12: per-group breakdown keyed by a JSON-extracted property
    // (vehicle_breakdown analog: map modeled as rows, merged by re-agg).
    Query("q10_breakdown", (s, dir) => {
      fanOut(t(s, dir, "events"), "event_id")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("vclass",
          when(col("k") % 4 === 0, "car").when(col("k") % 4 === 1, "truck")
            .when(col("k") % 4 === 2, "bus").otherwise("bike"))
        .groupBy("event_type", "vclass")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "vclass")
    },
      """SELECT event_type,
                CASE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) % 4
                     WHEN 0 THEN 'car' WHEN 1 THEN 'truck'
                     WHEN 2 THEN 'bus' ELSE 'bike' END AS vclass,
                count(1) AS n
         FROM events GROUP BY 1, 2 ORDER BY event_type, vclass"""),

    // J1/J2: dimension joins — both small dims explicitly broadcast; no
    // shuffle of the fact side at scale.
    Query("q11_broadcast_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_customers"), round(avg("c_acctbal"), 4).as("avg_acctbal"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name, count(1) AS n_customers,
                round(avg(c_acctbal), 4) AS avg_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),

    // Fact-fact equi-join (shuffle join, AQE-planned) + rollup.
    Query("q12_join_revenue", (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // O2: latest-N (TakeOrderedAndProject — no global sort at scale).
    Query("q13_topk", (s, dir) => {
      t(s, dir, "events")
        .orderBy(col("ts").desc, col("event_id").desc)
        .limit(10)
        .select(col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"), col("value"))
    },
      // Sort key cast to microsecond TIMESTAMP: the parquet stores
      // TIMESTAMP(NANOS); Spark truncates to µs, so the oracle must rank
      // on the same precision or near-ties could flip the selected rows.
      """SELECT event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
         FROM events ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC LIMIT 10"""),

    // F1: EPA AQI piecewise mapping, aggregated per category.
    Query("q14_aqi", (s, dir) => {
      t(s, dir, "events")
        .withColumn("aqi", City.aqiValue(col("value")))
        .withColumn("category", City.aqiCategory(col("value")))
        .groupBy("category")
        .agg(count(lit(1)).as("n"), round(avg("aqi"), 4).as("avg_aqi"))
        .orderBy("category")
    },
      """WITH aqi AS (
           SELECT value AS pm25,
             CASE WHEN value <= 12.0 THEN CAST(trunc((50.0/12.0) * value) AS INTEGER)
                  WHEN value <= 35.4 THEN CAST(trunc(50 + (50.0/23.4) * (value - 12.0)) AS INTEGER)
                  WHEN value <= 55.4 THEN CAST(trunc(100 + (50.0/20.0) * (value - 35.4)) AS INTEGER)
                  WHEN value <= 150.4 THEN CAST(trunc(150 + (50.0/95.0) * (value - 55.4)) AS INTEGER)
                  WHEN value <= 250.4 THEN CAST(trunc(200 + (100.0/100.0) * (value - 150.4)) AS INTEGER)
                  ELSE CAST(trunc(300 + (200.0/249.6) * least(value - 250.4, 249.6)) AS INTEGER) END AS aqi,
             CASE WHEN value <= 12.0 THEN 'Good'
                  WHEN value <= 35.4 THEN 'Moderate'
                  WHEN value <= 55.4 THEN 'Unhealthy for Sensitive Groups'
                  WHEN value <= 150.4 THEN 'Unhealthy'
                  WHEN value <= 250.4 THEN 'Very Unhealthy'
                  ELSE 'Hazardous' END AS category
           FROM events)
         SELECT category, count(1) AS n, round(avg(aqi), 4) AS avg_aqi
         FROM aqi GROUP BY category ORDER BY category"""),

    // F9: event-time partition key derivation (lake layout columns).
    Query("q15_partition_keys", (s, dir) => {
      val ev = t(s, dir, "events")
      ev.select(City.partitionCols(col("ts")) :+ col("event_id"): _*)
        .groupBy("year", "month", "day", "hour")
        .agg(count(lit(1)).as("n"))
        .orderBy("year", "month", "day", "hour")
    },
      """SELECT strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
                strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour,
                count(1) AS n
         FROM events GROUP BY 1, 2, 3, 4 ORDER BY year, month, day, hour"""),

    // F15: ordered prefix-match topic routing.
    Query("q16_route_topic", (s, dir) => {
      t(s, dir, "events")
        .withColumn("mqtt_topic",
          when(col("event_type") === "click", concat(lit("air_quality/AQ_"), col("user_id"), lit("/data")))
            .when(col("event_type") === "view", concat(lit("parking/P_"), col("user_id"), lit("/status")))
            .when(col("event_type") === "purchase", concat(lit("traffic/sumo/edges/e"), col("user_id")))
            .when(col("event_type") === "signup", concat(lit("traffic/sumo/vehicles/v"), col("user_id")))
            .otherwise(concat(lit("debug/"), col("user_id"))))
        .withColumn("kafka_topic", City.routeTopic(col("mqtt_topic")))
        .groupBy("kafka_topic")
        .agg(count(lit(1)).as("n"))
        .orderBy("kafka_topic")
    },
      """WITH topics AS (
           SELECT CASE event_type
                    WHEN 'click' THEN 'air_quality/AQ_' || user_id || '/data'
                    WHEN 'view' THEN 'parking/P_' || user_id || '/status'
                    WHEN 'purchase' THEN 'traffic/sumo/edges/e' || user_id
                    WHEN 'signup' THEN 'traffic/sumo/vehicles/v' || user_id
                    ELSE 'debug/' || user_id END AS mqtt_topic
           FROM events)
         SELECT CASE WHEN starts_with(mqtt_topic, 'air_quality') THEN 'smart-city-air-quality'
                     WHEN starts_with(mqtt_topic, 'parking') THEN 'smart-city-parking'
                     WHEN starts_with(mqtt_topic, 'traffic/sumo/edges') THEN 'smart-city-traffic-edges'
                     WHEN starts_with(mqtt_topic, 'traffic/sumo/vehicles') THEN 'smart-city-traffic-vehicles'
                     WHEN starts_with(mqtt_topic, 'traffic/sumo/traffic_lights') THEN 'smart-city-traffic-lights'
                     WHEN starts_with(mqtt_topic, 'traffic/sumo/simulation') THEN 'smart-city-simulation-stats'
                     ELSE 'smart-city-raw-data' END AS kafka_topic,
                count(1) AS n
         FROM topics GROUP BY 1 ORDER BY kafka_topic"""),

    // A9: MAP<STRING,INT> merge across rows (vehicle_breakdown shape):
    // per-row 2-entry maps merged per day; canonical sorted k:v string
    // output for cross-engine comparison.
    Query("q29_map_merge", (s, dir) => {
      // fanOut: the JSON parse + map build measured ~3 s single-task
      // on the one-row-group fixture scan (30 us/row on one core)
      val ev = fanOut(t(s, dir, "events"), "event_id")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .withColumn("vclass",
          when(col("k") % 4 === 0, "car").when(col("k") % 4 === 1, "truck")
            .when(col("k") % 4 === 2, "bus").otherwise("bike"))
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .withColumn("breakdown",
          map(col("vclass"), lit(1), concat(lit("evt_"), col("event_type")), lit(1)))
      City.mergeMapCounts(ev, Seq("day"), "breakdown")
        .select(col("day"), City.mapCountsToString(col("breakdown")).as("breakdown"))
        .orderBy("day")
    },
      """WITH base AS (
           SELECT strftime(ts, '%Y-%m-%d') AS day,
                  CASE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) % 4
                       WHEN 0 THEN 'car' WHEN 1 THEN 'truck'
                       WHEN 2 THEN 'bus' ELSE 'bike' END AS vclass,
                  'evt_' || event_type AS evt
           FROM events),
         kv AS (
           SELECT day, key, count(1) AS cnt FROM (
             SELECT day, vclass AS key FROM base
             UNION ALL
             SELECT day, evt AS key FROM base)
           GROUP BY day, key)
         SELECT day, string_agg(key || ':' || cnt, ',' ORDER BY key) AS breakdown
         FROM kv GROUP BY day ORDER BY day"""),

    // U4: the scalar library through the SQL text surface (reference
    // users live in SQL — Hive/psql); must equal the q14 Column path.
    Query("q30_sql_aqi", (s, dir) => {
      City.registerSqlFunctions(s)
      t(s, dir, "events").createOrReplaceTempView("events")
      s.sql("""SELECT aqi_category(value) AS category, count(1) AS n,
                      round(avg(aqi_value(value)), 4) AS avg_aqi
               FROM events GROUP BY category ORDER BY category""")
    },
      """WITH aqi AS (
           SELECT value AS pm25,
             CASE WHEN value <= 12.0 THEN CAST(trunc((50.0/12.0) * value) AS INTEGER)
                  WHEN value <= 35.4 THEN CAST(trunc(50 + (50.0/23.4) * (value - 12.0)) AS INTEGER)
                  WHEN value <= 55.4 THEN CAST(trunc(100 + (50.0/20.0) * (value - 35.4)) AS INTEGER)
                  WHEN value <= 150.4 THEN CAST(trunc(150 + (50.0/95.0) * (value - 55.4)) AS INTEGER)
                  WHEN value <= 250.4 THEN CAST(trunc(200 + (100.0/100.0) * (value - 150.4)) AS INTEGER)
                  ELSE CAST(trunc(300 + (200.0/249.6) * least(value - 250.4, 249.6)) AS INTEGER) END AS aqi,
             CASE WHEN value <= 12.0 THEN 'Good'
                  WHEN value <= 35.4 THEN 'Moderate'
                  WHEN value <= 55.4 THEN 'Unhealthy for Sensitive Groups'
                  WHEN value <= 150.4 THEN 'Unhealthy'
                  WHEN value <= 250.4 THEN 'Very Unhealthy'
                  ELSE 'Hazardous' END AS category
           FROM events)
         SELECT category, count(1) AS n, round(avg(aqi), 4) AS avg_aqi
         FROM aqi GROUP BY category ORDER BY category"""),

    // Anti-join (NOT EXISTS): customers with no urgent orders — plans as
    // a broadcast/shuffled LeftAnti with the filter pushed into the
    // build side, never a cartesian.
    Query("q38_anti_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          round(avg("c_acctbal"), 4).as("avg_acctbal"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment, count(1) AS n_customers,
                round(avg(c_acctbal), 4) AS avg_acctbal
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // Star join: fact (lineitem) with two broadcast dims (part,
    // supplier→nation) — the classic OLAP shape; both dims explicitly
    // broadcast so the fact side never shuffles for the join.
    Query("q39_star_join", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .groupBy("p_brand", "n_name")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double")
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy("p_brand", "n_name")
    },
      """SELECT p_brand, n_name,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
         GROUP BY p_brand, n_name ORDER BY p_brand, n_name"""),

    // Bucketed co-located join: both sides written bucketed+sorted on
    // the join key, so the join itself reads pre-hash-partitioned data
    // and plans with zero exchanges under it (plan-asserted). The
    // write-time shuffle is paid once — the storage-layout answer for
    // repeatedly-joined 100 TB facts. Same aggregate as q12, so the
    // oracle doubles as an equivalence check against the plain join.
    Query("q40_bucketed_cojoin", (s, dir) => {
      graft.sources.Bucketed.save(
        t(s, dir, "lineitem").select(col("l_orderkey").as("orderkey"),
          col("l_extendedprice"), col("l_discount")),
        "graft_q40_lineitem", "orderkey")
      graft.sources.Bucketed.save(
        t(s, dir, "orders").select(col("o_orderkey").as("orderkey"),
          col("o_orderpriority")),
        "graft_q40_orders", "orderkey")
      graft.sources.Bucketed
        .cojoin(s, "graft_q40_lineitem", "graft_q40_orders", "orderkey")
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double")
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
      // q40 re-aggregates the q12 join through the bucketed layout — the
      // oracle is the plain join, proving layout changes nothing.
      """SELECT o_orderpriority,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // q40 through the build/serve split: the bucketed tables are built
    // once per session (Bucketed.ensure no-ops when they exist), so
    // under the bench's min-of-2 the second attempt measures ONLY the
    // shuffle-free serve join — the write shuffle is the amortized
    // build cost, exactly like q22/q22b for sketches. Same aggregate
    // and oracle as q40: layout + lifecycle must change nothing.
    Query("q40b_bucketed_serve", (s, dir) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      // dataset identity rides in the table name so a session serving
      // several sf dirs never reads a stale build
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val lt = s"graft_q40b_lineitem_$tag"
      val ot = s"graft_q40b_orders_$tag"
      graft.sources.Bucketed.ensure(
        t(s, dir, "lineitem").select(col("l_orderkey").as("orderkey"),
          col("l_extendedprice"), col("l_discount")), lt, "orderkey")
      graft.sources.Bucketed.ensure(
        t(s, dir, "orders").select(col("o_orderkey").as("orderkey"),
          col("o_orderpriority")), ot, "orderkey")
      graft.sources.Bucketed.cojoin(s, lt, ot, "orderkey")
        .groupBy("o_orderpriority")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double")
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
      // q40b serves the same aggregate through the ensure() lifecycle —
      // identical oracle: the build/serve split must change nothing.
      """SELECT o_orderpriority,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // Salted skew join: result rows identical to the plain equi-join
    // (which is exactly what the oracle computes) — only the shuffle
    // distribution changes, spreading each hot key across `salt`
    // partitions (plan-asserted: _salt in the join keys).
    Query("q41_salted_join", (s, dir) => {
      val l = t(s, dir, "lineitem").select(col("l_suppkey").as("suppkey"),
        col("l_extendedprice"), col("l_discount"))
      val su = t(s, dir, "supplier").select(col("s_suppkey").as("suppkey"),
        col("s_nationkey"))
      graft.operators.Skew.saltedJoin(l, su, "suppkey", salt = 8)
        .groupBy("s_nationkey")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double")
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy("s_nationkey")
    },
      // q41's oracle is the unsalted join — salting must be invisible in
      // the result.
      """SELECT s_nationkey,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_nationkey ORDER BY s_nationkey"""),

    // Backward as-of join: each click picks up the user's latest view
    // value at-or-before it. One key shuffle + cumulative window — no
    // range cross-join (oracle: DuckDB LATERAL top-1 probe, an
    // independent algorithm). Values rounded BEFORE the join so both
    // engines carry identical doubles through the match.
    Query("q42_asof_join", (s, dir) => {
      val e = t(s, dir, "events")
        .select("event_id", "user_id", "ts", "value", "event_type")
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          round(col("value"), 4).as("view_value"), col("event_id").as("view_ord"))
      graft.operators.Temporal.asofJoin(clicks, views, key = "user_id",
          leftTs = "ts", rightTs = "ts", rightVals = Seq("view_value"),
          rightOrd = Some("view_ord"))
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("view_value"))
        .orderBy("event_id")
    },
      // q42's oracle probes each click with an independent algorithm —
      // a LATERAL top-1 subquery — not the union/window trick the Spark
      // side uses. CAST(ts AS TIMESTAMP) truncates DuckDB's nanosecond
      // read to the same microseconds Spark's loader produces, so the
      // <= boundary is decided on identical values in both engines.
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                           value, event_type FROM events),
              c AS (SELECT * FROM e WHERE event_type = 'click'),
              v AS (SELECT * FROM e WHERE event_type = 'view')
         SELECT c.event_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
                lv.view_value
         FROM c LEFT JOIN LATERAL (
           SELECT round(v.value, 4) AS view_value FROM v
           WHERE v.user_id = c.user_id AND v.ts <= c.ts
           ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) lv ON TRUE
         ORDER BY event_id"""),

    // Nearest as-of join (pandas direction='nearest'): each click picks
    // the user's view value closest in time, either direction, ties
    // preferring the earlier row. Oracle: an independent LATERAL probe
    // ordered by absolute distance with the same tie rules.
    Query("q63_asof_nearest", (s, dir) => {
      val e = t(s, dir, "events")
        .select("event_id", "user_id", "ts", "value", "event_type")
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          round(col("value"), 4).as("view_value"), col("event_id").as("view_ord"))
      graft.operators.Temporal.asofJoinNearest(clicks, views, key = "user_id",
          leftTs = "ts", rightTs = "ts", rightVals = Seq("view_value"),
          rightOrd = Some("view_ord"))
        .select(col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("view_value"))
        .orderBy("event_id")
    },
      // q63's oracle probes each click independently: minimum absolute
      // distance, ties to the earlier (backward) row, same-timestamp
      // rights to the largest ord — exactly asofJoinNearest's contract.
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                           value, event_type FROM events),
              c AS (SELECT * FROM e WHERE event_type = 'click'),
              v AS (SELECT * FROM e WHERE event_type = 'view')
         SELECT c.event_id,
                strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
                lv.view_value
         FROM c LEFT JOIN LATERAL (
           SELECT round(v.value, 4) AS view_value FROM v
           WHERE v.user_id = c.user_id
           ORDER BY abs(epoch_us(v.ts) - epoch_us(c.ts)) ASC,
                    (v.ts > c.ts) ASC, v.event_id DESC LIMIT 1) lv ON TRUE
         ORDER BY event_id"""),

    // Point-in-interval range join: clicks landing inside each error's
    // 10-minute window, as a bin equi-join + exact containment filter
    // (plan-asserted: no cartesian / nested-loop). Oracle is DuckDB's
    // plain inequality join — fine at sf0.01, quadratic at scale,
    // which is exactly why the binned form exists.
    Query("q43_range_join", (s, dir) => {
      val e = t(s, dir, "events")
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("err_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("err_end"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("ts").as("click_ts"), col("value"))
      graft.operators.Temporal.rangeJoinPointInterval(clicks, errors,
          "click_ts", "err_start", "err_end", binSeconds = 600L)
        .groupBy("err_id")
        .agg(count(lit(1)).as("n_clicks"), round(sum("value"), 4).as("total_value"))
        .orderBy("err_id")
    },
      // q43's oracle is the plain inequality join — correct at sf0.01,
      // quadratic at scale; the binned equi-join must return exactly it.
      """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value,
                           event_type FROM events),
              er AS (SELECT event_id AS err_id, ts AS err_start,
                            ts + INTERVAL 10 MINUTE AS err_end
                     FROM e WHERE event_type = 'error'),
              c AS (SELECT ts AS click_ts, value FROM e
                    WHERE event_type = 'click')
         SELECT err_id, count(1) AS n_clicks, round(sum(value), 4) AS total_value
         FROM er JOIN c ON c.click_ts >= er.err_start AND c.click_ts <= er.err_end
         GROUP BY err_id ORDER BY err_id"""),

    // Gap sessionization (30-min inactivity) rolled up per session.
    // The oracle states the same gap definition in DuckDB window SQL —
    // cross-engine parity on lag/running-sum/aggregate semantics.
    Query("q44_sessionize", (s, dir) => {
      val e = t(s, dir, "events").select("event_id", "user_id", "ts", "value")
      graft.operators.Temporal.sessionize(e, "user_id", "ts",
          gapSeconds = 1800L, ordCols = Seq("event_id"))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          round(sum("value"), 4).as("total_value"),
          floor((unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            / 1000000L).cast("long").as("duration_sec"))
        .orderBy("user_id", "session_idx")
    },
      // q44's oracle restates the gap rule in DuckDB window SQL; micros
      // everywhere so the >30min comparison is exact in both engines.
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                           value FROM events),
              s AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                         THEN 1 ELSE 0 END AS ns
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              -- CAST: DuckDB's integer window sum returns HUGEINT, which
              -- survives to the compare as a float-rendered column
              x AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM s)
         SELECT user_id, session_idx, count(1) AS n_events,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                round(sum(value), 4) AS total_value,
                (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_sec
         FROM x GROUP BY user_id, session_idx ORDER BY user_id, session_idx"""),

    // HLL sketch distinct counts: mergeable sketch state is the
    // 100 TB distinct-count answer (shard → sketch → union, no
    // re-scan). FULLY ORACLED in the exact regime (the q91/q92 KMV/
    // Misra-Gries discipline): at lgK = 14 the DataSketches HLL stays
    // in coupon (LIST/SET) mode far past this fixture's cardinality —
    // the estimate's collision correction c²/2²⁷ rounds to zero below
    // ~8k distinct, so the rounded estimate EQUALS the exact count,
    // deterministically (verified at sf0.001/0.01/0.1: 15/150/1500
    // distinct users per type, all exact; divergence begins ~40k).
    // The oracle is therefore DuckDB's COUNT(DISTINCT); the SATURATED
    // regime (where estimators differ) stays spec-pinned in AggSpec
    // (error bound vs exact + shard-merge identity).
    Query("q55_hll_distinct", (s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))")
          .as("hll_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .orderBy("event_type")
    },
      // q55: exact-regime oracle — at lgK = 14 the sketch is in coupon
      // mode at every committed SF (≤1500 distinct vs ~8k where the
      // collision correction first rounds away from c), so the rounded
      // estimate equals COUNT(DISTINCT) deterministically. The saturated
      // regime (where estimator families genuinely differ) is spec-
      // pinned in AggSpec, not oracled.
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS hll_users,
                CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // Exact order statistics per group: Spark's sort-based percentile
    // with linear interpolation — the same definition as DuckDB's
    // quantile_cont, so the oracle is exact, not tolerance-based.
    // (percentile_approx is the 100 TB serving path; its error bound
    // vs this exact form is spec-asserted in AggSpec.)
    Query("q45_quantiles", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
        .orderBy("l_returnflag")
    },
      // q45: quantile_cont == Spark percentile (both linear-interpolated
      // exact order statistics) — cast to double so decimal typing can't
      // truncate the interpolation.
      """SELECT l_returnflag,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 4) AS p25,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS p50,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4) AS p90,
                round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 4) AS p99
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // OLAP rollup: subtotals + grand total in one pass (Spark expands
    // grouping sets before the shuffle — one aggregate, not 3 unioned
    // queries). Grouping-null cells are labeled 'ALL' on both sides so
    // the row sort is deterministic across engines.
    Query("q46_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double")
          .as("revenue"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("ret_flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("line_status"),
          col("revenue"), col("n"))
        .orderBy("ret_flag", "line_status")
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS ret_flag,
                coalesce(l_linestatus, 'ALL') AS line_status,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY ret_flag, line_status"""),

    // Pivot: event-type columns per user cohort. With an explicit
    // value list Spark plans ONE aggregate pass (no per-value scans);
    // the oracle states the same thing as conditional aggregation.
    Query("q47_pivot", (s, dir) => {
      t(s, dir, "events")
        .withColumn("cohort", col("user_id") % 10)
        .groupBy("cohort")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(avg("value"), 4))
        .orderBy("cohort")
    },
      // q47's oracle is conditional aggregation — the relational spelling
      // of the same pivot.
      """SELECT user_id % 10 AS cohort,
                round(avg(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
                round(avg(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
                round(avg(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
                round(avg(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
                round(avg(CASE WHEN event_type = 'view' THEN value END), 4) AS view
         FROM events GROUP BY 1 ORDER BY cohort"""),

    // Multimodal: magic-byte format sniffing over binary media columns
    // (JPEG/PNG headers synthesized deterministically from doc parity).
    Query("q28_media_meta", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("content", concat(
          when(col("doc_id") % 2 === 0, unhex(lit("FFD8FFE0")))
            .otherwise(unhex(lit("89504E470D0A1A0A"))),
          encode(col("text"), "UTF-8")))
        .select(col("doc_id").as("media_id"),
          length(col("content")).as("n_bytes"),
          graft.operators.Multimodal.sniffFormat(col("content")).as("format"))
        .orderBy("media_id")
    },
      """SELECT doc_id AS media_id,
                CAST(4 * (1 - (doc_id % 2)) + 8 * (doc_id % 2) + octet_length(encode(text)) AS INTEGER) AS n_bytes,
                CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'png' END AS format
         FROM documents ORDER BY media_id"""),

    // Real image decode (javax.imageio): synthesize a deterministic
    // gradient grayscale PNG per doc (pixel (x,y) = (3x+5y+id) % 256,
    // dims varying with id), decode it back through the REAL codec, and
    // emit integer-exact raster statistics. The oracle recomputes the
    // same stats in closed form — a faked decode cannot match.
    // Mirrors the reference's cv2.imdecode (flink_vision_job_proper
    // .py:149-151) with the JDK codec instead.
    Query("q64_image_decode", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val w = 16 + (id % 8).toInt
          val h = 12 + (id % 5).toInt
          graft.operators.Multimodal.MediaRow(id,
            graft.operators.Multimodal.Codec.encodePng(
              graft.operators.Multimodal.Codec.grayImage(w, h)(
                (x, y) => ((x * 3 + y * 5 + id) % 256).toInt)),
            "png")
        }
      graft.operators.Multimodal.imageStats(media).toDF()
        .orderBy("media_id")
    },
      // Recomputes the decoded-raster statistics in closed form from the
      // same pixel formula the Spark side encodes — so a green row proves
      // the engine really decoded the PNG bytes (dims from the raster,
      // per-pixel luminance sums), not a hash-derived stub. The grid is
      // the max dims (23x16) filtered per-doc (DuckDB's generate_series
      // can't take lateral column args).
      """SELECT d.doc_id AS media_id,
                CAST(16 + d.doc_id % 8 AS INTEGER) AS width,
                CAST(12 + d.doc_id % 5 AS INTEGER) AS height,
                1 AS channels,
                CAST(sum((x.x * 3 + y.y * 5 + d.doc_id) % 256) AS BIGINT) AS pixel_sum,
                CAST(sum(CASE WHEN (x.x * 3 + y.y * 5 + d.doc_id) % 256 < 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_dark
         FROM documents d, generate_series(0, 22) AS x(x), generate_series(0, 15) AS y(y)
         WHERE x.x < 16 + d.doc_id % 8 AND y.y < 12 + d.doc_id % 5
         GROUP BY d.doc_id
         ORDER BY media_id"""),

    // Vision pipeline end-to-end under the oracle gate: a deterministic
    // frame fixture (2 cameras × 150 frames at 2 s cadence, constant 3
    // objects in smooth +4/+3 px-per-frame motion) runs the REAL W4
    // state machine (flatMapGroupsWithState tracker) into the 1-minute
    // continuous aggregate. The closed form the oracle restates only
    // holds if the tracker associates every object across all 150
    // frames (stable ids 0/1/2 per camera, durations growing 2 s per
    // frame): a single mis-association resets first-seen and shifts
    // avg_duration. Mirrors flink_vision_job_proper.py:186-269.
    Query("q65_vision_e2e", (s, dir) => {
      import s.implicits._
      val t0Ms = graft.generator.Generator.BaseEpochSec * 1000L
      val frames = s.range(0, 300).map { n =>
        val cam = "CAM_%02d".format((n % 2) + 1)
        val i = (n / 2).toInt
        val dets = (0 until 3).map { d =>
          val cx = 100 + 200 * d + 4 * i
          val cy = 100 + 150 * d + 3 * i
          graft.streaming.DetRaw("Car", cx - 30, cy - 60, cx + 30, cy + 60)
        }
        graft.streaming.FrameDets(cam, t0Ms + 2000L * i, dets)
      }
      val tracked = graft.streaming.VisionStreamJob.track(frames)
      graft.streaming.VisionStreamJob.continuousAgg(tracked, withWatermark = false)
        .select(date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("camera_id"), col("detection_count"), col("unique_objects"),
          round(col("avg_duration"), 4).as("avg_duration"))
        .orderBy("bucket", "camera_id")
    },
      // q65: the closed form of the vision fixture — valid ONLY when the
      // tracker keeps every association: per camera 3 stable objects, 30
      // frames per 1-min window (2 s cadence), durations exactly 2i s at
      // frame i, so avg_duration over window k is 60k + 29 and the HLL
      // distinct over ids {0,1,2} is exactly 3. Any tracking break
      // (id churn, duration reset, dropped frame) shifts these values.
      """SELECT strftime(epoch_ms((1767103200 + 60 * g.k) * 1000), '%Y-%m-%d %H:%M:%S') AS bucket,
                c.camera_id,
                CAST(90 AS BIGINT) AS detection_count,
                CAST(3 AS BIGINT) AS unique_objects,
                round(CAST(60 * g.k + 29 AS DOUBLE), 4) AS avg_duration
         FROM generate_series(0, 4) AS g(k),
              (VALUES ('CAM_01'), ('CAM_02')) AS c(camera_id)
         ORDER BY bucket, camera_id"""),

    // KMV distinct sketches with SET ALGEBRA (Beyer et al. 2007):
    // "how many users clicked AND viewed" without a distinct-join.
    // Each side aggregates to one bounded ≤k-long array (map-side
    // combine; the shuffle carries sketches, never rows), the two
    // 1-row sketch frames cross-join broadcast-style, and every
    // estimate evaluates in the projection. k=4096 exceeds the user
    // cardinality at every test SF, so the estimates are EXACT and the
    // DuckDB oracle is plain COUNT(DISTINCT) set algebra; KmvSpec pins
    // the saturated-estimator error bounds the battery can't see.
    Query("q91_kmv_sets", (s, dir) => {
      val k = 4096
      val ev = t(s, dir, "events")
      def sk(tp: String) = ev
        .filter(col("event_type") === tp && col("value") > 80)
        .agg(graft.operators.Kmv.kmvAgg(k)(col("user_id")).as(s"sk_$tp"))
      sk("click").crossJoin(sk("view")).select(
        graft.operators.Kmv.ndvEst(k)(col("sk_click")).as("ndv_click"),
        graft.operators.Kmv.ndvEst(k)(col("sk_view")).as("ndv_view"),
        graft.operators.Kmv.unionEst(k)(col("sk_click"), col("sk_view"))
          .as("ndv_union"),
        graft.operators.Kmv.intersectEst(k)(col("sk_click"), col("sk_view"))
          .as("ndv_intersect"),
        graft.operators.Kmv.diffEst(k)(col("sk_click"), col("sk_view"))
          .as("ndv_click_only"))
    },
      // q91: in the unsaturated regime (k=4096 > user ndv at every test
      // SF) every KMV estimate equals the exact distinct count, so the
      // oracle is plain set algebra over COUNT(DISTINCT).
      """WITH a AS (SELECT DISTINCT user_id FROM events
                    WHERE event_type = 'click' AND value > 80),
           b AS (SELECT DISTINCT user_id FROM events
                 WHERE event_type = 'view' AND value > 80)
         SELECT (SELECT count(1) FROM a) AS ndv_click,
                (SELECT count(1) FROM b) AS ndv_view,
                (SELECT count(1) FROM (SELECT * FROM a UNION SELECT * FROM b))
                  AS ndv_union,
                (SELECT count(1) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
                  AS ndv_intersect,
                (SELECT count(1) FROM (SELECT * FROM a EXCEPT SELECT * FROM b))
                  AS ndv_click_only"""),

    // Column profile health gate: row/null/distinct counts and typed
    // min/max per column, the post-stage invariant check a curation
    // pipeline runs between every two stages. EXACT distincts here so
    // DuckDB's closed-form count(DISTINCT) oracles the values; the
    // production default is the approx (Expand-free, genuinely
    // one-pass) path, plan-pinned in PlanSpec.
    Query("q81_profile", (s, dir) =>
      graft.operators.Profile.profile(t(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"), exactDistinct = true)
        .orderBy("col_name"),
      // q81: per-column closed-form profile; numeric min/max stringify
      // AFTER the typed aggregate in both engines.
      {
      def leg(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n,
                   CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                   count(DISTINCT $c) AS n_distinct,
                   CAST(min($c) AS VARCHAR) AS min_s,
                   CAST(max($c) AS VARCHAR) AS max_s
            FROM documents"""
      Seq("doc_id", "lang", "source", "n_chars").map(leg)
        .mkString("", " UNION ALL ", " ORDER BY col_name")
    }),

    // Manifest-pruned scan over the Z-ordered layout: build the
    // clustered files + min-max manifest once per dataset (the
    // nightly-index pattern), then answer a 2-D box query by reading
    // ONLY the files whose manifest box overlaps. Pruning can only
    // skip provably-empty files, so the result is exactly the full
    // scan's — which is the oracle. LayoutSpec measures the skip
    // rate; q79 pins the correctness end-to-end through real files.
    Query("q79_pruned_read", (s, dir) => {
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      val st = ev.agg(
        min("user_id").as("umin"), max("user_id").as("umax"),
        min("event_id").as("emin"), max("event_id").as("emax")).head()
      val (umin, umax, emin, emax) =
        (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
      val zDir = ensureDerivedDir(s, dir, "q79_zlake", Seq("events"))(stage =>
        graft.operators.Layout.writeZOrdered(ev, stage,
          Seq(graft.operators.Layout.quantize(col("user_id"), lit(umin), lit(umax), 8),
              graft.operators.Layout.quantize(col("event_id"), lit(emin), lit(emax), 8)),
          bits = 8, numFiles = 64))
      val manifest = graft.operators.Layout.buildManifest(
        s, zDir, Seq("user_id", "event_id"))
      graft.operators.Layout.prunedRead(s, manifest, Map(
          "user_id" -> (umin + (umax - umin) * 3 / 8, umin + (umax - umin) * 5 / 8),
          "event_id" -> (emin + (emax - emin) * 3 / 8, emin + (emax - emin) * 5 / 8)))
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 4).as("value"))
        .orderBy("event_id")
    },
      // q79: the oracle is the PLAIN box filter — manifest pruning must
      // be invisible in the result. Box bounds use floor division on
      // non-negative spans, identical in both engines.
      """WITH s AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
                           min(event_id) AS emin, max(event_id) AS emax FROM events)
         SELECT e.event_id, e.user_id, e.event_type, round(e.value, 4) AS value
         FROM events e CROSS JOIN s
         WHERE e.user_id >= s.umin + (s.umax - s.umin) * 3 // 8
           AND e.user_id <= s.umin + (s.umax - s.umin) * 5 // 8
           AND e.event_id >= s.emin + (s.emax - s.emin) * 3 // 8
           AND e.event_id <= s.emin + (s.emax - s.emin) * 5 // 8
         ORDER BY e.event_id"""),

    // Lake MERGE upsert end-to-end through real files: build a
    // partitioned lake from events, apply one update batch carrying
    // intra-batch version conflicts (rev 1 AND rev 2 per matched key
    // — latest must win), updates to existing keys, and inserts of
    // brand-new (negative) keys, then read the tree back. The oracle
    // states the post-merge table in closed form.
    Query("q77_lake_upsert", (s, dir) => {
      val lakeDir = callDir(s"q77_lake_${dataTag(s, dir, "events")}")
      val ev = t(s, dir, "events")
      val base = ev.select(col("event_id"), col("value"),
        lit(0).as("rev"), col("event_type"))
      base.repartition(8, col("event_id"))
        .write.mode("overwrite").partitionBy("event_type").parquet(lakeDir)
      val matched = ev.filter(col("event_id") % 7 === 0)
      val updates =
        matched.select(col("event_id"), (col("value") + 1000).as("value"),
            lit(1).as("rev"), col("event_type"))
          .unionByName(matched.select(col("event_id"),
            (col("value") + 2000).as("value"), lit(2).as("rev"), col("event_type")))
          .unionByName(ev.filter(col("event_id") % 97 === 0)
            .select((-col("event_id") - 1).as("event_id"),
              (col("event_id") * 1.5).as("value"), lit(1).as("rev"),
              col("event_type")))
      graft.sources.Lake.upsert(s, lakeDir, updates,
        keyCols = Seq("event_id"), partitionCol = "event_type",
        versionCol = "rev")
      s.read.parquet(lakeDir)
        .select(col("event_id"), round(col("value"), 4).as("value"),
          col("rev"), col("event_type"))
        .orderBy("event_id")
    },
      // q77: the merged table in closed form — matched keys take the
      // batch's NEWEST version (rev 2), unmatched keep their base row,
      // and the negative-key inserts appear once.
      """SELECT event_id,
                round(CASE WHEN event_id % 7 = 0 THEN value + 2000 ELSE value END, 4)
                  AS value,
                CASE WHEN event_id % 7 = 0 THEN 2 ELSE 0 END AS rev,
                event_type
         FROM events
         UNION ALL
         SELECT -event_id - 1 AS event_id, round(event_id * 1.5, 4) AS value,
                1 AS rev, event_type
         FROM events WHERE event_id % 97 = 0
         ORDER BY event_id"""),

    // Incremental rollup maintenance: the base/increment split (a
    // deterministic 80/20 cut of events) is rolled up as two PARTIAL
    // algebraic states and merged — the oracle recomputes the rollup
    // from scratch, pinning the merge identity the incremental-refresh
    // scheme rests on (Rollup scaladoc).
    Query("q76_incr_rollup", (s, dir) => {
      val ev = t(s, dir, "events")
      val base = ev.filter(col("event_id") % 5 =!= 0)
      val incr = ev.filter(col("event_id") % 5 === 0)
      val st = graft.operators.Rollup.merge(
        graft.operators.Rollup.hourlyState(base, "ts", "value", Seq("event_type")),
        graft.operators.Rollup.hourlyState(incr, "ts", "value", Seq("event_type")))
      graft.operators.Rollup.report(st).orderBy("hour", "event_type")
    },
      // q76: the oracle is the from-scratch rollup — the incremental
      // merge must be indistinguishable from a full recompute.
      """WITH h AS (
           SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                  event_type, count(1) AS n,
                  CAST(sum(CAST(value AS DECIMAL(20,4))) * 10000 AS BIGINT)
                    AS su,
                  round(min(value), 4) AS min_value,
                  round(max(value), 4) AS peak_value
           FROM events GROUP BY 1, 2)
         SELECT hour, event_type, n,
                CAST(su AS DOUBLE) / 10000.0 AS total_value,
                CAST((su * 2 + n) // (2 * n) AS DOUBLE) / 10000.0
                  AS avg_value,
                min_value, peak_value
         FROM h ORDER BY hour, event_type"""),

    // Runtime-filter join pruning: lineitem is bloom-filtered against
    // the urgent orders' keys BEFORE the join shuffle (RuntimeFilter
    // scaladoc; the ~20% selective dim predicate is the canonical
    // case). The bloom is one-sided, so the result is exactly the
    // plain join — which is the oracle.
    Query("q74_bloom_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      graft.operators.RuntimeFilter
        .bloomPrunedJoin(li, urgent, "l_orderkey", "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(sum(col("l_extendedprice").cast("decimal(20,2)") *
            (lit(1.0).cast("decimal(4,2)") -
              col("l_discount").cast("decimal(4,2)"))).cast("double")
               .as("revenue"),
             count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },
      // q74: the oracle is the PLAIN join — the bloom prune must be
      // invisible in the result (no false negatives; false positives
      // removed by the exact join).
      """SELECT o_orderstatus,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2)) *
                  (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                  AS DOUBLE) AS revenue,
                count(1) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // Z-order layout key: the Morton interleave over (user_id,
    // event_id), each quantized to 8 bits against the table's own
    // min-max (a broadcast one-row stats frame — no second scan
    // barrier at scale, the agg is tiny). This is the sort key
    // Layout.writeZOrdered clusters files by; LayoutSpec proves the
    // multi-dimension pruning effect on real files, this entry pins
    // the key itself bit-for-bit against DuckDB's bit arithmetic.
    Query("q73_zorder", (s, dir) => {
      val ev = t(s, dir, "events")
      val stats = ev.agg(
        min("user_id").as("umin"), max("user_id").as("umax"),
        min("event_id").as("emin"), max("event_id").as("emax"))
      ev.crossJoin(broadcast(stats))
        .select(col("event_id"),
          graft.operators.Layout.zorderKey(Seq(
            graft.operators.Layout.quantize(col("user_id"), col("umin"), col("umax"), 8),
            graft.operators.Layout.quantize(col("event_id"), col("emin"), col("emax"), 8)),
            bits = 8).as("zkey"))
        .orderBy("event_id")
    },
      // q73: the oracle SQL is GENERATED from Layout.quantizeSql /
      // zorderKeySql so engine and oracle share one definition of the
      // curve — same IEEE multiply-before-divide quantization, same
      // bit-position convention (bit b of column ci at b*n+ci).
      {
      val qu = graft.operators.Layout.quantizeSql("e.user_id", "s.umin", "s.umax", 8)
      val qe = graft.operators.Layout.quantizeSql("e.event_id", "s.emin", "s.emax", 8)
      s"""WITH s AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
                            min(event_id) AS emin, max(event_id) AS emax FROM events)
          SELECT e.event_id,
                 ${graft.operators.Layout.zorderKeySql(Seq(qu, qe), bits = 8)} AS zkey
          FROM events e CROSS JOIN s
          ORDER BY e.event_id"""
    }),

    // Audio decode under the oracle gate (the q64 pattern for WAV):
    // synthesize a deterministic asymmetric square wave per document
    // (+A / -(A+1), period/amplitude/length varying with doc_id),
    // encode it as 16-bit PCM WAV, decode back through the REAL
    // javax.sound parser, and emit integer-exact stats. The oracle
    // restates the closed form — a decoder faking the parse, or one
    // with a byte-order/signedness bug, cannot reproduce
    // sum_abs/peak_min.
    Query("q67_audio_decode", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val n = 800 + (id % 13).toInt * 16
          val half = 4 + (id % 5).toInt
          val a = 1000 + (id % 7).toInt * 500
          val samples = Array.tabulate(n)(i =>
            if ((i / half) % 2 == 0) a else -(a + 1))
          graft.operators.Multimodal.MediaRow(id,
            graft.operators.Multimodal.Codec.encodeWav(8000f, 1, samples),
            "wav")
        }
      graft.operators.Multimodal.audioStats(media).toDF().orderBy("media_id")
    },
      // q67: closed form of the WAV fixture. Positive samples: the
      // even-indexed half-period blocks — (full+1)//2 complete blocks of
      // `half` samples plus the remainder block when `full` is even;
      // every other sample is -(a+1). Zero crossings: one per block
      // boundary at or before the last frame.
      """WITH p AS (
           SELECT doc_id,
                  800 + (doc_id % 13) * 16 AS n,
                  4 + doc_id % 5 AS half,
                  1000 + (doc_id % 7) * 500 AS a
           FROM documents),
         q AS (SELECT doc_id, n, half, a, n // half AS fullb, n % half AS rem FROM p),
         r AS (SELECT doc_id, n, half, a,
                      ((fullb + 1) // 2) * half
                        + CASE WHEN fullb % 2 = 0 THEN rem ELSE 0 END AS npos
               FROM q)
         SELECT doc_id AS media_id,
                CAST(8000 AS INT) AS sample_rate,
                CAST(1 AS INT) AS channels,
                CAST(16 AS INT) AS bits,
                CAST(n AS BIGINT) AS n_frames,
                CAST(npos * a + (n - npos) * (a + 1) AS BIGINT) AS sum_abs,
                CAST((n - 1) // half AS BIGINT) AS zero_crossings,
                CAST(-(a + 1) AS INT) AS peak_min,
                CAST(a AS INT) AS peak_max
         FROM r ORDER BY media_id"""),

    // Lake maintenance under the oracle gate: fragment the documents
    // table into a JSONL bronze tree (8 hash-partitioned writers × 3
    // event-hour leaves → 8 files per leaf), run the never-delete-first
    // Lake.compact swap, and read the tree back. The emitted rows prove
    // in one hash what the oracle can state in closed form: every
    // document survives the swap byte-identical (per-doc md5 through
    // the JSONL roundtrip), every leaf held more than
    // maxFilesPerPartition files before and exactly one after, and all
    // three leaves were rewritten. A lost line, a parse-altered field,
    // a skipped leaf, or a leftover fragment each breaks a column.
    Query("q66_compaction", (s, dir) => {
      import s.implicits._
      val lakeDir = callDir(s"q66_lake_${docsTag(s, dir)}")
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("year", lit("2026")).withColumn("month", lit("01"))
        .withColumn("day", lit("01"))
        .withColumn("hour", format_string("%02d", col("doc_id") % 3))
        .repartition(8, col("doc_id"))
        .write.mode("overwrite").partitionBy("year", "month", "day", "hour")
        .json(lakeDir)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string")
      import org.apache.hadoop.fs.Path
      val fs = new Path(lakeDir).getFileSystem(s.sessionState.newHadoopConf())
      def filesIn(h: Int): Int = fs.listStatus(
          new Path(f"$lakeDir/year=2026/month=01/day=01/hour=$h%02d"))
        .count(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
      val before = (0 until 3).map(filesIn)
      val compacted = graft.sources.Lake.compact(s, lakeDir, schema,
        format = "json", maxFilesPerPartition = 4)
      val perLeaf = (0 until 3).map(h =>
          (h, before(h) > 4, filesIn(h), compacted.size))
        .toDF("hour_bucket", "fragmented_before", "files_after", "n_compacted")
      graft.sources.Lake.readBronze(s, lakeDir, schema, "json")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("hour").cast("int").as("hour_bucket"))
        .join(broadcast(perLeaf), "hour_bucket")
        .select(col("doc_id"), col("text_md5"), col("hour_bucket"),
          col("fragmented_before"), col("files_after"), col("n_compacted"))
        .orderBy("doc_id")
    },
      // q66: the closed form of a lossless compaction — every document
      // rides the fragment→compact→read-back loop with its text md5
      // intact, each of the 3 leaves was fragmented (8 files > 4) before
      // and holds exactly 1 file after, and all 3 were rewritten.
      """SELECT doc_id, md5(text) AS text_md5,
                CAST(doc_id % 3 AS INT) AS hour_bucket,
                true AS fragmented_before,
                1 AS files_after, 3 AS n_compacted
         FROM documents ORDER BY doc_id"""),

    // Snapshot audit: deterministic churn (every 7th doc removed,
    // every surviving 5th edited, ids < 40 re-minted as new docs)
    // diffed per document — one id-keyed full-outer join of (id,
    // digest, length) triples, never of bodies — and rolled up per
    // status with id/char checksums pinning the exact membership.
    Query("q100_snapshot_diff", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val v2 = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")))
      graft.operators.Corpus.snapshotDiff(docs, v2, "doc_id", "text")
        .groupBy("status")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum("chars_a").as("chars_a"), sum("chars_b").as("chars_b"))
        .orderBy("status")
    },
      // q100: the same deterministic churn and the same diff rule in
      // relational form — presence decides added/removed, digest
      // equality decides changed/unchanged.
      """WITH v2 AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 7 <> 0
           UNION ALL
           SELECT doc_id + 500000, text FROM documents WHERE doc_id < 40),
         d AS (
           SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                  CASE WHEN a.doc_id IS NULL THEN 'added'
                       WHEN b.doc_id IS NULL THEN 'removed'
                       WHEN md5(a.text) IS NOT DISTINCT FROM md5(b.text)
                         THEN 'unchanged'
                       ELSE 'changed' END AS status,
                  coalesce(length(a.text), 0) AS ca,
                  coalesce(length(b.text), 0) AS cb
           FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
         SELECT status, count(1) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
                CAST(sum(ca) AS BIGINT) AS chars_a, CAST(sum(cb) AS BIGINT) AS chars_b
         FROM d GROUP BY status ORDER BY status"""),

    // Ingestion quarantine + dead-letter round trip: every 10th
    // document is written as a TRUNCATED JSONL line; the quarantine
    // read must hand back every malformed line whole (id_sum counts
    // parsed rows only — PERMISSIVE partial-parse results don't leak
    // into the good-side checksum; quarantine_chars pins the verbatim
    // bad-line text by total length). No line may vanish: the two
    // n_rows sum to the corpus size or the hash breaks. The bad lines
    // then ship VERBATIM to a dead-letter dir (Lake.writeDeadLetter)
    // and are read back: dl_md5 (md5 over the sorted re-read lines)
    // and q_md5 (same digest over the in-memory quarantine column)
    // must both equal the oracle's closed-form digest — byte identity
    // through the write+read round trip, not just equal lengths.
    Query("q106_quarantine", (s, dir) => {
      val out = callDir(s"q106_bronze_${docsTag(s, dir)}")
      val dl = callDir(s"q106_deadletter_${docsTag(s, dir)}")
      t(s, dir, "documents").select(
        when(pmod(col("doc_id"), lit(10)) === 0,
          concat(lit("{\"doc_id\": "), col("doc_id").cast("string")))
          .otherwise(to_json(struct(col("doc_id"), col("text")))).as("value"))
        .write.mode("overwrite").text(out)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string")
      val q = graft.sources.Lake.readBronzeQuarantine(s, out, schema)
      graft.sources.Lake.writeDeadLetter(q, dl, mode = "overwrite")
      val sortedMd5 = (c: org.apache.spark.sql.Column) =>
        md5(concat_ws("\n", array_sort(collect_list(c))))
      val roundtrip = s.read.text(dl)
        .agg(sortedMd5(col("value")).as("dl_md5"))
      val qDigest = q.filter(col("_quarantined").isNotNull)
        .agg(sortedMd5(col("_quarantined")).as("q_md5"))
      q.groupBy(col("_quarantined").isNull.as("parsed"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_quarantined").isNull, col("doc_id"))
            .otherwise(lit(0L))).as("id_sum"),
          sum(length(coalesce(col("_quarantined"), lit(""))))
            .as("quarantine_chars"))
        .crossJoin(broadcast(roundtrip))
        .crossJoin(broadcast(qDigest))
        .orderBy("parsed")
    },
      // q106: the quarantine split in closed form — badness is decided
      // by construction (id % 10), the quarantined line is the verbatim
      // truncated text ('{"doc_id": ' ++ id = 11 chars + digits), and
      // totals must conserve every line. The dead-letter round trip is
      // pinned by md5 over the newline-joined SORTED bad-line set,
      // computed here from first principles: both dl_md5 (lines read
      // back from the dead-letter dir) and q_md5 (the in-memory
      // quarantine column) must hash-match this closed form — one byte
      // lost or changed in the write+read loop breaks the gate.
      """WITH m AS (SELECT doc_id, doc_id % 10 = 0 AS bad FROM documents),
         lines AS (SELECT '{"doc_id": ' || CAST(doc_id AS VARCHAR) AS l
                   FROM m WHERE bad),
         dig AS (SELECT md5(string_agg(l, chr(10) ORDER BY l)) AS d FROM lines)
         SELECT NOT bad AS parsed, count(1) AS n_rows,
                CAST(sum(CASE WHEN NOT bad THEN doc_id ELSE 0 END) AS BIGINT) AS id_sum,
                CAST(sum(CASE WHEN bad
                              THEN 11 + length(CAST(doc_id AS VARCHAR))
                              ELSE 0 END) AS BIGINT) AS quarantine_chars,
                (SELECT d FROM dig) AS dl_md5,
                (SELECT d FROM dig) AS q_md5
         FROM m GROUP BY bad ORDER BY parsed""")
  )
}
