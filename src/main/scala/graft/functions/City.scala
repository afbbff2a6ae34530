package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Smart-city scalar function library (SURVEY §2.7), expressed as pure
  * `Column` expressions so everything stays inside whole-stage codegen —
  * no Scala UDFs in the hot path.
  *
  * Reference semantics (cited file:line are relative to /root/reference/):
  *  - EPA AQI from PM2.5: data-simulators/air-quality/air_quality_simulator.py:95-117
  *  - congestion (2-factor): data-simulators/sumo-traffic/sumo_mqtt_connector.py:118-123
  *  - congestion (occupancy-only): pipline2/spark-jobs/traffic_batch_processing.py:64-69
  *  - parking status / dynamic price: data-simulators/parking-sensors/parking_simulator.py:189,197
  *  - ISO timestamp parse w/ Z normalization: pipline2/collectors/air_quality_collector.py:104-107
  *  - event-time partition keys: pipline2/collectors/air_quality_collector.py:109-116
  *  - topic routing / device key: pipline2/extract/mqtt_to_kafka_bridge.py:111-152
  */
object City {

  // ---------------------------------------------------------------- AQI (F1)

  /** EPA AQI breakpoint table: (pm25 upper bound, aqi base, pm25 base, slope
    * numerator, slope denominator, category, advisory). Truncation (`int()`
    * in the reference) == floor for the non-negative domain.
    */
  private val aqiSegments: Seq[(Double, Double, Double, Double, String, String)] = Seq(
    (12.0, 0.0, 0.0, 50.0 / 12.0, "Good", "Air quality is satisfactory"),
    (35.4, 50.0, 12.0, 50.0 / 23.4, "Moderate", "Acceptable for most people"),
    (55.4, 100.0, 35.4, 50.0 / 20.0, "Unhealthy for Sensitive Groups",
      "Sensitive groups should reduce outdoor exposure"),
    (150.4, 150.0, 55.4, 50.0 / 95.0, "Unhealthy",
      "Everyone may experience health effects"),
    (250.4, 200.0, 150.4, 100.0 / 100.0, "Very Unhealthy",
      "Health alert: everyone may experience serious effects")
  )

  /** AQI integer value. Hazardous segment caps the input excess at 249.6.
    * Cast truncates toward zero like the reference's `int()`; NULL in →
    * NULL out (guard needed because `least` skips NULLs). */
  def aqiValue(pm25: Column): Column = {
    val hazardous = lit(300.0) + lit(200.0 / 249.6) *
      least(pm25 - lit(250.4), lit(249.6))
    val expr = aqiSegments.foldRight(hazardous) { case ((ub, base, pmBase, slope, _, _), rest) =>
      when(pm25 <= lit(ub), lit(base) + lit(slope) * (pm25 - lit(pmBase))).otherwise(rest)
    }
    when(pm25.isNull, lit(null).cast("int")).otherwise(expr.cast("int"))
  }

  def aqiCategory(pm25: Column): Column =
    when(pm25.isNull, lit(null).cast("string")).otherwise(
      aqiSegments.foldRight(lit("Hazardous")) { case ((ub, _, _, _, cat, _), rest) =>
        when(pm25 <= lit(ub), lit(cat)).otherwise(rest)
      })

  def aqiAdvisory(pm25: Column): Column =
    when(pm25.isNull, lit(null).cast("string")).otherwise(
      aqiSegments.foldRight(lit("Health warning: emergency conditions")) {
        case ((ub, _, _, _, _, adv), rest) => when(pm25 <= lit(ub), lit(adv)).otherwise(rest)
      })

  // ------------------------------------------------------- congestion (F2/F3)

  /** 2-factor classification (edge sensors): occupancy OR speed thresholds. */
  def congestionTwoFactor(occupancy: Column, speedKmh: Column): Column =
    when(occupancy > 0.8 || speedKmh < 20, "high")
      .when(occupancy > 0.5 || speedKmh < 40, "medium")
      .otherwise("low")

  /** Occupancy-only classification (batch job re-derivation — deliberately
    * different from the 2-factor variant; both kept per SURVEY F2 vs F3). */
  def congestionOccupancy(occupancy: Column): Column =
    when(occupancy > 0.8, "high")
      .when(occupancy > 0.5, "medium")
      .otherwise("low")

  // ---------------------------------------------------------- parking (F4/F5)

  def parkingStatus(occupancyRate: Column): Column =
    when(occupancyRate >= 0.95, "full")
      .when(occupancyRate >= 0.80, "high")
      .when(occupancyRate >= 0.50, "medium")
      .otherwise("low")

  def dynamicPrice(baseRate: Column, occupancyRate: Column): Column =
    round(baseRate * (lit(1.0) + occupancyRate * 0.5), 2)

  // ----------------------------------------------------------- units (F6/F7)

  /** m/s → km/h. */
  def kmh(metersPerSecond: Column): Column = metersPerSecond * 3.6

  // ------------------------------------------------------- timestamps (F8/F9)

  /** ISO-8601 parse with Z→+00:00 normalization and an injectable fallback
    * (the reference falls back to wall clock; tests inject a fixed instant
    * so partition keys stay deterministic). The `current_timestamp()`
    * default is folded into a new constant on every query, and Spark
    * inlines that constant into the generated code, so each query
    * recompiles; a hot path should pass a fixed fallback (or a null
    * one). */
  def parseIsoTs(c: Column, fallback: Column = current_timestamp()): Column =
    coalesce(try_to_timestamp(regexp_replace(c, "Z$", "+00:00")), fallback)

  /** Event-time partition key columns, zero-padded like the collectors'
    * `year=YYYY/month=MM/day=DD/hour=HH` lake layout. */
  def partitionCols(ts: Column): Seq[Column] = Seq(
    date_format(ts, "yyyy").as("year"),
    date_format(ts, "MM").as("month"),
    date_format(ts, "dd").as("day"),
    date_format(ts, "HH").as("hour"))

  // ------------------------------------------------------- routing (F15/F16)

  /** Ordered first-match prefix routing: MQTT topic → Kafka topic. */
  val topicMapping: Seq[(String, String)] = Seq(
    "air_quality" -> "smart-city-air-quality",
    "parking" -> "smart-city-parking",
    "traffic/sumo/edges" -> "smart-city-traffic-edges",
    "traffic/sumo/vehicles" -> "smart-city-traffic-vehicles",
    "traffic/sumo/traffic_lights" -> "smart-city-traffic-lights",
    "traffic/sumo/simulation" -> "smart-city-simulation-stats")

  def routeTopic(mqttTopic: Column): Column =
    topicMapping.foldRight(lit("smart-city-raw-data")) { case ((prefix, kafka), rest) =>
      when(mqttTopic.startsWith(prefix), lit(kafka)).otherwise(rest)
    }

  /** Partitioning key: first present of 5 device-id fields, else the last
    * MQTT topic segment. `idCols` are columns extracted from the payload. */
  def deviceKey(mqttTopic: Column, sensorId: Column, parkingLotId: Column,
                vehicleId: Column, edgeId: Column, trafficLightId: Column): Column =
    coalesce(sensorId, parkingLotId, vehicleId, edgeId, trafficLightId,
      element_at(split(mqttTopic, "/"), -1))

  /** P6: broker-internal `$SYS/` topics the bridge skips
    * (mqtt_to_kafka_bridge.py:161-162). */
  def isSystemTopic(topic: Column): Column = topic.startsWith("$SYS/")

  // ------------------------------------------------------ occupancy (A10)

  /** A10: occupancy rate aggregate over a boolean occupied column —
    * `count(occupied) / count(*)` rounded 2 dp
    * (parking_simulator.py:163-166). Use inside `agg(...)`. */
  def occupancyRate(occupied: Column): Column =
    round(sum(when(occupied, 1).otherwise(0)).cast("double") / count(lit(1)), 2)

  // ------------------------------------------------------ durations (F18/F19)

  /** Seconds between two timestamps, rounded to 0.1 s. */
  def durationSeconds(from: Column, to: Column): Column =
    round((unix_millis(to) - unix_millis(from)) / 1000.0, 1)

  /** Minutes between two timestamps, rounded to 1 dp (parking dwell time). */
  def durationMinutes(from: Column, to: Column): Column =
    round((unix_millis(to) - unix_millis(from)) / 60000.0, 1)

  // --------------------------------------------------------- map merge (A9)

  /** Merge `MAP<STRING,INT>` columns across rows (the parking
    * `vehicle_breakdown` semantics, parking_simulator.py:168-171 /
    * setup_smart_city_hive.hql:64,91): per group, sum the counts of
    * every key across all row-maps into one merged map with keys in
    * sorted order (deterministic serialization).
    *
    * Two-level aggregation keeps it scale-shaped: the per-(group, key)
    * sum partial-aggregates map-side before its shuffle, so the
    * exchange carries distinct keys, not rows; the second level folds
    * the few keys per group into the map. */
  def mergeMapCounts(df: DataFrame, groupCols: Seq[String], mapCol: String): DataFrame = {
    val perKey = df
      .select(groupCols.map(col) :+ explode(col(mapCol)).as(Seq("key", "value")): _*)
      .groupBy(groupCols.map(col) :+ col("key"): _*)
      .agg(sum("value").as("value"))
    perKey
      .groupBy(groupCols.map(col): _*)
      .agg(map_from_entries(array_sort(collect_list(struct(col("key"), col("value")))))
        .as(mapCol))
  }

  /** Canonical `k1:v1,k2:v2` string of a count map, keys sorted — the
    * cross-engine comparable form (map column hashing is not stable
    * across engines). */
  def mapCountsToString(mapCol: Column): Column =
    array_join(transform(array_sort(map_entries(mapCol)),
      e => concat(e.getField("key"), lit(":"), e.getField("value"))), ",")

  // ------------------------------------------------- SQL-surface (U4)

  /** Scalar AQI (same breakpoint table as the Column form). */
  private[graft] def aqiValueScalar(pm25: Double): Int = {
    val v = aqiSegments.collectFirst {
      case (ub, base, pmBase, slope, _, _) if pm25 <= ub => base + slope * (pm25 - pmBase)
    }.getOrElse(300.0 + (200.0 / 249.6) * math.min(pm25 - 250.4, 249.6))
    v.toInt
  }

  private[graft] def aqiCategoryScalar(pm25: Double): String =
    aqiSegments.collectFirst {
      case (ub, _, _, _, cat, _) if pm25 <= ub => cat
    }.getOrElse("Hazardous")

  private[graft] def aqiAdvisoryScalar(pm25: Double): String =
    aqiSegments.collectFirst {
      case (ub, _, _, _, _, adv) if pm25 <= ub => adv
    }.getOrElse("Health warning: emergency conditions")

  /** Register the scalar library for the SQL surface — reference users
    * query through SQL (Hive/psql: setup_smart_city_hive.hql,
    * pipline2/README.md:163-167), so `spark.sql("SELECT aqi_value(pm25)
    * …")` must work, not just the Column API. Scalar implementations
    * share the constant tables with the Column forms; CitySpec asserts
    * SQL == Column across the breakpoint sweep. Null-safe: primitive
    * args make Spark return NULL on NULL input without calling the UDF,
    * matching the Column forms' null guards. */
  def registerSqlFunctions(spark: SparkSession): Unit = {
    // register-once per session: re-registration is harmless but each
    // repeat logs a SimpleFunctionRegistry "replaced a previously
    // registered function" WARN — four per bench battery entry
    if (spark.catalog.functionExists("aqi_value")) return
    spark.udf.register("aqi_value", (pm: Double) => aqiValueScalar(pm))
    spark.udf.register("aqi_category", (pm: Double) => aqiCategoryScalar(pm))
    spark.udf.register("aqi_advisory", (pm: Double) => aqiAdvisoryScalar(pm))
    spark.udf.register("congestion_occupancy", (occ: Double) =>
      if (occ > 0.8) "high" else if (occ > 0.5) "medium" else "low")
    spark.udf.register("congestion_two_factor", (occ: Double, speedKmh: Double) =>
      if (occ > 0.8 || speedKmh < 20) "high"
      else if (occ > 0.5 || speedKmh < 40) "medium" else "low")
    spark.udf.register("parking_status", (rate: Double) =>
      if (rate >= 0.95) "full" else if (rate >= 0.80) "high"
      else if (rate >= 0.50) "medium" else "low")
    spark.udf.register("dynamic_price", (base: Double, rate: Double) =>
      math.round(base * (1.0 + rate * 0.5) * 100.0) / 100.0)
    spark.udf.register("kmh", (ms: Double) => ms * 3.6)
  }

  // ------------------------------------------------------------ bboxes (F14)

  /** Integer centroid of (x1,y1,x2,y2) bbox — struct(cx, cy). */
  def bboxCentroid(x1: Column, y1: Column, x2: Column, y2: Column): Column =
    struct(floor((x1 + x2) / 2).cast("int").as("cx"),
           floor((y1 + y2) / 2).cast("int").as("cy"))
}
