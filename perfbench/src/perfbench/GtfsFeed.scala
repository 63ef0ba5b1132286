package perfbench

import graft.etl.{GtfsEtl, SyntheticGen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded GTFS feed in `GtfsEtl`'s staging schemas, plus delay events and
  * hourly weather from `SyntheticGen`'s probability model.
  *
  * Shape: `routes` routes, `trips` trips (trip i runs route i % routes),
  * `stopsPerTrip` stop_times rows per trip. Every trip of a route visits
  * the same consecutive run of stops, starting at a seeded offset into a
  * ring of `stops` stops, so routes overlap and some stops become hubs.
  *
  * `SyntheticGen.delayEvents` draws a stop id `S0..S49` independently of
  * the trip; here that draw is re-read as a stop-sequence position on the
  * event's own trip, so every event references a (trip_id, stop_id) pair
  * that exists in `stop_times`, while keeping the generator's delay model.
  */
case class FeedSpec(routes: Int, trips: Int, stopsPerTrip: Int, stops: Int,
                    days: Int, startDate: String) {
  /** The pinned "today" of the feature windows: the day after the last
    * event day. */
  def asOf: java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.parse(startDate).plusDays(days))
}

object GtfsFeed {

  case class Paths(root: String) {
    val feed: String = s"$root/gtfs"
    val events: String = s"$root/delay_events.parquet"
    val weather: String = s"$root/weather.parquet"
  }

  private def writeCsv(df: DataFrame, path: String, parts: Int): Unit =
    df.coalesce(parts).write.mode("overwrite")
      .option("header", "true").csv(path)

  /** Write the feed (CSV), the events and the weather (parquet) under
    * `root`; returns the number of delay events written. */
  def write(spark: SparkSession, spec: FeedSpec, seed: Long,
            root: String): Long = {
    val p = Paths(root)
    // pinned, not defaultParallelism: rand() reseeds per partition, so the
    // same seed must see the same partitioning on any core count
    val parts = 8
    val nStops = spec.stops

    val stops = spark.range(0L, nStops.toLong, 1L, 1).select(
      concat(lit("S"), col("id")).as("stop_id"),
      concat(lit("C"), col("id")).as("stop_code"),
      concat(lit("Stop "), col("id")).as("stop_name"),
      (lit(45.0) + rand(seed) * 0.5).cast("decimal(10,8)").as("stop_lat"),
      (lit(-73.9) + rand(seed + 1) * 0.5).cast("decimal(11,8)").as("stop_lon"),
      (col("id") % 3).cast("int").as("wheelchair_boarding"),
      when(col("id") % 4 === 0, concat(lit("P"), col("id") % 9)).as("platform_code"),
      lit(null).cast("string").as("stop_url"))

    // per-route start offset into the stop ring; every trip of the route
    // visits stops (offset + k) % nStops for k = 0 .. stopsPerTrip-1
    val routes = spark.range(0L, spec.routes.toLong, 1L, 1)
      .withColumn("offset", (rand(seed + 2) * nStops).cast("long"))
    val routeRows = routes.select(
      concat(lit("R"), col("id")).as("route_id"),
      lit("A1").as("agency_id"),
      col("id").cast("string").as("route_short_name"),
      concat(lit("Route "), col("id")).as("route_long_name"),
      lit(null).cast("string").as("route_url"),
      lit(null).cast("string").as("route_desc"),
      element_at(array(lit(0), lit(1), lit(3)), (col("id") % 3 + 1).cast("int"))
        .as("route_type"),
      when(col("id") % 2 === 0, lit("FF0000")).as("route_color"),
      when(col("id") % 2 === 0, lit("FFFFFF")).as("route_text_color"),
      col("id").cast("int").as("route_sort_order"))

    val trips = spark.range(0L, spec.trips.toLong, 1L, parts)
      .withColumn("route", col("id") % spec.routes)
      // first departure between 05:00 and 23:00
      .withColumn("start_s", lit(5 * 3600) + (rand(seed + 3) * 18 * 3600).cast("long"))
    val tripRows = trips.select(
      concat(lit("R"), col("route")).as("route_id"),
      when(col("id") % 7 === 0, lit("WE")).otherwise(lit("WK")).as("service_id"),
      concat(lit("T"), col("id")).as("trip_id"),
      concat(lit("To "), col("route")).as("trip_headsign"),
      (col("id") % 2).cast("int").as("direction_id"),
      concat(lit("B"), col("id") % 500).as("block_id"),
      concat(lit("SH"), col("route")).as("shape_id"),
      (col("id") % 2).cast("int").as("wheelchair_accessible"),
      ((col("id") + 1) % 2).cast("int").as("bikes_allowed"))

    def hms(secs: org.apache.spark.sql.Column) =
      format_string("%02d:%02d:%02d", (secs / 3600).cast("int"),
        (secs % 3600 / 60).cast("int"), (secs % 60).cast("int"))
    val seqs = spark.range(1L, spec.stopsPerTrip + 1L, 1L, 1)
      .select(col("id").cast("int").as("stop_sequence"))
    val stopTimes = trips.join(broadcast(routes.select(
        col("id").as("route"), col("offset"))), "route")
      .crossJoin(broadcast(seqs))
      .withColumn("arr", col("start_s") + (col("stop_sequence") - 1) * 120L)
      .select(
        concat(lit("T"), col("id")).as("trip_id"),
        hms(col("arr")).as("arrival_time"),
        hms(col("arr") + 30).as("departure_time"),
        concat(lit("S"), (col("offset") + col("stop_sequence") - 1) % nStops)
          .as("stop_id"),
        col("stop_sequence"),
        lit(null).cast("string").as("stop_headsign"),
        ((col("stop_sequence") - 1) * 0.75).cast("decimal(10,2)")
          .as("shape_dist_traveled"),
        when(col("stop_sequence") % 5 === 1, lit(1)).as("timepoint"))

    val calendar = spark.createDataFrame(Seq(
      ("WK", 1, 1, 1, 1, 1, 0, 0),
      ("WE", 0, 0, 0, 0, 0, 1, 1)))
      .toDF("service_id", "monday", "tuesday", "wednesday", "thursday",
            "friday", "saturday", "sunday")
      .withColumn("start_date", lit(spec.startDate).cast("date"))
      .withColumn("end_date", date_add(lit(spec.startDate).cast("date"), spec.days))

    writeCsv(stops, s"${p.feed}/stops.txt", 1)
    writeCsv(routeRows, s"${p.feed}/routes.txt", 1)
    writeCsv(tripRows, s"${p.feed}/trips.txt", 1)
    writeCsv(stopTimes, s"${p.feed}/stop_times.txt", parts)
    writeCsv(calendar, s"${p.feed}/calendar.txt", 1)

    // SyntheticGen's stop draw S0..S49 becomes a position on the trip
    val stopAt = stopTimes.select("trip_id", "stop_sequence", "stop_id")
    val events = SyntheticGen.delayEvents(spark, spec.trips, spec.days,
        spec.startDate, seed)
      .withColumn("stop_sequence",
        (substring(col("stop_id"), 2, 9).cast("int") % spec.stopsPerTrip + 1)
          .cast("int"))
      .drop("stop_id")
      .join(stopAt, Seq("trip_id", "stop_sequence"))
      .select("trip_id", "stop_id", "actual_arrival", "delay_minutes",
              "weather_condition", "is_holiday")
    events.write.mode("overwrite").parquet(p.events)
    SyntheticGen.weather(spark, spec.days, spec.startDate, seed)
      .coalesce(1).write.mode("overwrite").parquet(p.weather)
    spark.read.parquet(p.events).count()
  }

  def events(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(Paths(root).events)

  def weather(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(Paths(root).weather)

  def staging(spark: SparkSession, root: String): GtfsEtl.StagingTables =
    GtfsEtl.staging(spark, Paths(root).feed)
}
