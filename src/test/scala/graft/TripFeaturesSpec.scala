package graft

import org.apache.spark.sql.functions._

import graft.functions.TripFeatures

/** Unit parity tests for the reference's scalar semantics (SURVEY.md
  * §2.3), on the FIXTURES.md A1 edge rows: null cluster, zero passenger,
  * zero distance, fractional-second timestamp, negative duration. */
class TripFeaturesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val trips = Seq(
    // (pickup, dropoff, passengers, distance, fare)
    ("2024-05-01T08:30:00", "2024-05-01T08:45:30", Some(2.0), 3.0, 15.0),  // clean, morning
    ("2024-05-04T23:10:00", "2024-05-04T23:20:00", Some(1.0), 0.0, 10.0),  // Sat late night, zero dist
    ("2024-05-03T12:00:00", "2024-05-03T11:00:00", Some(1.0), 1.0, 5.0),   // dropoff < pickup
    ("2024-05-01T09:00:00", "2024-05-01T09:10:00", Some(0.0), 1.0, 5.0),   // zero passengers
    ("2024-05-01T10:00:00", "2024-05-01T10:10:00", None, 1.0, 5.0),        // null passengers
    ("2024-05-01T10:00:00.123", "2024-05-01T10:10:00", Some(1.0), 1.0, 5.0) // fractional secs
  ).toDF("p", "d", "passenger_count", "trip_distance", "fare_amount")

  test("E1 strict ISO parse nulls fractional seconds; lenient accepts them") {
    val parsed = trips.select(
      TripFeatures.parseIsoStrict($"p").as("strict"),
      TripFeatures.parseIsoLenient($"p").as("lenient")).collect()
    assert(parsed(0).getTimestamp(0) != null)
    assert(parsed(5).isNullAt(0), "fractional seconds must fail the strict pattern (reference quirk)")
    assert(parsed(5).getTimestamp(1) != null, "lenient parse must accept fractional seconds")
  }

  test("E2 trip duration in minutes, negative when dropoff < pickup") {
    val d = trips
      .withColumn("pt", TripFeatures.parseIsoLenient($"p"))
      .withColumn("dt", TripFeatures.parseIsoLenient($"d"))
      .select(TripFeatures.tripDurationMin($"pt", $"dt")).as[Double].collect()
    assert(d(0) == 15.5)
    assert(d(2) == -60.0, "reference keeps negative durations (no filter)")
  }

  test("E6 zero-guarded ratio: 0 on zero denominator, null on null") {
    val r = trips.select(
      TripFeatures.zeroGuardedRatio($"fare_amount", $"trip_distance")).collect()
    assert(r(0).getDouble(0) == 5.0)
    assert(r(1).getDouble(0) == 0.0)
  }

  test("E12 speed in mph; zero duration -> 0, null -> null") {
    val r = Seq[(Double, Option[Double])]((3.0, Some(15.0)), (1.5, Some(0.0)), (1.0, None))
      .toDF("dist", "dur")
      .select(TripFeatures.speedMph($"dist", $"dur")).collect()
    assert(r(0).getDouble(0) == 12.0)
    assert(r(1).getDouble(0) == 0.0, "a zero-duration trip must map to 0, not throw")
    assert(r(2).isNullAt(0))
  }

  test("E7 time-of-day buckets partition all 24 hours; null hour -> null") {
    val buckets = spark.range(24)
      .select(TripFeatures.timeOfDay($"id").as("b")).as[String].collect()
    assert(buckets.slice(6, 12).forall(_ == "morning"))
    assert(buckets.slice(12, 16).forall(_ == "afternoon"))
    assert(buckets.slice(16, 22).forall(_ == "evening"))
    assert((buckets.take(6) ++ buckets.drop(22)).forall(_ == "late night"))
    val n = Seq[Option[Int]](None).toDF("h")
      .select(TripFeatures.timeOfDay($"h")).collect()
    assert(n(0).isNullAt(0), "null hour must map to null, not 'late night'")
  }

  test("E8 dashboard variant uses different cutpoints") {
    val b = spark.range(24)
      .select(TripFeatures.timeOfDayDashboard($"id").as("b")).as[String].collect()
    assert(b(5) == "Morning" && b(16) == "Afternoon" && b(20) == "Evening" && b(21) == "Night")
  }

  test("E5 canonical weekend = Sat/Sun; stream-parity variant = Fri/Sat (reference bug)") {
    // 2024-05-03 Fri, 05-04 Sat, 05-05 Sun
    val df = Seq("2024-05-03", "2024-05-04", "2024-05-05").toDF("s")
      .withColumn("ts", to_timestamp($"s"))
    val canon = df.select(TripFeatures.isWeekend($"ts")).as[Boolean].collect()
    val stream = df.select(TripFeatures.isWeekendStreamParity($"ts")).as[Boolean].collect()
    assert(canon.toSeq == Seq(false, true, true))
    assert(stream.toSeq == Seq(true, true, false))
  }

  test("E4 pandas weekday numbering: Monday=0 .. Sunday=6") {
    // 2024-05-06 is a Monday
    val wd = Seq("2024-05-06", "2024-05-12").toDF("s")
      .select(TripFeatures.pandasWeekday(to_timestamp($"s"))).as[Int].collect()
    assert(wd.toSeq == Seq(0, 6))
  }

  test("P4 != 0 filter drops zeros AND nulls (three-valued logic)") {
    val kept = TripFeatures.dropZeroOrNull(trips, "passenger_count").count()
    assert(kept == 4, "6 rows minus one zero and one null")
  }

  test("P5 impute-cast: null -> 0.0, others cast to double") {
    val out = TripFeatures.imputeZeroCastDouble(trips, Seq("passenger_count"))
      .select($"passenger_count").as[Double].collect()
    assert(out(4) == 0.0 && out(0) == 2.0)
  }

  test("enrich adds the 9 reference columns in one narrow projection") {
    val enriched = TripFeatures.enrich(
      trips.withColumn("tpep_pickup_datetime", TripFeatures.parseIsoLenient($"p"))
        .withColumn("tpep_dropoff_datetime", TripFeatures.parseIsoLenient($"d")))
    val cols = enriched.columns.toSet
    val expected = Set("trip_duration", "pickup_hour", "dropoff_hour", "pickup_day",
      "dropoff_day", "pickup_timeofday", "dropoff_timeofday", "pickup_is_weekend",
      "fare_per_mile")
    assert(expected.subsetOf(cols))
    val row = enriched.filter($"trip_distance" === 3.0).select(
      $"trip_duration", $"pickup_hour", $"pickup_timeofday", $"fare_per_mile").collect()(0)
    assert(row.getDouble(0) == 15.5 && row.getInt(1) == 8 &&
      row.getString(2) == "morning" && row.getDouble(3) == 5.0)
  }
}
