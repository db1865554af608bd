package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Consolidate, FacilityCatalog, Readings}
import graft.stream.{Ingest, Melt, State}

/** Reference-domain fixtures (FIXTURES.md §A): 4 facilities / 7 units,
  * 2 timestamps, hand-computed expectations. Covers: exists-filter,
  * explode, taxonomy join, equi-join alignment, rollup, pivot-mean
  * semantics, left-join+zero-fill, melt round trip, validation routing,
  * latest-per-key, windowed totals.
  */
class EtlSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import spark.implicits._

  val T1 = "2025-10-15T10:05:00+11:00"
  val T2 = "2025-10-15T10:10:00+11:00"

  // ref context.py:33-140 shape — incl. a facility with zero operating
  // units (GMA, must vanish) and a unit mapping to label "-" (must drop).
  lazy val facilitiesRaw: DataFrame = spark.read.schema(graft.model.Schemas.facilitiesRaw).json(Seq(
    """{"code":"ALP","name":"Alpha","network_id":"NEM","network_region":"NSW1","location":{"lat":-33.1,"lng":151.2},
       "units":[{"code":"ALP1","fueltech_id":"solar_utility","status_id":"operating","dispatch_type":"GENERATOR"},
                {"code":"ALP2","fueltech_id":"coal_black","status_id":"retired","dispatch_type":"GENERATOR"}]}""",
    """{"code":"BET","name":"Beta","network_id":"NEM","network_region":"VIC1","location":{"lat":-37.8,"lng":144.9},
       "units":[{"code":"BET1","fueltech_id":"coal_black","status_id":"operating","dispatch_type":"GENERATOR"},
                {"code":"BET2","fueltech_id":"interconnector","status_id":"operating","dispatch_type":"LOAD"},
                {"code":"BET3","fueltech_id":"battery_discharging","status_id":"operating","dispatch_type":"BIDIRECTIONAL"}]}""",
    """{"code":"GMA","name":"Gamma","network_id":"NEM","network_region":"QLD1","location":{"lat":-27.5,"lng":153.0},
       "units":[{"code":"GMA1","fueltech_id":"coal_black","status_id":"retired","dispatch_type":"GENERATOR"}]}""",
    """{"code":"DLT","name":"Delta","network_id":"NEM","network_region":"SA1","location":{"lat":-34.9,"lng":138.6},
       "units":[{"code":"DLT1","fueltech_id":"wind","status_id":"operating","dispatch_type":"GENERATOR"}]}""").toDS())

  lazy val fueltech: DataFrame = Seq(
    ("solar_utility", "Solar (Utility)", true),
    ("coal_black", "Coal (Black)", false),
    ("battery_discharging", "Battery (Discharging)", true),
    ("interconnector", "-", false),
    ("wind", "Wind", true)).toDF("fueltech_id", "label", "renewable")

  def metricJson(key: String, series: Seq[(String, Seq[(String, Double)])]): DataFrame = {
    val results = series.map { case (code, data) =>
      val pts = data.map { case (ts, v) => s"""["$ts",$v]""" }.mkString(",")
      s"""{"columns":{"$key":"$code"},"data":[$pts]}"""
    }.mkString(",")
    spark.read.json(Seq(s"""{"results":[$results]}""").toDS())
  }

  test("facilityDim: operating filter, '-' drop, sorted fuel_tech (ref extractor.py:77-95)") {
    val dim = FacilityCatalog.facilityDim(facilitiesRaw, fueltech)
    val rows = dim.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("ALP", "BET", "DLT")) // GMA dropped
    val bet = dim.filter($"facility_id" === "BET").select("fuel_tech").as[Seq[String]].head()
    assert(bet == Seq("Battery (Discharging)", "Coal (Black)")) // '-' removed, sorted
    val alp = dim.filter($"facility_id" === "ALP").select("fuel_tech").as[Seq[String]].head()
    assert(alp == Seq("Solar (Utility)")) // retired unit's coal not included
  }

  test("unitToFacility: only operating units (ref extractor.py:85)") {
    val m = FacilityCatalog.unitToFacility(facilitiesRaw)
      .as[(String, String)].collect().toMap
    assert(m == Map("ALP1" -> "ALP", "BET1" -> "BET", "BET2" -> "BET",
      "BET3" -> "BET", "DLT1" -> "DLT"))
  }

  lazy val power: DataFrame = metricJson("unit_code", Seq(
    "ALP1" -> Seq(T1 -> 10.0, T2 -> 12.0),
    "BET1" -> Seq(T1 -> 100.0, T2 -> 90.0),
    "BET3" -> Seq(T1 -> -5.0, T2 -> 5.0), // battery charging → negative
    "ZZZ9" -> Seq(T1 -> 1.0))) // unit not in catalog → dropped (J2)
  lazy val emissions: DataFrame = metricJson("unit_code", Seq(
    "ALP1" -> Seq(T1 -> 0.0, T2 -> 0.0),
    "BET1" -> Seq(T1 -> 80.0, T2 -> 70.0),
    "BET3" -> Seq(T1 -> 0.0, T2 -> 0.0),
    "ZZZ9" -> Seq(T1 -> 9.0)))

  test("readings: equi-join alignment + facility rollup (ref extractor.py:206-246)") {
    val unit = Readings.unitReadings(power, emissions)
    assert(unit.count() == 7) // 3 units × 2 ts + ZZZ9 × 1
    val fac = Readings.facilityReadings(unit, FacilityCatalog.unitToFacility(facilitiesRaw))
    val byKey = fac.collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(byKey(("BET", T1)) == ((95.0, 80.0))) // 100 + (-5) summed
    assert(byKey(("ALP", T2)) == ((12.0, 0.0)))
    assert(!byKey.keySet.exists(_._1 == "ZZZ9")) // unmapped unit dropped
  }

  test("dqMisaligned: surfaces zip-assert violations as data (ref extractor.py:207-227)") {
    val power2 = metricJson("unit_code", Seq("ALP1" -> Seq(T1 -> 1.0, T2 -> 2.0)))
    val emis2 = metricJson("unit_code", Seq("ALP1" -> Seq(T1 -> 0.5)))
    val dq = Readings.dqMisaligned(
      Readings.normalizeMetric(power2, "unit_code", "power"),
      Readings.normalizeMetric(emis2, "unit_code", "emission"),
      Seq("unit_code", "timestamp"))
    val rows = dq.collect()
    assert(rows.length == 1 && rows.head.getString(1) == T2 && rows.head.getString(2) == "right")
  }

  test("pivot averages duplicate cells like pandas pivot_table (SURVEY §7.4.1)") {
    val longDf = Seq(
      ("ALP", T1, 10.0, 1.0), ("ALP", T1, 20.0, 3.0), // duplicate (fac, ts)
      ("ALP", T2, 12.0, 0.0)).toDF("facility_code", "timestamp", "power", "emission")
    val wide = Consolidate.pivotFacility(longDf, Seq("ALP"))
    val t1Row = wide.filter($"timestamp" === T1).head()
    assert(t1Row.getAs[Double]("power_ALP") == 15.0) // mean, not first
    assert(t1Row.getAs[Double]("emission_ALP") == 2.0)
  }

  lazy val facilityLong: DataFrame = Seq(
    ("ALP", T1, 10.0, 0.0), ("ALP", T2, 12.0, 0.0),
    ("BET", T1, 95.0, 80.0), ("BET", T2, 95.0, 70.0))
    .toDF("facility_code", "timestamp", "power", "emission")
  // Market data exists only for T1 → T2 market cells must melt to 0.0.
  lazy val marketLong: DataFrame = Seq(
    ("NSW1", T1, 85.5, 7000.0), ("VIC1", T1, 92.1, 5000.0))
    .toDF("region_code", "timestamp", "price", "demand")

  test("wide cache: left join keeps facility timestamps (ref extractor.py:307)") {
    val wide = Consolidate.wideCache(
      Consolidate.pivotFacility(facilityLong, Seq("ALP", "BET")),
      Consolidate.pivotMarket(marketLong, Seq("NSW1", "VIC1")))
    assert(wide.count() == 2)
    val (facCodes, regCodes) = Consolidate.entityColumns(wide)
    assert(facCodes.toSet == Set("ALP", "BET") && regCodes.toSet == Set("NSW1", "VIC1"))
    val t2Row = wide.filter($"timestamp" === T2).head()
    assert(t2Row.getAs[Any]("price_NSW1") == null) // no market data at T2
  }

  test("melt: round trip + zero-fill (ref publisher.py:58-80, SURVEY §7.4.8)") {
    val wide = Consolidate.wideCache(
      Consolidate.pivotFacility(facilityLong, Seq("ALP", "BET")),
      Consolidate.pivotMarket(marketLong, Seq("NSW1", "VIC1")))
    val fev = Melt.facilityEvents(wide, Seq("ALP", "BET"))
    // pivot∘melt = identity on the long table (property from SURVEY §5)
    val roundTrip = fev.select($"facility_id".as("facility_code"), $"timestamp",
      $"power_mw".as("power"), $"co2_tonnes".as("emission"))
    assert(roundTrip.exceptAll(facilityLong).count() == 0)
    assert(facilityLong.exceptAll(roundTrip).count() == 0)
    val mev = Melt.marketEvents(wide, Seq("NSW1", "VIC1"))
    val t2Mkt = mev.filter($"timestamp" === T2).collect()
    assert(t2Mkt.length == 2 && t2Mkt.forall(r => r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0))
  }

  test("wide cache at reference scale: 419 facilities ≈ 840 columns, melt inverts (SURVEY §6)") {
    val codes = (1 to 419).map(i => f"FAC$i%03d")
    val stamps = (0 until 12).map(i => f"2025-10-15T10:${5 * i}%02d:00+11:00")
    val rows = for { c <- codes; t <- stamps } yield
      (c, t, (c.hashCode % 500) / 10.0, (t.hashCode % 300) / 10.0)
    val longDf = rows.toDF("facility_code", "timestamp", "power", "emission")
    val wide = Consolidate.pivotFacility(longDf, codes)
    assert(wide.columns.length == 1 + 2 * 419)
    assert(wide.count() == 12)
    val back = Melt.facilityEvents(wide, codes)
    assert(back.count() == 419L * 12)
    // Spot-invert one cell.
    val probe = back.filter($"facility_id" === "FAC007" && $"timestamp" === stamps(3))
      .head()
    assert(probe.getDouble(2) == ("FAC007".hashCode % 500) / 10.0)
  }

  test("melt JSON encoding matches the reference event payload shape (readme.md:3-24)") {
    val wide = Consolidate.wideCache(
      Consolidate.pivotFacility(
        Seq(("ALP", T1, 10.5, 0.25)).toDF("facility_code", "timestamp", "power", "emission"),
        Seq("ALP")),
      Consolidate.pivotMarket(
        Seq(("VIC1", T1, 92.1, 5000.0)).toDF("region_code", "timestamp", "price", "demand"),
        Seq("VIC1")))
    val lines = Melt.jsonStream(wide, Seq("ALP"), Seq("VIC1"))
      .as[String].collect().sorted
    // Field names and order exactly as the reference publishes them.
    assert(lines(0) ==
      s"""{"facility_id":"ALP","timestamp":"$T1","power_mw":10.5,"co2_tonnes":0.25}""")
    assert(lines(1) ==
      s"""{"region_id":"VIC1","timestamp":"$T1","price_dmwh":92.1,"demand_mw":5000.0}""")
  }

  test("ingest: decode/route/validate partitions the stream exactly (ref dashboard.py:327-445)") {
    val wide = Consolidate.wideCache(
      Consolidate.pivotFacility(facilityLong, Seq("ALP", "BET")),
      Consolidate.pivotMarket(marketLong, Seq("NSW1", "VIC1")))
    val good = Melt.jsonStream(wide, Seq("ALP", "BET"), Seq("NSW1", "VIC1"))
    val noisy = good.unionByName(Seq(
      """{"timestamp":"starting...","price_dmwh":0,"demand_mw":0}""", // warm-start probe
      """not json at all""",
      """{"facility_id":"  ","timestamp":"2025-10-15T10:05:00+11:00","power_mw":1,"co2_tonnes":0}""", // blank id
      """{"facility_id":"ALP","timestamp":"short","power_mw":1,"co2_tonnes":0}""", // bad ts
      """{"region_id":" ","timestamp":"2025-10-15T10:05:00+11:00","price_dmwh":1,"demand_mw":1}""", // blank id
      """{"region_id":"NSW1","timestamp":"short","price_dmwh":1,"demand_mw":1}""", // short ts
      // 25 characters that parse to no timestamp
      """{"region_id":"NSW1","timestamp":"2025-13-45T99:99:99+11:00","price_dmwh":1,"demand_mw":1}"""
    ).toDF("value"))
    val nFac = Ingest.facilityEvents(noisy).count()
    val nMkt = Ingest.marketEvents(noisy).count()
    val nRej = Ingest.rejects(noisy).count()
    assert(nFac == 4 && nMkt == 4)
    assert(nRej == 7)
    assert(nFac + nMkt + nRej == noisy.count())
  }

  test("enrichment: broadcast join + miss side-channel (ref dashboard.py:346-359)") {
    val dim = FacilityCatalog.facilityDim(facilitiesRaw, fueltech)
    val events = Seq(
      ("ALP", T1, 10.0, 0.0), ("UNKNOWN", T1, 5.0, 1.0))
      .toDF("facility_id", "timestamp", "power_mw", "co2_tonnes")
    val enriched = Ingest.enrichFacility(events, dim)
    assert(enriched.filter($"facility_id" === "ALP").head().getAs[String]("region") == "NSW1")
    val misses = Ingest.enrichmentMisses(events, dim).select("facility_id").as[String].collect()
    assert(misses.toSeq == Seq("UNKNOWN"))
  }

  test("latest-per-key ≡ last-write-wins (ref dashboard.py:363-365)") {
    val events = Seq(
      ("ALP", T1, 10.0, 0.0), ("ALP", T2, 12.0, 0.5), ("BET", T1, 95.0, 80.0))
      .toDF("facility_id", "timestamp", "power_mw", "co2_tonnes")
      .withColumn("event_ts", org.apache.spark.sql.functions.to_timestamp($"timestamp"))
    val latest = State.latestPerFacility(events).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(latest("ALP") == ((T2, 12.0)))
    assert(latest("BET") == ((T1, 95.0)))
  }

  test("windowed totals: 5-min buckets (ref dashboard.py:546-555)") {
    val events = Seq(
      ("ALP", T1, 10.0, 1.0), ("BET", T1, 95.0, 80.0), ("ALP", T2, 12.0, 2.0))
      .toDF("facility_id", "timestamp", "power_mw", "co2_tonnes")
      .withColumn("event_ts", org.apache.spark.sql.functions.to_timestamp($"timestamp"))
    val buckets = State.windowedTotals(events).collect()
      .map(r => r.getTimestamp(0).toInstant.toString -> (r.getDouble(1), r.getDouble(2))).toMap
    // T1 = 23:05Z prior day (offset +11), T2 = 23:10Z — distinct 5-min buckets
    assert(buckets.size == 2)
    assert(buckets.values.toSet == Set((105.0, 81.0), (12.0, 2.0)))
  }

  test("Metrics: region/fuel filters + headline scalars + domains (ref dashboard.py:457-729)") {
    import graft.queries.Metrics
    val latest = Seq(
      ("ALP", T2, 12.0, 0.5, "NSW1", Seq("Solar (Utility)")),
      ("BET", T2, 95.0, 80.0, "VIC1", Seq("Coal (Black)")),
      ("DLT", T1, 3.0, 0.0, "SA1", Seq("Wind")))
      .toDF("facility_id", "timestamp", "power_mw", "co2_tonnes", "region", "fuel_tech")
    val vicCoal = Metrics.filterFacilities(latest, Seq("VIC1"), Seq("Coal (Black)"))
    assert(vicCoal.count() == 1)
    val h = Metrics.headline(vicCoal).head()
    assert(h.getAs[Double]("total_power_mw") == 95.0 &&
      h.getAs[Long]("n_facilities") == 1 && h.getAs[String]("last_updated") == T2)
    // Empty-selection guard: zeros and null last_updated, not NaN/crash.
    val none = Metrics.headline(Metrics.filterFacilities(latest, Seq("QLD1"), Nil)).head()
    assert(none.getAs[Double]("total_power_mw") == 0.0 &&
      none.getAs[Long]("n_facilities") == 0 && none.isNullAt(none.fieldIndex("last_updated")))
    val (fuels, regions) = Metrics.domains(
      latest.select($"facility_id", $"region", $"fuel_tech"))
    assert(fuels == Seq("Coal (Black)", "Solar (Utility)", "Wind"))
    assert(regions == Seq("NSW1", "SA1", "VIC1"))
  }

  test("Geo: attribute semi-join keeps selected-region features, drops non-NEM states (J11)") {
    import graft.etl.Geo
    val features = Geo.featureTable(spark, Seq(
      ("Victoria", """{"type":"Polygon"}"""),
      ("New South Wales", """{"type":"Polygon"}"""),
      ("Western Australia", """{"type":"Polygon"}"""))) // no NEM region
    assert(features.filter($"state_name" === "Western Australia")
      .head().isNullAt(2))
    val selected = Seq("VIC1").toDF("region_id")
    val kept = Geo.selectFeatures(features, selected)
      .select("state_name").as[String].collect()
    assert(kept.toSeq == Seq("Victoria"))
  }

  test("Metrics.withFuelEmoji: literal-map lookup with fallback (§2.10)") {
    import graft.queries.Metrics
    val out = Metrics.withFuelEmoji(
      Seq("Wind", "Mystery Fuel").toDF("fuel"))
      .as[(String, String)].collect().toMap
    assert(out("Wind") == "🌬️" && out("Mystery Fuel") == "⚡")
  }

  test("Metrics.metricLabel: reference display format — separators, 1dp<1000 else 0dp, unit (P18)") {
    import graft.queries.Metrics
    // 1234.6, not 1234.5: Spark's format_number rounds half-up, Python's
    // format spec half-even — off-tie values agree, exact .5 ties don't.
    val out = Seq(Some(12.34), Some(999.96), Some(1234.6), Some(-2500.4), None)
      .toDF("v")
      .select(Metrics.metricLabel($"v", "MW").as("label"))
      .as[String].collect().toSeq
    // Mirrors dashboard.py:595: f"{v:,.1f} MW" below 1000 in magnitude,
    // f"{v:,.0f} MW" at or above; None coerces to 0.0.
    assert(out == Seq("12.3 MW", "1,000.0 MW", "1,235 MW", "-2,500 MW", "0.0 MW"))
    // Unparseable strings take the reference's except→0.0 path (try_cast;
    // a plain ANSI cast would throw instead of labeling).
    val strs = Seq("12.5", "n/a").toDF("v")
      .select(Metrics.metricLabel($"v", "MW").as("label"))
      .as[String].collect().toSeq
    assert(strs == Seq("12.5 MW", "0.0 MW"))
  }

  test("headline metrics incl. modal timestamp, smallest tie-break (ref dashboard.py:716-729)") {
    val latest = Seq(
      ("ALP", T2, 12.0, 0.5), ("BET", T1, 95.0, 80.0), ("DLT", T2, 3.0, 0.0))
      .toDF("facility_id", "timestamp", "power_mw", "co2_tonnes")
    val m = State.headlineMetrics(latest).head()
    assert(m.getAs[Double]("total_power_mw") == 110.0)
    assert(m.getAs[Long]("n_facilities") == 3)
    assert(m.getAs[String]("last_updated") == T2) // 2 votes beats 1
  }
}
