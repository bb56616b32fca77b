package graft.streaming

import graft.SparkSpec
import graft.ais._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** A weather client whose every lookup fails with an exception. */
class ThrowingWeatherClient extends WeatherClient {
  def current(lat: Double, lon: Double): Option[WeatherInfo] =
    throw new IllegalStateException("weather lookup failed")
}

class StreamingSpec extends SparkSpec {
  import NmeaEncoder._

  test("memory-stream pipeline routes positions and info to both sinks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val qs = AisPipeline.startMemory(input.toDF().withColumnRenamed("value", "value"),
      "pos_sink_t1", "info_sink_t1")
    try {
      input.addData(position(1, 257000001L, 0, 12.3, 5.32, 60.39, 187, 1700000000L))
      input.addData(staticVoyage(257000001L, "LAJX", "HAVFRUEN", 70, "BERGEN",
        1700000100L): _*)
      input.addData(positionB(257000002L, 6.5, 4.9, 59.5, 270, 1700000030L))
      qs.positions.processAllAvailable()
      qs.info.processAllAvailable()
      assert(spark.table("pos_sink_t1").count() == 2)
      val info = spark.table("info_sink_t1").collect()
      assert(info.length == 1)
      assert(info.head.getAs[String]("shipname") == "HAVFRUEN")
      // C4 introspection analog (clickhouse-dml.sql:5-6): progress is queryable
      assert(qs.positions.lastProgress != null)
      assert(spark.streams.active.map(_.id).contains(qs.positions.id))
    } finally { qs.positions.stop(); qs.info.stop() }
  }

  test("stream-static join: streaming positions enrich against a static info table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val staticInfo = Seq(
      ShipInfoEvent("257000001", 1L, "HAVFRUEN", "LAJX", "Cargo", "BERGEN")).toDS()
    val input = MemoryStream[String]
    val decoded = AisIngest.decode(
      input.toDF().select(col("value").cast("string")).as[String])
    val joined = AisIngest.positions(decoded).toDF()
      .join(broadcast(staticInfo.toDF().select(col("mmsi"), col("shipname"))), Seq("mmsi"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("streamstatic_t6").start()
    try {
      input.addData(
        position(1, 257000001L, 0, 12.3, 5.32, 60.39, 187, 1700000000L),
        position(1, 999000001L, 0, 9.9, 5.0, 60.0, 90, 1700000001L)) // no static row
      q.processAllAvailable()
      val rows = spark.table("streamstatic_t6").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("shipname") == "HAVFRUEN")
    } finally q.stop()
  }

  test("multi-fragment type 5 split across micro-batches is NOT assembled " +
    "(partition-local assembly is batch-scoped by design)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val qs = AisPipeline.startMemory(input.toDF(), "pos_sink_t2", "info_sink_t2")
    try {
      val frags = staticVoyage(257000004L, "AAAA", "SPLITSHIP", 70, "OSLO",
        1700000400L)
      input.addData(frags.head)
      qs.info.processAllAvailable()
      input.addData(frags.last)
      qs.info.processAllAvailable()
      // documented limitation: fragments must arrive within one batch (they
      // do on a real TCP feed; SURVEY.md §7.4.1)
      assert(spark.table("info_sink_t2").isEmpty)
    } finally { qs.positions.stop(); qs.info.stop() }
  }

  test("latestInfo keeps max-timestamp record per mmsi and emits on change") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ShipInfoEvent]
    val q = AisPipeline.latestInfo(input.toDS()).writeStream
      .outputMode("update").format("memory").queryName("latest_t3").start()
    try {
      input.addData(ShipInfoEvent("1", 100L, "OLD", "A", "Cargo", "X"))
      q.processAllAvailable()
      input.addData(ShipInfoEvent("1", 200L, "NEW", "A", "Cargo", "Y"),
        ShipInfoEvent("1", 150L, "MID", "A", "Cargo", "Z"))
      q.processAllAvailable()
      input.addData(ShipInfoEvent("1", 50L, "STALE", "A", "Cargo", "W"))
      q.processAllAvailable()
      val out = spark.table("latest_t3").as[ShipInfoEvent].collect()
      // update-mode memory sink appends each emission: OLD then NEW; the
      // stale late record emits nothing
      assert(out.map(_.shipname).toSeq == Seq("OLD", "NEW"))
    } finally q.stop()
  }

  test("fleetMetrics windows by event time with a watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PositionEvent]
    val q = AisPipeline.fleetMetrics(input.toDS()).writeStream
      .outputMode("update").format("memory").queryName("metrics_t4").start()
    try {
      val base = 1700000000L // :53:20 — within one 5-min window for +0..+99s
      input.addData(
        PositionEvent("1", "Moored", base, Gps(60, 5), 4.0, 10),
        PositionEvent("2", "Moored", base + 60, Gps(60, 5), 6.0, 10),
        PositionEvent("3", "UnderWayUsingEngine", base + 400, Gps(60, 5), 10.0, 10))
      q.processAllAvailable()
      val rows = spark.table("metrics_t4").collect()
      val moored = rows.find(_.getAs[String]("status") == "Moored").get
      assert(moored.getAs[Long]("n") == 2)
      assert(math.abs(moored.getAs[Double]("avg_speed") - 5.0) < 1e-9)
    } finally q.stop()
  }

  test("stream-stream join: positions meet the info stream within the range") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val posIn = MemoryStream[PositionEvent]
    val infoIn = MemoryStream[ShipInfoEvent]
    val joined = AisPipeline.positionsWithInfoStream(posIn.toDS(), infoIn.toDS())
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_t7").start()
    try {
      val base = 1700000000L
      infoIn.addData(ShipInfoEvent("1", base, "EARLY", "Cargo", "C", "OSLO"))
      posIn.addData(
        PositionEvent("1", "Moored", base + 600, Gps(60, 5), 4.0, 10), // joins
        PositionEvent("2", "Moored", base + 600, Gps(60, 5), 4.0, 10)) // no info
      q.processAllAvailable()
      val rows = spark.table("ssjoin_t7").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("mmsi") == "1")
      assert(rows.head.getAs[String]("shipname") == "EARLY")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark collapses at-least-once replays") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PositionEvent]
    val q = AisPipeline.dedupedPositions(input.toDS()).writeStream
      .outputMode("append").format("memory").queryName("dedup_t8").start()
    try {
      val p = PositionEvent("1", "Moored", 1700000000L, Gps(60, 5), 4.0, 10)
      input.addData(p, p) // duplicate within one batch
      q.processAllAvailable()
      input.addData(p) // replayed again in the next batch, inside watermark
      q.processAllAvailable()
      assert(spark.table("dedup_t8").count() == 1)
    } finally q.stop()
  }

  test("parquet sinks + checkpoint restart do not duplicate or lose batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val input = MemoryStream[String]
    def run(): Unit = {
      val q = AisPipeline.start(input.toDF(), s"$tmp/ckpt", s"$tmp/pos", s"$tmp/info",
        s"$tmp/wx", () => new FixtureWeatherClient,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      try q.processAllAvailable() finally q.stop()
    }
    // AvailableNow snapshots the available offsets at query START — data must
    // be added before start() or the run may (racily) see nothing
    input.addData(AisFeed.batch(0)); input.addData(AisFeed.batch(1))
    run()
    // restart from the same checkpoint with more input
    input.addData(AisFeed.batch(2)); input.addData(AisFeed.batch(3))
    run()
    // one query, three tables, each with the file-sink log readers go through
    for (t <- Seq("pos", "info", "wx"))
      assert(new java.io.File(s"$tmp/$t/_spark_metadata").isDirectory, t)
    // exactly-once into files: the batch pipeline over the same NMEA, as a
    // multiset — no duplicates, no loss
    val got = AisFeed.read(spark, tmp)
    assert(got == AisFeed.replayed(spark, (0 to 3).flatMap(AisFeed.batch)))
    assert(got.pos.nonEmpty && got.info.size == 8 && got.wx.size == got.pos.size)
  }

  test("one-query pipeline releases each batch's decoded cache, also when a sink write throws") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-cache").toString
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val released = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onUnpersistRDD(e: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit =
        released.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    def start(dir: String, client: () => WeatherClient, input: MemoryStream[String]) =
      AisPipeline.start(input.toDF(), s"$tmp/$dir/ckpt", s"$tmp/$dir/pos",
        s"$tmp/$dir/info", s"$tmp/$dir/wx", client,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      val input = MemoryStream[String]
      val q = start("ok", () => new FixtureWeatherClient, input)
      try (0 until 3).foreach { b =>
        input.addData(AisFeed.batch(b))
        q.processAllAvailable()
        assert(persisted == before, s"after batch $b")
      } finally q.stop()
      // every batch persisted its decoded rows and released them
      val deadline = System.currentTimeMillis() + 10000
      while (released.get < 3 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(released.get >= 3)

      val failing = MemoryStream[String]
      val qf = start("failing", () => new ThrowingWeatherClient, failing)
      try {
        failing.addData(AisFeed.batch(3))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException](qf.processAllAvailable())
      } finally qf.stop()
      assert(persisted == before)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("streaming session windows close after the gap and honor the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PositionEvent]
    def p(mmsi: String, ts: Long) =
      PositionEvent(mmsi, "UnderWayUsingEngine", ts, Gps(60, 5), 10.0, 90)
    val q = AisPipeline.voyageSessions(input.toDS(),
      watermark = "10 minutes", gap = "15 minutes").writeStream
      .outputMode("append").format("memory").queryName("sessions_t9").start()
    try {
      val t0 = 1700000000L
      // ship A: two reports 5 min apart (one session), then 20 min silence,
      // then one more (second session)
      input.addData(p("A", t0), p("A", t0 + 300), p("A", t0 + 1500))
      q.processAllAvailable()
      // advance event time far enough that the watermark passes both closes
      input.addData(p("B", t0 + 7200))
      q.processAllAvailable()
      val rows = spark.table("sessions_t9")
        .filter(col("mmsi") === "A").collect()
      assert(rows.length == 2, rows.mkString(";"))
      assert(rows.map(_.getAs[Long]("n_reports")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("foreachBatch sink writes batchId-keyed partitions (idempotent replay shape)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-feb").toString
    val input = MemoryStream[String]
    val decoded = AisIngest.positions(AisIngest.decode(
      input.toDF().select(col("value").cast("string")).as[String]))
    // the canonical exactly-once recipe for non-transactional sinks: key the
    // write by batchId so a replayed batch overwrites instead of appending
    val q = decoded.toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$tmp/batch_id=$batchId")
    }.option("checkpointLocation", s"$tmp/ckpt").start()
    try {
      input.addData(position(1, 257000001L, 0, 12.3, 5.32, 60.39, 187, 1700000000L))
      q.processAllAvailable()
      input.addData(position(1, 257000002L, 0, 11.0, 5.0, 60.0, 90, 1700000060L))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/batch_id=*")
      assert(out.count() == 2)
    } finally q.stop()
  }

  test("transformWithState keeps per-ship counters across micro-batches " +
    "(arbitrary-state v2, RocksDB store)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[PositionEvent]
      def p(mmsi: String, ts: Long) =
        PositionEvent(mmsi, "UnderWayUsingEngine", ts, Gps(60, 5), 10.0, 90)
      val q = AisPipeline.shipActivity(input.toDS()).toDF().writeStream
        .outputMode("update").format("memory").queryName("tws_t11").start()
      try {
        input.addData(p("A", 100), p("A", 200), p("B", 50))
        q.processAllAvailable()
        input.addData(p("A", 150)) // late but counted; last_ts stays 200
        q.processAllAvailable()
        val last = spark.table("tws_t11").groupBy(col("mmsi"))
          .agg(max(col("n_reports")).as("n"), max(col("last_ts")).as("t"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        assert(last("A") == (3L, 200L), last)
        assert(last("B") == (1L, 50L), last)
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming port-proximity alerts: grid-blocked radius join lifts to " +
    "a stream unchanged (static broadcast side, no state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // one port at (60.5, 4.5); alert radius 100 km
    val ports = Seq((1L, 60.5, 4.5)).toDF("port_id", "plat", "plon")
    val input = MemoryStream[(Long, Double, Double)]
    val alerts = graft.operators.Geo.withinRadius(
      input.toDF().toDF("ship", "lat", "lon"), ports, 100.0)
    val q = alerts.writeStream.outputMode("append")
      .format("memory").queryName("radius_alerts_t12").start()
    try {
      input.addData((11L, 60.4, 4.6), (12L, 59.0, 4.5), (13L, 60.9, 5.1))
      q.processAllAvailable()
      val got = spark.table("radius_alerts_t12").collect()
        .map(r => r.getAs[Long]("ship") -> r.getAs[Double]("dist_km")).toMap
      // 60.4/4.6 is ~12 km away, 60.9/5.1 ~55 km; 59.0/4.5 is ~167 km — out
      assert(got.keySet == Set(11L, 13L), got.toString)
      assert(got(11L) < 20 && got(13L) < 100, got.toString)
    } finally q.stop()
  }

  test("streaming weather enrichment (mapPartitions) runs per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val enriched = Enrich.withWeather(
      AisIngest.positions(AisIngest.decode(
        input.toDF().select(col("value").cast("string")).as[String])),
      () => new FixtureWeatherClient)
    val q = enriched.toDF().writeStream.outputMode("append")
      .format("memory").queryName("enrich_t10").start()
    try {
      input.addData(position(1, 257000001L, 0, 12.3, 5.32, 60.39, 187, 1700000000L))
      q.processAllAvailable()
      val rows = spark.table("enrich_t10").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("locale") == "cell_60_5")
      assert(rows.head.getAs[String]("country") == "Norway")
    } finally q.stop()
  }
}
