package graft

import graft.ais.{FixtureWeatherClient, HttpWeatherClient, WeatherClient}
import graft.streaming.AisPipeline
import org.apache.spark.sql.streaming.Trigger

/** Production entry point for the live pipeline (SURVEY.md §3.1).
  *
  * Modes:
  *   socket  — consume the live NMEA feed (the reference's TCP source,
  *             config-template.ini:5-6): `runMain graft.App socket <host> <port> <outDir>`
  *   replay  — replay NMEA text files: `runMain graft.App replay <inPath> <outDir>`
  *   kafka   — the reference's deploy topology (README.md:195-202): raw NMEA
  *             lines from a topic → decode → the two Confluent-framed Avro
  *             topics (positions + compacted info, key = mmsi):
  *             `App kafka <bootstrap> <rawTopic> <checkpointRoot>`.
  *             Needs the spark-sql-kafka connector jar on the classpath
  *             (deploy-time; see README "Deploying").
  *
  * All modes run the same checkpointed decode pipeline. socket/replay run it
  * as ONE streaming query ([[AisPipeline.start]]): each micro-batch is decoded
  * once and committed to three parquet tables under `<outDir>` — `info`,
  * `positions`, then `positions_wx` (weather-enriched positions) — each with
  * its own file-sink `_spark_metadata` log, committed per batchId, with the
  * query's checkpoint in `<outDir>/ckpt`. Weather uses the HTTP
  * client when WEATHER_API_KEY is set (the reference's WeatherAPI.com
  * dependency, lib/weather.py), else the deterministic fixture client.
  */
object App {
  private val usage =
    "usage: App socket <host> <port> <outDir> | App replay <inPath> <outDir> " +
      "| App kafka <bootstrap> <rawTopic> <checkpointRoot>"

  def main(args: Array[String]): Unit = {
    // per-mode arity: socket/kafka need 4 args, replay 3
    require(Seq("socket", "kafka").exists(args.headOption.contains) && args.length >= 4 ||
      args.headOption.contains("replay") && args.length >= 3, usage)
    // on a cluster, spark-submit's master and UI settings win (GraftSession)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")

    if (args(0) == "kafka") {
      // deploy topology: raw topic in, the two wire topics out; the
      // enrichment/serving consumers follow those topics (ClickHouse via
      // JdbcSink, or the reference's Kafka-engine tables directly)
      val raw = graft.streaming.KafkaWire.sourceReader(spark,
        graft.streaming.KafkaWire.Endpoint(args(1), args(2))).load()
      val (posW, infoW) = graft.streaming.KafkaWire.pipelineWriters(
        raw, bootstrap = args(1), checkpointRoot = args(3))
      posW.start(); infoW.start()
      spark.streams.awaitAnyTermination()
      return
    }

    val (raw, outDir) = args(0) match {
      case "socket" =>
        // Spark 4.1.2's TextSocketMicroBatchStream reader fetches each row
        // with ListBuffer.apply(index), O(n^2) per partition. That is why
        // the source keeps its default partition count: with
        // option("numPartitions", 1) two-fragment type-5 messages would stay
        // adjacent (none mis-paired across partitions), but a 24k-row
        // single-partition batch then took 3.3-6.6 s in its first sink write,
        // the one that reads the source. Pairing fragments across partitions
        // needs an array-backed socket source of its own.
        (spark.readStream.format("socket")
          .option("host", args(1)).option("port", args(2).toInt).load(),
          args(3))
      case "replay" =>
        (spark.readStream.text(args(1)).toDF("value"), args(2))
      case other => sys.error(s"unknown mode $other")
    }

    val clientFactory: () => WeatherClient = sys.env.get("WEATHER_API_KEY") match {
      case Some(key) => () => new HttpWeatherClient(key)
      case None      => () => new FixtureWeatherClient
    }
    AisPipeline.start(raw, s"$outDir/ckpt", s"$outDir/positions", s"$outDir/info",
      s"$outDir/positions_wx", clientFactory,
      trigger = Trigger.ProcessingTime("5 seconds")).awaitTermination()
  }
}
