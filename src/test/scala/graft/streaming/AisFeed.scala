package graft.streaming

import graft.ais._
import org.apache.spark.sql.SparkSession

/** A deterministic NMEA feed in batches, and the three tables
  * [[AisPipeline.start]] writes, read back as sorted rows so two runs compare
  * as multisets. */
object AisFeed {
  import NmeaEncoder._

  /** Batch `b`: 24 position reports (types 1, 3 and 18, spread over several
    * 1° weather cells; every fourth is below the speed filter) and two
    * two-fragment type-5 messages. Every message is whole within the batch. */
  def batch(b: Int): Seq[String] = {
    val ts = 1700000000L + b * 1000L
    val pos = (0 until 24).map { i =>
      val mmsi = 257000000L + i
      val speed = if (i % 4 == 0) 1.5 else 5.0 + i
      val (lon, lat) = (4.0 + i * 0.7 + b * 0.1, 58.0 + (i % 5) * 0.9)
      if (i % 3 == 2) positionB(mmsi, speed, lon, lat, (i * 15) % 360, ts + i)
      else position(1 + 2 * (i % 3), mmsi, i % 9, speed, lon, lat, (i * 15) % 360, ts + i)
    }
    val info = (0 until 2).flatMap { k =>
      staticVoyage(257000000L + b * 2 + k, s"C$b$k", s"SHIP_${b}_$k", 70 + k,
        s"PORT$b", ts + 100 + k, seq = ((b * 2 + k) % 10).toString)
    }
    pos.take(12) ++ info.take(2) ++ pos.drop(12) ++ info.drop(2)
  }

  case class Tables(pos: Seq[PositionEvent], info: Seq[ShipInfoEvent],
      wx: Seq[PositionWithWeather])

  /** The committed rows of `<dir>/{pos,info,wx}`, each sorted. */
  def read(spark: SparkSession, dir: String): Tables = {
    import spark.implicits._
    Tables(
      spark.read.parquet(s"$dir/pos").as[PositionEvent].collect().toSeq.sortBy(_.toString),
      spark.read.parquet(s"$dir/info").as[ShipInfoEvent].collect().toSeq.sortBy(_.toString),
      spark.read.parquet(s"$dir/wx").as[PositionWithWeather].collect().toSeq.sortBy(_.toString))
  }

  /** The same three tables from the batch pipeline over `lines`:
    * [[AisPipeline.replayBatch]] plus [[Enrich.withWeather]] with the
    * fixture client. */
  def replayed(spark: SparkSession, lines: Seq[String]): Tables = {
    val f = java.nio.file.Files.createTempFile("graft-ais", ".nmea")
    java.nio.file.Files.write(f, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val (pos, info) = AisPipeline.replayBatch(spark, f.toString)
    Tables(pos.collect().toSeq.sortBy(_.toString),
      info.collect().toSeq.sortBy(_.toString),
      Enrich.withWeather(pos, () => new FixtureWeatherClient).collect().toSeq
        .sortBy(_.toString))
  }
}
