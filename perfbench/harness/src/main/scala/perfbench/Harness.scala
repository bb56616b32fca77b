package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.ais.{AisDecoder, Dashboard, Enrich, FixtureWeatherClient, Nmea, PositionEvent, WeatherClient, WeatherInfo}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The JVM side of the benchmark. `perfbench/run.py` drives it; each mode
  * writes one JSON object to the path given as its last argument.
  *
  *   hoststat [stealJiffies totalJiffies] <out>
  *       `graft.HostStat` stamps: steal jiffies, canary ms, load average; with
  *       a start snapshot, the steal share since then.
  *   serving <master> <aisTables> <catalogTables> <queries> <seconds> <trace> <resultsDir> <readyFile> <out>
  *       closed-loop rounds through `graft.Graft.session`, once `readyFile`
  *       exists (the session is built while the tables are written): the
  *       dashboard's refresh, then a pass over the named `SparkEntry.catalog`
  *       queries.
  *   decode <linesFile> <out>
  *       every message `Nmea` and `AisDecoder` decode from the lines, in order.
  *   layers <master> <linesFile> <positionsDir> <out>
  *       single-thread NMEA parse/assemble/decode timings over the workload's
  *       own lines, and an enrichment probe over the workload's position sink.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val out = args.last
    val json = args.head match {
      case "hoststat" => hostStat(args.drop(1).dropRight(1))
      case "serving" => serving(args(1), args(2), args(3), args(4).split(",").toSeq,
        args(5).toDouble, args(6) == "1", args(7), args(8))
      case "decode" => decode(args(1))
      case "layers" => layers(args(1), args(2), args(3))
      case other => sys.error(s"unknown mode $other")
    }
    val tmp = Paths.get(out + ".tmp")
    Files.write(tmp, json.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(out), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    s""""${Trace.esc(k)}":${render(v)}"""
  }.mkString("{", ",", "}")

  private def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + Trace.esc(s) + "\""
    case d: Double => Trace.num(d)
    case f: Float => Trace.num(f.toDouble)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case r: RawJson => r.json
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  final case class RawJson(json: String)

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  // ------------------------------------------------------------------ hoststat

  def hostStat(start: Array[String]): String = {
    val load1m = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val (steal, total) = graft.HostStat.cpuJiffies()
    if (start.length == 2)
      obj("steal_pct" -> graft.HostStat.stealPct((start(0).toLong, start(1).toLong), (steal, total)))
    else
      obj("steal_jiffies" -> steal, "total_jiffies" -> total,
        "canary_ms" -> graft.HostStat.canaryMs(), "load1m" -> load1m)
  }

  // ------------------------------------------------------- closed-loop serving

  /** Rounds a closed-loop client runs before its window opens: a cold one pays
    * class loading and codegen, the rest let the JIT settle. */
  val WarmupRounds = 5

  /** Timed rounds a window must hold: the median then has ten beyond it. */
  val MinRounds = 20

  /** The warm-up rounds, each timed (ms). */
  def warmup(round: Int => Unit): Seq[Double] = (0 until WarmupRounds).map { r =>
    val s = System.nanoTime()
    round(r)
    (System.nanoTime() - s) / 1e6
  }

  final case class Loop(ms: Seq[Double], stealPct: Seq[Double], failed: Int, wrong: Int,
      startMs: Double, endMs: Double)

  /** One client that runs `round` back to back for `seconds`; the window
    * stretches by up to 90 s until `MinRounds` ran. Each round is stamped
    * with the host's CPU steal share over it (`graft.HostStat`). `round`
    * returns whether its answer was right; one that throws failed. */
  def closedLoop(seconds: Double)(round: Int => Boolean): Loop = {
    val ms = scala.collection.mutable.ArrayBuffer.empty[Double]
    val steal = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed, wrong = 0
    val startMs = Trace.nowMs
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    def more: Boolean = {
      val now = System.nanoTime()
      now < deadline || ms.length < MinRounds && now < deadline + 90000000000L
    }
    var i = 0
    while (more) {
      val s = System.nanoTime()
      val cpu0 = graft.HostStat.cpuJiffies()
      try {
        if (!round(i)) wrong += 1
        ms += (System.nanoTime() - s) / 1e6
        steal += graft.HostStat.stealPct(cpu0, graft.HostStat.cpuJiffies())
      } catch { case t: Throwable =>
        failed += 1
        System.err.println(s"round $i failed: $t")
      }
      i += 1
    }
    Loop(ms.toSeq, steal.toSeq, failed, wrong, startMs, Trace.nowMs)
  }

  /** Spans around calls into the program, when traced. A span's id goes into
    * the `perfbench.span` local property, so the jobs it submits are parented
    * to it by [[JobTrace]]. */
  final class Spans(sc: org.apache.spark.SparkContext, trace: Boolean) {
    def current: String = if (trace) sc.getLocalProperty("perfbench.span") else ""

    def apply[T](name: String, parent: String, request: String)(body: => T): T =
      if (!trace) body
      else {
        val id = Trace.nextId()
        val prev = (sc.getLocalProperty("perfbench.span"), sc.getLocalProperty("perfbench.request"))
        sc.setLocalProperty("perfbench.span", id.toString)
        sc.setLocalProperty("perfbench.request", request)
        val s = Trace.nowMs
        try body
        finally {
          Trace.record(name, s, Trace.nowMs, parent, request, id = id)
          sc.setLocalProperty("perfbench.span", prev._1)
          sc.setLocalProperty("perfbench.request", prev._2)
        }
      }

    /** Time one query: building its DataFrame, then running it. */
    def query[T](name: String, parent: String, req: String)(build: => DataFrame)(run: DataFrame => T): T =
      apply(name, parent, req) {
        val me = current
        val df = apply("construct", me, req)(build)
        apply("execute", me, req)(run(df))
      }

    /** Every span recorded, with the codegen compiles of the window. */
    def dump(loop: Loop, codegen0: (Long, Double), codegen1: (Long, Double)): Seq[RawJson] =
      if (!trace) Nil
      else {
        Thread.sleep(500) // let the listener bus deliver the last job ends
        Trace.record("measure", loop.startMs, loop.endMs, attrs = Map(
          "compile_count" -> (codegen1._1 - codegen0._1).toDouble,
          "compile_ms" -> ((codegen1._1 * codegen1._2) - (codegen0._1 * codegen0._2))))
        Trace.all.map(s => RawJson(Trace.toJson(s)))
      }
  }

  // ------------------------------------------------------------------- serving

  /** One refresh's answers in a form that is equal across refreshes of the
    * same tables: D4 rows are kept only below its last (mmsi, timestamp) key,
    * because rows tied on that key may legally differ between runs. */
  private def digest(d1: Long, d2: Long, d5: Row, d6: Row, d4: Array[Row]): String = {
    val keys = d4.map(r => (r.getAs[String]("mmsi"), r.getAs[Long]("timestamp")))
    val cutoff = keys.lastOption
    val below = d4.filter(r => !cutoff.contains((r.getAs[String]("mmsi"), r.getAs[Long]("timestamp"))))
      .map(_.toSeq.mkString("\u0001")).sorted
    val center = (0 until 2).map(i => BigDecimal(d5.getDouble(i)).setScale(9,
      BigDecimal.RoundingMode.HALF_EVEN))
    Seq(d1, d2, center.mkString(","), d6.toSeq.mkString(","), keys.mkString(","),
      below.mkString("\n")).mkString("|").hashCode.toString
  }

  /** Closed-loop rounds on one `graft.Graft.session`. A round is the
    * reference console's refresh through `ais.Dashboard` over the AIS tables,
    * then a pass over the named `SparkEntry.catalog` queries over the catalog
    * tables, each built through `QueryDef.run` and written to the `noop` sink,
    * which materialises every row and column. After the window, untimed,
    * every catalog result is written as parquet under `resultsDir`. */
  def serving(master: String, aisDir: String, catalogDir: String, names: Seq[String],
      seconds: Double, trace: Boolean, resultsDir: String, readyFile: String): String = {
    val spark = graft.Graft.session(master = master)
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = Trace.nowMs -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val span = new Spans(spark.sparkContext, trace)
    val defs = names.map(n => graft.SparkEntry.catalog.find(_.name == n)
      .getOrElse(sys.error(s"no catalog query $n")))
    while (!Files.exists(Paths.get(readyFile))) Thread.sleep(20)
    val readyMs = Trace.nowMs

    /** D1, D2; D3 -> D4 -> D7 + D8 collected; D5, D6. It reads the two
      * tables once and builds the five queries on them. */
    def refresh(parent: String, req: String): (String, Array[Row], Row, Row, Long, Long) =
      span("refresh", parent, req) {
        val me = span.current
        val (pw, info) = span("read", me, req)(
          (spark.read.parquet(s"$aisDir/positions_wx"), spark.read.parquet(s"$aisDir/info")))
        val d1 = span.query("D1", me, req)(Dashboard.shipCount(pw))(_.collect().head.getLong(0))
        val d2 = span.query("D2", me, req)(Dashboard.fastShipCount(pw))(_.collect().head.getLong(0))
        val d4 = span.query("D3", me, req) {
          Dashboard.annotated(Dashboard.limited(Dashboard.shipDetails(pw, info)))
            .withColumn("icon", Dashboard.iconColor(col("shiptype")))
        }(_.collect())
        val d5 = span.query("D5", me, req)(Dashboard.mapCenter(pw))(_.collect().head)
        val d6 = span.query("D6", me, req)(Dashboard.mapBounds(pw))(_.collect().head)
        (digest(d1, d2, d5, d6, d4), d4, d5, d6, d1, d2)
      }

    def catalogPass(parent: String, req: String): Unit = span("catalog", parent, req) {
      val me = span.current
      defs.foreach { q =>
        span.query(q.name, me, req)(q.run(spark, catalogDir))(
          _.write.format("noop").mode("overwrite").save())
      }
    }

    var first: (String, Array[Row], Row, Row, Long, Long) = null
    // per round: (refresh digest, refresh ms, catalog pass ms)
    def round(req: String): (String, Double, Double) = span("round", "", req) {
      val me = span.current
      val t0 = System.nanoTime()
      val r = refresh(me, req)
      val t1 = System.nanoTime()
      catalogPass(me, req)
      if (req == "warmup-0") first = r
      (r._1, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
    }

    val warm = warmup(r => round(s"warmup-$r"))
    val parts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val codegen0 = Codegen.snapshot()
    val loop = closedLoop(seconds) { i =>
      val (d, refreshMs, catalogMs) = round(s"r$i")
      parts += ((refreshMs, catalogMs))
      d == first._1
    }
    val spans = span.dump(loop, codegen0, Codegen.snapshot())
    val rss = peakRssMb()
    defs.foreach(q => q.run(spark, catalogDir).write.mode("overwrite")
      .parquet(s"$resultsDir/${q.name}"))
    val (_, d4, d5, d6, d1, d2) = first
    val cols = if (d4.isEmpty) Array.empty[String] else d4.head.schema.fieldNames
    val result = obj(
      "warmup_ms" -> warm, "round_ms" -> loop.ms, "round_steal_pct" -> loop.stealPct,
      "failed" -> loop.failed, "wrong" -> loop.wrong,
      "warm_ms" -> loop.startMs,
      "refresh_ms" -> parts.map(_._1), "catalog_ms" -> parts.map(_._2),
      "session_ms" -> sessionMs, "ready_ms" -> readyMs, "peak_rss_mb" -> rss,
      "answer" -> RawJson(obj(
        "d1" -> d1, "d2" -> d2,
        "d5" -> Seq(d5.getDouble(0), d5.getDouble(1)),
        "d6" -> (0 until 4).map(d6.getDouble),
        "d4_columns" -> cols.toSeq,
        "d4" -> d4.map(r => RawJson(render(r.toSeq)))
      )),
      "oracle" -> defs.map(q => q.name -> q.oracle.orNull).toMap,
      "spans" -> spans)
    spark.stop()
    result
  }

  // -------------------------------------------------------------------- decode

  def decode(linesFile: String): String = {
    val lines = Files.readAllLines(Paths.get(linesFile)).asScala
    val parsed = lines.flatMap(Nmea.parse)
    val decoded = Nmea.assemble(parsed.iterator).flatMap(AisDecoder.decode).map { d =>
      RawJson(obj("msgType" -> d.msgType, "mmsi" -> d.mmsi, "receiverTs" -> d.receiverTs.orNull,
        "status" -> d.status.orNull, "lat" -> d.lat.orNull, "lon" -> d.lon.orNull,
        "speed" -> d.speed.orNull, "heading" -> d.heading.orNull,
        "shipname" -> d.shipname.orNull, "callsign" -> d.callsign.orNull,
        "shiptype" -> d.shiptype.orNull, "destination" -> d.destination.orNull))
    }.toSeq
    obj("rejected" -> (lines.length - parsed.length), "decoded" -> decoded)
  }

  // -------------------------------------------------------------------- layers

  /** Counts weather lookups that reach the client (cache misses). */
  object Calls { val n = new AtomicLong(0) }

  class CountingClient extends WeatherClient {
    private val inner = new FixtureWeatherClient
    def current(lat: Double, lon: Double): Option[WeatherInfo] = {
      Calls.n.incrementAndGet()
      inner.current(lat, lon)
    }
  }

  /** Best-of-N wall time (ns) of `body` repeated until `minNs` has elapsed. */
  private def timeBest(minNs: Long)(body: => Unit): Long = {
    var best = Long.MaxValue
    val stop = System.nanoTime() + minNs
    var runs = 0
    while (runs < 3 || System.nanoTime() < stop) {
      val s = System.nanoTime(); body; best = math.min(best, System.nanoTime() - s)
      runs += 1
    }
    best
  }

  def layers(master: String, linesFile: String, positionsDir: String): String = {
    val lines = Files.readAllLines(Paths.get(linesFile)).asScala.toArray
    // single thread over the workload's own lines; warm-up, then best of repeats
    var parsed: Array[Nmea.Sentence] = Array.empty
    val parseNs = timeBest(2000000000L) { parsed = lines.flatMap(Nmea.parse) }
    var assembled: Array[Nmea.Assembled] = Array.empty
    val assembleNs = timeBest(1000000000L) { assembled = Nmea.assemble(parsed.iterator).toArray }
    var decoded = 0
    val decodeNs = timeBest(1000000000L) { decoded = assembled.count(a => AisDecoder.decode(a).isDefined) }

    val spark = graft.Graft.session(master = master)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val pos = spark.read.parquet(positionsDir).as[PositionEvent]
    val rows = pos.count()
    val readNs = timeBest(0L)(pos.toDF().write.format("noop").mode("overwrite").save())
    Calls.n.set(0)
    val enrichNs = timeBest(0L) {
      Calls.n.set(0)
      Enrich.withWeather(pos, () => new CountingClient).write.format("noop").mode("overwrite").save()
    }
    val calls = Calls.n.get()
    spark.stop()
    obj(
      "lines" -> lines.length, "sentences" -> parsed.length,
      "assembled" -> assembled.length, "decoded" -> decoded,
      "lines_rejected" -> (lines.length - parsed.length),
      "parse_us_per_line" -> parseNs / 1e3 / lines.length,
      "assemble_us_per_sentence" -> assembleNs / 1e3 / math.max(1, parsed.length),
      "decode_us_per_msg" -> decodeNs / 1e3 / math.max(1, assembled.length),
      "enrich_rows" -> rows, "enrich_client_calls" -> calls,
      "enrich_us_per_row" -> math.max(0L, enrichNs - readNs) / 1e3 / math.max(1L, rows))
  }
}
