package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ExplainMode

/** Dev harness for optimization work on single catalog queries, on one
  * [[GraftSession]] (the bench's engine, `SPARK_GRAFT_CONF` overlay
  * included): `runMain graft.Dev <mode> <sfDir> ...`.
  *
  *   time    <sfDir> <query>...
  *       warm min-of-3 per query, without the full-catalog sweep, plus the
  *       last run's task metrics (spill, peak task memory, shuffle, tasks).
  *   ab      <sfDir> <conf> <valA> <valB> <query>...
  *       INTERLEAVED A/B of one runtime-settable conf: A,B x3 in one JVM.
  *       Delivered memory bandwidth on a shared host drifts by tens of
  *       percent between JVM runs minutes apart (r16), so two sequential
  *       processes cannot adjudicate a 10-20% effect; arms seconds apart in
  *       one JVM, min-of-3 each, cancel the drift to first order.
  *   explain <sfDir> <outDir> [--exec] [--tag=T] (<query>... | --all)
  *       formatted plans to `<outDir>/<query>_<tag>.txt` — the plan
  *       evidence files (Exchange counts, join strategy, PushedFilters).
  *   peek    <sfDir> [--full] [<query>... | --all]
  *       exchange/broadcast counts and plan red flags (CartesianProduct /
  *       Expand / SortAggregate / BNLJ); no names peeks [[peekNames]].
  */
object Dev {

  /** Default peek set (newest catalog queries) — a constant so CatalogSpec
    * can assert every name still exists in the catalog (ADVICE r9: inline
    * names drifted unchecked when a query was renamed/removed). */
  val peekNames: Seq[String] = Seq("range_agg_avg",
    "geo_encounter_episodes", "range_agg_prefix", "range_agg_auto",
    "dp_release_class_sizes", "t_closeness_report",
    "ts_stl_decompose", "ann_truncated_rerank", "dedup_keep_best",
    "hybrid_search_rrf", "dedup_recall_report")

  private val usage = "usage: Dev time <sfDir> <query>... | " +
    "Dev ab <sfDir> <conf> <valA> <valB> <query>... | " +
    "Dev explain <sfDir> <outDir> [--exec] [--tag=T] (<query>... | --all) | " +
    "Dev peek <sfDir> [--full] [<query>... | --all]"

  /** Task-metric totals since the last [[reset]]: spill and peak execution
    * memory (spills log at INFO, invisible at WARN), shuffle bytes and the
    * task count — an executed AQE plan's explain re-renders shared stages,
    * so how much shuffle actually ran needs task metrics, not plan text. */
  private final class TaskTotals extends SparkListener {
    val memSpilled, diskSpilled, peakExec, shufWrite, shufRead, tasks = new AtomicLong
    def reset(): Unit =
      Seq(memSpilled, diskSpilled, peakExec, shufWrite, shufRead, tasks).foreach(_.set(0))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      memSpilled.addAndGet(m.memoryBytesSpilled)
      diskSpilled.addAndGet(m.diskBytesSpilled)
      peakExec.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      tasks.incrementAndGet()
    }
  }

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.toSeq.drop(1).partition(_.startsWith("--"))
    val mode = args.headOption.getOrElse("")
    val fixed = Map("time" -> 1, "ab" -> 4, "explain" -> 2, "peek" -> 1)
    require(fixed.get(mode).exists(pos.length >= _), usage)
    val dir = pos.head
    val names =
      if (flags.contains("--all")) SparkEntry.catalog.map(_.name)
      else pos.drop(fixed(mode)) match {
        case Seq() if mode == "peek" => peekNames
        case given => given
      }

    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    val totals = new TaskTotals
    spark.sparkContext.addSparkListener(totals)
    SparkEntry.queries("d9_scalar_count")(spark, dir).count() // warm session
    def run(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      dt
    }
    def mb(a: AtomicLong): Long = a.get / 1048576

    mode match {
      case "time" => names.foreach { n =>
        val times = (1 to 3).map { _ =>
          totals.reset()
          val dt = run(n)
          // onTaskEnd arrives asynchronously on the listener bus: drain it
          // before the counters are read (ADVICE r16)
          GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
          dt
        }
        println(f"TIME $n%-28s ${times.min}%6.3f min  " +
          times.map(t => f"$t%.3f").mkString(" ") +
          f"  lastRun: spillMB=${mb(totals.memSpilled)}%d/${mb(totals.diskSpilled)}%d" +
          f" peakTaskMB=${mb(totals.peakExec)}%d" +
          f" shufMB=${mb(totals.shufWrite)}%d/${mb(totals.shufRead)}%d tasks=${totals.tasks.get}%d")
      }

      case "ab" =>
        val Seq(conf, valA, valB) = pos.slice(1, 4)
        names.foreach { n =>
          def arm(v: String): Double = { spark.conf.set(conf, v); run(n) }
          // untimed warm pass per arm first, so codegen for BOTH plan shapes
          // is compiled before any timed run (the C2 first-run lottery
          // otherwise lands on whichever arm goes first)
          arm(valA); arm(valB)
          val (as, bs) = (1 to 3).map(_ => (arm(valA), arm(valB))).unzip
          def f(xs: Seq[Double]) = xs.map(t => f"$t%.3f").mkString(" ")
          println(f"AB $n%-28s A=${as.min}%6.3f B=${bs.min}%6.3f " +
            f"(B/A=${bs.min / as.min}%.2f)  A: ${f(as)}  B: ${f(bs)}")
        }

      case "explain" =>
        val outDir = pos(1)
        val tag = flags.collectFirst { case s if s.startsWith("--tag=") =>
          s.stripPrefix("--tag=") }.getOrElse("plan")
        val exec = flags.contains("--exec")
        new java.io.File(outDir).mkdirs()
        names.foreach { n =>
          if (exec) {
            // route Deferred-wrapped queries' INNER plans (otherwise opaque
            // stubs) to the same out dir — see DeferredExec
            spark.conf.set("spark.graft.debug.deferredPlanDir", outDir)
            spark.conf.set("spark.graft.debug.deferredPlanTag", s"${n}_$tag")
          }
          val df = SparkEntry.queries(n)(spark, dir)
          // --exec runs the df's OWN QueryExecution, so the dump is the FINAL
          // adaptive plan (isFinalPlan=true) with runtime join strategies,
          // AQEShuffleReads and ReusedExchanges visible; a noop write would
          // plan a separate command QueryExecution and leave this one
          // unexecuted
          if (exec) df.queryExecution.toRdd.count()
          val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          Files.write(Paths.get(s"$outDir/${n}_$tag.txt"), txt.getBytes("UTF-8"))
          spark.catalog.clearCache()
          println(s"wrote $outDir/${n}_$tag.txt (${txt.length} chars)")
        }

      case "peek" => names.foreach { n =>
        val s = SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString
        println(s"=== $n")
        println("  exchanges: " + s.linesIterator.count(_.contains("Exchange")))
        println("  broadcasts: " + s.linesIterator.count(_.contains("BroadcastExchange")))
        println("  reused: " + s.linesIterator.count(_.contains("ReusedExchange")))
        Seq("CartesianProduct", "Expand", "BroadcastNestedLoop", "SortAggregate")
          .foreach(k => if (s.contains(k)) println(s"  HAS $k"))
        if (flags.contains("--full")) println(s)
      }
    }
    spark.stop()
  }
}
