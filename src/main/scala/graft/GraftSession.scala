package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one definition of the engine session. [[Graft.session]], every main
  * and the dev harness build through here, so the engine a user runs is the
  * engine the bench measured; a new engine-wide conf lands here alone.
  *
  * Precedence, lowest first:
  *   1. [[defaults]];
  *   2. confs already set by spark-submit or `-D` system properties — on a
  *      cluster, spark-submit owns `spark.master`, the UI and the rest of the
  *      deploy shape;
  *   3. the `SPARK_GRAFT_CONF` overlay (`"k=v;k=v"`), for conf A/Bs without
  *      a rebuild. It is applied at build time, so static confs such as the
  *      codegen cache size take effect in a fresh JVM.
  */
object GraftSession {

  /** Core count: `SPARK_GRAFT_CPUS`, else the host's cores. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The adopted engine confs, each with the measurement that settled it. */
  def defaults(master: String, shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.master" -> master,
    "spark.app.name" -> "graft",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // r16 (guide §3.1): let AQE rewrite sort-merge to shuffled-hash at
    // runtime when every post-shuffle partition's map output fits the
    // advisory partition size — skips both sorts. Measured in-JVM
    // interleaved A/B (min-of-3/arm): 0.88-1.00x across 9 join queries at
    // sf1 and 8/10 at sf0.1, no loss past noise. Scale-safe by construction:
    // the decision is made from RUNTIME partition sizes, so partitions above
    // the threshold keep sort-merge; the per-task build is bounded by the
    // same 64m the AQE advisory uses.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
    // r16: size the generated-class cache to the catalog's working set.
    // Spark's default (100 entries) LRU-thrashes across 227 queries x
    // several codegen units each, so EVERY pass recompiles EVERY unit
    // (janino time charged to the query). ABAB full-catalog A/B, canary-
    // stable window: 127.7/136.5 s (default) vs 85.5/94.8 s (5000) —
    // 215/225 queries faster, median per-query ratio 0.62. This caches
    // compiled CODE keyed by generated source, never results. Static conf.
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** The `SPARK_GRAFT_CONF` entries. Blank entries (a trailing `;`) are
    * skipped; a malformed one fails startup, naming the entry — dropping it
    * would run the unmodified engine while Bench stamps the override. */
  def overlay(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF: malformed entry '$kv' (want key=value, entries separated by ';')")
      }
    }

  /** What the builder sets: the defaults `preset` lacks, then the overlay. */
  def settings(master: String, shufflePartitions: Int, preset: SparkConf,
      overlaySpec: Option[String]): Seq[(String, String)] =
    defaults(master, shufflePartitions).filterNot { case (k, _) => preset.contains(k) } ++
      overlaySpec.toSeq.flatMap(overlay)

  def apply(master: String = s"local[$cpus]", shufflePartitions: Int = cpus): SparkSession = {
    val builder = SparkSession.builder()
    // a fresh SparkConf loads the spark.* system properties spark-submit set
    settings(master, shufflePartitions, new SparkConf(), sys.env.get("SPARK_GRAFT_CONF"))
      .foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }
}
