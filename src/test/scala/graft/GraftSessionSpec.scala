package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** [[GraftSession]] is the one definition of the engine session: the
  * user-facing [[Graft.session]] carries every default, the precedence
  * defaults < spark-submit/system confs < `SPARK_GRAFT_CONF` holds, a
  * malformed overlay fails instead of being dropped, and no other file in
  * `src/main` builds a session. */
class GraftSessionSpec extends SparkSpec {

  test("Graft.session carries every GraftSession default") {
    spark // the suite-shared context exists, so only the session is new
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = Graft.session(master = "local[4]", shufflePartitions = 4)
      assert(s ne spark)
      GraftSession.defaults("local[4]", 4).foreach { case (k, v) =>
        assert(s.conf.get(k) == v, k)
      }
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("SPARK_GRAFT_CONF beats preset confs, which beat the defaults; " +
      "a malformed overlay entry fails naming the entry") {
    val preset = new SparkConf(false)
      .set("spark.master", "yarn").set("spark.ui.enabled", "true")
    val set = GraftSession.settings("local[2]", 2, preset,
      Some("spark.sql.shuffle.partitions=7; spark.ui.enabled = false;")).toMap
    assert(!set.contains("spark.master"), "spark-submit's master must win")
    assert(set("spark.ui.enabled") == "false", "the overlay beats a preset conf")
    assert(set("spark.sql.shuffle.partitions") == "7", "the overlay beats a default")
    assert(set("spark.sql.codegen.cache.maxEntries") == "5000")
    for (bad <- Seq("spark.sql.foo", "=1")) {
      val e = intercept[IllegalArgumentException](GraftSession.settings(
        "local[2]", 2, preset, Some(s"spark.sql.adaptive.enabled=true;$bad")))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("src/main builds a SparkSession only in GraftSession.scala") {
    val walk = Files.walk(Paths.get("src/main"))
    val builders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString).toSeq
    finally walk.close()
    assert(builders == Seq("GraftSession.scala"))
  }
}
