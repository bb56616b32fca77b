package graft

import graft.functions.RollingHash
import graft.sources.Tables
import org.apache.spark.sql.SparkSession

/** The user-facing facade: one call makes the whole engine reachable from
  * plain `spark.sql` — every driver table as a view, the custom expressions
  * as SQL functions, and the custom operators' planner strategy installed.
  * A reference user's "switch to this library" entry point.
  */
object Graft {

  /** The engine session ([[GraftSession]]) with [[init]] applied. */
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = GraftSession(master, shufflePartitions)
    init(spark)
    spark
  }

  /** (name, arity, builder) for every engine SQL function — consumed by both
    * [[init]] (runtime temp-function registration) and
    * [[plans.GraftExtensions]] (build-time `spark.sql.extensions` injection),
    * so the two integration paths can't drift. */
  val sqlFunctions: Seq[(String, Int,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    ("rolling_hash", 1, exprs => RollingHash(exprs.head)),
    ("rolling_hash2", 1, exprs =>
      RollingHash(exprs.head, RollingHash.Mult2, RollingHash.Mod2)),
    ("dot_product", 2, exprs => functions.DotProduct(exprs(0), exprs(1))),
    ("haversine_km", 4, exprs =>
      operators.Geo.haversineExpr(exprs(0), exprs(1), exprs(2), exprs(3))),
    ("zvalue", 2, exprs => functions.ZValue(exprs(0), exprs(1))),
    // n must be a literal: the window width is a codegen-time constant
    ("shingle_hashes", 2, exprs => {
      val nExpr = exprs(1)
      def bad(detail: String) = new IllegalArgumentException(
        s"shingle_hashes(text, n): n must be a positive integer literal; $detail")
      if (!nExpr.foldable) throw bad(s"got non-foldable ${nExpr.sql}")
      val n = nExpr.eval() match {
        case i: java.lang.Integer => i.intValue()
        case l: java.lang.Long => l.intValue()
        case s: java.lang.Short => s.intValue()
        case b: java.lang.Byte => b.intValue()
        case other => throw bad(s"got ${if (other == null) "NULL" else other.toString}")
      }
      if (n <= 0) throw bad(s"got $n")
      functions.ShingleHashes(exprs(0), n)
    }))

  /** Arity-checking wrapper shared by both registration paths. */
  def checkedBuilder(name: String, n: Int,
      build: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => org.apache.spark.sql.catalyst.expressions.Expression):
      Seq[org.apache.spark.sql.catalyst.expressions.Expression]
        => org.apache.spark.sql.catalyst.expressions.Expression =
    exprs => {
      if (exprs.length != n)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map("functionName" -> name,
            "expectedNum" -> n.toString, "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(exprs)
    }

  /** Install SQL functions + the custom operator strategies on any session
    * (the runtime path; the equivalent build-time path is
    * `spark.sql.extensions=graft.plans.GraftExtensions`). */
  def init(spark: SparkSession): Unit = {
    // fail fast (with the fix named) if this JVM lacks the JDK17 module
    // opens the engine's one Kryo wire path needs at shuffle
    functions.KryoProbe.ensure()
    plans.AsOf.register(spark)
    plans.Deferred.register(spark)
    plans.SpatialJoin.register(spark)
    plans.RangeJoin.register(spark)
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    sqlFunctions.foreach { case (name, n, build) =>
      reg.createOrReplaceTempFunction(name,
        checkedBuilder(name, n, build), "scala_udf")
    }
  }

  /** Register every driver table under its name for SQL access. */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach { t =>
      val df = if (t == "events") Tables.events(spark, dir)
        else Tables.table(spark, dir, t)
      df.createOrReplaceTempView(t)
    }

  /** Register the whole query catalog as temp views — every operator the
    * engine ships becomes `SELECT * FROM <name>` (views are lazy; nothing
    * executes until queried — builders with driver-side actions, e.g. the
    * dedup-cluster fixpoint, are wrapped in [[plans.Deferred]] so even those
    * run no jobs before first use; GraftFacadeSpec pins this). A reference
    * user's SQL-only migration path. */
  def registerQueries(spark: SparkSession, dir: String): Unit =
    SparkEntry.catalog.foreach(q => q.run(spark, dir).createOrReplaceTempView(q.name))
}
