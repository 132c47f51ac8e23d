package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in one fresh JVM, driven by a plan file that
  * perfbench/run.py writes (`key=value` lines, one `order=` line per pass).
  *
  * Sequence: set the session up once (timed from JVM start), run pass 1
  * with cold program caches, run the warm passes (one per further `order=`
  * line), then run the output check, which is outside every timing. One
  * client thread submits every query, so Spark work between a query's
  * start and end belongs to it.
  *
  * With `trace=1` the Spark listeners of [[Trace]] are attached to the
  * cold pass and to every other warm pass; the warm passes between run
  * untraced, so the traced/untraced pass times of one JVM give the
  * tracing overhead. Everything measured is kept in memory and written
  * once, as JSON, to `out`; run.py turns it into metrics.
  */
object Runner {

  final class QueryRec(val name: String) {
    var startMs = 0L; var buildEndMs = 0L; var endMs = 0L
    var buildNs = 0L; var totalNs = 0L
    var error: String = null
    var counters: Map[String, Double] = Map.empty
  }

  final case class Plan(kv: Map[String, String], orders: Seq[Seq[String]]) {
    def apply(k: String): String = kv(k)
  }

  def readPlan(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
    Plan(lines.filter(_._1 != "order").toMap,
      lines.filter(_._1 == "order").map(_._2.split(",").toSeq.filter(_.nonEmpty)))
  }

  /** The session graft.Bench builds, plus function registration and with
    * every scratch location inside the run's work directory. */
  def newSession(plan: Plan): SparkSession = {
    val cpus = plan("cpus")
    val work = plan("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime()
    graft.functions.GraftFunctions.register(spark)
    graft.plans.AsOfJoin.register(spark)
    val t2 = System.nanoTime()
    // graft.Bench's warm-up: one scan+join+agg, one dialect statement
    val data = plan("data")
    spark.read.parquet(s"$data/region.parquet")
      .join(spark.read.parquet(s"$data/nation.parquet"),
        col("r_regionkey") === col("n_regionkey"))
      .groupBy("r_name").count().count()
    val t3 = System.nanoTime()
    graft.presto.PrestoSql.sql(spark, "SELECT 1 AS warm").count()
    System.err.println(f"[perfbench] setup: register ${(t2 - t1) / 1e9}%.2f s, " +
      f"scan warm-up ${(t3 - t2) / 1e9}%.2f s, dialect warm-up ${(System.nanoTime() - t3) / 1e9}%.2f s")
    spark
  }

  def runQuery(spark: SparkSession, data: String, name: String,
      fn: (SparkSession, String) => DataFrame, pass: Int,
      trace: Option[Trace]): QueryRec = {
    val rec = new QueryRec(name)
    val sc = spark.sparkContext
    trace.foreach(_.beforeQuery())
    sc.setLocalProperty(Trace.QidKey, s"$pass:$name")
    rec.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, data)
      rec.buildNs = System.nanoTime() - t0
      rec.buildEndMs = System.currentTimeMillis()
      trace.foreach(_.recordPlanning(df.queryExecution))
      df.write.format("noop").mode("overwrite").save()
    } catch {
      case e: Throwable =>
        if (rec.buildEndMs == 0L) {
          rec.buildNs = System.nanoTime() - t0
          rec.buildEndMs = System.currentTimeMillis()
        }
        rec.error = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200)
    }
    rec.totalNs = System.nanoTime() - t0
    rec.endMs = System.currentTimeMillis()
    sc.setLocalProperty(Trace.QidKey, null)
    trace.foreach(t => rec.counters = t.afterQuery())
    rec
  }

  /** Order-independent fingerprint of a result: row count and the sum of
    * a 64-bit hash of each row's JSON form (JSON so that map columns,
    * which Spark refuses to hash, are covered too). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))).cast("string"))
      .head()
    (r.getLong(0), r.getString(1))
  }

  /** Output check, after the timed passes: queries with an oracle are
    * written as one parquet file each for the DuckDB compare in run.py;
    * the rest are evaluated twice and fingerprinted. */
  def check(spark: SparkSession, plan: Plan, names: Seq[String],
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracle: Map[String, String]): Seq[String] = {
    val data = plan("data")
    val dir = s"${plan("work")}/check"
    names.map { name =>
      val fields = ArrayBuffer(s""""name":${Json.str(name)}""")
      try {
        if (oracle.contains(name)) {
          queries(name)(spark, data).coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/$name")
        } else {
          val df1 = queries(name)(spark, data)
          val (rows, fp1) = fingerprint(df1)
          val (_, fp2) = fingerprint(queries(name)(spark, data))
          fields += s""""schema":${Json.str(df1.schema.catalogString)}"""
          fields += s""""rows":$rows"""
          fields += s""""fingerprints":[${Json.str(fp1)},${Json.str(fp2)}]"""
        }
      } catch {
        case e: Throwable =>
          fields += s""""error":${Json.str(s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200))}"""
      }
      fields.mkString("{", ",", "}")
    }
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val data = plan("data")
    val traced = plan("trace") == "1"

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = newSession(plan)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val queries = graft.SparkEntry.queries ++
      (if (plan("selftest") == "1") SelfTestQueries.queries else Map.empty)
    val oracle = graft.SparkEntry.oracleSql ++
      (if (plan("selftest") == "1") SelfTestQueries.oracleSql else Map.empty)
    val names = plan.orders.head
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // the set-up's effective confs, before any query changes one
    val confs = spark.conf.getAll.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.str(v) }
    val trace = if (traced) Some(new Trace(spark)) else None
    val passes = ArrayBuffer.empty[String]
    for (pass <- 1 to plan.orders.size) {
      // traced runs: the cold pass and passes 2, 4, ... carry listeners
      val t = trace.filter(_ => pass == 1 || pass % 2 == 0)
      t.foreach(_.attach())
      val t0 = System.nanoTime()
      val recs = plan.orders(pass - 1).map(n =>
        runQuery(spark, data, n, queries(n), pass, t))
      val wall = (System.nanoTime() - t0) / 1e9
      t.foreach(_.detach())
      passes += Json.obj(
        "pass" -> pass.toString, "wall_s" -> wall.toString,
        "traced" -> t.isDefined.toString,
        "queries" -> recs.map { r =>
          Json.obj(
            "name" -> Json.str(r.name), "start_ms" -> r.startMs.toString,
            "build_end_ms" -> r.buildEndMs.toString,
            "end_ms" -> r.endMs.toString,
            "build_s" -> (r.buildNs / 1e9).toString,
            "total_s" -> (r.totalNs / 1e9).toString,
            "error" -> Option(r.error).map(Json.str).getOrElse("null"),
            "counters" -> Json.obj(r.counters.toSeq
              .map { case (k, v) => k -> v.toString }: _*))
        }.mkString("[", ",", "]"))
    }

    val checked = check(spark, plan, names, queries, oracle)
    val oracleJson = names.filter(oracle.contains)
      .map(n => s"${Json.str(n)}:${Json.str(oracle(n))}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"${plan("work")}/check/oracle_sql.json"),
      oracleJson)

    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .map(Json.str).mkString("[", ",", "]")
    val out = Json.obj(
      "setup_s" -> setupS.toString,
      "passes" -> passes.mkString("[", ",", "]"),
      "check" -> checked.mkString("[", ",", "]"),
      "trace" -> trace.map(_.json).getOrElse("null"),
      "peak_rss_mb" -> peakRssMb().toString,
      "spark_confs" -> Json.obj(confs: _*),
      "jvm_flags" -> jvmFlags)
    Files.writeString(Paths.get(plan("out")), out)
    spark.stop()
    sys.exit(0)
  }
}

/** Minimal JSON text building for the run's single output file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** Values must already be JSON text. */
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Queries that exist only for the benchmark's self-test: one throws and
  * one returns a result its oracle disagrees with. Both must show up as
  * failures; they are reachable only when the plan sets `selftest=1`. */
object SelfTestQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "selftest_throws" -> ((_, _) =>
      throw new IllegalStateException("deliberate failure")),
    "selftest_wrong" -> ((s, _) => s.range(3).toDF("x")))
  val oracleSql: Map[String, String] = Map(
    "selftest_throws" -> "SELECT 1 AS x",
    "selftest_wrong" -> "SELECT CAST(range AS BIGINT) AS x FROM range(4)")
}
