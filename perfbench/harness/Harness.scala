package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: session start, set-up, warm-up, then a
  * closed loop of operations for the given number of seconds. Writes raw
  * timings, traces and check results as one JSON document;
  * `perfbench/run.py` turns them into metrics.
  *
  * {{{
  * Harness --workload W --seed N --seconds S --trace 0|1 --nproc P
  *         --data DIR --work DIR --out FILE [--param key=value]...
  * Harness --generate 1 --workload W --seed N --nproc P --data DIR --work DIR
  *         [--param key=value]...
  * }}}
  *
  * The second form only writes the seeded inputs of `curate` and `search`.
  *
  * Untraced runs time the composed operation only. Traced runs register
  * the listener and cycle through three variants of the same operation:
  * composed without tracing, composed with tracing, and the decomposed
  * pass whose spans give the per-layer numbers.
  */
object Harness {

  val SetupRepetitions = 3

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, generate: Boolean, nproc: Int, data: String, work: String,
      out: String, params: Map[String, String]) {
    def long(k: String): Long = params.getOrElse(k,
      throw new IllegalArgumentException(s"missing --param $k")).toLong
    def int(k: String): Int = long(k).toInt
  }

  def parse(args: Array[String]): Opts = {
    val flags = mutable.Map.empty[String, String]
    val params = mutable.Map.empty[String, String]
    args.grouped(2).foreach {
      case Array("--param", kv) =>
        val Array(k, v) = kv.split("=", 2)
        params(k) = v
      case Array(k, v) if k.startsWith("--") => flags(k.drop(2)) = v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }
    Opts(flags("workload"), flags("seed").toLong, flags.getOrElse("seconds", "0").toDouble,
      flags.get("trace").contains("1"), flags.get("generate").contains("1"),
      flags("nproc").toInt, flags("data"), flags("work"), flags.getOrElse("out", ""),
      params.toMap)
  }

  def session(nproc: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Peak resident set of this JVM (VmHWM), in bytes; 0 where unavailable. */
  def peakRssBytes(): Long = util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong * 1024L).getOrElse(0L)
    finally src.close()
  }.getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val (spark, sessionS) = seconds(session(o.nproc, s"${o.work}/spark-local"))
    if (o.generate) {
      // a process of its own, so the measured JVM starts equally cold
      // whether or not the inputs were cached
      try Inputs.generate(spark, o) finally spark.stop()
      return
    }
    val sc = spark.sparkContext
    val trace = if (o.trace) Some(new Trace(sc)) else None
    val errors = mutable.ArrayBuffer.empty[String]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var failedOps = 0
    val out = try {
      require(java.nio.file.Files.exists(java.nio.file.Paths.get(o.data, "_DONE")),
        s"no generated inputs in ${o.data}")
      val w = Workload(spark, o)
      // set-up is repeated and reported as a median: one run's set-up
      // time is too noisy to compare across revisions on its own
      val prepareS = (1 to SetupRepetitions).map(_ => seconds(w.prepare())._2)
      val (_, warmupS) = seconds(w.warmup())
      trace.foreach(sc.addSparkListener)

      val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < deadline || i < w.minOps) {
        val mode =
          if (trace.isEmpty) "plain"
          else Seq("untraced", "traced", "decomposed")(i % 3)
        if (mode == "untraced") {
          trace.foreach(t => { org.apache.spark.ListenerDrain.drain(sc); sc.removeSparkListener(t) })
        }
        val attempt = util.Try(seconds(mode match {
          case "decomposed" => w.decomposed(i, trace.get)
          case "traced" => trace.get.span(i, "composed")(w.composed(i))
          case _ => w.composed(i)
        }))
        if (mode == "untraced") trace.foreach(sc.addSparkListener)
        attempt match {
          case util.Success((detail, wall)) =>
            ops += detail ++ Map("i" -> i, "mode" -> mode, "wall_s" -> wall)
          case util.Failure(e) =>
            failedOps += 1
            errors += s"op $i ($mode): $e"
            ops += Map("i" -> i, "mode" -> mode, "failed" -> true)
        }
        w.afterOp(i)
        i += 1
      }
      val checks = util.Try(w.checks()).recover { case e =>
        errors += s"checks: $e"
        Seq(Map("name" -> "checks_ran", "ok" -> false, "detail" -> e.toString))
      }.get
      Map(
        "session_s" -> sessionS, "prepare_s" -> prepareS,
        "warmup_s" -> warmupS, "ops" -> ops.toList, "failed_ops" -> failedOps,
        "checks" -> checks, "extra" -> w.extra(),
        "trace" -> trace.map(_.json()).orNull)
    } catch {
      case e: Throwable =>
        errors += s"fatal: $e"
        Map("fatal" -> true, "ops" -> ops.toList, "failed_ops" -> failedOps)
    }
    val doc = out ++ Map("errors" -> errors.toList, "nproc" -> o.nproc,
      "spark_version" -> spark.version, "peak_rss_bytes" -> peakRssBytes())
    val json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
    json.writeValue(new java.io.File(o.out), doc)
    spark.stop()
  }
}
