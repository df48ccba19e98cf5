package storebench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   Main --workload serve|curate --seed N --seconds S --trace 0|1
  *        --store DIR --out FILE
  *
  * (`Main --warmup 1` only sets up, for the build's class-data archive.)
  *
  * Set-up (session start, input generation, warm-up) is repeated
  * [[SetupReps]] times and reported as the median. The store is built
  * and measured in `DIR`; the full record (metrics, spans, input
  * properties, environment) is written to `FILE` as one JSON object. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("warmup")) return warmup()
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors.toString

    // set-up, repeated: each repetition starts a session, generates the
    // inputs and warms them; the last one's session and inputs are used
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var workload: Workload = null
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, opt("store") + "-warehouse")
      workload = Workload(name, seed)
      workload.materialize(spark)
      spark.range(1000000L).selectExpr("sum(id)").collect()
      val s = (System.nanoTime() - t0) / 1e9
      // the first repetition also pays JVM start
      if (rep == 1) (System.currentTimeMillis() - jvmStart) / 1e3 else s
    }

    val rec = new Recorder(spark, traced)
    val ctx = new Ctx(spark, rec, seconds, opt("store"))
    workload.run(ctx)

    val metrics = endToEnd(ctx, Stats.median(setups))
    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "errors" -> rec.errors.toSeq,
      "metrics" -> metrics,
      "setup_reps_s" -> setups,
      "read_tail" -> tailInfo(ctx),
      "calls" -> rec.calls.map(c => Seq(c.span, c.kind, c.wallS)),
      "spans" -> rec.spans(),
      "unattributed_sql_queries" -> rec.unattributedQueries,
      "inputs" -> ctx.info.toMap,
      "env" -> Map(
        "cpus" -> cpus.toInt,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")))
    val out = new java.io.PrintWriter(opt("out"), "UTF-8")
    try out.println(Json(record)) finally out.close()
    spark.stop()
  }

  /** The engine's own session tuning at local[cpus]. */
  private def session(cpus: String, warehouse: String): SparkSession = {
    val spark = graft.Bench.tunedBuilder(cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Start a session and set up every workload once, then exit: the run
    * that records the JVM's class-data archive at build time. */
  private def warmup(): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors.toString,
      "warmup-warehouse")
    Seq("serve", "curate").foreach(w => Workload(w, 0L).materialize(spark))
    spark.stop()
  }

  private def reads(ctx: Ctx) = ctx.rec.calls.filter(_.kind == "read").toSeq

  private def tailInfo(ctx: Ctx): Map[String, Any] =
    Stats.tail(reads(ctx).map(_.wallS)) match {
      case Some((p, v, beyond)) =>
        Map("percentile" -> p, "value_s" -> v, "calls_beyond" -> beyond,
          "read_calls" -> reads(ctx).size)
      case None => Map("read_calls" -> reads(ctx).size)
    }

  /** The end-to-end metrics (name → value); a metric whose inputs are
    * missing (every call of its kind failed) is left out. */
  def endToEnd(ctx: Ctx, setupS: Double): Map[String, Double] = {
    val calls = ctx.rec.calls.toSeq
    val builds = calls.filter(_.kind == "build")
    val rd = reads(ctx)
    // serve has no write phase: its writes are the build calls
    val writes = Some(calls.filter(_.kind == "write")).filter(_.nonEmpty)
      .getOrElse(builds)
    val rounds = if (ctx.writeRounds.nonEmpty) ctx.writeRounds.toSeq
      else builds.map(_.wallS)
    val m = scala.collection.mutable.LinkedHashMap("setup_s" -> setupS)
    if (builds.nonEmpty) m("build_s") = builds.map(_.wallS).sum
    if (rd.nonEmpty) {
      m("read_qps") = rd.map(_.queries).sum / rd.map(_.wallS).sum
      m("read_p50_s") = Stats.median(rd.map(_.wallS))
    }
    Stats.tail(rd.map(_.wallS)).foreach { case (_, v, _) => m("read_tail_s") = v }
    if (writes.nonEmpty)
      m("write_rows_per_s") = writes.map(_.rows).sum / writes.map(_.wallS).sum
    if (rounds.nonEmpty) m("write_p50_s") = Stats.median(rounds)
    if (ctx.recalls.nonEmpty)
      m("recall_at_10") = ctx.recalls.sum / ctx.recalls.size
    m("error_rate") = ctx.rec.failed.toDouble / ctx.rec.attempted.max(1)
    m("peak_storage_mb") = ctx.rec.peakStorageBytes / 1048576.0
    if (ctx.inputBytes > 0)
      m("store_bytes_per_input_byte") =
        Workload.dirBytes(ctx.storeDir).toDouble / ctx.inputBytes
    m.toMap
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
