package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Shared session tuning for every measurement/verification main
    * (Bench, Verify, QueryTime) — ONE place so isolated-query timings
    * run the configuration the bench runs.
    *
    * AQE partition coalescing (guide §2.2): `parallelismFirst = false`
    * makes AQE size post-shuffle partitions by
    * `advisoryPartitionSizeInBytes` instead of refusing to coalesce
    * below the core count — with the default (true), a KB-scale
    * intermediate relation fragments into `cpus` near-empty tasks, and
    * r15 measured exactly that as 32-core ANTI-scaling on the
    * small-relation rows (a23 8c/32c ratio 0.30, q27 0.53, d12 0.56).
    * The advisory size is scale-dependent, so it is parameterised
    * (`SPARK_GRAFT_ADVISORY_PARTITION`, default 8m): 8 MB keeps the
    * fixture bench's mid-size shuffles parallel (a 256 MB shuffle still
    * gets 32 tasks) while collapsing KB-scale exchanges to one task; a
    * production 100 TB deployment would raise it to the guide's
    * 128m–1g band — the knob moves with the data, the default only has
    * to fit the driver's fixed sf0.1 fixture. Skew-join splitting and
    * every other AQE default stay untouched. */
  def tunedBuilder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "false"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION", "8m"))
      .config("spark.ui.enabled", "false")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = tunedBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/parquet-footer paths once so per-query timings
    // measure the queries, not first-job JIT + session init (~5 s).
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      SparkEntry.entry(spark).count()
    } catch { case _: Throwable => () }
    // Two timed passes, report the per-query MIN: a single-run number can't
    // distinguish a regression from JVM/GC noise in a ~80-query session.
    // A query that throws keeps its elapsed time in every existing key
    // (their shape stays byte-compatible) but is named on stderr and in
    // the additions-only "failed" array, so it never reads as fast.
    val failed = scala.collection.mutable.SortedSet.empty[String]
    def timedPass(): Map[String, Double] = SparkEntry.queries.map {
      case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
        }
        name -> (System.nanoTime() - t0) / 1e9
    }
    val first = timedPass()
    val second = timedPass()
    val results = first.map { case (k, v) => k -> math.min(v, second(k)) }
    def jmap(m: Map[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(results)
    // COLD-vs-WARM visibility (r15 verdict item 3): the build-once memos
    // (index artifacts, packed codes, bucketed tables) pay their one-time
    // cost in pass 1, which the per-query MIN structurally excludes — so
    // `first` records every query's pass-1 seconds alongside the MIN.
    // Additions only: "queries" keeps the same MIN methodology and every
    // existing key, so the driver's parser and every cross-round
    // comparison stay valid; a build-cost regression is now auditable as
    // first[q] − queries[q].
    val firstQs = jmap(first)
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val firstTotal = if (first.nonEmpty) first.values.sum else 0.0
    // regime-drift guards: the per-query p50/p95 make a creeping tail of
    // multi-second by-design rows visible before the 2×-of-baseline
    // ceiling binds (nearest-rank percentiles over the per-query MINs)
    def pct(p: Double): Double =
      if (results.isEmpty) 0.0
      else {
        val sorted = results.values.toIndexedSeq.sorted
        sorted(math.min(sorted.length - 1,
          math.ceil(p * sorted.length).toInt - 1).max(0))
      }
    val (p50, p95) = (pct(0.50), pct(0.95))
    val failedJs = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","p50":$p50,"p95":$p95,"first_total":$firstTotal,"queries":$qs,"first":$firstQs,"sf":"$sfDir","failed":$failedJs}""")
    // Machine-diffable per-query record (the driver's tail capture can
    // truncate the line above): overwritten every run; snapshot per round
    // under bench_history/ to track regressions across rounds.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST_QUERIES.json"),
      s"""{"sf":"$sfDir","total":$total,"p50":$p50,"p95":$p95,"first_total":$firstTotal,"queries":$qs,"first":$firstQs,"failed":$failedJs}""")
    catch { case _: Throwable => () }
    // The per-query line above can exceed a tail-capture window (the
    // driver keeps the END of stdout), so repeat the headline LAST as a
    // short self-contained record — whatever window survives contains it.
    println(s"""{"metric":"total","value":$total,"unit":"sec","p50":$p50,"p95":$p95,"first_total":$firstTotal,"n_queries":${results.size},"sf":"$sfDir","failed":$failedJs}""")
    spark.stop()
  }
}
