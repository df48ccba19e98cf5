package storebench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What a workload run shares with [[Main]]: the recorder, the clock,
  * and the numbers only the workload can know. */
final class Ctx(val spark: SparkSession, val rec: Recorder,
    val seconds: Double, val storeDir: String) {
  /** Input properties and per-call choices, recorded with the result. */
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** Mean recall@10 of each approximate read call. */
  val recalls = ArrayBuffer.empty[Double]
  /** Latency of each complete write round. */
  val writeRounds = ArrayBuffer.empty[Double]
  var inputBytes = 0L

  /** Run rounds until `seconds` have passed; a round is never cut. */
  def measure(round: Int => Unit): Int = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    while (System.nanoTime() < end) { round(r); r += 1 }
    r
  }

  /** Wall of the round whose calls were recorded after the first
    * `sinceCalls`, or None unless every call of `spans` succeeded — a
    * failed round records no time. */
  def roundWall(spans: Seq[String], sinceCalls: Int): Option[Double] = {
    val got = rec.calls.drop(sinceCalls)
    if (got.map(_.span) == spans) Some(got.map(_.wallS).sum) else None
  }
}

/** A workload: inputs generated from the seed on the driver, turned
  * into DataFrames during set-up, then built and measured. */
trait Workload {
  /** Create the input DataFrames in `spark` and touch them once. */
  def materialize(spark: SparkSession): Unit
  def run(ctx: Ctx): Unit
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "serve" => new Serve(new Gen(seed))
    case "curate" => new Curate(new Gen(seed))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val K = 10

  /** (query_id → rows in rank order) from a collected search result. */
  def byQuery(rows: Array[Row]): Map[Long, Seq[(Long, Double, Int)]] =
    rows.toSeq.map(r => (r.getAs[Number]("query_id").longValue,
        (r.getAs[Number]("id").longValue, r.getAs[Number]("score").doubleValue,
          r.getAs[Number]("rn").intValue)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).sortBy(_._3) }

  /** Shape checks every arm's result passes: at most k rows per query,
    * ranks 1..m in order, scores non-increasing. */
  def checkShape(q: Long, got: Seq[(Long, Double, Int)]): Unit = {
    require(got.size <= K, s"query $q: ${got.size} rows > k")
    require(got.map(_._3) == (1 to got.size), s"query $q: ranks ${got.map(_._3)}")
    require(got.map(_._1).distinct.size == got.size, s"query $q: repeated id")
    require(got.zip(got.drop(1)).forall { case (a, b) => a._2 >= b._2 - 1e-9 },
      s"query $q: scores not ordered")
  }

  def queryFrame(spark: SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    qs.map { case (id, v) => (id, v.toSeq) }.toDF("query_id", "query_vec")
  }

  /** Bytes on disk under `path`. */
  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }
}
