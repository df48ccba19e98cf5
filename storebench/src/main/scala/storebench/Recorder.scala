package storebench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.storebench.Internals
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a facade. `kind` is build, write or read. */
final case class Call(span: String, kind: String, seq: Int, startMs: Long,
    endMs: Long, wallS: Double, rows: Long, queries: Long)

/** Per-call Spark counters, filled by [[SpanListener]] from jobs whose
  * submitting thread carried the call's local property. */
final class Counters {
  val jobs = ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)
  var tasks, taskMs, shuffleBytes, spillBytes, bytesWritten = 0L
  var sqlQueries, failedQueries = 0L
  var planMs = 0L
}

/** Attributes jobs, tasks and SQL executions to the benchmark call that
  * caused them. The key is the local property [[Recorder.CallKey]],
  * which Spark copies onto every job a thread submits (broadcast and
  * subquery threads inherit it). */
final class SpanListener extends SparkListener with QueryExecutionListener {
  val byCall = TrieMap.empty[String, Counters]
  private val jobCall = TrieMap.empty[Int, String]
  private val jobStart = TrieMap.empty[Int, Long]
  private val stageCall = TrieMap.empty[Int, String]
  private val execCall = TrieMap.empty[Long, String]
  // SQL queries, keyed by object identity: (plan ms, failed) from the
  // QueryExecutionListener, execution id from the execution-end event
  private val queries = TrieMap.empty[QueryExecution, (Long, Boolean)]
  private val queryExec = TrieMap.empty[QueryExecution, Long]

  private def counters(call: String) = byCall.getOrElseUpdate(call, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.CallKey)))
      .foreach { call =>
        jobCall(e.jobId) = call
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageCall(_) = call)
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execCall.putIfAbsent(x.toLong, call))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobCall.remove(e.jobId).foreach { call =>
      val c = counters(call)
      c.synchronized { c.jobs += ((jobStart.remove(e.jobId).get, e.time)) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageCall.get(e.stageId).foreach { call =>
      val c = counters(call)
      c.synchronized {
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.taskMs += m.executorRunTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Option(Internals.query(end)).foreach(queryExec(_) = end.executionId)
    case _ => ()
  }

  // QueryExecutionListener: planning time and failure of each SQL query
  private def onQuery(qe: QueryExecution, failed: Boolean): Unit =
    queries(qe) = (qe.tracker.phases.values.map(_.durationMs).sum, failed)
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    onQuery(qe, failed = false)
  override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit =
    onQuery(qe, failed = true)

  /** Fold the SQL queries into their calls: a query belongs to the call
    * whose jobs carried its execution id. Returns how many queries ran
    * no job, so no call could claim them. Call once, after the bus drained. */
  def attributeQueries(): Long = queries.count { case (qe, (planMs, failed)) =>
    queryExec.get(qe).flatMap(execCall.get) match {
      case Some(call) =>
        val c = counters(call)
        c.sqlQueries += 1
        if (failed) c.failedQueries += 1
        c.planMs += planMs
        false
      case None => true
    }
  }.toLong
}

object Recorder {
  val CallKey = "storebench.call"
}

/** The closed loop's bookkeeping: one client, each call waits for the
  * previous one. A call that throws or fails its check counts as failed
  * and records no time. With `traced`, a [[SpanListener]] attributes
  * Spark work to each call; spans stay in memory until [[spans]]. */
final class Recorder(spark: SparkSession, traced: Boolean) {
  val calls = ArrayBuffer.empty[Call]
  val errors = ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  var peakStorageBytes = 0L
  private var seq = 0
  private val listener = if (traced) Some(new SpanListener) else None
  listener.foreach { l =>
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
  }

  /** Storage memory in use across the block managers (cached and
    * checkpointed blocks, broadcasts). */
  def storageBytes(): Long = spark.sparkContext.getExecutorMemoryStatus.values
    .map { case (max, free) => max - free }.sum

  /** Run one facade call. `body` must force its results (collect) so the
    * time is the user's whole cost; `check` runs after the clock stops.
    * Returns the result only when both succeeded. */
  def run[T](span: String, kind: String, rows: Long = 0L, queries: Long = 0L)
      (body: => T)(check: T => Unit = (_: T) => ()): Option[T] = {
    attempted += 1
    seq += 1
    val key = s"$span#$seq"
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(Recorder.CallKey, key)
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Right(body)
      catch { case e: Throwable => Left(e) }
      finally if (traced) sc.setLocalProperty(Recorder.CallKey, null)
    val wall = (System.nanoTime() - t0) / 1e9
    val t1ms = System.currentTimeMillis()
    peakStorageBytes = math.max(peakStorageBytes, storageBytes())
    val checked = out.flatMap(r =>
      try { check(r); Right(r) } catch { case e: Throwable => Left(e) })
    checked match {
      case Right(r) =>
        calls += Call(span, kind, seq, t0ms, t1ms, wall, rows, queries)
        Some(r)
      case Left(e) =>
        failed += 1
        errors += s"$key: ${e.toString.take(500)}"
        System.err.println(s"[storebench] FAILED $key: $e")
        None
    }
  }

  /** Per-span totals over the successful calls: wall and, when traced,
    * the Spark counters. */
  def spans(): Map[String, Map[String, Double]] = {
    listener.foreach { l =>
      Internals.drain(spark.sparkContext)
      unattributedQueries = l.attributeQueries()
    }
    calls.groupBy(_.span).map { case (span, cs) =>
      val base = Map("calls" -> cs.size.toDouble,
        "wall_ms" -> cs.map(_.wallS * 1000).sum)
      span -> (base ++ listener.map { l =>
        val cc = cs.map(c => c -> l.byCall.getOrElse(s"${c.span}#${c.seq}", new Counters))
        def sum(f: Counters => Long) = cc.map(x => f(x._2)).sum.toDouble
        Map(
          "driver_ms" -> cc.map { case (c, k) =>
            Stats.driverMs(c.startMs, c.endMs, k.jobs.toSeq).toDouble }.sum,
          "jobs" -> sum(_.jobs.size.toLong),
          "tasks" -> sum(_.tasks),
          "task_ms" -> sum(_.taskMs),
          "shuffle_bytes" -> sum(_.shuffleBytes),
          "spill_bytes" -> sum(_.spillBytes),
          "bytes_written" -> sum(_.bytesWritten),
          "plan_ms" -> sum(_.planMs),
          "sql_queries" -> sum(_.sqlQueries),
          "failed_queries" -> sum(_.failedQueries))
      }.getOrElse(Map.empty))
    }
  }

  /** SQL queries the trace could not tie to a call (they ran no job). */
  var unattributedQueries = 0L
}
