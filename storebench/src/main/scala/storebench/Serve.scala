package storebench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.VectorStore
import graft.operators.IndexParams
import Workload._

/** serve: build the graph and PQ tiers once; then each round serves
  * held-out query batches through the read arms, takes one write round
  * (upserts, mostly new ids, and removals) and reads the new snapshot
  * through the seeded graph walk. Compute-bound reads and builds, plus
  * the overhead-bound write path and the first read after a write. */
final class Serve(gen: Gen) extends Workload {
  val n = 3000
  val dim = 64
  val batches = 3
  val perBatch = 64
  val upsertRows = 150
  val insertShare = 0.8
  val removes = 15
  val probeQueries = 16
  val upsertedProbes = 4
  private val mix = gen.mixture(dim, clusters = 40, hotShare = 0.15)
  private val (ids, vecs, clusters) = gen.vectors(mix, n)
  private val queries = gen.queryBatches(mix, batches, perBatch)
  private var nodes: DataFrame = _
  private var queryFrames: Seq[DataFrame] = Nil

  def materialize(spark: SparkSession): Unit = {
    import spark.implicits._
    nodes = ids.indices.map(i => (ids(i), vecs(i).toSeq)).toDF("id", "vector")
    queryFrames = queries.toSeq.map(b =>
      queryFrame(spark, b.indices.map(i => (i.toLong, b(i)))))
    (nodes +: queryFrames).foreach(_.count())
  }

  /** Every served row names a live id and (except PQ, whose scores are
    * quantized) carries its true cosine. */
  private def checkRows(qi: Int, q: Array[Float], got: Seq[(Long, Double, Int)],
      live: Exact.Corpus, removed: Long => Boolean, exactScores: Boolean): Unit = {
    checkShape(qi, got)
    got.foreach { case (id, score, _) =>
      require(!removed(id), s"query $qi: removed id $id served")
      val v = live.vector(id)
      require(v.isDefined, s"query $qi: unknown id $id")
      if (exactScores)
        require(math.abs(Exact.cosine(q, v.get) - score) < 1e-4,
          s"query $qi: id $id score $score is not its cosine")
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rec = ctx.rec
    ctx.inputBytes = n.toLong * (8 + 4 * dim)
    val store = VectorStore.openOrCreate(spark, ctx.storeDir, IndexParams(dim = dim))
    rec.run("VectorStore.addBatch", "build", rows = n)(store.addBatch(nodes))()
    rec.run("VectorStore.rebuild", "build", rows = n)(store.rebuild())()
    rec.run("VectorStore.buildPqIndex", "build", rows = n)(store.buildPqIndex())()

    val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
    ids.indices.foreach(i => live(ids(i)) = vecs(i))
    val removed = mutable.Set.empty[Long]
    var nextId = n.toLong
    var inserts, updates, deletes = 0L
    // AdaptiveSearch's exact cutoff scaled to this corpus, so the
    // dispatcher must pick an index arm as it does past 50 k rows
    val exactCutoff = n / 2L
    val autoArms = mutable.LinkedHashMap.empty[String, Int]
    type Arm = DataFrame => (DataFrame, Option[String])
    val arms: Seq[(String, Arm)] = Seq(
      ("search", q => (store.search(q, K, 0), None)),
      ("searchPq", q => (store.searchPq(q, K, 0), None)),
      ("searchAuto", { q =>
        val (s, df) = store.searchAuto(q, K, 0, exactCutoff = exactCutoff)
        (df, Some(s.toString))
      }))

    var call = 0
    val rounds = ctx.measure { _ =>
      // reads of the current snapshot, checked against brute force
      val snapshot = new Exact.Corpus(live.keys.toArray, live.values.toArray)
      arms.foreach { case (name, arm) =>
        val b = call % batches
        call += 1
        val reference = queries(b).map(snapshot.topK(_, K))
        rec.run(s"VectorStore.$name", "read", queries = perBatch) {
          val (df, chosen) = arm(queryFrames(b))
          (df.select("query_id", "id", "score", "rn").collect(), chosen)
        } { case (rows, chosen) =>
          chosen.foreach(s => autoArms(s) = autoArms.getOrElse(s, 0) + 1)
          val got = byQuery(rows)
          val exact = name == "search" || chosen.contains("UseExact")
          val recalls = reference.indices.map { qi =>
            val g = got.getOrElse(qi.toLong, Nil)
            checkRows(qi, queries(b)(qi), g, snapshot, removed,
              exactScores = name != "searchPq")
            if (exact) {
              val want = reference(qi).map(_._2)
              require(g.size == want.size &&
                g.map(_._2).zip(want).forall { case (a, w) => math.abs(a - w) < 1e-4 },
                s"exact arm, query $qi: scores ${g.map(_._2)} != reference $want")
            }
            Stats.recall(g.map(_._1), reference(qi).map(_._1))
          }
          if (!exact) ctx.recalls += recalls.sum / recalls.size
        }
      }

      // one write round: table tombstones (removeMultiple), then the
      // upserts and the same tombstones folded into the saved index
      // (mergeIndex) — the ANN arms serve the last merged index
      val (upserts, gone) = gen.writeRound(mix, live.keys.toIndexedSeq, nextId,
        upsertRows, insertShare, removes)
      val nNew = upserts.count(_._1 >= nextId)
      nextId += nNew
      inserts += nNew; updates += upserts.size - nNew; deletes += gone.size
      ctx.inputBytes += upserts.size.toLong * (8 + 4 * dim) + gone.size * 8L
      val delta = (upserts.map { case (id, v) => (id, v.toSeq, false) } ++
        gone.map(id => (id, live(id).toSeq, true))).toDF("id", "vector", "deleted")
      val before = rec.calls.size
      rec.run("VectorStore.removeMultiple", "write", rows = gone.size)(
        store.removeMultiple(gone))()
      rec.run("VectorStore.mergeIndex", "write", rows = upserts.size + gone.size)(
        store.mergeIndex(delta))()
      upserts.foreach { case (id, v) => live(id) = v }
      gone.foreach { id => live.remove(id); removed += id }
      ctx.roundWall(Seq("VectorStore.removeMultiple", "VectorStore.mergeIndex"), before)
        .foreach(ctx.writeRounds += _)

      // the first read after the write: just-upserted vectors (new and
      // updated) must come back top-1; no removed id may appear
      val after = new Exact.Corpus(live.keys.toArray, live.values.toArray)
      val probes = upserts.take(upsertedProbes / 2) ++ upserts.takeRight(upsertedProbes / 2)
      val qs = (probes.map(_._2) ++ gen.heldOut(mix, probeQueries - probes.size))
        .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val reference = qs.map { case (_, v) => after.topK(v, K) }
      rec.run("VectorStore.searchAnnSeeded", "read", queries = qs.size) {
        store.searchAnnSeeded(queryFrame(spark, qs), K, 0)
          .select("query_id", "id", "score", "rn").collect()
      } { rows =>
        val got = byQuery(rows)
        val recalls = qs.indices.map { qi =>
          val g = got.getOrElse(qi.toLong, Nil)
          checkRows(qi, qs(qi)._2, g, after, removed, exactScores = true)
          if (qi < probes.size)
            require(g.headOption.map(_._1).contains(probes(qi)._1),
              s"just-upserted id ${probes(qi)._1} not top-1: ${g.map(_._1)}")
          Stats.recall(g.map(_._1), reference(qi).map(_._1))
        }
        ctx.recalls += recalls.sum / recalls.size
      }
    }
    ctx.info ++= Seq("vectors" -> n, "dim" -> dim, "clusters" -> mix.clusters,
      "hot_cluster_share" -> clusters.count(_ == 0).toDouble / n,
      "queries_per_call" -> perBatch, "query_batches" -> batches,
      "rounds" -> rounds, "auto_arms" -> autoArms.toMap,
      "upserts_per_round" -> upsertRows, "removes_per_round" -> removes,
      "insert_update_delete" -> Seq(inserts, updates, deletes))
  }
}
