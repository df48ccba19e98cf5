package storebench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CorpusStore
import Workload._

/** curate: the LLM-corpus pipeline — load and chunk-index a generated
  * corpus, then rounds of append, full assembly (clean, quality gate,
  * source cap, exact and MinHash dedup, decontamination, resample,
  * split, pack), chunk-index refresh and chunk search. Text and shuffle
  * layers do the work; no graph or PQ code runs. */
final class Curate(gen: Gen) extends Workload {
  val nDocs = 3000
  val appendDocs = 150
  val searches = 3
  val nQueries = 64
  val queryWords = 24
  private val corpus = new gen.Corpus(Gen.DocMix())
  private val initial = corpus.grow(nDocs)
  private var docs: DataFrame = _
  private var evalSet: DataFrame = _

  private def frame(spark: SparkSession, ds: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    ds.map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source")
  }

  def materialize(spark: SparkSession): Unit = {
    import spark.implicits._
    docs = frame(spark, initial)
    evalSet = corpus.evalSet.toDF("doc_id", "text")
    docs.count(); evalSet.count()
  }

  private def params = CorpusStore.AssemblyParams(
    minTokens = 5, maxPerSource = (nDocs * 0.4).toInt,
    nearDupJaccard = 0.8, nHashes = 16,
    benchmark = Some(evalSet), maxSharedNgrams = 0, contaminationN = 8,
    targets = Map("web" -> 40L, "books" -> 25L, "wiki" -> 20L, "code" -> 10L,
      "news" -> 5L),
    seqTokens = 512)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rec = ctx.rec
    def bytes(ds: Seq[Gen.Doc]) =
      ds.map(d => d.text.getBytes("UTF-8").length + d.source.length + 8L).sum
    ctx.inputBytes = bytes(initial)
    val store = CorpusStore.openOrCreate(spark, ctx.storeDir)
    rec.run("CorpusStore.putDocuments", "build", rows = nDocs)(store.putDocuments(docs))()
    rec.run("CorpusStore.buildChunkIndex", "build", rows = nDocs)(store.buildChunkIndex())()

    val kept = ArrayBuffer.empty[Long]
    val rounds = ctx.measure { _ =>
      val batch = corpus.grow(appendDocs)
      ctx.inputBytes += bytes(batch)
      val before = rec.calls.size
      rec.run("CorpusStore.appendDocuments", "write", rows = batch.size)(
        store.appendDocuments(frame(spark, batch)))()
      rec.run("CorpusStore.assemble", "write", rows = corpus.docs.size)(
        store.assemble(params)) { _ =>
        val out = store.trainingDocs
        val n = out.count()
        val m = """"n_output_docs":\s*(\d+)""".r
          .findFirstMatchIn(store.manifest).map(_.group(1).toLong)
        require(m.contains(n), s"manifest n_output_docs $m != trainingDocs $n")
        val ids = out.select("doc_id").as[Long].collect().toSet
        require(!corpus.contaminatedIds.exists(ids), "a contaminated doc was kept")
        require(out.groupBy("text").count().filter(col("count") > 1).isEmpty,
          "exact duplicates survived")
        kept += n
      }
      rec.run("CorpusStore.refreshChunkIndex", "write", rows = batch.size)(
        store.refreshChunkIndex())()
      ctx.roundWall(Seq("CorpusStore.appendDocuments", "CorpusStore.assemble",
        "CorpusStore.refreshChunkIndex"), before).foreach(ctx.writeRounds += _)

      // text queries cut from corpus docs (appended ones included): the
      // doc a query was cut from should be among its top-10 chunks
      (1 to searches).foreach { _ =>
        val qs = corpus.textQueries(nQueries, queryWords)
        val qdf = qs.zipWithIndex.map { case ((t, _), i) => (i.toLong, t) }
          .toDF("query_id", "text")
        rec.run("CorpusStore.searchChunks", "read", queries = qs.size) {
          store.searchChunks(qdf, K)
            .select(col("query_id"), (col("doc_id") * 100000L + col("chunk_id")).as("id"),
              col("score"), col("rn"))
            .collect()
        } { rows =>
          val got = byQuery(rows)
          val found = qs.indices.count { qi =>
            val g = got.getOrElse(qi.toLong, Nil)
            checkShape(qi, g)
            require(g.forall(_._2 <= 1.0 + 1e-6), s"query $qi: score above 1")
            g.exists(_._1 / 100000L == qs(qi)._2)
          }
          // recall@10 against the one doc each query was cut from
          ctx.recalls += found.toDouble / qs.size
        }
      }
    }
    ctx.info ++= Seq("docs_initial" -> nDocs, "append_docs" -> appendDocs,
      "rounds" -> rounds, "docs_final" -> corpus.docs.size,
      "exact_dup_share" -> corpus.nExact.toDouble / corpus.docs.size,
      "near_dup_share" -> corpus.nNear.toDouble / corpus.docs.size,
      "short_share" -> corpus.nShort.toDouble / corpus.docs.size,
      "contaminated_docs" -> corpus.contaminatedIds.size,
      "kept_docs_per_round" -> kept.toSeq)
  }
}
