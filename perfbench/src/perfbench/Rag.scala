package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.answer.TemplateAnswerer
import graft.embed.Featurizer
import graft.search.{Ann, Lexical, Search}
import graft.store.CorpusStore
import graft.text.Chunker

/** One retrieved chunk: id, text and the path's score. */
final case class Hit(id: Long, text: String, score: Double)

/** One answered question: the retrieved chunks in rank order, and the
  * prompt and answer built from them. */
final case class Answer(hits: Vector[Hit], prompt: String, answer: String)

/** The RAG application the benchmark drives, written only against the
  * engine's public API. Every call into an engine module runs inside a
  * span named after that module, so the traced run can split a request
  * into layers. Paths of one store are fixed: `<dir>/store`, `<dir>/ivf`,
  * `<dir>/bm25`.
  */
final class Rag(spark: SparkSession, tracer: Tracer, val dir: String, val dim: Int) {
  import Rag._

  val storePath = s"$dir/store"
  val ivfPath = s"$dir/ivf"
  val bm25Path = s"$dir/bm25"
  private var cents: Seq[Seq[Double]] = Nil

  def store: DataFrame = CorpusStore.load(spark, storePath)

  /** Uploads → 1000/200 chunks → non-empty → dense ids → vectors → a
    * fresh store. With `stages` the chain is first materialized through
    * the `noop` sink piece by piece, each in its own span, so the report
    * can attribute each stage's increment to its layer (see
    * [[LayerReport]]), and the store is written twice. */
  def ingest(uploadsPath: String, stages: Boolean): Unit = {
    val uploads = spark.read.parquet(uploadsPath)
    val chunks = Chunker.chunk(uploads, "text", ChunkSize, ChunkOverlap)
      .filter(Chunker.nonEmpty(col("chunk")))
    val ided = Chunker.withOrdinalIds(chunks, "upload_id")
    val rows = ided.select(col("chunk_id"), col("upload_id"), col("pos"),
      col("chunk").as("text"), Featurizer.featurize(dim)(col("chunk")).as("embedding"))
    // a piece runs twice and the report keeps the faster, which damps the
    // noise in increments of a few tens of milliseconds; the ids piece
    // runs once, as its first run fills withOrdinalIds' cache
    def twice(name: String)(body: => Unit): Unit = (1 to 2).foreach(_ => tracer.span(name)(body))
    if (stages) {
      twice("text.chunk") { noop(chunks) }
      twice("embed.featurize") { noop(chunks.select(Featurizer.featurize(dim)(col("chunk")))) }
      tracer.span("text.ordinal_ids") { noop(ided) }
      twice("ingest.rows") { noop(rows) }
      twice("store.write") { CorpusStore.overwrite(rows, storePath) }
    } else CorpusStore.overwrite(rows, storePath)
  }

  /** k-means centroids, the IVF index and the BM25 index over the store. */
  def buildIndexes(): Unit = {
    val s = store
    cents = tracer.span("search.kmeans") {
      Ann.kmeansCentroids(s, "chunk_id", "embedding", Clusters, KmeansIters)
    }
    tracer.span("search.ivf_build") { Ann.buildIvfIndex(s, cents, ivfPath) }
    tracer.span("search.bm25_build") {
      Lexical.buildBm25Index(s, "text", "chunk_id", bm25Path, TermBuckets)
    }
  }

  private def queryFrame(question: String): DataFrame =
    tracer.span("embed.question") { Featurizer.queryFrame(spark, question, dim) }

  private def hits(rows: Array[Row]): Vector[Hit] =
    rows.map(r => Hit(r.getLong(0), r.getString(1), r.getDouble(2))).toVector

  def knn(question: String): Vector[Hit] = {
    val q = queryFrame(question).select("qvec")
    tracer.span("search.knn_probe") {
      hits(Search.knn(store, q, K, "chunk_id", "embedding")
        .select("chunk_id", "text", "sim").collect())
    }
  }

  def ivf(question: String): Vector[Hit] = {
    val q = queryFrame(question).select("qvec")
    tracer.span("search.ivf_probe") {
      hits(Ann.ivfIndexTopK(spark, ivfPath, q, cents, K, NProbe, "chunk_id", "embedding")
        .select("chunk_id", "text", "sim").collect())
    }
  }

  def bm25(question: String): Vector[Hit] = {
    val terms = question.toLowerCase(java.util.Locale.ROOT).split(" ").filter(_.nonEmpty).toSeq
    tracer.span("search.bm25_probe") {
      import spark.implicits._
      val top = Lexical.bm25IndexTopKBatch(spark, bm25Path,
        Seq((0L, terms)).toDF("qid", "terms"), K, "chunk_id")
        .select("chunk_id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1))
      // the index holds no text: fetch the retrieved chunks from the store
      val text = tracer.span("store.fetch") {
        store.filter(col("chunk_id").isin(top.map(_._1): _*))
          .select("chunk_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      }
      top.sortBy { case (id, s) => (-s, id) }.map { case (id, s) => Hit(id, text(id), s) }.toVector
    }
  }

  /** Context, prompt and answer over an already-collected top-k. */
  def answer(question: String, top: Vector[Hit]): Answer = tracer.span("answer.context_prompt") {
    import spark.implicits._
    val r = Search.contextAgg(top.map(h => (h.id, h.text, h.score)).toDF("id", "text", "score"),
        col("id"), col("text"), col("score"))
      .select(col("context"), Search.prompt(col("context"), lit(question)).as("prompt"))
      .withColumn("answer", TemplateAnswerer.answer(col("prompt"), lit(question), col("context")))
      .select("prompt", "answer").head() // selecting the answer keeps the answerer in the plan
    Answer(top, r.getString(0), r.getString(1))
  }

  /** Top-k rows `(qid, chunk_id, text, sim, rank)` for a batch of
    * questions, and one `(qid, prompt)` row per qid built from them. */
  def batch(questions: Vector[String]): (Array[Row], Array[Row]) = {
    import spark.implicits._
    val qs = tracer.span("embed.question") {
      questions.zipWithIndex
        .map { case (q, i) => (i.toLong, Featurizer.featurizeText(q, dim).toSeq) }
        .toDF("qid", "qvec")
    }
    val top = tracer.span("search.simjoin") {
      Search.similarityJoin(store, qs, K, "chunk_id", "embedding")
        .select("qid", "chunk_id", "text", "sim", "rank").collect()
    }
    val prompts = tracer.span("answer.context_batch") {
      val texts = questions.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("qid", "question")
      Search.contextAggBatch(
          top.map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
            .toSeq.toDF("qid", "chunk_id", "text", "sim"),
          col("chunk_id"), col("text"), col("sim"))
        .join(texts, "qid")
        .select(col("qid"), Search.prompt(col("context"), col("question")).as("prompt"))
        .collect()
    }
    (top, prompts)
  }
}

object Rag {
  val ChunkSize = 1000
  val ChunkOverlap = 200
  val K = 5
  val Clusters = 64
  val KmeansIters = 5
  val NProbe = 8
  val TermBuckets = 64

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
