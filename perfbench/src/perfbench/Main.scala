package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.Featurizer
import graft.search.{Lexical, Search}

/** A workload: the vector width it runs at, its input sizes, and whether
  * its set-up builds the IVF and BM25 indexes. */
final case class Workload(name: String, dim: Int, sizes: Sizes, indexes: Boolean)

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --cores <n>`. Writes `record.json` (every metric with its
  * unit, and sample counts) and, when traced, `spans.jsonl` into the
  * work directory. */
object Main {

  val Workloads: Map[String, Workload] = Seq(
    Workload("ask", Featurizer.DefaultDim, Sizes(replicas = 4, baseUploads = 160, questions = 400),
      indexes = true),
    // 768: the width of the reference's embedding model
    Workload("ask_batch", 768, Sizes(replicas = 4, baseUploads = 160, batches = 40,
      batchQuestions = 64), indexes = false),
  ).map(w => w.name -> w).toMap

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.getOrElse(a("workload"),
      sys.error(s"unknown workload ${a("workload")}; one of ${Workloads.keys.mkString(", ")}"))
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a("cores").toInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try new Run(spark, w, a("seed").toLong, a("seconds").toInt, a("trace") == "1", work, sessionS).go()
    finally spark.stop()
  }
}

/** One run of one workload: set-up (repeated), warm-up, the timed
  * closed loop of one client, then the output checks, untimed. */
final class Run(spark: SparkSession, w: Workload, seed: Long, seconds: Int, traced: Boolean,
                work: Path, sessionS: Double) {
  import Run._
  import spark.implicits._

  private val tracer = new Tracer(traced)
  private val probe = if (traced) Some(new SparkProbe(spark)) else None
  private val rag = new Rag(spark, tracer, work.resolve("corpus").toString, w.dim)
  private val record = new Record
  // operations attempted (set-ups and timed requests), and the keys of
  // those that threw or whose output failed a check
  private var attempted = 0L
  private val failedOps = scala.collection.mutable.Set.empty[String]
  private val failures = ArrayBuffer.empty[String]

  private def fail(op: String, what: String): Unit = {
    failedOps += op
    if (failures.size < 20) failures += s"$op: $what"
  }

  private def check(op: String)(what: => String)(ok: Boolean): Unit = if (!ok) fail(op, what)

  /** Runs one timed request; a throw counts as a failure, never as a
    * fast pass. */
  private def attempt[T](kind: String, key: String)(body: => T): Option[(T, Long)] = {
    attempted += 1
    try Some(tracer.op(kind)(body))
    catch { case NonFatal(e) => fail(key, e.toString); None }
  }

  private var inputs: Inputs = _
  private var firstWarmOp = 0
  // per warm set-up: chunk → store seconds, chunks, index-build seconds,
  // bytes on disk per input text byte
  private val ingestS, ingestChunks, indexS, bytesRatio = ArrayBuffer.empty[Double]

  /** Generates the inputs, writes the uploads, ingests them into a fresh
    * store and builds both indexes. Returns the wall seconds, without
    * the check's. */
  private def setUpOnce(key: String): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    inputs = Inputs.generate(seed, w.sizes)
    val uploads = work.resolve("uploads").toString
    inputs.base.map(u => (u.uploadId, u.text)).toDF("upload_id", "text")
      .write.mode("overwrite").parquet(uploads)
    val t1 = System.nanoTime()
    tracer.op("ingest") { rag.ingest(uploads, stages = traced) }
    val t2 = System.nanoTime()
    if (w.indexes) tracer.op("index_build") { rag.buildIndexes() }
    val t3 = System.nanoTime()
    ingestS += (t2 - t1) / 1e9
    if (w.indexes) indexS += (t3 - t2) / 1e9
    ingestChunks += checkChunkIds(key, inputs.base).toDouble
    bytesRatio += (dirBytes(rag.storePath) + dirBytes(rag.ivfPath) + dirBytes(rag.bm25Path)).toDouble /
      inputs.baseTextBytes
    (t3 - t0) / 1e9
  }

  /** The store holds exactly the chunks the reference's 1000/200 loop
    * yields, with dense ids 0 until n. Returns the stored count. */
  private def checkChunkIds(key: String, uploads: Seq[Upload]): Long = {
    val expected = uploads.map(u => expectedChunks(u.text)).sum
    val r = rag.store.agg(count(lit(1)), countDistinct(col("chunk_id")),
      min(col("chunk_id")), max(col("chunk_id"))).head()
    val n = r.getLong(0)
    check(key)(s"stored $n chunks (${r.getLong(1)} distinct ids, ${r.get(2)}..${r.get(3)}), " +
      s"expected $expected with ids 0..${expected - 1}") {
      n == expected && r.getLong(1) == n && r.getLong(2) == 0L && r.getLong(3) == n - 1
    }
    n
  }

  def go(): Unit = {
    val hashes = ArrayBuffer.empty[String]
    val reps = (1 to SetUps).map { rep =>
      // the first set-up runs cold: ingest figures and layer metrics come
      // from the others
      if (rep == 2) {
        Seq(ingestS, ingestChunks, indexS, bytesRatio).foreach(_.clear())
        firstWarmOp = tracer.ops.size
      }
      val s = setUpOnce(s"setup#$rep")
      hashes += inputs.contentHash
      s
    }
    check("setup#1")(s"the same seed generated different inputs: ${hashes.distinct}") {
      hashes.distinct.size == 1
    }
    record.put("input_sha256", inputs.contentHash)
    val t0 = System.nanoTime()
    warmUp()
    val warmS = (System.nanoTime() - t0) / 1e9
    val gc0 = gcNs
    val opP50 = w.name match {
      case "ask" => runAsk()
      case "ask_batch" => runBatch()
    }
    val gcLoop = gcNs - gc0
    // each collection also takes what Spark's cleaner released after
    // the one before
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    record.metric("setup_s", sessionS + median(reps) + warmS, "s")
    record.metric("session_start_s", sessionS, "s")
    record.metric("setup_once_s", median(reps), "s", samples(reps))
    record.metric("warm_up_s", warmS, "s")
    record.metric("ingest_chunks_per_s", ingestChunks.sum / ingestS.sum, "chunks/s")
    if (w.indexes) record.metric("index_build_s", median(indexS.toSeq), "s", samples(indexS.toSeq))
    record.metric("store_bytes_per_text_byte", median(bytesRatio.toSeq), "ratio")
    record.metric("op_p50_ms", opP50, "ms")
    record.metric("heap_retained_mb", heapMb, "MiB")
    record.metric("failed_ratio", failedOps.size.toDouble / attempted, "fraction")
    record.put("failures", failures.map(jsonString).mkString("[", ",", "]"), raw = true)
    probe.foreach { p =>
      p.settle()
      new LayerReport(tracer, p, record, firstWarmOp, rag, median(ingestChunks.toSeq), gcLoop).report()
      p.close()
    }
    if (traced) Files.write(work.resolve("spans.jsonl"),
      tracer.jsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    record.write(work, attempted, failedOps.size, traced)
  }

  private def gcNs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum * 1000000L

  /** Sends `WarmUps` of the timed loop's requests, on warm-up questions,
    * so that the JIT has compiled the request path before timing starts.
    * A count, not a time: every run starts timing with the same work
    * behind it. */
  private def warmUp(): Unit = {
    val qs = inputs.warmUp.iterator
    (1 to WarmUps).foreach { _ =>
      w.name match {
        case "ask_batch" => rag.batch(Vector.fill(w.sizes.batchQuestions)(qs.next())): Unit
        case "ask" =>
          val q = qs.next()
          Seq(rag.knn(q), rag.ivf(q), rag.bm25(q)).foreach(rag.answer(q, _))
      }
    }
  }

  private def deadline: Long = System.nanoTime() + seconds * 1000000000L

  /** `ask`: one closed-loop client asks the schedule's questions in turn,
    * each on all three retrieval paths in a seed-rotated order, each
    * answer collected through context, prompt and answerer. Returns the
    * median time to answer one question on the three paths. */
  private def runAsk(): Double = {
    val paths = {
      val all = Vector("knn", "ivf", "bm25"); val r = (seed % 3).toInt
      all.drop(r) ++ all.take(r)
    }
    val answers = ArrayBuffer.empty[Asked]
    val lat = LinkedHashMap(paths.map(_ -> ArrayBuffer.empty[Double]): _*)
    val questionMs = ArrayBuffer.empty[Double]
    val end = deadline
    var qi = 0
    while (System.nanoTime() < end && qi < inputs.questions.size) {
      val q = inputs.questions(qi)
      var qMs = 0.0
      paths.foreach { p =>
        val key = s"ask_$p#$qi"
        val ms = attempt(s"ask_$p", key) {
          val hits = p match {
            case "knn" => rag.knn(q)
            case "ivf" => rag.ivf(q)
            case "bm25" => rag.bm25(q)
          }
          rag.answer(q, hits)
        }.fold(Failed) { case (ans, ns) => answers += Asked(key, q, p, ans); ns / 1e6 }
        lat(p) += ms; qMs += ms
      }
      questionMs += qMs
      qi += 1
    }
    lat.foreach { case (p, xs) => record.latency(s"ask_${p}_p50_ms", s"ask_${p}_tail_ms", xs.toSeq) }
    record.latency("question_p50_ms", "question_tail_ms", questionMs.toSeq)
    record.metric("repeated_question_share",
      1.0 - inputs.questions.take(qi).distinct.size.toDouble / qi, "fraction")
    checkAnswers(answers.toSeq)
    median(questionMs.toSeq)
  }

  /** `ask_batch`: batches of distinct questions through the similarity
    * join, per-question contexts and prompts, until the deadline.
    * Returns the median time of one batch. */
  private def runBatch(): Double = {
    val end = deadline
    val batchMs = ArrayBuffer.empty[Double]
    val results = ArrayBuffer.empty[(String, Vector[String], Array[Row], Array[Row])]
    var b = 0
    while (System.nanoTime() < end && b < inputs.batches.size) {
      val qs = inputs.batches(b)
      val key = s"batch#$b"
      batchMs += attempt("batch", key)(rag.batch(qs)).fold(Failed) { case ((top, prompts), ns) =>
        results += ((key, qs, top, prompts)); ns / 1e6
      }
      b += 1
    }
    val questions = batchMs.size * w.sizes.batchQuestions
    record.metric("batch_questions_per_s", questions / (batchMs.sum / 1000), "questions/s",
      samples(batchMs.toSeq))
    record.latency("batch_p50_ms", "batch_tail_ms", batchMs.toSeq)
    checkBatches(results.toSeq)
    median(batchMs.toSeq)
  }

  // ---- output checks: untimed, every failure counted -----------------

  private lazy val vectors: Vector[(Long, Array[Double])] =
    rag.store.select("chunk_id", "embedding").as[(Long, Array[Double])].collect().toVector

  /** The benchmark's own exact top-k over the stored vectors, in the
    * engine's order (score rounded to 6 places DESC, id ASC). */
  private def exactTop(question: String, k: Int): Vector[(Long, Double)] = {
    val q = Featurizer.featurizeText(question, w.dim)
    vectors.map { case (id, v) => id -> round6(cosine(v, q)) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
  }

  private def checkAnswers(answers: Seq[Asked]): Unit = {
    val exact = scala.collection.mutable.Map.empty[String, Vector[(Long, Double)]]
    def exactFor(q: String) = exact.getOrElseUpdate(q, exactTop(q, K + 1))
    answers.foreach { a =>
      check(a.key)(s"'${a.question}': prompt does not carry the top-$K in rank order") {
        a.answer.hits.size == K && a.answer.prompt == expectedPrompt(a.question, a.answer.hits)
      }
      if (a.path == "knn")
        check(a.key)(s"'${a.question}' returned ${a.answer.hits.map(_.id)}, " +
          s"exact ${exactFor(a.question).map(_._1)}") {
          validTopK(a.answer.hits.map(h => h.id -> h.score), exactFor(a.question))
        }
    }
    // BM25 index ≡ in-memory BM25 over the stored chunks, on a sample
    answers.filter(_.path == "bm25").map(a => a.question -> a).toMap.values.toSeq
      .sortBy(_.question).take(Bm25Checks).foreach { a =>
        val ref = Lexical.bm25TopK(rag.store, "text", "chunk_id", a.question.split(" ").toSeq, K + 1)
          .select("chunk_id", "score").as[(Long, Double)].collect().toVector
        check(a.key)(s"'${a.question}' returned ${a.answer.hits.map(_.id)}, " +
          s"bm25TopK ${ref.map(_._1)}")(validTopK(a.answer.hits.map(h => h.id -> h.score), ref))
      }
    // IVF recall over a fixed set of distinct questions, so that it
    // repeats exactly for a seed however many questions the loop asked
    val ivfHits = answers.filter(_.path == "ivf").map(a => a.question -> a.answer.hits.map(_.id)).toMap
    val recall = inputs.questions.distinct.take(RecallQuestions).map { q =>
      val got = ivfHits.getOrElse(q, rag.ivf(q).map(_.id)).toSet
      got.intersect(exactFor(q).take(K).map(_._1).toSet).size.toDouble / K
    }
    record.metric("ivf_recall_at_5", recall.sum / recall.size, "fraction",
      s""","questions":${recall.size}""")
  }

  private def checkBatches(results: Seq[(String, Vector[String], Array[Row], Array[Row])]): Unit =
    results.zipWithIndex.foreach { case ((key, qs, top, prompts), bi) =>
      val byQid = top.groupBy(_.getLong(0)).map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(4)).map(r => Hit(r.getLong(1), r.getString(2), r.getDouble(3))).toVector
      }
      check(key)(s"${byQid.size} qids with a top-$K, expected ${qs.size}") {
        byQid.size == qs.size && byQid.values.forall(_.size == K)
      }
      prompts.foreach { r =>
        val qid = r.getLong(0)
        check(key)(s"qid $qid: prompt does not carry the top-$K in rank order") {
          r.getString(1) == expectedPrompt(qs(qid.toInt), byQid.getOrElse(qid, Vector.empty))
        }
      }
      // a sample of qids must match single-question knn
      if (bi < BatchCheckBatches) (0 until BatchCheckQids).foreach { j =>
        val qid = ((seed + j * 7919L) % qs.size).toInt
        val single = Search.knn(rag.store, Featurizer.queryFrame(spark, qs(qid), w.dim).select("qvec"),
          K, "chunk_id", "embedding").select("chunk_id", "sim").as[(Long, Double)].collect().toVector
        val batch = byQid.getOrElse(qid.toLong, Vector.empty).map(h => h.id -> h.score)
        check(key)(s"qid $qid: $batch differs from knn $single")(single == batch)
      }
    }
}

/** One answered question. */
final case class Asked(key: String, question: String, path: String, answer: Answer)

object Run {
  val K = Rag.K
  /** Set-up runs this many times; `setup_s` takes the median. */
  val SetUps = 3
  val WarmUps = 6
  /** The latency a failed request counts with: it misses every limit. */
  val Failed = Double.PositiveInfinity
  val RecallQuestions = 5
  val Bm25Checks = 1
  val BatchCheckBatches = 1
  val BatchCheckQids = 2
  /** Score tolerance of the checks: two units in the 6th decimal place,
    * where the engine rounds. */
  val Tol = 2e-6

  def samples(xs: Seq[Double]): String = s""","samples":${xs.size}"""

  /** Chunks the reference's loop keeps: windows of 1000 at stride 800,
    * whitespace-only windows dropped. */
  def expectedChunks(text: String): Long =
    (0 until text.length by (Rag.ChunkSize - Rag.ChunkOverlap))
      .count(i => text.substring(i, math.min(text.length, i + Rag.ChunkSize)).trim.nonEmpty).toLong

  /** The reference's prompt template, written out independently of the
    * engine's. */
  def expectedPrompt(question: String, hits: Vector[Hit]): String =
    "Based on the following context, please provide a comprehensive answer to the user's " +
      "question. If the context does not contain the answer, state that you cannot find the " +
      s"answer in the provided document.\n\nContext:\n---\n${hits.map(_.text).mkString("\n---\n")}" +
      s"\n---\n\nQuestion: $question\n"

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `got` is a correct top-k against `ref`, the reference ranking with
    * k+1 rows so that a tie at rank k shows: the scores at every rank
    * agree within `Tol`, and an id may differ from the reference's only
    * where the reference's scores tie within `Tol` across that rank. */
  def validTopK(got: Vector[(Long, Double)], ref: Vector[(Long, Double)]): Boolean = {
    val k = math.min(K, ref.size)
    got.size == k && got.map(_._1).distinct.size == k && got.indices.forall { i =>
      val (gid, gs) = got(i); val (rid, rs) = ref(i)
      def tiedWith(j: Int) = j >= 0 && j < ref.size && math.abs(ref(j)._2 - rs) <= Tol
      math.abs(gs - rs) <= Tol && (gid == rid || tiedWith(i - 1) || tiedWith(i + 1))
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def walk[T](path: String)(f: java.util.stream.Stream[Path] => T): Option[T] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else { val s = Files.walk(p); try Some(f(s)) finally s.close() }
  }

  /** Bytes of every file under `path`. */
  def dirBytes(path: String): Long =
    walk(path)(_.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()).getOrElse(0L)

  /** Parquet data files under `path`. */
  def dirFiles(path: String): Long =
    walk(path)(_.filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
      .count()).getOrElse(0L)

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
