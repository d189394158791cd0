package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

/** One uploaded file: an id and its extracted text. */
final case class Upload(uploadId: Long, text: String)

/** Everything a workload feeds the engine, derived from one seed.
  *
  * @param base      uploads ingested in set-up: the corpus asks run against
  * @param questions the closed-loop ask schedule, repeats included
  * @param batches   `ask_batch` question batches, distinct within a batch
  * @param warmUp    questions asked before timing starts, none of them in
  *                  the timed schedule
  */
final case class Inputs(base: Vector[Upload], questions: Vector[String],
                        batches: Vector[Vector[String]], warmUp: Vector[String]) {

  /** SHA-256 over every generated byte, in a fixed order: equal seeds
    * must give equal hashes. */
  lazy val contentHash: String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = { md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte) }
    def putUploads(us: Seq[Upload]): Unit = us.foreach { u => put(u.uploadId.toString); put(u.text) }
    putUploads(base)
    questions.foreach(put); batches.foreach(_.foreach(put)); warmUp.foreach(put)
    md.digest().map("%02x".format(_)).mkString
  }

  def baseTextBytes: Long = base.map(_.text.getBytes(StandardCharsets.UTF_8).length.toLong).sum
}

/** Seeded input generator. Documents follow the word profile of the
  * engine's synthetic `documents` test table: words drawn uniformly from
  * its 30-word vocabulary, 10 to 99 words per document. An upload joins
  * `DocsPerUpload` documents. The corpus is `replicas` copies of one set
  * of uploads; each copy prefixes every document with its own seeded
  * token, so copies differ in content, in their vectors and in their
  * BM25 postings. Questions draw their words from the corpus vocabulary,
  * tokens included. Every draw comes from a `SplittableRandom` split off
  * the seed for one purpose, so changing one size leaves the other
  * inputs as they were.
  */
object Inputs {

  val Vocab: Vector[String] = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  val DocsPerUpload = 40
  val QuestionWords = 6
  val WarmUpQuestions = 512 // Run.WarmUps batches of up to 64
  /** Share of the ask schedule that repeats an earlier question. */
  val RepeatShare = 1.0 / 3

  private def doc(rng: SplittableRandom): String =
    Vector.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")

  /** Six lowercase letters starting with `r`: no vocabulary word does. */
  private def token(rng: SplittableRandom): String =
    "r" + (0 until 5).map(_ => ('a' + rng.nextInt(26)).toChar).mkString

  /** Zipf(1) draw of a rank in 0 until n. */
  private def zipf(rng: SplittableRandom, n: Int): Int = {
    val h = (1 to n).map(1.0 / _).sum
    var u = rng.nextDouble() * h
    var r = 0
    while (r < n - 1 && u >= 1.0 / (r + 1)) { u -= 1.0 / (r + 1); r += 1 }
    r
  }

  def generate(seed: Long, sizes: Sizes): Inputs = {
    val root = new SplittableRandom(seed)
    val tokRng = root.split(); val baseRng = root.split()
    val askRng = root.split(); val batchRng = root.split(); val warmRng = root.split()
    val tokens = Iterator.continually(token(tokRng)).distinct.take(sizes.replicas).toVector
    val docs = Vector.fill(sizes.baseUploads / sizes.replicas, DocsPerUpload)(doc(baseRng))
    val base = for ((tok, r) <- tokens.zipWithIndex; (ds, u) <- docs.zipWithIndex)
      yield Upload(r.toLong * docs.size + u, ds.map(d => s"$tok $d").mkString(" "))
    val words = Vocab ++ tokens
    def question(rng: SplittableRandom): String =
      Vector.fill(QuestionWords)(words(rng.nextInt(words.size))).mkString(" ")
    // closed-loop schedule: a new question, or (RepeatShare of the time)
    // a Zipf-ranked repeat of one asked before
    val asked = scala.collection.mutable.ArrayBuffer.empty[String]
    val questions = Vector.fill(sizes.questions) {
      if (asked.nonEmpty && askRng.nextDouble() < RepeatShare) asked(zipf(askRng, asked.size))
      else { val q = question(askRng); asked += q; q }
    }
    val batches = Vector.fill(sizes.batches) {
      val b = scala.collection.mutable.LinkedHashSet.empty[String]
      while (b.size < sizes.batchQuestions) b += question(batchRng)
      b.toVector
    }
    val timed = (questions ++ batches.flatten).toSet
    val warmUp = Iterator.continually(question(warmRng)).filterNot(timed).distinct
      .take(WarmUpQuestions).toVector
    Inputs(base, questions, batches, warmUp)
  }
}

/** Input sizes of one workload: corpus replicas (one token each), base
  * uploads, questions in the ask schedule, and batches of
  * `batchQuestions` questions. Schedules are generated longer than a run
  * can use; a run stops at its deadline. */
final case class Sizes(replicas: Int, baseUploads: Int, questions: Int = 0, batches: Int = 0,
                       batchQuestions: Int = 0)
