package perfbench

/** Per-layer metrics of a traced run, from the spans recorded around
  * each call into an engine module and from Spark's own events. Only
  * operations from `firstOp` on count. A metric of
  * a layer the workload does not use reads 0, so every workload reports
  * the same names. `_s` and `_ms` metrics are medians per call of the
  * span's self time; `_per_op` metrics are means per operation. Warm
  * set-up builds count too (`firstOp` is the first operation after the
  * cold one), so the ingest and index-build layers show on every
  * workload. */
final class LayerReport(tracer: Tracer, probe: SparkProbe, record: Record, firstOp: Int,
                        rag: Rag, chunksPerIngest: Double, gcNs: Long) {
  import LayerReport._

  private val ops = tracer.ops.filter(_.id >= firstOp).toSeq
  private val self = tracer.selfNs
  private val spans = tracer.spans.filter(_.op >= firstOp).toSeq

  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Run.median(xs)
  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median self time, in `scale` ns units, of the spans called `name`. */
  private def selfOf(name: String, scale: Double): Double =
    med(spans.filter(_.name == name).map(s => self(s.id) / scale))

  def report(): Unit = {
    def put(name: String, v: Double, unit: String) = record.metric(name, v, unit)
    // the ingest chain is materialized piece by piece (Rag.ingest): the
    // chunks, the chunks with vectors, the chunks with ids, then the full
    // rows before the store writes them. A stage's cost is its increment
    // over the piece it extends; the store write comes after
    // withOrdinalIds has cached its per-upload table, like the full rows.
    val chains = spans.filter(s => ChainSpans(s.name)).groupBy(_.op).values.toSeq
      .map(_.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.durNs).min / 1e9 })
    def increment(stage: String, over: Option[String]): Double =
      med(chains.flatMap(d => d.get(stage).map(_ - over.fold(0.0)(d.getOrElse(_, 0.0)))))
    put("text.chunk_s", increment("text.chunk", None), "s")
    put("text.ordinal_ids_s", increment("text.ordinal_ids", Some("text.chunk")), "s")
    put("embed.featurize_s", increment("embed.featurize", Some("text.chunk")), "s")
    put("store.write_s", increment("store.write", Some("ingest.rows")), "s")
    put("text.chunks", chunksPerIngest, "count")
    put("embed.question_ms", selfOf("embed.question", 1e6), "ms")
    put("store.fetch_ms", selfOf("store.fetch", 1e6), "ms")
    put("store.bytes", Run.dirBytes(rag.storePath).toDouble, "bytes")
    put("store.files", Run.dirFiles(rag.storePath).toDouble, "count")
    put("search.kmeans_s", selfOf("search.kmeans", 1e9), "s")
    put("search.ivf_build_s", selfOf("search.ivf_build", 1e9), "s")
    put("search.bm25_build_s", selfOf("search.bm25_build", 1e9), "s")
    put("search.ivf_index_files", Run.dirFiles(rag.ivfPath).toDouble, "count")
    put("search.bm25_index_files", Run.dirFiles(rag.bm25Path).toDouble, "count")
    Seq("knn", "ivf", "bm25").foreach { p =>
      val asks = ops.filter(_.kind == s"ask_$p")
      put(s"search.${p}_probe_ms", selfOf(s"search.${p}_probe", 1e6), "ms")
      put(s"search.${p}_rows_read_per_ask",
        mean(asks.map(o => probe.jobsIn(o).map(_.inputRecords).sum.toDouble)), "rows")
      if (p != "knn")
        put(s"search.${p}_files_listed_per_ask", mean(asks.map(_.filesListed.toDouble)), "count")
    }
    put("search.simjoin_s", selfOf("search.simjoin", 1e9), "s")
    put("answer.context_prompt_ms", selfOf("answer.context_prompt", 1e6), "ms")
    put("answer.context_batch_s", selfOf("answer.context_batch", 1e9), "s")
    OpKinds.foreach { kind =>
      val os = ops.filter(_.kind == kind)
      val js = os.map(probe.jobsIn)
      put(s"spark.$kind.jobs_per_op", mean(js.map(_.size.toDouble)), "count")
      put(s"spark.$kind.stages_per_op", mean(js.map(_.map(_.stages).sum.toDouble)), "count")
      put(s"spark.$kind.tasks_per_op", mean(js.map(_.map(_.tasks).sum.toDouble)), "count")
      put(s"spark.$kind.planning_ms_per_op",
        mean(os.map(o => probe.planningIn(o).map(_.ms).sum.toDouble)), "ms")
    }
    val jobs = ops.flatMap(probe.jobsIn)
    put("spark.executor_cpu_s", jobs.map(_.cpuNs).sum / 1e9, "s")
    put("spark.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum.toDouble, "bytes")
    put("spark.shuffle_read_bytes", jobs.map(_.shuffleRead).sum.toDouble, "bytes")
    put("spark.spill_bytes", jobs.map(_.spill).sum.toDouble, "bytes")
    put("spark.gc_s", gcNs / 1e9, "s")
    put("trace.spans", spans.size.toDouble, "count")
  }
}

object LayerReport {
  val ChainSpans = Set("text.chunk", "text.ordinal_ids", "embed.featurize", "ingest.rows",
    "store.write")
  val OpKinds = Seq("ingest", "index_build", "ask_knn", "ask_ivf", "ask_bm25", "batch")
}
