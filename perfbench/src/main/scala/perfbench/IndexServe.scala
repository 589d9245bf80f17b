package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.TextAnalysis

/** The persisted text index used for writes beside reads: init, appends
  * each followed by serving calls from one closed-loop client, one
  * compaction, then more serving. Every serving call is checked against a
  * from-scratch BM25 over the documents appended so far.
  *
  * It runs as a layer probe of dedup_search's traced run, not as a
  * workload of its own: a round takes about 8 s, so a run short enough
  * for the benchmark's budget would time only one or two of them.
  */
object IndexServe {
  val name = "index_serve"

  val Batches = 2
  val BatchDocs = 1000
  val DocTokens = 100
  val Vocab = 20000
  val QueriesPerCall = 8
  val QueryTokens = 4
  val CallsPerAppend = 1
  val CallsAfterCompact = 2
  val K = 10

  def sizes: Map[String, Any] = Map(
    "batches" -> Batches, "batch_docs" -> BatchDocs, "doc_tokens" -> DocTokens,
    "vocab" -> Vocab, "queries_per_call" -> QueriesPerCall,
    "query_tokens" -> QueryTokens, "calls_per_append" -> CallsPerAppend,
    "calls_after_compact" -> CallsAfterCompact, "k" -> K, "clients" -> 1)

  /** Query batches, one per serving call of a round, in call order. */
  private var queries = Vector.empty[Seq[(Long, String)]]
  /** BM25 from scratch over the first `n` batches, for every query: the
    * answer each serving call is checked against, keyed by `n`.
    */
  private var expected = Map.empty[Int, Set[(Long, Long, Long, Double)]]

  private def batchPath(ctx: Ctx, b: Int) =
    new java.io.File(ctx.inputs, s"batch-$b").getAbsolutePath

  /** This seed's documents and, per serving call, its query batch; each
    * query is a few consecutive words of a random document. The draws use a
    * seed slice of their own, apart from dedup_search's.
    */
  def inputs(seed: Long): (Vector[Corpus.Doc], Vector[Seq[(Long, String)]]) = {
    val s = seed * 7919 + 17
    val (docs, _) = Corpus.docs(s, Batches * BatchDocs, 0, DocTokens, Vocab)
    val rng = new scala.util.Random(s + 1)
    val calls = Batches * CallsPerAppend + CallsAfterCompact
    val qs = Vector.tabulate(calls) { c =>
      (0 until QueriesPerCall).map { j =>
        val toks = docs(rng.nextInt(docs.size)).text.split(' ')
        val at = rng.nextInt(DocTokens - QueryTokens)
        ((c * QueriesPerCall + j).toLong, toks.slice(at, at + QueryTokens).mkString(" "))
      }
    }
    (docs, qs)
  }

  def fingerprint(docs: Vector[Corpus.Doc], qs: Vector[Seq[(Long, String)]]): String =
    Stats.sha256Hex(name +: (docs.map(d => s"${d.id}:${d.text}") ++
      qs.flatten.map { case (q, t) => s"$q:$t" }))

  def generate(ctx: Ctx): String = {
    val spark = ctx.spark
    import spark.implicits._
    val (docs, qs) = inputs(ctx.seed)
    docs.grouped(BatchDocs).zipWithIndex.foreach { case (b, i) =>
      b.map(d => (d.id, d.text)).toDF("id", "text").repartition(ctx.threads)
        .write.parquet(batchPath(ctx, i))
    }
    queries = qs
    fingerprint(docs, qs)
  }

  private def asRows(rows: Array[Row]): Set[(Long, Long, Long, Double)] =
    rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rank"),
      r.getAs[Long]("id"), r.getAs[Double]("score"))).toSet

  /** The from-scratch answers, computed once before timing. */
  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val qdf = queries.flatten.toDF("qid", "text")
    expected = (1 to Batches).map { n =>
      val docs = spark.read.parquet((0 until n).map(batchPath(ctx, _)): _*)
      n -> asRows(TextAnalysis.bm25TopK(docs, qdf, "id", "text", "qid", "text", K)
        .collect())
    }.toMap
  }

  /** The `operators.textindex.*` numbers of one traced round, after this
    * seed's inputs are written and an untimed warm-up of one batch and one
    * serving call each side of compaction (every plan shape, once). Output
    * checks count in `ctx.tally` as in any round.
    */
  def probe(ctx: Ctx): Map[String, Double] = {
    generate(ctx)
    prepare(ctx)
    // spans are matched to a round by number, so the warm-up gets its own
    ctx.tr.round += 1
    run(ctx, 1, 1, 1).cleanup()
    ctx.tr.round += 1
    val r = run(ctx, Batches, CallsPerAppend, CallsAfterCompact)
    r.cleanup()
    r.layers
  }

  private def run(ctx: Ctx, batches: Int, callsPerAppend: Int,
      callsAfterCompact: Int): Round = {
    val spark = ctx.spark
    import spark.implicits._
    val path = ctx.scratch("index")
    var call = 0
    val appendS, serveS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val files, bytes, servedFiles, servedBytes =
      scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()

    /** Serve `calls` query batches; returns the rows served and the queries
      * asked, for a check outside the timed calls.
      */
    def serve(calls: Int): (Set[(Long, Long, Long, Double)], Seq[(Long, String)]) = {
      val served = (0 until calls).flatMap { _ =>
        val qdf = queries(call).toDF("qid", "text")
        call += 1
        val ((rows, out), t) = ctx.call("operators.textindex.serve") {
          val out = TextAnalysis.queryTextIndex(qdf, "qid", "text", path, "id", K)
          (out.collect(), out)
        }
        serveS += t
        if (ctx.tr.enabled) {
          val scans = ScanMetrics.fileScans(out.queryExecution.executedPlan)
          servedFiles += scans.map(_._1).sum.toDouble
          servedBytes += scans.map(_._2).sum.toDouble
        }
        asRows(rows)
      }.toSet
      (served, queries.slice(call - calls, call).flatten)
    }

    /** Served rows = BM25 from scratch over the first `appended` batches. */
    def check(appended: Int, served: (Set[(Long, Long, Long, Double)], Seq[(Long, String)])): Unit = {
      val asked = served._2.map(_._1).toSet
      val want = expected(appended).filter(r => asked(r._1))
      ctx.check(s"serving over $appended batches = bm25 from scratch",
        served._1 == want, s"${served._1.size} served rows vs ${want.size}")
    }

    val (_, tInit) = ctx.call("operators.textindex.init") {
      TextAnalysis.initTextIndex(spark, path)
    }
    val last = (0 until batches).map { b =>
      val batch: DataFrame = spark.read.parquet(batchPath(ctx, b))
      val (_, t) = ctx.call("operators.textindex.append") {
        TextAnalysis.appendToTextIndex(batch, "id", "text", path, b.toLong)
      }
      appendS += t
      if (ctx.tr.enabled) {
        val seg = new java.io.File(s"$path/seg/batch=$b")
        val written = Files.under(seg).filter(_.getName.endsWith(".parquet"))
        files += written.size.toDouble
        bytes += written.map(_.length).sum.toDouble
      }
      val served = serve(callsPerAppend)
      if (b < batches - 1) check(b + 1, served)
      served
    }.last
    val before = Files.under(new java.io.File(s"$path/seg")).map(_.length).sum
    val (_, tCompact) = ctx.call("operators.textindex.compact") {
      TextAnalysis.compactTextIndex(spark, path)
    }
    // compaction keeps the document set, so one from-scratch BM25 checks
    // the calls served before and after it
    val after = serve(callsAfterCompact)
    check(batches, (last._1 ++ after._1, last._2 ++ after._2))
    val wall = (System.nanoTime() - t0) / 1e9

    val layers =
      if (!ctx.tr.enabled) Map.empty[String, Double]
      else {
        ctx.tr.drain()
        val mine = ctx.tr.all.filter(_.round == ctx.tr.round)
        val appends = mine.filter(_.name == "operators.textindex.append")
        val serves = mine.filter(_.name == "operators.textindex.serve")
        val segments = new java.io.File(s"$path/seg").listFiles()
          .count(_.getName.startsWith("batch="))
        Map(
          "operators.textindex.append_s" -> Stats.median(appendS.toSeq),
          "operators.textindex.files_written_per_append" -> Stats.median(files.toSeq),
          "operators.textindex.bytes_written_per_append" -> Stats.median(bytes.toSeq),
          "operators.textindex.write_tasks_per_append" ->
            Stats.median(appends.map(s => ctx.tr.sum(s)(_.writeTasks.get).toDouble)),
          "operators.textindex.compact_s" -> tCompact,
          "operators.textindex.compact_bytes_rewritten" -> before.toDouble,
          "operators.textindex.segments" -> segments.toDouble,
          "operators.textindex.serve_s" -> Stats.median(serveS.toSeq),
          "operators.textindex.serve_jobs_per_call" ->
            Stats.median(serves.map(s => ctx.tr.sum(s)(_.jobs.get).toDouble)),
          "operators.textindex.serve_files_read_per_call" -> Stats.median(servedFiles.toSeq),
          "operators.textindex.serve_bytes_read_per_call" -> Stats.median(servedBytes.toSeq),
          "operators.textindex.serve_driver_only_s" ->
            Stats.median(serves.map(ctx.tr.driverOnlySeconds)))
      }
    Round(wall, (batches * BatchDocs).toDouble, appendS.sum,
      (call * QueriesPerCall).toDouble, serveS.sum,
      Map("init_s" -> Seq(tInit), "append_s" -> appendS.toSeq,
        "serve_s" -> serveS.toSeq, "compact_s" -> Seq(tCompact)),
      layers, () => Checks.deleteRecursively(new java.io.File(path)))
  }
}

object Files {
  def under(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(under)
    else if (f.isFile) Seq(f) else Nil
}
