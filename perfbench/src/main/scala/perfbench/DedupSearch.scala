package perfbench

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** The shuffle- and CPU-bound operator batch: exact, MinHash and
  * prefix-filtered near-duplicate detection over a Zipf text corpus with
  * planted copies, then a kNN graph and IVF-PQ search over clustered
  * vectors. No queue, JSON or streaming code runs. Its traced run also
  * probes the text index ([[IndexServe]]).
  */
object DedupSearch extends Workload {
  val name = "dedup_search"

  val Originals = 800
  val Planted = 200
  val DocTokens = 100
  val Vocab = 20000
  val Threshold = 0.8
  val Vectors = 500
  val Dim = 64
  val Clusters = 24
  val Spread = 0.35
  val Queries = 64
  val K = 10
  val RecallSample = 25
  /** knnGraph's documented edge recall against the exact graph is about
    * 0.7 on unclustered data; these vectors are clustered, so the floor
    * sits above that.
    */
  val RecallFloor = 0.8

  def sizes: Map[String, Any] = Map(
    "docs" -> (Originals + Planted), "planted" -> Planted,
    "doc_tokens" -> DocTokens, "vocab" -> Vocab, "threshold" -> Threshold,
    "vectors" -> Vectors, "dim" -> Dim, "clusters" -> Clusters,
    "queries" -> Queries, "k" -> K, "recall_sample" -> RecallSample,
    "recall_floor" -> RecallFloor, "text_index_probe" -> IndexServe.sizes)

  private var shingles = Map.empty[Long, Set[String]]
  private var exactCopies = Set.empty[Long]
  private var plantedPairs = Set.empty[(Long, Long)]
  /** Exact top-k edges of the recall sample, from `bruteForceTopK`. */
  private var knnExact = Set.empty[(Long, Long)]

  private def docsPath(ctx: Ctx) = new java.io.File(ctx.inputs, "docs").getAbsolutePath
  private def vecPath(ctx: Ctx) = new java.io.File(ctx.inputs, "vectors").getAbsolutePath
  private def queryPath(ctx: Ctx) = new java.io.File(ctx.inputs, "queries").getAbsolutePath

  def inputPaths(ctx: Ctx): Seq[String] = Seq(docsPath(ctx), vecPath(ctx), queryPath(ctx))

  final case class Inputs(docs: Vector[Corpus.Doc], plants: Vector[Corpus.Planted],
      vectors: Vector[(Long, Array[Double])], queries: Vector[(Long, Array[Double])])

  /** This seed's corpus, vectors and queries; queries share the vectors'
    * cluster centres.
    */
  def inputs(seed: Long): Inputs = {
    val (docs, plants) = Corpus.docs(seed, Originals, Planted, DocTokens, Vocab)
    Inputs(docs, plants,
      Corpus.vectors(seed + 1, seed, Vectors, Dim, Clusters, Spread, 0L),
      Corpus.vectors(seed + 2, seed, Queries, Dim, Clusters, Spread, 1000000L))
  }

  def fingerprint(in: Inputs): String =
    Stats.sha256Hex(name +: (in.docs.map(d => s"${d.id}:${d.text}") ++
      (in.vectors ++ in.queries).map { case (id, v) => s"$id:${v.mkString(",")}" }))

  def generate(ctx: Ctx): String = {
    val spark = ctx.spark
    import spark.implicits._
    val in = inputs(ctx.seed)
    in.docs.map(d => (d.id, d.text)).toDF("id", "text")
      .repartition(ctx.threads).write.parquet(docsPath(ctx))
    in.vectors.toDF("id", "vec").repartition(ctx.threads).write.parquet(vecPath(ctx))
    in.queries.toDF("id", "vec").write.parquet(queryPath(ctx))
    shingles = in.docs.map(d => d.id -> Corpus.shingles(d.text)).toMap
    exactCopies = in.plants.filter(_.substitutions == 0).map(_.id).toSet
    plantedPairs = in.plants.map(p => (p.orig, p.id)).toSet
    fingerprint(in)
  }

  /** The recall sample's exact neighbours, computed once before timing. */
  override def prepare(ctx: Ctx): Unit = {
    val vecs = ctx.spark.read.parquet(vecPath(ctx))
    val sample = vecs.filter(pmod(xxhash64(col("id"), lit(ctx.seed)),
      lit(Vectors / RecallSample)) === 0)
    knnExact = Similarity.bruteForceTopK(vecs, sample, "id", "vec", K).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
  }

  /** The text index, written and served once after the traced rounds. */
  override def probe(ctx: Ctx, scanS: Double): Map[String, Double] =
    IndexServe.probe(ctx)

  private def pairs(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq

  private def badPairs(ps: Seq[(Long, Long)]): Seq[(Long, Long)] =
    ps.filter { case (a, b) =>
      Corpus.jaccard(shingles(a), shingles(b)) < Threshold - 1e-6
    }

  /** Survivors of keepRepresentatives: every id minus all but the lowest of
    * each connected component of the pair graph.
    */
  private def expectedKept(ps: Seq[(Long, Long)]): Long = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    ps.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = ps.flatMap { case (a, b) => Seq(a, b) }.distinct
    shingles.size - (nodes.size - nodes.map(find).distinct.size)
  }

  def round(ctx: Ctx): Round = {
    val spark = ctx.spark
    val docs = spark.read.parquet(docsPath(ctx))
    val t0 = System.nanoTime()

    val (kept, tExact) = ctx.call("operators.dedup.exact") {
      Dedup.exact(docs, "text", "id").select("id").collect().map(_.getLong(0))
    }
    ctx.check("exact dedup drops exactly the planted copies",
      kept.length == shingles.size - exactCopies.size &&
        !kept.exists(exactCopies.contains),
      s"kept ${kept.length} of ${shingles.size}, ${exactCopies.size} planted copies")

    val (mh, tMinhash) = ctx.call("operators.dedup.minhash") {
      Dedup.minhashPairs(docs, "id", "text", Threshold)
    }
    val mhPairs = pairs(mh.collect())
    ctx.check("minhash pairs meet the threshold", badPairs(mhPairs).isEmpty,
      s"${badPairs(mhPairs).size} pairs below $Threshold")
    val (nKept, tKeep) = ctx.call("operators.dedup.keep_reps") {
      Dedup.keepRepresentatives(docs, mh, "id").count()
    }
    ctx.check("keepRepresentatives keeps one per component",
      nKept == expectedKept(mhPairs), s"$nKept != ${expectedKept(mhPairs)}")

    val (pj, tPrefix) = ctx.call("operators.dedup.prefix_join") {
      pairs(Dedup.prefixJaccardPairs(docs, "id", "text", Threshold).collect())
    }
    val pjSet = pj.toSet
    val missed = plantedPairs.filter { case (a, b) =>
      Corpus.jaccard(shingles(a), shingles(b)) >= Threshold && !pjSet((a, b))
    }
    ctx.check("prefix join pairs meet the threshold", badPairs(pj).isEmpty,
      s"${badPairs(pj).size} pairs below $Threshold")
    ctx.check("prefix join finds every planted pair at the threshold",
      missed.isEmpty, s"${missed.size} planted pairs missing")
    val tDedup = tExact + tMinhash + tKeep + tPrefix

    val vecs = spark.read.parquet(vecPath(ctx))
    val (graph, tKnn) = ctx.call("operators.similarity.knn_graph") {
      Similarity.knnGraph(vecs, "id", "vec", K).collect()
        .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    }
    val recall = knnExact.count(graph.toSet).toDouble / math.max(1, knnExact.size)
    ctx.check("knn graph recall@10 meets the floor",
      knnExact.nonEmpty && recall >= RecallFloor, f"recall $recall%.3f < $RecallFloor")

    val (hits, tIvf) = ctx.call("operators.similarity.ivfpq_topk") {
      Similarity.ivfPqTopK(vecs, spark.read.parquet(queryPath(ctx)), "id", "vec", K)
        .collect().map(r => r.getAs[Long]("qid"))
    }
    ctx.check("ivfpq answers every query with k hits",
      hits.length == Queries * K && hits.distinct.length == Queries,
      s"${hits.length} hits for ${hits.distinct.length} queries")
    val wall = (System.nanoTime() - t0) / 1e9
    // cached and checkpointed blocks go before the heap is sampled, so it
    // reads what the round kept, not how far asynchronous unpersists got
    graft.operators.Caching.releaseAllRdds(spark, blocking = true)

    val layers =
      if (!ctx.tr.enabled) Map.empty[String, Double]
      else {
        ctx.tr.drain()
        def obs(group: String) = Option(ctx.tr.observed.get(group))
          .map(_.values.head.asInstanceOf[Long].toDouble).getOrElse(0.0)
        val cand = obs(Dedup.PrefixJoinRawObservation)
        val knnCand = obs(Similarity.KnnGraphCandObservation)
        Map(
          "operators.dedup.exact_s" -> tExact,
          "operators.dedup.minhash_s" -> tMinhash,
          "operators.dedup.keep_reps_s" -> tKeep,
          "operators.dedup.prefix_join_s" -> tPrefix,
          "operators.dedup.prefix_join_candidates" -> cand,
          "operators.dedup.prefix_join_yield" -> pj.size / math.max(1.0, cand),
          "operators.similarity.knn_graph_s" -> tKnn,
          "operators.similarity.knn_candidates" -> knnCand,
          "operators.similarity.knn_yield" -> graph.length / math.max(1.0, knnCand),
          "operators.similarity.ivfpq_topk_s" -> tIvf)
      }
    Round(wall, shingles.size.toDouble, tDedup, (Vectors + Queries).toDouble,
      tKnn + tIvf,
      Map("exact_s" -> Seq(tExact), "minhash_s" -> Seq(tMinhash),
        "keep_reps_s" -> Seq(tKeep), "prefix_join_s" -> Seq(tPrefix),
        "knn_graph_s" -> Seq(tKnn), "ivfpq_topk_s" -> Seq(tIvf)),
      layers)
  }
}
