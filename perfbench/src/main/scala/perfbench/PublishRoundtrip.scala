package perfbench

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Record
import graft.pipeline._
import graft.streaming.{IdempotentSink, StreamPublisher}

/** Send counters of [[TimedClient]]. Executors share the driver JVM under
  * local[n], so a static tally sees every task.
  */
object SendStats {
  val calls, messages, failedMessages, nanos = new LongAdder
  def reset(): Unit = Seq(calls, messages, failedMessages, nanos).foreach(_.reset())
}

/** Benchmark-owned wrapper that times `QueueClient.send` from outside. */
final class TimedClient(inner: QueueClient) extends QueueClient {
  override def maxBatchSize: Int = inner.maxBatchSize
  override def send(batch: Seq[QueueMessage]): BatchSendResult = {
    val t0 = System.nanoTime()
    val r = inner.send(batch)
    SendStats.nanos.add(System.nanoTime() - t0)
    SendStats.calls.increment()
    SendStats.messages.add(batch.size)
    SendStats.failedMessages.add(r.failedIds.size)
    r
  }
}

/** The reference's own job: a generated `Record` file published through a
  * faulty queue client, its dead letters written and redriven, and the
  * queue consumed back into the idempotent sink.
  */
object PublishRoundtrip extends Workload {
  val name = "publish_roundtrip"

  /** Size target for `DataGenerator.writeSized`; the reference's is 1 GiB. */
  val TargetBytes: Long = 16L << 20
  val BatchRows = 4000L
  val PoisonPerMille = 1
  val TransientPerMille = 10
  val TransientFailures = 2
  val MicroBatches = 10

  def sizes: Map[String, Any] = Map(
    "target_bytes" -> TargetBytes, "generator_batch_rows" -> BatchRows,
    "poison_per_mille" -> PoisonPerMille,
    "transient_per_mille" -> TransientPerMille,
    "transient_failures" -> TransientFailures,
    "micro_batches" -> MicroBatches, "records" -> n)

  private val schema = Encoders.product[Record].schema
  private var n = 0L
  private var source: (Long, BigDecimal) = (0L, BigDecimal(0))
  private var poison = Set.empty[String]
  private var transient = Map.empty[String, Int]
  private var round = 0

  private def recordPath(ctx: Ctx) = new java.io.File(ctx.inputs, "records").getAbsolutePath

  def inputPaths(ctx: Ctx): Seq[String] = Seq(recordPath(ctx))

  def generate(ctx: Ctx): String = {
    n = graft.sources.DataGenerator.writeSized(ctx.spark, recordPath(ctx),
      TargetBytes, BatchRows, ctx.seed)
    source = Checks.checksum(ctx.spark.read.parquet(recordPath(ctx)))
    Stats.sha256Hex(Seq(name, n.toString, source._1.toString, source._2.toString))
  }

  /** Fault sets picked by seeded hash of the record id. */
  override def prepare(ctx: Ctx): Unit = {
    val ids = ctx.spark.read.parquet(recordPath(ctx)).select(col("id"))
    def pick(salt: Long, perMille: Int) =
      ids.filter(pmod(xxhash64(col("id"), lit(ctx.seed + salt)), lit(1000)) < perMille)
        .collect().map(_.getString(0)).toSet
    poison = pick(1, PoisonPerMille)
    transient = (pick(2, TransientPerMille) -- poison)
      .map(_ -> TransientFailures).toMap
  }

  private def client(ctx: Ctx, q: String, faulty: Boolean): QueueClient = {
    val c =
      if (faulty) new InMemoryQueueClient(q, transient, poison)
      else new InMemoryQueueClient(q)
    if (ctx.tr.enabled) new TimedClient(c) else c
  }

  def round(ctx: Ctx): Round = {
    val spark = ctx.spark
    import spark.implicits._
    round += 1
    val q = s"perfbench-${ctx.tr.runId}-$round"
    val dlq = ctx.scratch("dlq")
    val sink = ctx.scratch("sink")
    val ckpt = ctx.scratch("checkpoint")
    val metrics = new PublishMetricsListener
    if (ctx.tr.enabled) {
      spark.listenerManager.register(metrics)
      SendStats.reset()
    }
    val t0 = System.nanoTime()

    val (res, tPub) = ctx.call("pipeline.publish") {
      Publisher.publish(spark, Publisher.PublishRequest(Seq(recordPath(ctx))),
        client(ctx, q, faulty = true))
    }
    ctx.check("published + dead-lettered = N",
      res.publishedRows + res.failedRows == n,
      s"${res.publishedRows} + ${res.failedRows} != $n")
    val dead = res.deadLetters.map(_.id)
    ctx.check("dead letters = poison set",
      dead.size == poison.size && dead.toSet == poison,
      s"${dead.size} dead letters, ${poison.size} poison ids")

    val (_, tDlq) = ctx.call("pipeline.dlq_write") {
      res.deadLetters.toDS().write.parquet(dlq)
    }
    val (left, tRedrive) = ctx.call("pipeline.redrive") {
      StreamPublisher.redrive(spark, dlq, client(ctx, q, faulty = false)).collect()
    }
    ctx.check("redrive leaves nothing", left.isEmpty, s"${left.length} still failing")
    ctx.check("queue holds N", InMemoryQueue.size(q) == n,
      s"${InMemoryQueue.size(q)} != $n")

    val (query, tConsume) = ctx.call("streaming.consume") {
      val stream = spark.readStream.format("graft-queue")
        .option("queue", q)
        .option("maxMessagesPerTrigger", math.ceil(n.toDouble / MicroBatches).toLong)
        .load()
        .select(from_json(col("body"), schema).as("r")).select("r.*")
      val s = IdempotentSink.start(stream, sink, ckpt)
      s.awaitTermination()
      s
    }
    val landed = Checks.checksum(
      spark.read.parquet(sink).select(schema.fieldNames.toSeq.map(col): _*))
    ctx.check("sink checksum = source checksum", landed == source,
      s"sink $landed vs source $source")
    val wall = (System.nanoTime() - t0) / 1e9

    val layers =
      if (!ctx.tr.enabled) Map.empty[String, Double]
      else traced(ctx, q, res.failedRows, tRedrive, query, metrics)
    Round(wall, n.toDouble, tPub, n.toDouble, tConsume,
      Map("publish_s" -> Seq(tPub), "dlq_write_s" -> Seq(tDlq),
        "redrive_s" -> Seq(tRedrive), "consume_s" -> Seq(tConsume)),
      layers, { () =>
        InMemoryQueue.clear(q)
        Seq(dlq, sink, ckpt).foreach(p => Checks.deleteRecursively(new java.io.File(p)))
      })
  }

  private def traced(ctx: Ctx, q: String, deadLetters: Long, tRedrive: Double,
      query: StreamingQuery, metrics: PublishMetricsListener): Map[String, Double] = {
    val (_, jsonBytes) = metrics.await()
    ctx.spark.listenerManager.unregister(metrics)
    ctx.tr.drain()
    val delivered = SendStats.messages.sum - SendStats.failedMessages.sum
    val batches = query.recentProgress.filter(_.numInputRows > 0).toSeq
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def p50(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
      if (batches.isEmpty) 0.0 else Stats.median(batches.map(f))
    val consume = ctx.tr.all.filter(s => s.name == "streaming.consume" &&
      s.round == ctx.tr.round).last
    Map(
      "pipeline.json_bytes" -> jsonBytes.toDouble,
      "pipeline.send_calls" -> SendStats.calls.sum.toDouble,
      "pipeline.send_s" -> SendStats.nanos.sum / 1e9,
      "pipeline.batch_fill" -> SendStats.messages.sum.toDouble /
        (SendStats.calls.sum * new InMemoryQueueClient(q).maxBatchSize),
      "pipeline.send_attempts_per_delivered" ->
        SendStats.messages.sum.toDouble / delivered,
      "pipeline.dead_letters" -> deadLetters.toDouble,
      "pipeline.redrive_s" -> tRedrive,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.rows_per_batch" ->
        batches.map(_.numInputRows).sum.toDouble / math.max(1, batches.size),
      "streaming.batch_p50_s" -> p50(d(_, "triggerExecution") / 1000),
      "streaming.plan_p50_ms" ->
        p50(p => d(p, "latestOffset") + d(p, "getBatch") + d(p, "queryPlanning")),
      "streaming.add_batch_p50_s" -> p50(d(_, "addBatch") / 1000),
      "streaming.commit_p50_ms" -> p50(p => d(p, "walCommit") + d(p, "commitOffsets")),
      "streaming.tasks_per_batch" ->
        ctx.tr.sum(consume)(_.tasks.get).toDouble / math.max(1, batches.size))
  }

  /** Scan + serialize into a noop sink (median of [[Main.ProbeReps]]);
    * the scan alone took `scanS`.
    */
  override def probe(ctx: Ctx, scanS: Double): Map[String, Double] = {
    val tSer = Stats.median((1 to Main.ProbeReps).map { _ =>
      ctx.call("pipeline.serialize") {
        Publisher.serialize(ctx.spark.read.parquet(recordPath(ctx)), "id")
          .write.format("noop").mode("overwrite").save()
      }._2
    })
    Map("pipeline.serialize_s" -> (tSer - scanS))
  }
}
