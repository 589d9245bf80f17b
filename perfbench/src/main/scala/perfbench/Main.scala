package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --threads <n> --work <dir> --result <file>`.
  *
  * Set-up generates the inputs [[SetupReps]] times (the median counts),
  * starts the session and warms up with [[WarmupRounds]] untimed rounds.
  * The untraced run then repeats rounds for `seconds` and gives the
  * end-to-end metrics. With `--trace 1` untraced and traced rounds take
  * turns for `seconds`; the traced ones give the per-layer metrics and,
  * against the untraced, the tracing overhead. Then the workload's layer
  * probes run and publish_roundtrip runs two more rounds at local[1] for
  * its single-thread baseline. The result file carries everything, with
  * the one-line summary object under "summary".
  */
object Main {
  val SetupReps = 3
  /** Untimed rounds before timing; the first, cold one also counts the
    * classes codegen compiles for a round.
    */
  val WarmupRounds = 3
  val CodegenCacheEntries = 2000
  /** Repeats of a traced run's input scan and of each workload probe whose
    * time is a median.
    */
  val ProbeReps = 3

  val workloads: Seq[Workload] = Seq(PublishRoundtrip, DedupSearch)

  /** Every per-layer metric, on every workload; a layer a workload does
    * not call reads 0 there.
    */
  val LayerMetrics: Seq[String] = Seq(
    "sources.generate_s", "sources.generate_bytes",
    "sources.scan_s", "sources.scan_bytes",
    "pipeline.serialize_s", "pipeline.json_bytes", "pipeline.send_calls",
    "pipeline.send_s", "pipeline.batch_fill",
    "pipeline.send_attempts_per_delivered", "pipeline.dead_letters",
    "pipeline.redrive_s",
    "streaming.batches", "streaming.rows_per_batch", "streaming.batch_p50_s",
    "streaming.plan_p50_ms", "streaming.add_batch_p50_s",
    "streaming.commit_p50_ms", "streaming.tasks_per_batch",
    "operators.dedup.exact_s", "operators.dedup.minhash_s",
    "operators.dedup.keep_reps_s", "operators.dedup.prefix_join_s",
    "operators.dedup.prefix_join_candidates",
    "operators.dedup.prefix_join_yield",
    "operators.similarity.knn_graph_s", "operators.similarity.knn_candidates",
    "operators.similarity.knn_yield", "operators.similarity.ivfpq_topk_s",
    "operators.textindex.append_s",
    "operators.textindex.files_written_per_append",
    "operators.textindex.bytes_written_per_append",
    "operators.textindex.write_tasks_per_append",
    "operators.textindex.compact_s",
    "operators.textindex.compact_bytes_rewritten",
    "operators.textindex.segments", "operators.textindex.serve_s",
    "operators.textindex.serve_jobs_per_call",
    "operators.textindex.serve_files_read_per_call",
    "operators.textindex.serve_bytes_read_per_call",
    "operators.textindex.serve_driver_only_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.codegen_compiles",
    "spark.codegen_classes", "spark.driver_only_s",
    "trace.wall_overhead_pct",
    "baseline.publish_speedup", "baseline.redrive_speedup",
    "baseline.consume_speedup")

  val E2eUnits: ListMap[String, String] = ListMap(
    "setup_s" -> "s", "wall_s" -> "s", "ingest_rps" -> "records/s",
    "serve_rps" -> "records/s", "live_heap_peak_mb" -> "MB")

  def session(threads: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      // a dedup_search round compiles about 230 distinct classes; with
      // the default 100-entry cache every round evicts and recompiles
      // them, and round time then drifts down for minutes as the compiler
      // itself warms, so a run's median would depend on its length
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def box(): ListMap[String, Any] = ListMap(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "load_avg_1m" -> java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576)

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Rounds until `seconds` have passed, the contexts taking turns (at
    * least one round each); each context's rounds in order.
    */
  private def measure(w: Workload, ctxs: Seq[Ctx], seconds: Double): Seq[Seq[Round]] = {
    val t0 = System.nanoTime()
    val out = ctxs.map(_ => ArrayBuffer.empty[Round])
    while (out.exists(_.isEmpty) || secondsSince(t0) < seconds)
      ctxs.zip(out).foreach { case (ctx, rounds) =>
        ctx.tr.round += 1
        val r = ctx.tr.span("round")(w.round(ctx))
        ctx.sampleHeap()
        r.cleanup()
        rounds += r
      }
    out.map(_.toSeq)
  }

  private def e2e(rounds: Seq[Round], setup: Double, heapMb: Double): ListMap[String, Double] =
    ListMap(
      "setup_s" -> setup,
      "wall_s" -> Stats.median(rounds.map(_.wall)),
      "ingest_rps" -> Stats.median(rounds.map(r => r.ingestRecords / r.ingestSec)),
      "serve_rps" -> Stats.median(rounds.map(r => r.serveRecords / r.serveSec)),
      "live_heap_peak_mb" -> heapMb)

  /** The workload's own headline numbers, by the names its users know. */
  private def named(w: Workload, rounds: Seq[Round]): ListMap[String, Any] = {
    w match {
      case PublishRoundtrip => ListMap(
        "publish_rps" -> Stats.median(rounds.map(r => r.ingestRecords / r.ingestSec)),
        "consume_rps" -> Stats.median(rounds.map(r => r.serveRecords / r.serveSec)))
      case _ => ListMap.empty
    }
  }

  /** Engine counters over the round's calls (not its output checks). */
  private def sparkLayer(tr: Tracer, root: Span): Map[String, Double] = {
    val calls = tr.all.filter(_.parent == root.id)
    def sum(f: Counters => Long) = calls.map(c => tr.sum(c)(f)).sum.toDouble
    Map(
      "spark.jobs" -> sum(_.jobs.get), "spark.stages" -> sum(_.stages.get),
      "spark.tasks" -> sum(_.tasks.get),
      "spark.executor_run_s" -> sum(_.runMs.get) / 1e3,
      "spark.executor_cpu_s" -> sum(_.cpuNs.get) / 1e9,
      "spark.gc_s" -> sum(_.gcMs.get) / 1e3,
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite.get),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead.get),
      "spark.spill_bytes" -> sum(_.spill.get),
      "spark.codegen_compiles" -> calls.map(_.codegen).sum.toDouble,
      "spark.driver_only_s" -> calls.map(tr.driverOnlySeconds).sum)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workloads.find(_.name == opt("workload")).getOrElse(
      sys.error(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val threads = opt("threads").toInt
    val work = new File(opt("work"))
    val runId = work.getName
    val boxStart = box()

    val t0 = System.nanoTime()
    var spark = session(threads, work)
    val sessionS = secondsSince(t0)
    val tally = new Tally
    val ctx = new Ctx(spark, work, seed, threads,
      new Tracer(spark, w.name, runId, false), tally)
    var failure: Option[Throwable] = None
    var result = ListMap.empty[String, Any]
    try {
      val gens = (1 to SetupReps).map { _ =>
        Checks.deleteRecursively(ctx.inputs)
        val g0 = System.nanoTime()
        val fp = w.generate(ctx)
        (secondsSince(g0), fp)
      }
      ctx.check("same seed gives the same input fingerprint",
        gens.map(_._2).distinct.size == 1, gens.map(_._2).mkString(" "))
      val generateS = Stats.median(gens.map(_._1))
      val prep0 = System.nanoTime()
      w.prepare(ctx)
      val prepareS = secondsSince(prep0)
      val warm0 = System.nanoTime()
      val cg0 = PerfbenchAccess.codegenCompiles
      val cold = w.round(ctx)
      cold.cleanup()
      val coldClasses = PerfbenchAccess.codegenCompiles - cg0
      val warm = cold +: (1 until WarmupRounds).map { _ =>
        val r = w.round(ctx)
        r.cleanup()
        r
      }
      val warmupS = secondsSince(warm0)
      val setupS = sessionS + generateS + prepareS + warmupS

      // a traced run alternates untraced and traced rounds, so both see
      // the same state of the JVM and the machine
      val tctx = if (!trace) None else Some(new Ctx(spark, work, seed, threads,
        new Tracer(spark, w.name, runId, true), tally))
      val byCtx = measure(w, ctx +: tctx.toSeq, seconds)
      val rounds = byCtx.head
      val metrics = e2e(rounds, setupS, ctx.heapPeakMb)
      result = ListMap(
        "workload" -> w.name, "seed" -> seed, "threads" -> threads,
        "seconds" -> seconds, "trace" -> trace, "sizes" -> w.sizes,
        "input_fingerprint" -> gens.head._2, "setup_reps" -> SetupReps,
        "warmup_rounds" -> WarmupRounds, "codegen_classes" -> coldClasses,
        "setup" -> ListMap("session_s" -> sessionS, "generate_s" -> gens.map(_._1),
          "prepare_s" -> prepareS, "warmup_s" -> warmupS,
          "warmup_round_wall_s" -> warm.map(_.wall)),
        "rounds" -> rounds.size, "round_wall_s" -> rounds.map(_.wall),
        // none until a run has 20 rounds
        "round_wall_tail" -> Stats.tail(rounds.map(_.wall)).map { t =>
          ListMap("pct" -> t.pct, "value" -> t.value, "n" -> t.n, "beyond" -> t.beyond)
        },
        "call_s" -> rounds.flatMap(_.samples.keys).distinct.map { k =>
          k -> rounds.flatMap(_.samples.getOrElse(k, Nil))
        }.toMap,
        "e2e" -> metrics, "named" -> named(w, rounds))

      tctx.foreach { tctx =>
        val tr = tctx.tr
        val traced = byCtx(1)
        val scanS = Stats.median((1 to ProbeReps).map { _ =>
          tr.span("sources.scan") {
            w.inputPaths(ctx).foreach { p =>
              spark.read.parquet(p).write.format("noop").mode("overwrite").save()
            }
          }
          tr.all.last.seconds
        })
        val probes = w.probe(tctx, scanS)
        tr.drain()
        val roots = tr.all.filter(_.name == "round")
        val perRound = traced.zip(roots).map { case (r, root) =>
          r.layers ++ sparkLayer(tr, root)
        }
        val tracedE2e = e2e(traced, setupS, tctx.heapPeakMb)
        val overhead = metrics.map { case (k, v) => k -> 100 * (tracedE2e(k) / v - 1) }
        val baseline =
          if (w != PublishRoundtrip) Map.empty[String, Double]
          else {
            tr.detach()
            spark.stop()
            spark = session(1, work)
            val c1 = new Ctx(spark, work, seed, 1,
              new Tracer(spark, w.name, runId, false), tally)
            // the first round in the new session warms it up
            val r1 = (1 to 2).map { _ =>
              val r = w.round(c1)
              r.cleanup()
              r
            }.last
            def speedup(k: String) =
              r1.samples(k).head / Stats.median(rounds.flatMap(_.samples(k)))
            Map("baseline.publish_speedup" -> speedup("publish_s"),
              "baseline.redrive_speedup" -> speedup("redrive_s"),
              "baseline.consume_speedup" -> speedup("consume_s"))
          }
        val measured = Map(
          "sources.generate_s" -> generateS,
          "sources.generate_bytes" -> ctx.bytesUnder(w.inputPaths(ctx)).toDouble,
          "sources.scan_s" -> scanS,
          "sources.scan_bytes" -> ctx.bytesUnder(w.inputPaths(ctx)).toDouble,
          "spark.codegen_classes" -> coldClasses.toDouble,
          "trace.wall_overhead_pct" -> overhead("wall_s")) ++ probes ++ baseline
        val layers = ListMap(LayerMetrics.map { k =>
          k -> measured.getOrElse(k,
            if (perRound.exists(_.contains(k))) Stats.median(perRound.flatMap(_.get(k)))
            else 0.0)
        }: _*)
        val spans = new File(opt("result") + ".spans.jsonl")
        tr.write(spans)
        result ++= ListMap("traced_rounds" -> traced.size,
          "traced_round_wall_s" -> traced.map(_.wall),
          "traced_e2e" -> tracedE2e, "trace_overhead_pct" -> overhead,
          "layers" -> layers, "spans_file" -> spans.getName)
      }
    } catch {
      case e: Throwable =>
        failure = Some(e)
        if (tally.failures.isEmpty) tally.failures += e.toString
        if (tally.failed == 0) tally.failed = 1
    } finally {
      spark.stop()
    }
    val correct = failure.isEmpty && tally.failed == 0
    val units = if (trace) Map.empty[String, String] else E2eUnits
    val values: Map[String, Double] =
      if (!correct) Map.empty
      else if (trace) result("layers").asInstanceOf[Map[String, Double]]
      else result("e2e").asInstanceOf[Map[String, Double]]
    val summary = ListMap(
      "correct" -> correct,
      "attempted" -> math.max(1L, tally.attempted),
      "failed" -> tally.failed,
      "metrics" -> ListMap(values.toSeq.map { case (k, v) =>
        k -> ListMap("value" -> v, "unit" -> units.getOrElse(k, LayerUnits.unit(k)))
      }: _*))
    result ++= ListMap("ops_attempted" -> tally.attempted, "ops_failed" -> tally.failed,
      "failures" -> tally.failures.toSeq, "box_start" -> boxStart, "box_end" -> box(),
      "summary" -> summary)
    java.nio.file.Files.write(new File(opt("result")).toPath,
      Json.render(result).getBytes("UTF-8"))
    failure.foreach(_.printStackTrace())
    System.exit(if (correct) 0 else 1)
  }
}

object LayerUnits {
  /** Unit of a per-layer metric, from its name's suffix. */
  def unit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.contains("bytes") => "bytes"
    case n if n.endsWith("_pct") => "%"
    case n if n.endsWith("_speedup") => "x"
    case n if n.endsWith("_fill") || n.endsWith("_yield") ||
      n.endsWith("_per_delivered") => "ratio"
    case _ => "count"
  }
}
