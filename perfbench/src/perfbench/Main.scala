package perfbench

import scala.collection.mutable

import graft.Engine
import perfbench.Stats.Metric

/** Benchmark entry point. `run` mode (the default) measures one workload
  * and prints the result as its last stdout line; `selftest` and `hashes`
  * are the self-checks and the expected-answer generator described in
  * README.md. */
object Main {
  final case class Args(mode: String = "run", workload: String = "", seed: Long = 1,
                        seconds: Int = 10, trace: Boolean = false, data: String = "",
                        work: String = "", benchDir: String = "", dump: String = "",
                        allEntries: Boolean = false)

  val Workloads: Seq[String] = Seq("ask_sql", "curation_batch", "stream_incremental")
  val SetupRepeats = 3

  def parse(argv: Array[String]): Args = {
    def go(a: Args, rest: List[String]): Args = rest match {
      case Nil => a
      case "--mode" :: v :: t => go(a.copy(mode = v), t)
      case "--workload" :: v :: t => go(a.copy(workload = v), t)
      case "--seed" :: v :: t => go(a.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(a.copy(seconds = v.toInt), t)
      case "--trace" :: v :: t => go(a.copy(trace = v == "1"), t)
      case "--data" :: v :: t => go(a.copy(data = v), t)
      case "--work" :: v :: t => go(a.copy(work = v), t)
      case "--bench-dir" :: v :: t => go(a.copy(benchDir = v), t)
      case "--dump" :: v :: t => go(a.copy(dump = v), t)
      case "--all-entries" :: t => go(a.copy(allEntries = true), t)
      case other => sys.error(s"unknown arguments: ${other.mkString(" ")}")
    }
    go(Args(), argv.toList)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = a.mode match {
      case "run" => run(a)
      case "selftest" => SelfTest.run(a)
      case "hashes" => Hashes.run(a)
      case "train" =>
        // one set-up warmed for every workload: loads the classes a run
        // needs, for the class-data archive perfbench/build.py writes
        Harness.setup(a.data, new Tracer(false),
          e => Workloads.foreach(w => warmUp(a.copy(workload = w))(e))).stop()
        0
      case m => System.err.println(s"unknown mode $m"); 2
    }
    System.exit(code)
  }

  /** Set up `SetupRepeats` times (all but the last session stopped again);
    * returns the live engine and each set-up's seconds. The first is the
    * cold one a user pays: it alone loads the classes and initialises the
    * engine's objects. The repeats show how much of it is per session. */
  def setUp(a: Args, tracer: Tracer): (Engine, Seq[Double]) = {
    var engine: Engine = null
    val secs = (1 to SetupRepeats).map { _ =>
      if (engine != null) engine.stop()
      val t0 = System.nanoTime()
      engine = tracer.span("setup")(Harness.setup(a.data, tracer, warmUp(a)))
      (System.nanoTime() - t0) / 1e9
    }
    (engine, secs)
  }

  /** Untimed operations of the workload's kind, outside its timed set:
    * they load and JIT-compile the path the first timed operation would
    * otherwise pay for (measured: an entry run first took up to twice its
    * usual time after a single light warm-up entry). */
  def warmUp(a: Args)(engine: Engine): Unit = a.workload match {
    case "ask_sql" =>
      engine.run(graft.Corpus.byId("q04_agg_rank").sparkSql).foreach(graft.Results.canonicalCsv)
    case w =>
      val ids =
        if (w == "curation_batch") Seq("q35_dedup_exact", "q124_incremental_neardup")
        else Seq("q147_stream_bloom", "q89_stream_sessions")
      ids.foreach { id =>
        graft.SparkEntry.queries(id)(engine.spark, a.data).write.format("noop").mode("overwrite").save()
      }
  }

  def run(a: Args): Int = {
    require(Workloads.contains(a.workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val load0 = Stats.loadAverage
    val work = new java.io.File(a.work)
    Harness.deleteTree(work)
    work.mkdirs()
    val entries = EntryTable.load(s"${a.benchDir}/entries.tsv")
    val tracer = new Tracer(a.trace)
    val (engine, setupSecs) = setUp(a, tracer)
    System.err.println(f"[perfbench] set-ups ${setupSecs.map(x => f"$x%.2f").mkString(" ")} s")
    val ctx = new Ctx(engine, a.data, a.work, tracer, entries)
    val listeners = new Listeners(engine.spark, traced = a.trace)
    val m = a.workload match {
      case "ask_sql" => Measure.asks(ctx, a, listeners)
      case kind => Measure.entries(ctx, a, listeners, if (kind == "curation_batch") "curation" else "stream")
    }
    listeners.remove()
    Harness.sweep(engine.spark)
    val heapMb = Harness.retainedHeapMb()
    System.err.println(f"[perfbench] measured; retained heap $heapMb%.1f MB")
    val load1 = Stats.loadAverage
    m.failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val setup = Metric(setupSecs.head, "s", 1)
    val setupWarm = Metric(Stats.median(setupSecs.tail), "s", setupSecs.size - 1)
    val e2e = Seq(
      "setup_s" -> setup,
      "op_p50_ms" -> m.opP50,
      "ops_per_s" -> m.opsPerS,
      "retained_heap_mb" -> Metric(heapMb, "MB", 1))
    val failedFrac = Metric(m.failed.toDouble / m.attempted.max(1), "ratio", m.attempted)
    val loads = Seq("load1_before" -> Metric(load0, "load", 1), "load1_after" -> Metric(load1, "load", 1))
    println(Stats.reportLine(a.workload,
      (e2e ++ Seq("setup_warm_s" -> setupWarm, "op_p90_ms" -> m.opP90) ++ m.named :+ ("ops_failed_frac" -> failedFrac)) ++ loads))
    val metrics =
      if (!a.trace) e2e
      else {
        val layer = m.layer ++ Seq(
          // the cold set-up's, as setup_s
          "engine.session_s" -> Metric(tracer.durations("engine.session").head, "s", 1),
          "tables.register_s" -> Metric(tracer.durations("tables.register").head, "s", 1),
          "trace.spans" -> Metric(tracer.spans.size, "count", 1),
          "host.load1_before" -> Metric(load0, "load", 1),
          "host.load1_after" -> Metric(load1, "load", 1))
        TraceFile.write(s"${a.work}/trace-${a.workload}-seed${a.seed}.json", a, tracer, m, load0, load1)
        val byName = layer.toMap
        PerLayer.Names.map { case (n, unit) => n -> byName.getOrElse(n, Metric(0.0, unit, 0)) }
      }
    engine.stop()
    println(Stats.resultLine(m.failed == 0, m.attempted, m.failed, metrics))
    0
  }

  def med(xs: Seq[Double], unit: String): Metric = Metric(Stats.medianOr0(xs), unit, xs.size)
}

/** Every per-layer metric, in the order BENCHMARK.json lists them. A
  * workload that does not reach a layer reports it as 0. */
object PerLayer {
  val Twins: Seq[String] = Seq("q40_minhash_neardup", "q82_minhash_portable", "q41_simhash_neardup",
    "q83_simhash_portable", "q43_embed_neardup", "q84_embedlsh_portable")

  val Names: Seq[(String, String)] = Seq(
    "engine.session_s" -> "s", "tables.register_s" -> "s",
    "frontend.prompt_ms" -> "ms", "frontend.prompt_chars" -> "chars", "llmclient.complete_ms" -> "ms",
    "sanitizer.sanitize_us" -> "us", "sanitizer.write_gate_ms" -> "ms", "sanitizer.rejected" -> "count",
    "runner.dedup_columns_us" -> "us",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "results.canonical_csv_ms" -> "ms", "results.export_csv_ms" -> "ms", "results.rows" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.cpu_per_wall" -> "ratio",
    "spark.sched_wait_s" -> "s", "spark.gc_s" -> "s", "spark.input_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.peak_exec_mem_mb" -> "MB", "spark.failed_tasks" -> "count") ++
    EntryTable.Families.map(f => s"operators.${f}_s" -> "s") ++
    Twins.map(t => s"entry.${t}_s" -> "s") ++ Seq(
    "stream.triggers" -> "count", "stream.input_rows" -> "count", "stream.trigger_p50_ms" -> "ms",
    "stream.latest_offset_ms" -> "ms", "stream.get_batch_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms", "stream.commit_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_mem_mb" -> "MB", "stream.state_commit_ms" -> "ms",
    "stream.lifecycle_ms" -> "ms",
    "storage.rdds_surviving" -> "count", "storage.block_mem_mb" -> "MB",
    "trace.overhead_pct" -> "%", "trace.spans" -> "count",
    "host.load1_before" -> "load", "host.load1_after" -> "load")
}

/** What one workload measured. `named` are the workload's own names for
  * the end-to-end figures (ask_p95_ms, curation_pass_s, ...), printed in
  * the report line. */
final case class Measured(attempted: Long, failed: Long, failures: Seq[String],
                          opP50: Metric, opP90: Metric, opsPerS: Metric,
                          named: Seq[(String, Metric)], layer: Seq[(String, Metric)],
                          entrySeconds: Seq[(String, Double)],
                          storage: Seq[(String, Int, Double)])

object Measure {
  import Main.med

  private def ms(xs: Seq[Double]): Seq[Double] = xs.map(_ * 1000)

  /** Spark and stream counters as per-layer metrics; `wall` is the
    * measured time the task CPU is set against. */
  private def counters(l: Listeners, wall: Double): Seq[(String, Metric)] = {
    val mb = 1048576.0
    val e = l.exec.get
    val s = l.streams
    def c(v: Long) = Metric(v.toDouble, "count", 1)
    Seq(
      "spark.jobs" -> c(e.jobs.get), "spark.stages" -> c(e.stages.get), "spark.tasks" -> c(e.tasks.get),
      "spark.task_run_s" -> Metric(e.runMs.get / 1e3, "s", e.tasks.get),
      "spark.task_cpu_s" -> Metric(e.cpuNs.get / 1e9, "s", e.tasks.get),
      "spark.cpu_per_wall" -> Metric(if (wall > 0) e.cpuNs.get / 1e9 / wall else 0.0, "ratio", 1),
      "spark.sched_wait_s" -> Metric(e.waitMs.get / 1e3, "s", e.tasks.get),
      "spark.gc_s" -> Metric(e.gcMs.get / 1e3, "s", e.tasks.get),
      "spark.input_mb" -> Metric(e.inputBytes.get / mb, "MB", e.tasks.get),
      "spark.shuffle_read_mb" -> Metric(e.shuffleReadBytes.get / mb, "MB", e.tasks.get),
      "spark.shuffle_write_mb" -> Metric(e.shuffleWriteBytes.get / mb, "MB", e.tasks.get),
      "spark.spill_mb" -> Metric(e.spillBytes.get / mb, "MB", e.tasks.get),
      "spark.peak_exec_mem_mb" -> Metric(e.peakExecBytes.get / mb, "MB", e.tasks.get),
      "spark.failed_tasks" -> c(e.failedTasks.get),
      "stream.triggers" -> c(s.triggers.get), "stream.input_rows" -> c(s.inputRows.get),
      "stream.trigger_p50_ms" -> med(s.triggerSamples, "ms"),
      "stream.latest_offset_ms" -> Metric(s.phase("latestOffset"), "ms", s.triggers.get),
      "stream.get_batch_ms" -> Metric(s.phase("getBatch"), "ms", s.triggers.get),
      "stream.query_planning_ms" -> Metric(s.phase("queryPlanning"), "ms", s.triggers.get),
      "stream.add_batch_ms" -> Metric(s.phase("addBatch"), "ms", s.triggers.get),
      "stream.wal_commit_ms" -> Metric(s.phase("walCommit"), "ms", s.triggers.get),
      "stream.commit_ms" -> Metric(s.phase("commitOffsets") + s.phase("commitBatch"), "ms", s.triggers.get),
      "stream.state_rows" -> c(s.stateRows),
      "stream.state_mem_mb" -> Metric(s.stateMemBytes / mb, "MB", 1),
      "stream.state_commit_ms" -> Metric(s.stateCommitMs.get.toDouble, "ms", s.triggers.get))
  }

  private def catalystMetrics(perOp: Seq[Map[String, Double]]): Seq[(String, Metric)] =
    Seq("analysis", "optimization", "planning").map { p =>
      s"catalyst.${p}_ms" -> med(perOp.map(_.getOrElse(p, 0.0)), "ms")
    }

  def asks(ctx: Ctx, a: Main.Args, l: Listeners): Measured = {
    val asks = AskSql.sequence(a.seed, s"${ctx.workDir}/hostile")
    // the generator itself must be deterministic: same seed, same asks
    val replay = AskSql.sequence(a.seed, s"${ctx.workDir}/hostile") == asks
    if (!a.trace) {
      val w = AskSql.window(ctx, asks, a.seconds)
      summarizeAsks(w, w, replay, Nil)
    } else {
      // untraced and traced windows alternate, half the run length each,
      // each going on where the one before stopped in the ask sequence
      val half = (a.seconds / 2).max(1)
      var from = 0
      val ws = (0 until 4).map { k =>
        val traced = k % 2 == 1
        ctx.tracer.enabled = traced
        l.counting(traced)
        val w = AskSql.window(ctx, asks, half, from)
        from += w.outcomes.size
        w -> traced
      }
      l.settle()
      val plain = ws.filterNot(_._2).map(_._1)
      val traced = ws.filter(_._2).map(_._1)
      val t = ctx.tracer
      val tracedOutcomes = traced.flatMap(_.outcomes)
      // later windows hold fewer first asks, which compile a plan: compare
      // first asks and repeats apart, weighted by the traced mix
      val overhead = {
        val first = AskSql.firstAsks(ws.flatMap(_._1.outcomes))
        val strata = Seq(true, false).flatMap { isFirst =>
          val u = plain.flatMap(_.outcomes).filter(o => first(o.seq) == isFirst).map(_.seconds)
          val v = tracedOutcomes.filter(o => first(o.seq) == isFirst).map(_.seconds)
          if (u.isEmpty || v.isEmpty) None else Some((Stats.median(v) / Stats.median(u) - 1, v.size))
        }
        strata.map { case (r, n) => r * n }.sum / strata.map(_._2).sum.max(1) * 100
      }
      val layer = Seq(
        "frontend.prompt_ms" -> med(ms(t.durations("frontend.prompt")), "ms"),
        "frontend.prompt_chars" -> Metric(traced.map(_.promptChars).max.toDouble, "chars", 1),
        "llmclient.complete_ms" -> med(ms(t.durations("llmclient.complete")), "ms"),
        "sanitizer.sanitize_us" -> med(t.durations("sanitizer.sanitize").map(_ * 1e6), "us"),
        "sanitizer.write_gate_ms" -> med(ms(t.durations("sanitizer.write_gate")), "ms"),
        "sanitizer.rejected" -> Metric(traced.map(_.rejected).sum.toDouble, "count", tracedOutcomes.size),
        "runner.dedup_columns_us" -> med(t.durations("runner.dedup_columns").map(_ * 1e6), "us"),
        "results.canonical_csv_ms" -> med(ms(t.durations("results.canonical_csv")), "ms"),
        "results.export_csv_ms" -> med(ms(t.durations("results.export_csv")), "ms"),
        "results.rows" -> Metric(traced.flatMap(_.rows).sum.toDouble, "count", traced.map(_.rows.size).sum),
        "trace.overhead_pct" -> Metric(overhead, "%", tracedOutcomes.size)) ++
        catalystMetrics(traced.flatMap(_.catalyst)) ++
        counters(l, traced.map(_.wallSeconds).sum)
      val all = ws.map(_._1)
      summarizeAsks(all.head, mergeWindows(all), replay, layer)
    }
  }

  private def mergeWindows(ws: Seq[AskSql.Window]): AskSql.Window =
    new AskSql.Window(ws.flatMap(_.outcomes), ws.map(_.wallSeconds).sum, ws.map(_.rejected).sum,
      ws.map(_.promptChars).max, ws.flatMap(_.catalyst), ws.flatMap(_.rows))

  /** End-to-end figures from `timed`; attempts and failures from `all`. */
  private def summarizeAsks(timed: AskSql.Window, all: AskSql.Window, replay: Boolean,
                            layer: Seq[(String, Metric)]): Measured = {
    val lat = timed.outcomes.map(_.seconds * 1000)
    val first = AskSql.firstAsks(timed.outcomes)
    val (firsts, rest) = timed.outcomes.partition(o => first(o.seq))
    val repeats = rest.filterNot(_.ask.hostile)
    System.err.println(f"[perfbench] asks ${lat.size}: first-of-text p50 " +
      f"${Stats.medianOr0(firsts.map(_.seconds * 1000))}%.1f ms (${firsts.size}), " +
      f"repeats p50 ${Stats.medianOr0(repeats.map(_.seconds * 1000))}%.1f ms (${repeats.size})")
    val n = lat.size.toLong
    val failures = all.outcomes.filterNot(_.ok).map(_.error) ++
      (if (replay) Nil else Seq("ask generator: same seed gave a different sequence"))
    val p50 = Metric(Stats.median(lat), "ms", n)
    val p95 = Metric(Stats.percentile(lat, 95), "ms", n)
    val rate = Metric(n / timed.wallSeconds, "1/s", n)
    Measured(all.outcomes.size.toLong, failures.size.toLong, failures,
      p50, Metric(Stats.percentile(lat, 90), "ms", n), rate,
      Seq("ask_p50_ms" -> p50, "ask_p90_ms" -> Metric(Stats.percentile(lat, 90), "ms", n),
        "ask_p95_ms" -> p95, "asks_per_s" -> rate,
        "first_ask_share" -> Metric(firsts.size.toDouble / n.max(1), "ratio", n),
        "repeat_ask_share" -> Metric(repeats.size.toDouble / n.max(1), "ratio", n),
        "hostile_asks" -> Metric(all.outcomes.count(_.ask.hostile).toDouble, "count", 1),
        "exported_asks" -> Metric(all.outcomes.count(_.ask.export).toDouble, "count", 1)),
      layer, Nil, Nil)
  }

  def entries(ctx: Ctx, a: Main.Args, l: Listeners, kind: String): Measured = {
    val rows = Entries.order(ctx.entries, kind, a.seed, a.allEntries)
    val tracedRuns = mutable.ArrayBuffer.empty[EntryRun]
    val checked = mutable.ArrayBuffer.empty[EntryRun]
    var overheadPct = 0.0
    // one pass per run: a second would be warm and not comparable
    val pass = if (!a.trace) Entries.pass(ctx, rows, l) else {
      // each entry runs three times: traced (its first run in the session,
      // as in an untraced run, and the one the per-layer figures describe),
      // then untraced and traced again, both warm, for the overhead
      val plain = mutable.ArrayBuffer.empty[EntryRun]
      val warmTraced = mutable.ArrayBuffer.empty[EntryRun]
      rows.zipWithIndex.foreach { case (row, i) =>
        Seq((true, true, tracedRuns), (false, false, plain), (true, false, warmTraced)).zipWithIndex.foreach {
          case ((traced, counted, into), k) =>
            ctx.tracer.enabled = traced
            l.counting(counted)
            into += Entries.pass(ctx, Seq(row), l, firstOp = 3 * i + k).runs.head
        }
      }
      l.settle()
      checked ++= plain ++= warmTraced
      overheadPct = (warmTraced.map(_.seconds).sum / plain.map(_.seconds).sum - 1) * 100
      Pass(tracedRuns.toSeq)
    }
    checked ++= pass.runs
    val failures = checked.filterNot(_.ok).map(_.error).toSeq
    val opMs = pass.runs.map(_.seconds * 1000)
    val n = opMs.size.toLong
    val streamSamples = l.streams.triggerSamples
    val named = Seq(
      s"${kind}_pass_s" -> Metric(pass.seconds, "s", 1),
      "entries_per_pass" -> Metric(rows.size.toDouble, "count", 1)) ++
      (if (kind == "stream") Seq("trigger_p50_ms" -> med(streamSamples, "ms")) else Nil)
    val layer =
      if (!a.trace) Nil
      else {
        val t = tracedRuns.toSeq
        val tracedSecs = t.map(_.seconds).sum
        val fam = EntryTable.Families.map { f =>
          s"operators.${f}_s" -> Metric(t.filter(_.family == f).map(_.seconds).sum, "s", t.count(_.family == f))
        }
        val twins = PerLayer.Twins.flatMap { id =>
          t.find(_.id == id).map(r => s"entry.${id}_s" -> Metric(r.seconds, "s", 1))
        }
        val triggerMs = l.streams.triggerSamples.sum
        val lifecycle =
          if (l.streams.triggers.get == 0) 0.0
          else t.map(_.seconds).sum * 1000 - triggerMs
        fam ++ twins ++ catalystMetrics(t.map(_.catalystMs)) ++ counters(l, tracedSecs) ++ Seq(
          "stream.lifecycle_ms" -> Metric(lifecycle, "ms", t.size),
          "storage.rdds_surviving" -> Metric(t.map(_.rddsSurviving).sum.toDouble, "count", t.size),
          "storage.block_mem_mb" -> Metric(t.map(_.blockMemMb).sum, "MB", t.size),
          "trace.overhead_pct" -> Metric(overheadPct, "%", t.size))
      }
    Measured(checked.size.toLong, failures.size.toLong, failures,
      Metric(Stats.median(opMs), "ms", n), Metric(Stats.percentile(opMs, 90), "ms", n),
      Metric(rows.size / pass.seconds, "1/s", 1),
      named, layer, pass.runs.map(r => r.id -> r.seconds),
      pass.runs.map(r => (r.id, r.rddsSurviving, r.blockMemMb)))
  }
}

/** The traced run's record, written once at exit: every span, the self
  * time per span name and each entry's seconds and surviving storage. */
object TraceFile {
  def write(path: String, a: Main.Args, t: Tracer, m: Measured, load0: Double, load1: Double): Unit = {
    val spans = t.spans
    val self = t.selfSeconds
    val selfByName = spans.groupMapReduce(_.name)(s => self(s.id))(_ + _)
    val sb = new StringBuilder
    sb ++= s"""{"workload": ${Stats.str(a.workload)}, "seed": ${a.seed}, "load1_before": $load0, "load1_after": $load1,\n"""
    sb ++= "\"self_seconds\": {" + selfByName.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"${Stats.str(k)}: $v" }.mkString(", ") + "},\n"
    sb ++= "\"entry_seconds\": {" + m.entrySeconds.map { case (k, v) => s"${Stats.str(k)}: $v" }.mkString(", ") + "},\n"
    sb ++= "\"entry_storage\": {" + m.storage.map { case (k, r, mb) =>
      s"""${Stats.str(k)}: {"rdds_surviving": $r, "block_mem_mb": $mb}""" }.mkString(", ") + "},\n"
    sb ++= "\"spans\": [\n" + spans.map { s =>
      s"""[${s.id}, ${Stats.str(s.name)}, ${s.startNs}, ${s.endNs}, ${s.parent}, ${s.op}]"""
    }.mkString(",\n") + "]}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
    System.err.println(s"[perfbench] trace written to $path")
  }
}
