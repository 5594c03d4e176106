package perfbench

import java.util.concurrent.atomic.AtomicReference

import graft.{Corpus, Results, SparkEntry}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** Checks of the benchmark's own machinery, too slow for every run:
  *
  *  - every reply wrapper of every SELECT-led corpus text answers exactly
  *    what the trusted path answers; every hostile reply is refused; the
  *    ask generator is a function of its seed;
  *  - the `noop` sink keeps every output column of every curation entry,
  *    and makes q80_profile and q68_contamination run more tasks than
  *    `count()` does.
  */
object SelfTest {

  /** Captures the query under the last `noop` write, as optimized. */
  private final class SinkPlan extends QueryExecutionListener {
    val schema = new AtomicReference[StructType]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.optimizedPlan match {
        case w: V2WriteCommand => schema.set(w.query.schema)
        case _ =>
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def run(a: Main.Args): Int = {
    val work = new java.io.File(a.work)
    Harness.deleteTree(work)
    work.mkdirs()
    val entries = EntryTable.load(s"${a.benchDir}/entries.tsv")
    val expected = entries.map(e => e.id -> e.sha256).toMap
    val engine = Harness.setup(a.data, new Tracer(false))
    val spark = engine.spark
    var failures = 0
    def check(ok: Boolean, what: => String): Unit =
      if (!ok) { failures += 1; println(s"[selftest] FAIL $what") }

    // 1. the ask generator
    var wrapped = 0
    Corpus.queries.filter(q => AskSql.selectLed(q.sparkSql)).foreach { q =>
      AskSql.variants(q.sparkSql).foreach { case (name, reply) =>
        wrapped += 1
        val got = engine.run(reply).map(Results.resultHash)
        check(got == Right(expected(q.id)), s"${q.id}/$name answered ${got.left.map(_.message)}")
      }
    }
    val hostileDir = new java.io.File(s"${a.work}/hostile")
    val hostile = AskSql.hostileReplies(hostileDir.getPath)
    hostile.foreach { case (name, reply) =>
      check(engine.run(reply).isLeft, s"hostile $name was accepted")
      check(!hostileDir.exists(), s"hostile $name wrote $hostileDir")
    }
    check(AskSql.sequence(7, "h") == AskSql.sequence(7, "h"), "same seed gave different asks")
    check(AskSql.sequence(7, "h") != AskSql.sequence(8, "h"), "different seeds gave the same asks")
    println(s"[selftest] asks: $wrapped wrapped replies, ${hostile.size} hostile replies checked")

    // 2. the whole-result sink
    val sink = new SinkPlan
    spark.listenerManager.register(sink)
    val curation = entries.filter(_.kind == "curation")
    val ctx = new Ctx(engine, a.data, a.work, new Tracer(false), entries)
    curation.foreach { e =>
      sink.schema.set(null)
      val df = Entries.runWhole(ctx, e.id)
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val plan = Option(sink.schema.get)
      def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
      check(plan.exists(p => shape(p) == shape(df.schema)),
        s"${e.id}: noop sink computes ${plan.map(shape)} but the entry has ${shape(df.schema)}")
      Harness.sweep(spark)
    }
    spark.listenerManager.unregister(sink)
    println(s"[selftest] sink: ${curation.size} curation entries keep every output column")
    // Work under each: tasks, and task run time. At sf0.01 adaptive
    // execution can coalesce both plans to the same few tasks (q68 runs 3
    // either way), so the work the pruned columns cost shows in run time.
    val exec = new ExecCounters
    spark.sparkContext.addSparkListener(exec)
    def measured(body: => Unit): (Long, Long) = {
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val (t0, r0) = (exec.tasks.get, exec.runMs.get)
      body
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      Harness.sweep(spark)
      (exec.tasks.get - t0, exec.runMs.get - r0)
    }
    Seq("q80_profile", "q68_contamination").foreach { id =>
      val (countTasks, countMs) = measured(SparkEntry.queries(id)(spark, a.data).count())
      val (sinkTasks, sinkMs) = measured(Entries.runWhole(ctx, id))
      println(s"[selftest] $id: count() $countTasks tasks $countMs ms, noop sink $sinkTasks tasks $sinkMs ms")
      check(sinkTasks > countTasks || sinkMs > countMs, s"$id: the sink did no more work than count()")
    }
    engine.stop()
    println(s"[selftest] ${if (failures == 0) "PASS" else s"FAIL ($failures)"}")
    if (failures == 0) 0 else 1
  }
}
