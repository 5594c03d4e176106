package perfbench

import graft.{Results, SparkEntry}

/** One entry's run inside a pass. `seconds` covers building the frame and
  * writing its whole result to the `noop` sink; the rest is measured
  * after the timer stops. */
final case class EntryRun(id: String, family: String, seconds: Double, ok: Boolean, error: String,
                          rddsSurviving: Int, blockMemMb: Double, catalystMs: Map[String, Double])

final case class Pass(runs: Seq[EntryRun]) {
  def seconds: Double = runs.map(_.seconds).sum
}

/** The batch and streaming entry workloads: every entry of the kind, run
  * serially in one session in a seeded order, each timed on its whole
  * result. */
object Entries {

  /** The entries a timed run covers. A pass over every entry of a kind
    * (102 batch, 26 streaming) takes minutes, far more than one run may;
    * these fixed sets keep a pass near 12 s. Batch: the three
    * native/portable near-dup twins, q68 (contamination), q54 (through the
    * range-join plan rewrite), a sketch and a text-analysis entry.
    * Streams: a windowed aggregate, a stream-stream join, stateful dedup, a
    * stream-static join, a streamed anomaly detector and two entries whose
    * cut blocks survive the entry (q183, q176).
    * `--all-entries` runs every entry of the kind instead. */
  val Timed: Map[String, Seq[String]] = Map(
    "curation" -> Seq("q40_minhash_neardup", "q82_minhash_portable", "q41_simhash_neardup",
      "q83_simhash_portable", "q43_embed_neardup", "q84_embedlsh_portable", "q68_contamination",
      "q54_range_join", "q148_hll_cardinality", "q79_tfidf_topterms"),
    "stream" -> Seq("q51_stream_hourly", "q65_stream_join", "q126_stream_dedup",
      "q107_stream_static", "q166_stream_anomaly", "q183_stream_leakage", "q176_stream_spans"))

  /** The entries of `kind` a run covers, in the order `seed` gives them. */
  def order(entries: Seq[EntryRow], kind: String, seed: Long, all: Boolean): Seq[EntryRow] = {
    val mine = entries.filter(e => e.kind == kind && (all || Timed(kind).contains(e.id)))
    require(all || mine.size == Timed(kind).size, s"entries.tsv lacks some of ${Timed(kind).mkString(" ")}")
    new scala.util.Random(seed).shuffle(mine.sortBy(_.id))
  }

  /** Build the entry's frame and write every row and column of it to the
    * `noop` sink. Unlike `count()`, the sink keeps every output column, so
    * Catalyst cannot prune the operators that compute them. */
  def runWhole(ctx: Ctx, id: String): org.apache.spark.sql.DataFrame = {
    val df = ctx.tracer.span("entry.build")(SparkEntry.queries(id)(ctx.spark, ctx.dataDir))
    ctx.tracer.span("entry.noop_write")(df.write.format("noop").mode("overwrite").save())
    df
  }

  def pass(ctx: Ctx, rows: Seq[EntryRow], listeners: Listeners, firstOp: Int = 0): Pass = {
    val spark = ctx.spark
    Pass(rows.zipWithIndex.map { case (row, k) =>
      val i = firstOp + k
      val t0 = System.nanoTime()
      val built = try Right(ctx.tracer.op(row.id, i.toLong)(runWhole(ctx, row.id)))
      catch { case e: Throwable => Left(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      // outside the timer and the counters: the storage the entry left
      // behind, the answer check, then the sweep
      listeners.settle()
      val catalystMs = listeners.catalyst.map(_.drain()).getOrElse(Map.empty)
      val (rdds, mem) = Harness.storage(spark)
      listeners.uncounted {
        val (ok, err) = built match {
          case Left(e) => (false, s"${row.id}: ${String.valueOf(e.getMessage).take(200)}")
          case Right(df) =>
            val got = try Results.resultHash(df) catch { case e: Throwable => s"error ${e.getMessage}" }
            if (got == row.sha256) (true, "") else (false, s"${row.id}: hash $got != ${row.sha256}")
        }
        Harness.sweep(spark)
        System.err.println(f"[perfbench] ${row.id} $sec%.3f s ${if (ok) "ok" else "FAILED"} rdds=$rdds block_mb=$mem%.2f")
        EntryRun(row.id, row.family, sec, ok, err, rdds, mem, catalystMs)
      }
    })
  }
}
