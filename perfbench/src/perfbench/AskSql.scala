package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import graft.{Corpus, EngineError, LlmClient, LlmFrontend, Results, Runner, Sanitizer}
import org.apache.spark.sql.DataFrame

/** One ask: the corpus text it stands for (empty when hostile), how it was
  * wrapped, the canned LLM reply and whether the answer is also exported. */
final case class Ask(textId: String, variant: String, reply: String, export: Boolean) {
  def hostile: Boolean = textId.isEmpty
  def withLed: Boolean = variant == "with"
}

/** The product path: a question becomes LLM-written SQL, which the engine
  * sanitizes, gates, runs and renders as canonical CSV. */
object AskSql {
  val Clients = 2
  val HostileShare = 0.03
  val ExportShare = 0.10
  /** Zipf exponent of text popularity, ranked in corpus order: a few texts
    * repeat often, every text still appears. */
  val ZipfS = 1.2
  val SequenceLength = 20000

  private val Prose = "Sure - here is the query that answers your question.\n\n"

  /** Reply wrappers an LLM produces around a SELECT-led text. `drop_limit`
    * exists only for texts that end in the default `LIMIT 100` the
    * sanitizer injects back. */
  def variants(sql: String): Seq[(String, String)] = {
    val base = Seq(
      "sql_fence" -> s"```sql\n$sql\n```",
      "bare_fence" -> s"```\n$sql\n```",
      "prose" -> s"$Prose$sql",
      "semicolons" -> s"$sql;\n;")
    val limits = """(?i)\blimit\b""".r.findAllIn(sql).size
    val dropped = sql.replaceFirst("""(?i)\s+LIMIT 100\s*$""", "")
    if (limits == 1 && dropped != sql) base :+ ("drop_limit" -> dropped) else base
  }

  /** Write or command replies; each must come back as `Left`. The INSERT
    * forms target `dir`, which must still be absent afterwards. */
  def hostileReplies(dir: String): Seq[(String, String)] = Seq(
    "drop" -> "DROP TABLE lineitem",
    "truncate" -> "```sql\nTRUNCATE TABLE orders\n```",
    "set" -> "SET spark.sql.shuffle.partitions=1",
    "cte_insert_dir" ->
      s"WITH t AS (VALUES (1) AS v(a)) INSERT OVERWRITE DIRECTORY '$dir' USING parquet TABLE t",
    "fenced_cte_insert_dir" ->
      s"```sql\nWITH src AS (TABLE orders) INSERT OVERWRITE DIRECTORY '$dir' USING csv TABLE src\n```")

  def selectLed(sql: String): Boolean = sql.trim.toLowerCase.startsWith("select")

  /** Asks per block: every block of the sequence is a seeded shuffle of
    * the same block of the popularity-ordered base sequence. */
  val Block = 10

  /** The seeded ask sequence: same seed, same asks.
    *
    * The base sequence interleaves texts and hostile replies by smooth
    * weighted round robin over their popularity, so every prefix holds each
    * text close to its Zipf share, and marks every tenth text ask for
    * export. The seed shuffles the asks inside each block of `Block` and
    * picks each reply's wrapper. A run that completes a few dozen asks thus
    * sees the same mix, give or take one block, whatever the seed. */
  def sequence(seed: Long, hostileDir: String, n: Int = SequenceLength): IndexedSeq[Ask] = {
    val rnd = new java.util.Random(seed)
    val texts = Corpus.queries
    val zipf = texts.indices.map(i => 1.0 / math.pow(i + 1, ZipfS))
    val hostile = hostileReplies(hostileDir)
    // popularity shares: texts share 1 - HostileShare, hostile replies the rest
    val weights = (zipf.map(_ / zipf.sum * (1 - HostileShare)) ++
      hostile.map(_ => HostileShare / hostile.size)).toArray
    val current = new Array[Double](weights.length)
    var exportDue = 0.0
    val base = (0 until n).map { _ =>
      var pick = 0
      for (k <- weights.indices) {
        current(k) += weights(k)
        if (current(k) > current(pick)) pick = k
      }
      current(pick) -= 1.0
      if (pick >= texts.size) Left(pick - texts.size)
      else {
        exportDue += ExportShare
        val export = exportDue >= 1.0 - 1e-9
        if (export) exportDue -= 1.0
        Right((texts(pick), export))
      }
    }
    base.grouped(Block).flatMap(b => new scala.util.Random(rnd.nextLong()).shuffle(b)).map {
      case Left(h) =>
        val (name, reply) = hostile(h)
        Ask("", name, reply, export = false)
      case Right((q, export)) =>
        if (!selectLed(q.sparkSql)) Ask(q.id, "with", q.sparkSql, export)
        else {
          val vs = variants(q.sparkSql)
          val (name, reply) = vs(rnd.nextInt(vs.size))
          Ask(q.id, name, reply, export)
        }
    }.toIndexedSeq
  }

  /** Chat-completions response body carrying `content`. */
  def responseBody(content: String): String =
    s"""{"id": "canned", "object": "chat.completion", "choices": [{"index": 0, "message": {"role": "assistant", "content": ${Stats.str(content)}}, "finish_reason": "stop"}]}"""

  /** One client's LLM connection: the transport returns whatever reply the
    * client has queued for its next question. */
  final class CannedLlm {
    @volatile var next: String = ""
    val client = new LlmClient("http://llm.invalid/v1", "canned", "none",
      transport = (_, _, _) => next)
  }

  /** Per-ask outcome: its place in the sequence, latency, and whether it was right. */
  final case class Outcome(seq: Int, ask: Ask, seconds: Double, ok: Boolean, error: String)

  final class Window(val outcomes: Seq[Outcome], val wallSeconds: Double,
                     val rejected: Long, val promptChars: Long,
                     val catalyst: Seq[Map[String, Double]], val rows: Seq[Long])

  /** Sequence numbers of the asks that are their text's first in `outcomes`:
    * each compiles its plan, later asks of the text reuse the generated code. */
  def firstAsks(outcomes: Seq[Outcome]): Set[Int] =
    outcomes.filterNot(_.ask.hostile).groupBy(_.ask.textId).values.map(_.minBy(_.seq).seq).toSet

  /** Run the two closed-loop clients for `seconds`, drawing asks in order
    * from sequence number `from`. */
  def window(ctx: Ctx, asks: IndexedSeq[Ask], seconds: Int, from: Int = 0): Window = {
    val engine = ctx.engine
    val tracer = ctx.tracer
    val expected = ctx.expected
    val next = new AtomicInteger(from)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Outcome]()
    val catalyst = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Double]]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val rejected = new AtomicLong
    val promptChars = new AtomicLong
    val hostileDir = new java.io.File(s"${ctx.workDir}/hostile")
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L

    def clientLoop(c: Int): Unit = {
      val llm = new CannedLlm
      val frontend = LlmFrontend.withClient(engine.catalog, "postgresql", llm.client)
      val exportPath = s"${ctx.workDir}/export-$c.csv"
      while (System.nanoTime() < deadline) {
        val i = next.getAndIncrement()
        val ask = asks(i % asks.size)
        val question = s"ask $i"
        llm.next = responseBody(ask.reply)
        var csv: String = null
        var exported = false
        var frames: Option[(DataFrame, DataFrame)] = None
        val t0 = System.nanoTime()
        val result: Either[EngineError, DataFrame] = try tracer.op("ask", i.toLong) {
          val r =
            if (!tracer.enabled) {
              val sql = frontend.toSql(question)
              if (ask.withLed) engine.runSql(sql) else engine.run(sql)
            } else {
              val t = tracedRun(ctx, frontend, llm, question, ask, promptChars)
              frames = t._2
              t._1
            }
          r.foreach { df =>
            csv = tracer.span("results.canonical_csv")(Results.canonicalCsv(df))
            if (ask.export) {
              tracer.span("results.export_csv")(engine.exportCsv(df, exportPath))
              exported = true
            }
          }
          r
        } catch { case e: Exception => Left(EngineError(String.valueOf(e.getMessage), Some(e))) }
        val sec = (System.nanoTime() - t0) / 1e9
        // everything below is bookkeeping and checking, outside the timer
        frames.foreach { case (raw, df) => catalyst.add(phases(raw, df)) }
        if (result.isLeft && tracer.enabled) rejected.incrementAndGet()
        val (ok, err) = result match {
          case Left(_) if ask.hostile =>
            if (hostileDir.exists()) (false, s"hostile ${ask.variant} wrote $hostileDir") else (true, "")
          case Left(e) => (false, s"${ask.textId}/${ask.variant}: ${String.valueOf(e.message).take(160)}")
          case Right(_) if ask.hostile => (false, s"hostile ${ask.variant} accepted")
          case Right(_) =>
            val want = expected.get(ask.textId)
            val got = Results.sha256(csv)
            lazy val exportOk = new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(exportPath)), "UTF-8") == csv
            if (!want.contains(got)) (false, s"${ask.textId}/${ask.variant}: hash $got != ${want.getOrElse("?")}")
            else if (exported && !exportOk) (false, s"${ask.textId}: export differs from canonical CSV")
            else (true, "")
        }
        if (csv != null) rows.add(csv.count(_ == '\n') - 1L)
        outcomes.add(Outcome(i, ask, sec, ok, err))
      }
    }

    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => clientLoop(c), s"ask-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val wall = (System.nanoTime() - start) / 1e9
    new Window(outcomes.asScala.toSeq, wall, rejected.get, promptChars.get,
      catalyst.asScala.toSeq, rows.asScala.toSeq.map(_.longValue))
  }

  /** Catalyst phase ms of one ask: analysis when `spark.sql` returned, the
    * rest when the (possibly renamed) frame was collected. */
  private def phases(raw: DataFrame, df: DataFrame): Map[String, Double] = {
    val trackers = if (raw eq df) Seq(raw) else Seq(raw, df)
    trackers.flatMap(_.queryExecution.tracker.phases.toSeq)
      .groupMapReduce(_._1)(_._2.durationMs.toDouble)(_ + _)
  }

  /** `LlmFrontend.toSql` and `Runner.run` rebuilt from their public parts,
    * so each part gets a span of its own. Same decisions, same order.
    * Returns the answer and, when one ran, the frames `spark.sql` and the
    * duplicate-column rename produced. */
  private def tracedRun(ctx: Ctx, frontend: LlmFrontend, llm: CannedLlm, question: String,
                        ask: Ask, promptChars: AtomicLong)
      : (Either[EngineError, DataFrame], Option[(DataFrame, DataFrame)]) = {
    val tracer = ctx.tracer
    val spark = ctx.spark
    val prompt = tracer.span("frontend.prompt")(frontend.systemPrompt())
    promptChars.set(prompt.length.toLong)
    val reply = tracer.span("llmclient.complete")(llm.client.complete(prompt, question))
    val sql = if (ask.withLed) reply else tracer.span("sanitizer.sanitize")(Sanitizer.sanitize(reply))
    val gate = tracer.span("sanitizer.write_gate") {
      if (!Sanitizer.isReadOnly(sql)) Some(EngineError(s"rejected non-SELECT statement: ${sql.take(80)}"))
      else Sanitizer.writeNode(spark, sql).map(n => EngineError(s"rejected write/command statement ($n)"))
    }
    gate match {
      case Some(err) => (Left(err), None)
      case None =>
        try {
          val raw = tracer.span("catalyst.sql")(spark.sql(sql))
          val df = tracer.span("runner.dedup_columns")(Runner.dedupColumns(raw))
          (Right(df), Some(raw -> df))
        } catch { case e: Exception => (Left(EngineError(e.getMessage, Some(e))), None) }
    }
  }
}
