package perfbench

import graft.{Corpus, Engine, Results, SparkEntry}

/** Builds the rows of `entries.tsv` (minus the family column): for every
  * entry its workload and the hash of the parquet dump `--dump` holds,
  * next to the hash of a live run here. A stream entry is one that starts
  * a streaming query while its frame is built. Prints TSV:
  * id, kind, dump hash, live hash. */
object Hashes {
  def run(a: Main.Args): Int = {
    val engine = Harness.setup(a.data, new Tracer(false))
    val spark = engine.spark
    val streams = new StreamCounters
    spark.streams.addListener(streams)
    val corpus = Corpus.queries.map(q => q.id -> q.sparkSql).toMap
    SparkEntry.queries.keys.toSeq.sortBy(id => (id.drop(1).takeWhile(_.isDigit).toInt, id)).foreach { id =>
      val dump = Results.resultHash(spark.read.parquet(s"${a.dump}/$id"))
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val before = streams.triggers.get
      val (kind, live) = corpus.get(id) match {
        case Some(sql) => ("ask", engine.runSql(sql).map(Results.resultHash).fold(_.message, identity))
        case None =>
          val h = Results.resultHash(SparkEntry.queries(id)(spark, a.data))
          org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
          (if (streams.triggers.get > before) "stream" else "curation", h)
      }
      Harness.sweep(spark)
      println(s"$id\t$kind\t$dump\t$live")
    }
    engine.stop()
    0
  }
}
