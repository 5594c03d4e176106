package perfbench

import graft.{Engine, Tables}
import org.apache.spark.sql.SparkSession

/** One row of `entries.tsv`: the entry's workload, its operator family and
  * the SHA-256 of its canonical CSV (`graft.Results.resultHash`). */
final case class EntryRow(id: String, kind: String, family: String, sha256: String)

object EntryTable {
  val Kinds: Seq[String] = Seq("ask", "curation", "stream")
  val Families: Seq[String] =
    Seq("textdedup", "similarity", "sketches", "classify", "multimodal", "textanalysis", "other")

  def load(path: String): Seq[EntryRow] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      l.split('\t') match {
        case Array(id, kind, family, sha) if Kinds.contains(kind) && (family == "sql" || Families.contains(family)) =>
          EntryRow(id, kind, family, sha)
        case _ => sys.error(s"bad line in $path: $l")
      }
    }.toVector
    finally src.close()
  }
}

/** Everything a workload needs: the live engine, its data, where it may
  * write, and the (possibly disabled) tracer. */
final class Ctx(val engine: Engine, val dataDir: String, val workDir: String,
                val tracer: Tracer, val entries: Seq[EntryRow]) {
  def spark: SparkSession = engine.spark
  def expected: Map[String, String] = entries.map(e => e.id -> e.sha256).toMap
}

object Harness {

  /** Build a session, register the tables, run the first action and warm
    * the workload's path with one untimed operation (`warmUp`): the set-up
    * a user pays before the first answer. */
  def setup(dataDir: String, tracer: Tracer, warmUp: Engine => Unit = _ => ()): Engine = {
    val spark = tracer.span("engine.session")(Engine.session(Runtime.getRuntime.availableProcessors()))
    spark.sparkContext.setLogLevel("ERROR")
    tracer.span("tables.register")(Tables.register(spark, dataDir))
    val engine = Engine.wrap(spark)
    tracer.span("setup.first_action") {
      spark.sql("SELECT COUNT(*) FROM region").collect()
      engine.catalog.schema()
    }
    tracer.span("setup.warm_up")(warmUp(engine))
    sweep(spark)
    engine
  }

  /** Persisted RDD blocks and their memory right now. */
  def storage(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
  }

  /** Release what entries left behind: persisted RDDs and the engine's
    * tracked broadcasts. */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.operators.Broadcasts.destroyAll()
  }

  /** Driver heap in use after forced collections, in MB. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
