package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Spans of one operation (or of one set-up): name, layer, start and end in
  * epoch microseconds. The operation itself is the parent of every span. */
final class OpSpans(val id: String) {
  val spans = ArrayBuffer.empty[Map[String, Any]]

  def span[T](name: String, layer: String)(f: => T): T = {
    val start = Clock.nowUs
    try f
    finally spans += Map("name" -> name, "layer" -> layer, "start" -> start, "end" -> Clock.nowUs)
  }
}

final case class Opts(workload: String, data: String, out: String, work: String,
                      seconds: Double, trace: Boolean, cores: Int, reps: Int, seed: Long)

/** One workload: what a set-up registers, which operation warms it up, and
  * the operations of each cycle of the closed loop. */
trait Workload {
  /** Registration work of one set-up (the session already exists). */
  def setUp(spark: SparkSession, rep: Int, s: OpSpans): Unit
  /** The first operation, run as the last step of every set-up. */
  def warmUp(s: OpSpans): Unit
  /** Untimed, between the set-ups and the loop: brings caches that every
    * operation of a long-lived client would find warm to steady state. */
  def prime(): Unit = ()
  /** Untimed, after the loop: writes the outputs the checker needs that the
    * timed operations do not write themselves. */
  def dumpForCheck(): Unit = ()
  /** The operations of cycle `c`, in order. Empty when inputs run out. */
  def cycle(c: Int): Seq[(String, OpSpans => Unit)]
  /** SQL texts the checker runs in DuckDB, by output name. */
  def oracles: Map[String, String]
  /** Corpus the traced run projects the hashing kernels over, if any. */
  def kernelCorpus: Option[String] = None
  /** Facts recorded at the end of the run. */
  def finish(): Map[String, Any] = Map.empty
}

object Main {

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("out"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("reps").toInt, m("seed").toLong)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    new File(o.out).mkdirs()
    val w: Workload = o.workload match {
      case "sql_tpch" => new SqlTpch(o)
      case "curation_batch" => new CurationBatch(o)
      case "dedup_incremental" => new DedupIncremental(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(Paths.get(o.out, "oracles.json"), Json.obj(w.oracles.toSeq: _*))
    val records = ArrayBuffer.empty[String]

    // set-up, repeated: session start + registration + first-operation warm-up
    var spark: SparkSession = null
    for (rep <- 0 until o.reps) {
      if (spark != null) spark.stop()
      val start = Clock.nowUs
      spark = session(o)
      val sessionEnd = Clock.nowUs
      val s = new OpSpans(s"setup-$rep")
      w.setUp(spark, rep, s)
      s.span("warm_up", "workload")(w.warmUp(s))
      records += Json.obj("t" -> "setup", "rep" -> rep, "start" -> start,
        "end" -> Clock.nowUs, "session_end" -> sessionEnd, "spans" -> s.spans.toSeq)
    }
    records += Json.obj("t" -> "host", "cores" -> o.cores,
      "master" -> spark.sparkContext.master,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "spark" -> spark.version, "java" -> System.getProperty("java.version"))
    w.prime()

    // closed loop: one client thread, the next operation starts when the
    // previous one completes, until the deadline; the first cycle always
    // completes. A traced run traces each operation name in every other
    // cycle, names alternating within a cycle, and completes at least two
    // cycles, so every name runs traced and untraced in the same JVM.
    val sc = spark.sparkContext
    val recorder = if (o.trace) Some(new Recorder(spark)) else None
    val deadline = Clock.nowUs + (o.seconds * 1e6).toLong
    val mustComplete = if (o.trace) 2 else 1
    val nameIndex = scala.collection.mutable.Map.empty[String, Int]
    var seq = 0
    var c = 0
    var exhausted = false
    while (!exhausted && (c < mustComplete || Clock.nowUs < deadline)) {
      val ops = w.cycle(c)
      exhausted = ops.isEmpty
      ops.iterator.takeWhile(_ => c < mustComplete || Clock.nowUs < deadline).foreach { case (name, body) =>
        val id = s"op-$seq"
        val traced = recorder.isDefined && (nameIndex.getOrElseUpdate(name, nameIndex.size) + c) % 2 == 0
        sc.setLocalProperty(OpProperty.Key, id)
        if (traced) recorder.get.attach(id)
        val s = new OpSpans(id)
        val start = Clock.nowUs
        val error =
          try { body(s); None }
          catch { case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        val end = Clock.nowUs
        if (traced) recorder.get.detach()
        sc.setLocalProperty(OpProperty.Key, null)
        records += Json.obj("t" -> "op", "id" -> id, "seq" -> seq, "cycle" -> c,
          "name" -> name, "start" -> start, "end" -> end, "traced" -> traced,
          "error" -> error, "spans" -> s.spans.toSeq)
        seq += 1
      }
      c += 1
    }
    records += Json.obj("t" -> "loop", "exhausted" -> exhausted, "cycles" -> c)
    w.dumpForCheck()

    // traced run only: executor CPU per doc of the hashing kernels,
    // each projected alone over the cached corpus text
    for (rec <- recorder; corpus <- w.kernelCorpus) {
      val docs = spark.read.parquet(corpus).select("text").persist()
      val n = docs.count()
      val kernels = Seq(
        "gram_hash_set" -> "graft_gram_hash_set(text)",
        "minhash_sig" -> "graft_minhash_sig(graft_gram_hash_set(text))")
      for ((name, expr) <- kernels; i <- 0 until 3) {
        val id = s"probe:$name:$i"
        sc.setLocalProperty(OpProperty.Key, id)
        rec.attach(id)
        docs.selectExpr(s"$expr AS x").write.format("noop").mode("overwrite").save()
        rec.detach()
        sc.setLocalProperty(OpProperty.Key, null)
      }
      docs.unpersist(blocking = true)
      records += Json.obj("t" -> "kernel_corpus", "docs" -> n)
    }
    records += Json.obj("t" -> "finish", "facts" -> w.finish())
    recorder.foreach(r => r.records.forEach(line => records += line))
    Files.write(Paths.get(o.out, "events.jsonl"),
      java.util.Arrays.asList(records.toSeq: _*))
    spark.stop()
  }
}
