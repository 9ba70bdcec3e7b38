package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.{EngineContext, SparkEntry}
import graft.operators.Dedup

/** Interactive SQL: one long-lived EngineContext with the TPC-H tables
  * registered once; each cycle runs the 14 q_tpch_* texts and TPC-H Q1 in a
  * seed-permuted order through ctx.sql and collects the rows to the client,
  * as a bc.sql caller receives them. */
final class SqlTpch(o: Opts) extends Workload {
  /** The column of the check files that holds the operation id. */
  private val CheckOp = "perfbench_op"
  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** The TPC-H Q1 text of SparkEntry.entry. */
  private val q1 =
    """SELECT l_returnflag, l_linestatus,
      |       sum(l_quantity) AS sum_qty,
      |       sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
      |       avg(l_quantity) AS avg_qty,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin

  val oracles: Map[String, String] =
    SparkEntry.oracleSql.filter(_._1.startsWith("q_tpch_")) + ("q_tpch_01" -> q1)
  private val names = oracles.keys.toSeq.sorted
  private var ctx: EngineContext = _
  private var spark: SparkSession = _
  private val results = scala.collection.mutable.ArrayBuffer.empty[(String, String, StructType, Array[Row])]

  private def order(c: Int): Seq[String] = new scala.util.Random(o.seed * 1000003L + c).shuffle(names)

  private def run(name: String, s: OpSpans): Unit = {
    val df = s.span("ctx.sql", "engine_context")(ctx.sql(oracles(name)))
    val rows = s.span("collect", "action")(df.collect())
    results += ((s.id, name, df.schema, rows))
  }

  def setUp(spark: SparkSession, rep: Int, s: OpSpans): Unit = s.span("create_table", "engine_context") {
    this.spark = spark
    results.clear()
    ctx = new EngineContext(spark)
    tables.foreach(t => ctx.createTable(t, s"${o.data}/$t.parquet", "parquet"))
  }

  /** Q1, the flagship query, warms every set-up up. */
  def warmUp(s: OpSpans): Unit = run("q_tpch_01", s)

  /** Two untimed cycles, so the timed queries find Spark's code-generation
    * cache and the JVM's compiled code as a long-lived context that has seen
    * them before does: a first timed cycle still ran 15-25% slower than the
    * next one after a single untimed cycle. */
  override def prime(): Unit = for (_ <- 0 until 2; n <- names) ctx.sql(oracles(n)).collect()

  /** Every timed operation's collected rows, for the checker: one file per
    * query, its rows tagged with the operation id. */
  override def dumpForCheck(): Unit = results.filter(_._1.startsWith("op-")).groupBy(_._2).foreach {
    case (name, runs) =>
      val rows = runs.flatMap { case (id, _, _, rs) => rs.map(r => Row.fromSeq(r.toSeq :+ id)) }
      spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), runs.head._3.add(CheckOp, StringType))
        .coalesce(1).write.mode("overwrite").parquet(s"${o.out}/check/$name")
  }

  def cycle(c: Int): Seq[(String, OpSpans => Unit)] =
    order(c).map(n => n -> ((s: OpSpans) => run(n, s)))
}

/** Batch curation: one operation is one pass of the curation steps over the
  * seeded corpus, each entered through its SparkEntry.queries closure and
  * written to parquet. */
final class CurationBatch(o: Opts) extends Workload {
  private val steps = Seq(
    "q44_dedup_minhash_lsh", "q194_dedup_minhash_scaled", "q199_dedup_minhash_tokens",
    "q66b_dedup_clusters_dist", "q133_dedup_keep_best",
    "q144_lcp_repeats", "q146_phrase_scrub")
  val oracles: Map[String, String] = steps.map(n => n -> SparkEntry.oracleSql(n)).toMap
  private var spark: SparkSession = _

  private def runStep(name: String, dest: String, s: OpSpans): Unit = s.span(name, "step") {
    val df = s.span(s"$name.build", "operators")(SparkEntry.queries(name)(spark, o.data))
    s.span(s"$name.write", "action")(df.write.mode("overwrite").parquet(dest))
  }

  def setUp(spark: SparkSession, rep: Int, s: OpSpans): Unit = this.spark = spark

  def warmUp(s: OpSpans): Unit = runStep(steps.head, s"${o.work}/warm_up", s)

  def cycle(c: Int): Seq[(String, OpSpans => Unit)] =
    Seq("pass" -> ((s: OpSpans) => steps.foreach(n => runStep(n, s"${o.out}/pass_$c/$n", s))))

  override def kernelCorpus: Option[String] = Some(s"${o.data}/documents.parquet")
}

/** Incremental dedup: set-up indexes the first part of the corpus with
  * Dedup.dedupIndex and writes its bands/sets to parquet; each operation
  * probes one seeded batch against the on-disk index with
  * Dedup.incrementalPairs, materializes the pairs, and appends the batch's
  * own bands/sets to the index directory. */
final class DedupIncremental(o: Opts) extends Workload {
  val oracles: Map[String, String] =
    Map("q44_dedup_minhash_lsh" -> SparkEntry.oracleSql("q44_dedup_minhash_lsh"))
  private var spark: SparkSession = _
  private var indexDir: String = _

  private def batchPath(i: Int) = f"${o.data}/batches/batch_$i%04d.parquet"

  def setUp(spark: SparkSession, rep: Int, s: OpSpans): Unit = {
    this.spark = spark
    indexDir = s"${o.work}/index_$rep"
    val docs = spark.read.parquet(s"${o.data}/initial.parquet").select("doc_id", "text")
    val idx = s.span("index.build", "operators")(Dedup.dedupIndex(docs, "doc_id", "text"))
    s.span("index.write", "io") {
      idx.bands.write.mode("overwrite").parquet(s"$indexDir/bands")
      idx.sets.write.mode("overwrite").parquet(s"$indexDir/sets")
    }
  }

  private def ingest(i: Int, s: OpSpans): Unit = {
    val index = s.span("index.open", "io") {
      Dedup.DedupIndex(spark.read.parquet(s"$indexDir/bands"), spark.read.parquet(s"$indexDir/sets"))
    }
    val batch: DataFrame = spark.read.parquet(batchPath(i)).select("doc_id", "text")
    val pairs = s.span("probe", "operators")(
      Dedup.incrementalPairs(index, batch, "doc_id", "text", 0.7))
    s.span("materialize", "action")(
      pairs.write.mode("overwrite").parquet(f"${o.out}/pairs/batch_$i%04d"))
    val own = s.span("batch_index.build", "operators")(Dedup.dedupIndex(batch, "doc_id", "text"))
    s.span("append", "io") {
      own.bands.coalesce(1).write.mode("append").parquet(s"$indexDir/bands")
      own.sets.coalesce(1).write.mode("append").parquet(s"$indexDir/sets")
    }
  }

  def warmUp(s: OpSpans): Unit = ingest(0, s)

  def cycle(c: Int): Seq[(String, OpSpans => Unit)] =
    if (new File(batchPath(c + 1)).exists) Seq("batch" -> ((s: OpSpans) => ingest(c + 1, s)))
    else Seq.empty

  override def kernelCorpus: Option[String] = Some(s"${o.data}/initial.parquet")

  override def finish(): Map[String, Any] = {
    def files(sub: String) = Option(new File(s"$indexDir/$sub").listFiles).toSeq.flatten
      .count(_.getName.endsWith(".parquet"))
    Map("index_files" -> (files("bands") + files("sets")))
  }
}
