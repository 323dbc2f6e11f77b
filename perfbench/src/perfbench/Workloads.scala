package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{DFContext, SparkEntry}
import graft.operators.Maintenance

/** One unit of work in a pass. A [[Query]] is built (construct span) and
  * collected (plan + execute spans); a [[Sink]] runs its own writes. */
sealed trait Step { def name: String }
final case class Query(name: String, build: DFContext => DataFrame) extends Step
final case class Sink(name: String, run: (SparkSession, Tracer) => Long) extends Step

/** A workload: the tables its set-up registers, the steps of one pass (in
  * the order the seed chose) and the DuckDB SQL that checks each step. */
trait Workload {
  def register(ctx: DFContext): Unit
  def pass(rng: scala.util.Random): Seq[Step]
  def oracle: Map[String, String]
}

object Workloads {

  val tpch22: Seq[String] = Seq(
    "q1_agg", "q2_mincost", "q3_join_topk", "q4_priority", "q5_multijoin",
    "q6_filter", "q7_volume", "q8_share", "q9_profit", "q10_returns",
    "q11_partsupp", "q12_shipmode", "q13_custdist", "q14_promo",
    "q15_topsupplier", "q16_suppcnt", "q17_smallqty", "q18_bigorders",
    "q19_disjunct", "q20_nested_in", "q21_waiting", "q22_global")

  private val tpchTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem")

  /** The engine-shared SQL text: the DuckDB oracle with the partsupp
    * derivation CTE taken off, so Spark reads the fixture's partsupp file. */
  def plainSql(name: String): String =
    SparkEntry.oracleSql(name).stripPrefix("WITH " + graft.Tables.partsuppCte + "\n")

  /** The 22 TPC-H queries as plain SQL text through DFContext.sql. */
  final class TpchSql(dir: String) extends Workload {
    def register(ctx: DFContext) = {
      tpchTables.foreach(t => ctx.register(t, s"$dir/$t.parquet"))
      // the file when the fixture has one, else derived from part x supplier
      ctx.registerTable("partsupp", graft.Tables.partsupp(ctx.spark, dir))
    }
    def pass(rng: scala.util.Random) =
      rng.shuffle(tpch22).map(n => Query(n, _.sql(plainSql(n))))
    def oracle = tpch22.map(n => n -> SparkEntry.oracleSql(n)).toMap
    /** The same 22 queries through their hand-wired inventory bodies. */
    def handwired: Seq[Step] =
      tpch22.map(n => Query(n, c => SparkEntry.queries(n)(c.spark, dir)))
  }

  val pipelineLines: Seq[String] = Seq(
    "text_stats", "dedup_exact", "dedup_minhash_stats", "dedup_ngram_topk",
    "dedup_cluster", "text_repeated_ngrams", "sample_split", "pipeline_pack",
    "embed_knn", "vector_math")

  /** The corpus pipeline lines, then the write step over the
    * cluster-deduplicated corpus. The step order is the pipeline's own. */
  final class CorpusPipeline(dir: String, work: String) extends Workload {
    def register(ctx: DFContext) = Seq("documents", "embeddings")
      .foreach(t => ctx.registerTable(t, graft.Tables.load(ctx.spark, dir, t)))
    def pass(rng: scala.util.Random) =
      pipelineLines.map(n => Query(n, c => SparkEntry.queries(n)(c.spark, dir))) :+
        Sink("write_dedup_corpus", writeStep)
    def oracle = pipelineLines.map(n => n -> SparkEntry.oracleSql(n)).toMap +
      ("write_dedup_corpus" -> DedupCountSql)

    /** Split assignment of the `sample_split` line, which graft spells
      * inline in that line's body and exposes nowhere else. Which split a
      * document lands in changes the file layout only, not the checked
      * count. */
    private def split = {
      val h = substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 2)
      when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    }

    /** Drops every document the `dedup_cluster` line puts in another
      * document's cluster, writes the rest partitioned by split, compacts
      * the result and counts it back. */
    private def writeStep(spark: SparkSession, tr: Tracer): Long = {
      val docs = graft.Tables.load(spark, dir, "documents")
      val out = s"$work/dedup_corpus"
      tr.span("sink.write", "write_dedup_corpus") {
        val dropped = SparkEntry.queries("dedup_cluster")(spark, dir)
          .where(col("doc_id") =!= col("canonical")).select("doc_id")
        docs.join(dropped, Seq("doc_id"), "left_anti")
          .withColumn("split", split)
          .write.mode("overwrite").partitionBy("split").parquet(out)
      }
      tr.sinkWritten(dirBytes(out))
      val (_, after) = tr.span("sink.compact", "write_dedup_corpus") {
        Maintenance.optimize(spark, out)
      }
      tr.sinkCompacted(dirBytes(out), after, dirBytes(s"$dir/documents.parquet"))
      spark.read.parquet(out).count()
    }
  }

  /** Documents left after cluster dedup, by the `dedup_cluster` oracle. */
  private def DedupCountSql: String = {
    val cluster = SparkEntry.oracleSql("dedup_cluster")
      .replace("ORDER BY canonical, doc_id", "")
    cluster.replace("SELECT l.doc_id, l.canonical, sz.cluster_size",
      "SELECT CAST((SELECT count(*) FROM documents) - count(*) FILTER " +
        "(WHERE l.doc_id <> l.canonical) AS BIGINT) AS n")
  }

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(new java.io.File(path))
  }

  /** Every non-streaming inventory entry, by name. */
  def inventory: Seq[String] =
    (SparkEntry.queries.keySet -- graft.queries.StreamQueries.queries.keySet).toSeq.sorted

  /** Inventory entries once per pass: the `names` list of a slice file
    * (`perfbench/inventory_slice.json`, chosen by `perfbench/survey.py`
    * from a traced run of the whole inventory), else the whole inventory.
    * A listed name the inventory no longer has is left out. */
  final class InventorySweep(dir: String, sliceFile: Option[String]) extends Workload {
    val names: Seq[String] = sliceFile.fold(inventory) { f =>
      Main.Json.readTree(new java.io.File(f)).get("names").elements().asScala
        .map(_.asText).toSeq.filter(SparkEntry.queries.contains)
    }
    def register(ctx: DFContext) = ctx.registerAll(dir)
    def pass(rng: scala.util.Random) =
      rng.shuffle(names).map(n => Query(n, c => SparkEntry.queries(n)(c.spark, dir)))
  def oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
  }
}
