package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics
import graft.{DFContext, GraftSession, ScaleFixture}
import graft.operators.Dedup

/** One benchmark JVM. A `run` sets up (session built, tables registered),
  * makes one cold pass and a fixed number of warm passes, then writes the
  * last pass's outputs for the DuckDB check. A `setup` only sets up, so
  * `run.py` can time set-up in fresh JVMs. Everything measured goes to
  * `record.json` (or `setup.json`) in the output directory; `run.py` turns
  * it into the metric line.
  *
  *   --mode prepare --src DIR --dst DIR --copies N   build a scaled fixture
  *   --mode setup --workload tpch|corpus|inventory --data DIR --work DIR
  *       --out DIR [--names FILE]
  *   --mode run (as setup) --seed N --warm N --trace 0|1
  */
object Main {
  val Cores = 4
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit = Json.writeValue(new java.io.File(path), v)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    o("mode") match {
      case "prepare" =>
        val spark = GraftSession.local(Cores)
        try prepare(spark, o("src"), o("dst"), o("copies").toInt)
        finally spark.stop()
      case "setup" => new Run(o).setupOnly()
      case "run" => new Run(o).run()
    }
  }

  /** ScaleFixture.ensure, then copy c of every lineitem row gets c cents
    * added to its price. Exact replicas make every copy of a supplier tie
    * on q15's double revenue sum, and which copies compare equal to the
    * max then depends on summation order, which no two engines share. */
  def prepare(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    ScaleFixture.ensure(spark, src, dst, copies)
    val stride = spark.read.parquet(s"$src/orders.parquet")
      .agg(max(col("o_orderkey"))).first().getLong(0) + 1
    val li = s"$dst/lineitem.parquet"
    spark.read.parquet(li)
      .withColumn("l_extendedprice",
        col("l_extendedprice") + floor(col("l_orderkey") / stride) * 0.01)
      .repartition(32).write.parquet(li + ".priced")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(li))
    new java.io.File(li + ".priced").renameTo(new java.io.File(li))
  }
}

/** Host counters read from /proc: CPU jiffies (USER_HZ = 100) of the whole
  * machine and of this process, and the 1-minute load average. */
final case class Weather(steal: Long, iowait: Long, busy: Long, self: Long) {
  def -(o: Weather) = Weather(steal - o.steal, iowait - o.iowait, busy - o.busy, self - o.self)
}

object Weather {
  private def read(p: String) = new String(Files.readAllBytes(Paths.get(p)))
  def now(): Weather = {
    val cpu = read("/proc/stat").linesIterator.next().split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal
    val busy = cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6)
    val st = read("/proc/self/stat")
    val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
    Weather(cpu(7), cpu(4), busy, f(11).toLong + f(12).toLong)
  }
  def loadavg(): Double = read("/proc/loadavg").split(" ")(0).toDouble
  def vmHwmMb(): Double = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

final class Run(o: Map[String, String]) {
  private val data = o("data")
  private val out = o("out")
  private val workload: Workload = o("workload") match {
    case "tpch" => new Workloads.TpchSql(data)
    case "corpus" => new Workloads.CorpusPipeline(data, o("work"))
    case "inventory" => new Workloads.InventorySweep(data, o.get("names"))
  }
  private val results = mutable.LinkedHashMap.empty[String,
    Either[Long, (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]]
  private val errors = mutable.LinkedHashMap.empty[String, String]
  private var spark: SparkSession = _
  private var ctx: DFContext = _
  private var qid = 0L

  private def secs(from: Long) = (System.nanoTime() - from) / 1e9

  /** Builds the session and registers the workload's tables, in this fresh
    * JVM. `ready_ms` (epoch) lets `run.py` time set-up from the launch. */
  private def setup(): Map[String, Double] = {
    val s0 = System.nanoTime()
    spark = GraftSession.local(Main.Cores)
    val build = secs(s0)
    val s1 = System.nanoTime()
    ctx = DFContext(spark)
    workload.register(ctx)
    Map("build_s" -> build, "register_s" -> secs(s1),
      "ready_ms" -> System.currentTimeMillis().toDouble)
  }

  def setupOnly(): Unit = {
    Files.createDirectories(Paths.get(out))
    val rec = setup()
    Main.write(s"$out/setup.json", rec)
    spark.stop()
  }

  private def gc(): (Double, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum / 1e3, bs.map(_.getCollectionCount).sum)
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** One pass over `steps`; returns its record. With `keep`, each step's
    * output replaces the one kept from the previous pass. */
  private def pass(kind: String, steps: Seq[Step], tr: Tracer,
      keep: Boolean = true): collection.Map[String, Any] = {
    tr.beginPass()
    heapPools.foreach(_.resetPeakUsage())
    val (gc0, gcn0) = gc()
    val (cg0, cgn0) = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val w0 = Weather.now()
    var load = Weather.loadavg()
    val times = mutable.ArrayBuffer.empty[Seq[Any]]
    val p0 = System.nanoTime()
    for (st <- steps) {
      qid += 1
      tr.query(qid)
      val s = System.nanoTime()
      val c0 = CodeGenerator.compileTime
      val ok = try {
        tr.span("query", st.name)(st match {
          case Query(n, build) =>
            val df = tr.span("construct", n)(build(ctx))
            tr.span("plan", n)(df.queryExecution.executedPlan)
            val rows = tr.span("exec", n)(df.collect())
            tr.planOf(df)
            if (keep) results(n) = Right((df.schema, rows))
          case Sink(n, run) =>
            val count = run(spark, tr)
            if (keep) results(n) = Left(count)
        })
        true
      } catch {
        case e: Throwable =>
          errors(st.name) = s"$kind: ${e.getClass.getName}: ${e.getMessage}".take(500)
          false
      }
      times += Seq(st.name, secs(s), ok)
      if (tr.enabled) tr.pass(s"step.${st.name}.compile_s") += (CodeGenerator.compileTime - c0) / 1e9
      load = math.max(load, Weather.loadavg())
    }
    val wall = secs(p0)
    val w = Weather.now() - w0
    val (gc1, gcn1) = gc()
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val codegen = Map("codegen.compile_s" -> (CodeGenerator.compileTime - cg0) / 1e9,
      "codegen.compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgn0).toDouble)
    val counters = if (tr.enabled) tr.endPass() ++ codegen else Map.empty[String, Double]
    mutable.LinkedHashMap[String, Any](
      "kind" -> kind, "traced" -> tr.enabled, "wall_s" -> wall, "steps" -> times,
      "host.steal_s" -> w.steal / 100.0, "host.iowait_s" -> w.iowait / 100.0,
      "host.foreign_cpu_s" -> math.max(0L, w.busy - w.self) / 100.0,
      "host.loadavg_max" -> load,
      "jvm.gc_s" -> (gc1 - gc0), "jvm.gc_count" -> (gcn1 - gcn0),
      "jvm.heap_peak_mb" -> heapPeak, "counters" -> counters)
  }

  /** Writes the outputs of the last timed pass for the DuckDB check. */
  private def writeResults(): Unit =
    for ((name, res) <- results) {
      val dst = s"$out/results/$name"
      val df = res match {
        case Right((schema, rows)) => spark.createDataFrame(rows.toSeq.asJava, schema)
        case Left(count) => spark.range(1).select(lit(count).as("n"))
      }
      df.coalesce(1).write.mode("overwrite").parquet(dst)
    }

  /** The corpus's n-gram bucket statistics: pairs the Jaccard self-join
    * probes (B(B-1)/2 per bucket) and the share with Jaccard >= 0.5. */
  private def ngramPairs(): Map[String, Double] = {
    val docs = graft.Tables.load(spark, data, "documents")
    val bucket = concat_ws("|", col("source"), col("lang"), Dedup.lengthBand(col("text")))
    val probed = docs.groupBy(bucket.as("b")).count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).first().getDouble(0)
    val kept = Dedup.ngramJaccardPairs(docs, "doc_id", "text", bucket)
      .where(col("jaccard") >= 0.5).count()
    Map("dedup.ngram_pairs_probed" -> probed,
      "dedup.ngram_pairs_kept_ratio" -> (if (probed > 0) kept / probed else 0.0))
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    val seed = o("seed").toLong
    val traced = o("trace") == "1"
    val warm = o("warm").toInt
    val rng = new scala.util.Random(seed)
    Files.createDirectories(Paths.get(out))
    val setupRec = setup()
    val sc = spark.sparkContext
    val plain = new Tracer(sc, false, t0)
    val tracer = if (traced) new Tracer(sc, true, t0) else plain
    val recs = mutable.ArrayBuffer(pass("cold", workload.pass(rng), tracer))
    // A fixed number of warm passes: JIT keeps speeding passes up for many
    // passes, so only a fixed count makes the median the same pass on
    // every run. A traced run makes one untraced warm-up pass, then
    // interleaves untraced and traced ones (U T T U ...) so the tracer's own
    // cost can be read off as their ratio without the warm-up trend
    // favouring either.
    if (traced) recs += pass("warm_up", workload.pass(rng), plain)
    for (i <- 0 until warm) {
      val tr = if (traced && (i % 4 == 1 || i % 4 == 2)) tracer else plain
      recs += pass("warm", workload.pass(rng), tr)
    }
    val peakRss = Weather.vmHwmMb()
    val extra = mutable.LinkedHashMap.empty[String, Any]
    if (traced) {
      workload match {
        case w: Workloads.TpchSql =>
          recs += pass("handwired_cold", w.handwired, plain, keep = false)
          recs += pass("handwired", w.handwired, plain, keep = false)
          extra("dfcontext.rewritten_queries") = Workloads.tpch22.count { n =>
            val q = Workloads.plainSql(n)
            DFContext.rewrite(q) != q
          }
        case _: Workloads.CorpusPipeline => extra ++= ngramPairs()
        case _ =>
      }
      Files.write(Paths.get(s"$out/spans.jsonl"),
        tracer.spans.map(s => Main.Json.writeValueAsString(s)).asJava)
    }
    writeResults()
    val rt = Runtime.getRuntime
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o("workload"), "seed" -> seed, "traced" -> traced,
      "cores" -> Main.Cores, "host_cpus" -> rt.availableProcessors(),
      "heap_max_mb" -> rt.maxMemory() / 1048576.0,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "setup" -> setupRec, "peak_rss_mb" -> peakRss, "errors" -> errors,
      "extra" -> extra, "oracle" -> workload.oracle, "passes" -> recs)
    Main.write(s"$out/record.json", record)
    spark.stop()
  }
}
