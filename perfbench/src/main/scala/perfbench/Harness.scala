package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.{InputPartition, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.StructType

/** Result of one timed operation, checked against the generator's truth. */
final case class Outcome(ok: Boolean, detail: String = "", rows: Long = 0L, bytes: Long = 0L)

object Outcome {
  def check(cond: Boolean, what: => String, rows: Long = 0L, bytes: Long = 0L): Outcome =
    Outcome(cond, if (cond) "" else what, rows, bytes)
}

/** One timed operation: `kind` is the slot (0-3) of the workload's four op
  * kinds. `check`, when given, verifies the result after the clock stops. */
final case class Op(kind: Int, run: () => Outcome, check: Option[() => Outcome] = None)

/** What the operations of a run share. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val inputs: File, val work: File,
                val seed: Long) {
  val traced: Boolean = tracer.enabled
  /** Scan-node custom metrics of the run's traced queries, summed per name. */
  val scanCounts = mutable.HashMap[String, Long]().withDefaultValue(0L)
  /** Checks made by traced-only probes, reported with the timed ops'. */
  var probeChecks = 0L
  val probeFailures = mutable.ArrayBuffer[String]()
  def probeCheck(name: String, o: Outcome): Unit = {
    probeChecks += 1
    if (!o.ok) probeFailures += s"$name: ${o.detail}"
  }
  /** Wall ms of `executedPlan` and of fresh `planInputPartitions`, traced only. */
  var planMs = 0.0
  var partitionsMs = 0.0

  /** Run SQL to completion: traced, plan and execution are separate spans
    * and the scan node's metrics are collected afterwards. */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] =
    if (!traced) df.collect()
    else {
      val t0 = System.nanoTime()
      val plan = tracer.span("spark.plan")(df.queryExecution.executedPlan)
      planMs += (System.nanoTime() - t0) / 1e6
      val rows = tracer.span("spark.execute")(df.collect())
      Probes.scanMetrics(plan).foreach { case (k, v) => scanCounts(k) += v }
      val t1 = System.nanoTime()
      tracer.span("plan.partitions")(Probes.freshPartitions(df))
      partitionsMs += (System.nanoTime() - t1) / 1e6
      rows
    }

  /** Force a frame through the noop sink (no result transfer). */
  def noop(df: DataFrame): Unit =
    if (!traced) df.write.format("noop").mode("overwrite").save()
    else {
      val t0 = System.nanoTime()
      tracer.span("spark.plan")(df.queryExecution.executedPlan)
      planMs += (System.nanoTime() - t0) / 1e6
      tracer.span("spark.execute")(df.write.format("noop").mode("overwrite").save())
    }
}

/** A benchmark workload: four op kinds, tables, a warm-up, and a stream of
  * seeded operations. A "unit" is what `op_p50_ms` times: one query for
  * region_lookup, one pass over the four kinds for the others. */
trait Workload {
  def kinds: Seq[String]
  /** Write any missing inputs for `seed` into `dir` (generation JVM). */
  def generate(dir: File, seed: Long): Unit
  def tables(c: Ctx): Unit
  def warm(c: Ctx): Unit
  /** After the last set-up, before timing (e.g. caching an input frame). */
  def prepare(c: Ctx): Unit = ()
  def unit(c: Ctx, rng: java.util.SplittableRandom): Seq[Op]
  /** MB of user data one unit moves, for `mb_s`, from the unit's outcomes. */
  def unitMb(outs: Seq[Outcome]): Double = outs.map(_.bytes).sum / 1e6
  /** Traced-only probes of single layers: name -> value. */
  def probes(c: Ctx): Seq[(String, Double)] = Nil
  /** Per-run facts printed with the results (sizes, digests). */
  def facts(c: Ctx): Seq[(String, Double)] = Nil
  def close(): Unit = ()
}

/** Reads of Spark's and graft's own surfaces, shared by the workloads. */
object Probes extends PredicateHelper {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Custom metrics of every DSv2 scan node (graft's filesListed, ...). */
  def scanMetrics(plan: SparkPlan): Map[String, Long] =
    nodes(plan).collect { case b: BatchScanExec => b.metrics.toSeq.map { case (k, m) => k -> m.value } }
      .flatten.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }

  /** Rebuild the query's first DSv2 scan from its table and the same
    * translated filters, and plan its input partitions afresh. */
  def freshPartitions(df: DataFrame): Array[InputPartition] = {
    val opt = df.queryExecution.optimizedPlan
    val rel = opt.collectFirst { case r: DataSourceV2ScanRelation => r }
    rel.map { r =>
      val conds: Seq[Expression] = opt.collect {
        case Filter(cond, child) if child.exists(_ eq r) => splitConjunctivePredicates(cond)
      }.flatten
      val filters = conds.flatMap(e => org.apache.spark.sql.PerfbenchSqlAccess.translateFilter(e))
      scanOf(r.relation, r.schema, filters.toArray).planInputPartitions()
    }.getOrElse(Array.empty)
  }

  def scanOf(rel: DataSourceV2Relation, schema: StructType,
             filters: Array[org.apache.spark.sql.sources.Filter]): org.apache.spark.sql.connector.read.Batch = {
    val b = rel.table.asInstanceOf[SupportsRead].newScanBuilder(rel.options)
    b match { case f: SupportsPushDownFilters => f.pushFilters(filters); case _ => }
    b match { case p: SupportsPushDownRequiredColumns => p.pruneColumns(schema); case _ => }
    b.build().toBatch
  }

  /** Single-threaded decode rate (compressed MB/s) of a table: every
    * planned partition read serially through the reader factory in the
    * driver, stopping after `budgetS` seconds of whole partitions. */
  def decodeMbS(c: Ctx, table: String, columns: Seq[String], budgetS: Double = 1.0): Double =
    c.tracer.span(s"decode.$table")(decodeMbS(c.spark, table, columns, budgetS))

  private def decodeMbS(spark: SparkSession, table: String, columns: Seq[String], budgetS: Double): Double = {
    val df = spark.table(table).select(columns.map(org.apache.spark.sql.functions.col): _*)
    val rel = df.queryExecution.optimizedPlan.collectFirst { case r: DataSourceV2ScanRelation => r }.get
    val batch = scanOf(rel.relation, rel.schema, Array.empty)
    val parts = batch.planInputPartitions()
    val factory = batch.createReaderFactory()
    var bytes = 0L
    val t0 = System.nanoTime()
    val it = parts.iterator
    while (it.hasNext && (bytes == 0 || System.nanoTime() - t0 < budgetS * 1e9)) {
      val p = it.next()
      val r = factory.createReader(p)
      try while (r.next()) r.get() finally r.close()
      bytes += partitionBytes(p)
    }
    bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
  }

  /** Bytes a graft partition covers: the sum of its chunks' lengths. */
  def partitionBytes(p: InputPartition): Long = p match {
    case g: graft.sources.GraftInputPartition => g.chunks.map(_.length).sum
    case _ => 0L
  }

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak use of the JVM's memory pools so far, MB: heap pools' peak used
    * and committed bytes, and the non-heap pools' peak used bytes. */
  def poolPeaksMb: Seq[(String, Double)] = {
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    val (heap, other) = pools.partition(_.getType == java.lang.management.MemoryType.HEAP)
    def mb(f: java.lang.management.MemoryUsage => Long)(ps: Seq[java.lang.management.MemoryPoolMXBean]) =
      ps.map(p => f(p.getPeakUsage)).sum / 1048576.0
    Seq("jvm.heap_peak_used_mb" -> mb(_.getUsed)(heap), "jvm.heap_peak_committed_mb" -> mb(_.getCommitted)(heap),
      "jvm.nonheap_peak_used_mb" -> mb(_.getUsed)(other))
  }

  /** Peak resident set (VmHWM) of this JVM, MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
