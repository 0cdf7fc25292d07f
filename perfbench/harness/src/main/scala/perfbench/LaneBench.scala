package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import graft.{DeployProfile, SparkEntry}

/** A lane as the benchmark drives it: an optional stage builder and the
  * function that constructs the lane's DataFrame.
  */
final case class Lane(name: String,
                      build: Option[(SparkSession, String) => Unit],
                      run: (SparkSession, String) => DataFrame)

object Lanes {
  /** The lanes_corpus workload: ANN top-k and recall over `embeddings`,
    * one of them probing a persisted IVF index, and text kernels over
    * `documents`. The first ANN lane's builder stages what the others share.
    */
  val corpus: Seq[String] = Seq(
    "ann_cosine_topk", "ann_ivf_recall", "ann_pq_recall", "ann_matryoshka_recall",
    "ann_ivf_pruned", "text_quality_gopher", "text_pii_scrub")

  def fromRegistry(names: Seq[String]): Seq[Lane] = {
    val queries = SparkEntry.queries
    val builders = SparkEntry.stageBuilders
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown lanes: ${unknown.mkString(", ")}")
    names.map(n => Lane(n, builders.get(n), queries(n)))
  }
}

/** One lane run: the three steps in nanoseconds. */
final case class LaneTiming(constructNs: Long, planNs: Long, executeNs: Long) {
  def totalNs: Long = constructNs + planNs + executeNs
}

/** Runs a lane workload: the set-up, then for each lane its builder and
  * its cold run, then whole warm passes until `seconds` have gone by (at
  * least two). Every run is forced through a sink that drops its rows.
  */
final class LaneBench(lanes: Seq[Lane], dataDir: String, runDir: Path,
                      seconds: Double, cores: Int, trace: Trace) {
  private val minWarmPasses = 2
  /** Rounds of the engine warm-up in the set-up. */
  private val warmUpRounds = 3

  private val failures = ArrayBuffer.empty[String]
  private var attempted = 0L
  private val dead = mutable.Set.empty[String]
  /** Span id of each step → its phase: build, cold or warm. */
  private val phaseOf = mutable.Map.empty[Long, String]
  private var spark: SparkSession = _
  private var listener: StageListener = _

  def session: SparkSession = spark

  private def newSession(): SparkSession = {
    val s = DeployProfile.configure(SparkSession.builder().appName("perfbench"),
        DeployProfile.local(cores) ++ Map(
          "spark.sql.warehouse.dir" -> runDir.resolve("warehouse").toString,
          "spark.local.dir" -> runDir.resolve("local").toString))
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The untimed warm-up of the set-up. It runs the engine's generic
    * operators (scans of both corpus tables, explode, shuffle aggregation,
    * a join and a window) and no lane, so the cold runs pay for each
    * lane's own code and not for compiling Spark itself.
    */
  private def warmUp(s: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(s, dataDir, "documents")
    val emb = graft.Tables.load(s, dataDir, "embeddings")
    docs.select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .groupBy("lang", "w").count()
      .join(docs.groupBy("lang").agg(max("n_chars").as("m")), "lang")
      .withColumn("r", row_number().over(Window.partitionBy("lang").orderBy(desc("count"), col("w"))))
      .where(col("r") <= 3).collect()
    emb.select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos").agg(sum(col("col") * col("col"))).collect()
  }

  /** Builds a session over an empty warehouse and warms it up. Returns
    * the seconds from the start of the JVM until the first timed
    * operation can start.
    */
  private def setUp(): Double = {
    spark = newSession()
    (1 to warmUpRounds).foreach(_ => warmUp(spark))
    Jvm.secondsSinceStart
  }

  private def step[T](name: String, phase: String, parent: Long)(body: => T): (T, Long) =
    trace.timed(name, parent) { id =>
      if (trace.enabled) {
        phaseOf(id) = phase
        spark.sparkContext.setJobGroup(id.toString, s"$phase $name", interruptOnCancel = false)
      }
      try body
      finally if (trace.enabled) spark.sparkContext.clearJobGroup()
    }

  private def fail(lane: Lane, phase: String, e: Throwable): Unit = {
    failures += s"${lane.name} $phase: ${e.getClass.getName}: ${e.getMessage}"
    dead += lane.name
  }

  private def build(lane: Lane, parent: Long): Option[Long] = lane.build.flatMap { b =>
    attempted += 1
    try Some(step("build", "build", parent)(b(spark, dataDir))._2)
    catch { case e: Throwable => fail(lane, "build", e); None }
  }

  private def runOnce(lane: Lane, phase: String, pass: Int, parent: Long): Option[LaneTiming] = {
    attempted += 1
    try {
      val runId = trace.newId()
      val t0 = System.nanoTime()
      val (df, c) = step("construct", phase, runId)(lane.run(spark, dataDir))
      val (plan, p) = step("plan", phase, runId)(df.queryExecution.executedPlan)
      val (_, x) = step("execute", phase, runId) {
        SQLExecution.withNewExecutionId(df.queryExecution, Some(s"perfbench ${lane.name}")) {
          plan.execute().foreach(_ => ())
        }
      }
      trace.add(Span(runId, parent, lane.name, t0, System.nanoTime(),
        Map("phase" -> phase, "pass" -> pass)))
      Some(LaneTiming(c, p, x))
    } catch { case e: Throwable => fail(lane, phase, e); None }
  }

  def run(): LaneResult = {
    val setupS = setUp()
    if (trace.enabled) {
      listener = new StageListener
      spark.sparkContext.addSparkListener(listener)
    }
    val cpu0 = graft.BenchProtocol.cpuSnap()
    val runSpan = trace.newId()
    val start = System.nanoTime()
    val builds = mutable.LinkedHashMap.empty[String, Long]
    val colds = mutable.LinkedHashMap.empty[String, LaneTiming]
    lanes.foreach { lane =>
      build(lane, runSpan).foreach(ns => builds(lane.name) = ns)
      if (!dead(lane.name)) runOnce(lane, "cold", 0, runSpan).foreach(t => colds(lane.name) = t)
    }
    val coldEnd = System.nanoTime()
    val jitS = Jvm.compileSeconds
    val warm = mutable.LinkedHashMap.empty[String, ArrayBuffer[LaneTiming]]
    var passes = 0
    val warmStart = System.nanoTime()
    def alive = lanes.filterNot(l => dead(l.name))
    while (alive.nonEmpty &&
        (passes < minWarmPasses || System.nanoTime() - warmStart < seconds * 1e9)) {
      passes += 1
      alive.foreach { lane =>
        runOnce(lane, "warm", passes, runSpan)
          .foreach(t => warm.getOrElseUpdate(lane.name, ArrayBuffer.empty) += t)
      }
    }
    val warmEnd = System.nanoTime()
    trace.add(Span(runSpan, 0, "run", start, warmEnd, Map("passes" -> passes)))
    val cpu1 = graft.BenchProtocol.cpuSnap()
    val cacheBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val heapMb = Jvm.liveHeapMb()
    val stages =
      if (listener == null) Seq.empty
      else {
        org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        listener.stages
      }
    LaneResult(lanes.map(_.name), setupS, builds.toMap, colds.toMap, warm.view.mapValues(_.toSeq).toMap,
      passes, (warmEnd - warmStart) / 1e9, (coldEnd - start) / 1e9, jitS, heapMb, cacheBytes,
      stages, phaseOf.toMap, attempted, failures.toSeq, Host.foreignCores(cpu0, cpu1, cores), cores)
  }
}

/** Everything a lane run measured; metrics are derived from it. */
final case class LaneResult(
    lanes: Seq[String], setupS: Double,
    buildNs: Map[String, Long], cold: Map[String, LaneTiming],
    warm: Map[String, Seq[LaneTiming]], passes: Int, warmWallS: Double,
    buildColdWallS: Double, jitS: Double, liveHeapMb: Double, cacheBytes: Long,
    stages: Seq[StageRec], phaseOf: Map[Long, String],
    attempted: Long, failures: Seq[String], foreignCores: Double, cores: Int) {

  /** Each lane's median warm run, in seconds. */
  def warmMedians: Map[String, Double] =
    warm.map { case (n, ts) => n -> Stats.median(ts.map(_.totalNs / 1e9)) }

  /** Lane latency percentiles are taken over the lanes, each lane counted
    * once at its median warm run, so they do not depend on how many warm
    * passes fit in the run.
    */
  def endToEnd: Map[String, Double] = {
    val perLane = warmMedians.values.toSeq
    def pct(q: Double): Double = if (perLane.isEmpty) 0.0 else Stats.quantile(perLane, q) * 1e6
    Map(
      "setup_s" -> setupS,
      "build_s" -> buildNs.values.sum / 1e9,
      "cold_s" -> cold.values.map(_.totalNs).sum / 1e9,
      "warm_s" -> perLane.sum,
      "calls_per_s" -> warm.values.map(_.size).sum / warmWallS,
      "call_p50_us" -> pct(0.5),
      "call_p99_us" -> pct(0.99),
      "live_heap_mb" -> liveHeapMb)
  }

  def perLayer: Map[String, Double] = {
    val p = passes.max(1).toDouble
    val warmStages = stages.filter(s => phaseOf.get(s.group).contains("warm"))
    val buildStages = stages.filter(s => phaseOf.get(s.group).contains("build"))
    val executeS = warm.values.flatten.map(_.executeNs).sum / 1e9 / p
    val taskS = warmStages.map(_.runMs).sum / 1e3 / p
    val weight = warmStages.filter(_.numTasks > 1).map(_.runMs.toDouble)
    val skew =
      if (weight.sum <= 0) 1.0
      else warmStages.filter(_.numTasks > 1).map(s => s.skew * s.runMs).sum / weight.sum
    Map(
      "SparkEntry.construct_s" -> cold.values.map(_.constructNs).sum / 1e9,
      "plans.plan_s" -> warm.values.flatten.map(_.planNs).sum / 1e9 / p,
      "Tables.input_bytes" -> warmStages.map(_.inputBytes).sum / p,
      "Tables.input_rows" -> warmStages.map(_.inputRecords).sum / p,
      "operators.execute_s" -> executeS,
      "operators.task_s" -> taskS,
      "operators.task_cpu_s" -> warmStages.map(_.cpuNs).sum / 1e9 / p,
      "operators.gc_s" -> warmStages.map(_.gcMs).sum / 1e3 / p,
      "operators.stages" -> warmStages.size / p,
      "operators.tasks" -> warmStages.map(_.numTasks).sum / p,
      "operators.core_util" -> (if (executeS <= 0) 0.0 else taskS / (executeS * cores)),
      "operators.narrow_stage_s" -> warmStages.filter(_.numTasks <= 2).map(_.wallMs).sum / 1e3 / p,
      "operators.skew" -> skew,
      "operators.shuffle_read_bytes" -> warmStages.map(_.shuffleReadBytes).sum / p,
      "operators.shuffle_write_bytes" -> warmStages.map(_.shuffleWriteBytes).sum / p,
      "operators.spill_bytes" -> warmStages.map(_.spillBytes).sum / p,
      "operators.cache_bytes" -> cacheBytes.toDouble,
      "sources.build_write_bytes" -> buildStages.map(_.outputBytes).sum.toDouble,
      "sources.build_task_s" -> buildStages.map(_.runMs).sum / 1e3,
      "jvm.jit_s" -> jitS)
  }

  /** Per-lane figures kept in the trace file. */
  def perLane: Seq[Map[String, Any]] = lanes.map { n =>
    val ws = warm.getOrElse(n, Nil)
    def med(f: LaneTiming => Long): Any =
      if (ws.isEmpty) None else Stats.median(ws.map(t => f(t) / 1e9))
    Map("lane" -> n,
      "build_s" -> buildNs.get(n).map(_ / 1e9),
      "cold_s" -> cold.get(n).map(_.totalNs / 1e9),
      "cold_construct_s" -> cold.get(n).map(_.constructNs / 1e9),
      "warm_runs" -> ws.size,
      "warm_s" -> med(_.totalNs),
      "warm_construct_s" -> med(_.constructNs),
      "warm_plan_s" -> med(_.planNs),
      "warm_execute_s" -> med(_.executeNs),
      "failed" -> failures.exists(_.startsWith(n + " ")))
  }
}
