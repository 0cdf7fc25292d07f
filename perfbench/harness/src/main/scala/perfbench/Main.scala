package perfbench

import java.nio.file.Paths

/** Entry points of the benchmark harness.
  *
  *   inputs --data <dir> --seed <n>
  *   run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --data <dir> --run-dir <dir>
  *
  * `run` writes `<run-dir>/result.json` (and `trace.json` when traced),
  * then, for the lane workload, runs `graft.Verify` on the workload's
  * lanes into `<run-dir>/verify`. Its exit code is non-zero on any failure.
  */
object Main {
  val Sf = 0.1

  def main(args: Array[String]): Unit = sys.exit(run(args.toSeq))

  def options(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def run(args: Seq[String]): Int = args match {
    case "inputs" +: rest =>
      val o = options(rest)
      Inputs.generate(Paths.get(o("data")), Sf, o("seed").toLong)
      0
    case "run" +: rest => runWorkload(options(rest))
    case _ =>
      System.err.println("usage: perfbench.Main inputs|run --option value ...")
      2
  }

  def stamp(o: Map[String, String], cores: Int, foreignCores: Double): Map[String, Any] = Map(
    "nproc" -> cores,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
    "sf" -> Sf,
    "seed" -> o("seed").toLong,
    "foreign_cores" -> foreignCores)

  def runWorkload(o: Map[String, String]): Int = {
    val workload = o("workload")
    val runDir = Paths.get(o("run-dir")).toAbsolutePath
    val seconds = o("seconds").toDouble
    val trace = new Trace(o("trace") == "1")
    val cores = Runtime.getRuntime.availableProcessors
    val common = Map("workload" -> workload, "traced" -> trace.enabled)
    workload match {
      case "provider_redelivery" =>
        System.setProperty(graft.provider.DedupProviderBuilder.RequestTimeoutConfKey, "1")
        val r = new ProviderBench(o("seed").toLong, seconds, cores, trace).run()
        val record = common ++ Map(
          "attempted" -> r.attempted, "failures" -> r.failures.take(50),
          "failed" -> r.failed,
          "end_to_end" -> r.endToEnd, "per_layer" -> r.perLayer,
          "samples" -> Map("calls" -> r.latencies.length, "passes" -> r.passes.size,
            "stream_calls" -> r.stream.nCalls, "stream_keys" -> r.stream.nKeys,
            "outcomes" -> r.outcomes),
          "stamp" -> stamp(o, cores, r.foreignCores))
        Json.write(runDir.resolve("result.json"), record)
        if (trace.enabled) Json.write(runDir.resolve("trace.json"), record ++ Map("spans" -> trace.toJson))
        exitCode(r.failures)
      case "lanes_corpus" =>
        val data = o("data")
        val bench = new LaneBench(Lanes.fromRegistry(Lanes.corpus), data, runDir, seconds, cores, trace)
        val r = bench.run()
        val record = common ++ Map(
          "attempted" -> r.attempted, "failures" -> r.failures, "failed" -> r.failures.size,
          "lanes" -> r.lanes, "verify_dir" -> runDir.resolve("verify").toString,
          "per_lane" -> r.perLane,
          "end_to_end" -> r.endToEnd, "per_layer" -> r.perLayer,
          "samples" -> Map("warm_runs" -> r.warm.values.map(_.size).sum, "passes" -> r.passes,
            "build_cold_wall_s" -> r.buildColdWallS, "warm_wall_s" -> r.warmWallS),
          "stamp" -> stamp(o, cores, r.foreignCores))
        Json.write(runDir.resolve("result.json"), record)
        if (trace.enabled)
          Json.write(runDir.resolve("trace.json"),
            record ++ Map("spans" -> (trace.toJson ++ stageSpans(trace, r))))
        // Output check, outside the timed passes, in this session: Verify
        // exits the JVM with status 1 if a lane fails.
        graft.Verify.main(Array(data, runDir.resolve("verify").toString, r.lanes.mkString(",")))
        exitCode(r.failures)
      case other =>
        System.err.println(s"unknown workload $other")
        2
    }
  }

  def exitCode(failures: Seq[String]): Int = if (failures.isEmpty) 0 else 1

  /** Spark stages as spans under the step whose job group ran them. */
  def stageSpans(trace: Trace, r: LaneResult): Seq[Map[String, Any]] = r.stages.map { s =>
    Map("id" -> trace.newId(), "parent" -> s.group, "name" -> "stage",
      "start_us" -> (trace.epochMsToNs(s.submitMs) - trace.originNs) / 1000.0,
      "end_us" -> (trace.epochMsToNs(s.completeMs) - trace.originNs) / 1000.0,
      "attrs" -> Map("stage" -> s.stageId, "attempt" -> s.attempt, "tasks" -> s.numTasks, "task_ms" -> s.runMs,
        "cpu_ms" -> s.cpuNs / 1e6, "gc_ms" -> s.gcMs, "input_bytes" -> s.inputBytes,
        "input_rows" -> s.inputRecords, "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes,
        "output_bytes" -> s.outputBytes, "max_task_ms" -> s.taskRunMs.maxOption.getOrElse(0L),
        "skew" -> s.skew))
  }
}
