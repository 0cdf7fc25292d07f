package perfbench

import java.util.concurrent.{Callable, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import graft.operators.RecordState
import graft.provider._
import perfbench.Counter._

/** One pass of the call stream through one fresh provider. */
final case class PassResult(wallNs: Long, latNs: Array[Long], outcomes: Map[String, Long],
                            blockRuns: Long, breaches: Seq[String], totals: Counters)

/** Runs the call stream through `DedupProvider.process` from `threads`
  * client threads, closed loop: a thread takes the next call of the
  * stream when its previous call returns. Each pass builds a fresh
  * provider, so every key is new to it; passes repeat until `seconds`
  * of pass time have been measured (at least two).
  */
final class ProviderBench(seed: Long, seconds: Double, threads: Int, trace: Trace) {
  val passCalls = 400000
  val absorberSize = 1000
  /** Untimed passes of a warm-up stream before the first timed pass,
    * each through a fresh provider: throughput rises over the first
    * seconds as the JIT warms.
    */
  val warmUpPasses = 3
  /** Calls whose full spans the traced run keeps: every SampleEvery-th
    * call of a pass, about forty a pass, until the cap.
    */
  val maxSampledCalls = 400
  val SampleEvery = 9973
  val keyspace = "perfbench"
  val table = "calls"
  /** Entries expire by the size bound only. */
  val absorbMillis = 600000L
  val lateGap: Int = 3 * absorberSize
  /** Providers built per pass for the build timing; the pass uses the last. */
  val buildsPerPass = 1000
  /** Untimed builds in the set-up, enough for the JIT to compile the
    * build path before the first timed build.
    */
  val warmUpBuilds = 20000
  private var sampledCalls = 0

  final class Stack(val provider: DedupProvider, val log: InMemoryDedupLog)

  def newStack(): Stack = {
    val log = new InMemoryDedupLog
    if (!trace.enabled)
      new Stack(DedupProviderBuilder.newProviderBuilder()
        .withLog(log).withDuplicateAbsorber(absorberSize, absorbMillis).build(), log)
    else new Stack(new DedupProvider(
      new TracedLog(log),
      new TracedStrategy(new ExponentialDelayRetryStrategy(
        DedupProviderBuilder.DefaultRetries, 2 * DedupProviderBuilder.requestTimeoutMillis)),
      new TracedAbsorber(new CachedDuplicateBurstAbsorber(absorberSize, absorbMillis))), log)
  }

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicInteger()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"perfbench-client-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  def shutdown(): Unit = pool.shutdownNow()

  def runPass(stream: CallStream, stack: Stack, sample: Boolean, passSpan: Long): PassResult = {
    val ledger = new KeyLedger(stream.nKeys)
    val lat = new Array[Long](stream.nCalls)
    val cursor = new AtomicInteger(0)
    val block: Int => () => Unit = k => () => {
      val t0 = System.nanoTime()
      ledger.blockRuns.incrementAndGet(k)
      if (trace.enabled) {
        val t1 = System.nanoTime()
        val c = CallCtx.get
        c(BlockNs) += t1 - t0
        c.leaf("block", t0, t1)
      }
    }
    val worker: Callable[(Counters, Seq[Span], Map[String, Long])] = () => {
      val totals = new Counters
      val spans = ArrayBuffer.empty[Span]
      var success, duplicate, exceeded, failed = 0L
      var i = cursor.getAndIncrement()
      while (i < stream.nCalls) {
        val k = stream.calls(i)
        ledger.calls.incrementAndGet(k)
        val ctx = if (trace.enabled) CallCtx.get else null
        val keep = ctx != null && sample && i % SampleEvery == 0 && synchronized {
          sampledCalls < maxSampledCalls && { sampledCalls += 1; true }
        }
        val callId = if (keep) trace.newId() else 0L
        if (ctx != null) ctx.reset(if (keep) Some(trace) else None, callId)
        var outcome = "success"
        val t0 = System.nanoTime()
        try {
          stack.provider.process(stream.keys(k), table, keyspace, Duration.Zero, block(k))
          ledger.successes.incrementAndGet(k)
        } catch {
          case _: DuplicateException =>
            ledger.duplicates.incrementAndGet(k); outcome = "duplicate"
          case _: RetriesExceededException =>
            ledger.failures.incrementAndGet(k); outcome = "retries_exceeded"
          case _: Throwable =>
            ledger.failures.incrementAndGet(k); outcome = "failed"
        }
        val t1 = System.nanoTime()
        lat(i) = t1 - t0
        outcome match {
          case "success" => success += 1
          case "duplicate" => duplicate += 1
          case "retries_exceeded" => exceeded += 1
          case _ => failed += 1
        }
        if (ctx != null) {
          ctx(Calls) = 1
          ctx(CallNs) = t1 - t0
          if (ctx(Attempts) > 1) ctx(BackoffNs) = t1 - t0 - ctx(AttemptNs)
          totals.add(ctx)
          if (keep) {
            spans += Span(callId, passSpan, "process", t0, t1,
              Map("key" -> stream.keys(k), "outcome" -> outcome))
            spans ++= ctx.spans
          }
        }
        i = cursor.getAndIncrement()
      }
      (totals, spans.toSeq, Map("success" -> success, "duplicate" -> duplicate,
        "retries_exceeded" -> exceeded, "failed" -> failed))
    }
    val t0 = System.nanoTime()
    val parts = pool.invokeAll(Seq.fill(threads)(worker).asJava).asScala.map(_.get())
    val wall = System.nanoTime() - t0
    val totals = new Counters
    parts.foreach { case (t, spans, _) => totals.add(t); spans.foreach(trace.add) }
    val outcomes = parts.map(_._3).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })
    val now = System.currentTimeMillis() * 1000
    val breaches = Invariants.check(ledger, stream.keys(_), k =>
      stack.log.read(keyspace, table, stream.keys(k), now).count(_.state == RecordState.Success))
    val runs = (0 until stream.nKeys).map(ledger.blockRuns.get(_).toLong).sum
    PassResult(wall, lat, outcomes, runs, breaches, totals)
  }

  def run(): ProviderResult = {
    val failures = ArrayBuffer.empty[String]
    var attempted, failed = 0L
    /** A call that ends in neither success nor a duplicate, and a key that
      * breaches the contract, each count as one failed operation.
      */
    def account(p: PassResult): Unit = {
      attempted += p.latNs.length
      val bad = p.outcomes("retries_exceeded") + p.outcomes("failed")
      if (bad > 0) failures += s"$bad calls ended in neither success nor DuplicateException"
      failures ++= p.breaches
      failed += bad + p.breaches.size
    }
    val warmStream = CallStream.generate(seed ^ 0x5eedL, passCalls, lateGap)
    (1 to warmUpBuilds).foreach(_ => newStack())
    (1 to warmUpPasses).foreach(_ => account(runPass(warmStream, newStack(), sample = false, 0L)))
    // Collects the warm-up providers, so the first timed pass does not pay for it.
    System.gc()
    val setupS = Jvm.secondsSinceStart
    val stream = CallStream.generate(seed, passCalls, lateGap)
    val cpu0 = graft.BenchProtocol.cpuSnap()
    val runSpan = trace.newId()
    val start = System.nanoTime()
    val passes = ArrayBuffer.empty[PassResult]
    val buildNs = ArrayBuffer.empty[Double]
    var jitS = 0.0
    var last: Stack = null
    while (passes.size < 2 || passes.map(_.wallNs).sum < seconds * 1e9) {
      val b0 = System.nanoTime()
      (1 to buildsPerPass).foreach(_ => last = newStack())
      buildNs += (System.nanoTime() - b0).toDouble / buildsPerPass
      val passSpan = trace.newId()
      val p = runPass(stream, last, sample = true, passSpan)
      trace.add(Span(passSpan, runSpan, "pass", b0, System.nanoTime(),
        Map("pass" -> (passes.size + 1), "calls" -> stream.nCalls)))
      if (passes.isEmpty) jitS = Jvm.compileSeconds
      passes += p
      account(p)
    }
    trace.add(Span(runSpan, 0, "run", start, System.nanoTime(), Map("passes" -> passes.size)))
    val cpu1 = graft.BenchProtocol.cpuSnap()
    val heapMb = Jvm.liveHeapMb()
    require(last != null) // the last provider stays reachable until the heap is measured
    shutdown()
    ProviderResult(stream, setupS, buildNs.toSeq, passes.toSeq, jitS, heapMb, attempted,
      failed, failures.toSeq, Host.foreignCores(cpu0, cpu1, threads))
  }
}

final case class ProviderResult(
    stream: CallStream, setupS: Double, buildNs: Seq[Double], passes: Seq[PassResult],
    jitS: Double, liveHeapMb: Double, attempted: Long, failed: Long, failures: Seq[String],
    foreignCores: Double) {

  lazy val latencies: Array[Double] = Stats.sortedSeconds(passes.flatMap(_.latNs).toArray)

  def endToEnd: Map[String, Double] = {
    val wall = passes.map(_.wallNs).sum / 1e9
    Map(
      "setup_s" -> setupS,
      "build_s" -> Stats.median(buildNs.map(_ / 1e9)),
      "cold_s" -> passes.head.wallNs / 1e9,
      "warm_s" -> Stats.median(passes.tail.map(_.wallNs / 1e9)),
      "calls_per_s" -> latencies.length / wall,
      "call_p50_us" -> Stats.quantileSorted(latencies, 0.5) * 1e6,
      "call_p99_us" -> Stats.quantileSorted(latencies, 0.99) * 1e6,
      "live_heap_mb" -> liveHeapMb)
  }

  def outcomes: Map[String, Long] =
    passes.map(_.outcomes).reduce((a, b) => a.map { case (k, v) => k -> (v + b(k)) })

  def perLayer: Map[String, Double] = {
    val t = new Counters
    passes.foreach(p => t.add(p.totals))
    val calls = t(Calls).max(1).toDouble
    def us(ns: Long): Double = ns / 1e3 / calls
    val gate = t(AbsorbNs) - t(LoaderNs)
    val o = outcomes
    val runs = passes.map(_.blockRuns).sum
    Map(
      "provider.self_us" ->
        us(t(AttemptNs) - gate - t(AppendNs) - t(ReadNs) - t(UpdateNs) - t(BlockNs)),
      "provider.absorber.hit_ratio" ->
        (if (t(Absorbs) == 0) 0.0 else t(Hits).toDouble / t(Absorbs)),
      "provider.absorber.gate_us" -> us(gate),
      "provider.log.append_us" -> us(t(AppendNs)),
      "provider.log.read_us" -> us(t(ReadNs)),
      "provider.log.update_us" -> us(t(UpdateNs)),
      "provider.log.reads_per_call" -> t(Reads) / calls,
      "provider.log.writes_per_call" -> t(Writes) / calls,
      "provider.log.rows_per_read" -> (if (t(Reads) == 0) 0.0 else t(Rows).toDouble / t(Reads)),
      "provider.retry.attempts_per_call" -> t(Attempts) / calls,
      "provider.retry.backoff_ms" -> t(BackoffNs) / 1e6,
      "provider.block_us" -> us(t(BlockNs)),
      "provider.block.runs" -> runs.toDouble,
      "provider.outcome.success" -> o("success").toDouble,
      "provider.outcome.duplicate" -> o("duplicate").toDouble,
      "provider.outcome.retries_exceeded" -> o("retries_exceeded").toDouble,
      "provider.outcome.failed" -> o("failed").toDouble,
      "provider.useful_ratio" -> (if (t(Attempts) == 0) 0.0 else runs.toDouble / t(Attempts)),
      "jvm.jit_s" -> jitS)
  }
}
