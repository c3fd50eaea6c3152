package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One reported number. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: op counts, the gated end-to-end metrics, the
  * per-layer metrics (traced runs only) and the workload's named figures that are
  * printed for people but not gated.
  */
final case class Result(e2e: Seq[Metric], layers: Seq[Metric], named: Seq[Metric])

object Stats {
  /** Linear-interpolated quantile (type 7, as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Seeded draws for the workloads. `zipf` returns a rank in [0, n) with
  * p(rank) ∝ 1/(rank+1)^s; `perm` maps ranks onto keys so hot keys are
  * spread over the domain instead of sitting at its low end.
  */
final class Draws(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L + 17L)
  def int(bound: Int): Int = rnd.nextInt(bound)
  def long(bound: Long): Long = rnd.nextLong(bound)

  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    private val perm = {
      val p = Array.range(0, n)
      var i = n - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = p(i); p(i) = p(j); p(j) = t
        i -= 1
      }
      p
    }
    def draw(): Int = {
      val u = rnd.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      perm(lo)
    }
  }
  def zipf(n: Int, s: Double = 1.0): Zipf = new Zipf(n, s)
}

/** Order-independent per-row fingerprint of a token array. The oracle side
  * hashes `TokenGen.row` output; the engine side hashes what a read
  * returned. Equal fingerprints per row id mean bit-identical arrays up to a
  * 2^-64 collision chance.
  */
object Fingerprint {
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def of(id: Long, toks: Array[Int]): Long = {
    var h = mix(id)
    var k = 0
    while (k < toks.length) { h = (h ^ (toks(k) & 0xffffffffL)) * 0x100000001b3L; k += 1 }
    mix(h ^ toks.length)
  }
  def of(id: Long, toks: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    var h = mix(id)
    val n = toks.numElements()
    var k = 0
    while (k < n) { h = (h ^ (toks.getInt(k) & 0xffffffffL)) * 0x100000001b3L; k += 1 }
    mix(h ^ n)
  }
}

/** Process-level counters read from /proc: bytes through read/write
  * syscalls (/proc/self/io) and whole-box CPU ticks (/proc/stat) for the
  * contention telemetry.
  */
object Proc {
  private def read(path: String): Seq[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toList finally src.close()
    } catch { case _: Exception => Nil }

  /** (rchar, wchar); (-1, -1) when /proc/self/io is unreadable. */
  def io(): (Long, Long) = {
    val kv = read("/proc/self/io").flatMap { l =>
      l.split(":\\s*") match { case Array(k, v) => Some(k -> v.trim.toLong); case _ => None }
    }.toMap
    (kv.getOrElse("rchar", -1L), kv.getOrElse("wchar", -1L))
  }

  /** (busy ticks, steal ticks) summed over all CPUs; busy is
    * user+nice+system+irq+softirq.
    */
  def cpu(): Option[(Long, Long)] = read("/proc/stat").headOption.map { l =>
    val f = l.trim.split("\\s+").drop(1).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
  }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Filesystem type and mount point holding `path` (longest-prefix match
    * over /proc/mounts).
    */
  def filesystemOf(path: String): String = {
    val abs = new java.io.File(path).getCanonicalPath
    val mounts = read("/proc/mounts").flatMap { l =>
      l.split(" ") match { case a if a.length > 2 => Some((a(1), a(2))); case _ => None }
    }
    mounts.filter { case (mp, _) => abs == mp || abs.startsWith(if (mp.endsWith("/")) mp else mp + "/") }
      .sortBy(-_._1.length).headOption.map { case (mp, t) => s"$t on $mp" }.getOrElse("unknown")
  }
}

/** Share of the box's CPU time, over one window, that was stolen by the
  * hypervisor or burned by processes other than this JVM.
  */
final class Contention(cpus: Int) {
  private val c0 = Proc.cpu()
  private val p0 = Proc.processCpuNs()
  private val t0 = System.nanoTime()
  def finish(): (Double, Double) = {
    val wall = (System.nanoTime() - t0) / 1e9
    val ownTicks = (Proc.processCpuNs() - p0) / 1e9 * 100.0
    val boxTicks = math.max(1.0, wall * cpus * 100.0)
    (c0, Proc.cpu()) match {
      case (Some((b0, s0)), Some((b1, s1))) =>
        ((s1 - s0) / boxTicks, math.max(0.0, (b1 - b0) - ownTicks) / boxTicks)
      case _ => (-1.0, -1.0)
    }
  }
}

/** Spark task totals split by job group: the traced ops run under one
  * group, everything else under none, so the per-op figures cover the traced
  * ops only. Listener events arrive asynchronously; `settle` waits until the
  * counts stop moving before they are read.
  */
final class GroupListener extends SparkListener {
  final class Totals {
    val jobs, tasks, cpuNs, gcMs, shuffleBytes = new AtomicLong()
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Totals]()
  def of(group: String): Totals = totals.computeIfAbsent(group, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    of(g).jobs.incrementAndGet()
    e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = of(Option(stageGroup.get(e.stageId)).getOrElse(""))
    t.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs.addAndGet(m.executorCpuTime)
      t.gcMs.addAndGet(m.jvmGCTime)
      t.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def settle(): Unit = {
    def snap = totals.values().toArray.map(_.asInstanceOf[Totals].tasks.get).sum
    var last = -1L
    var stable = 0
    var waited = 0
    while (stable < 3 && waited < 50) {
      Thread.sleep(50); waited += 1
      val now = snap
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }
}

/** Spans recorded around the benchmark's calls into each engine layer:
  * (name, start, end, parent, op id), kept in memory and written out at
  * exit. Off unless the op is traced, in which case `span` only runs `body`.
  * The driver is single-threaded, so child spans never overlap and a span's
  * self time is its duration minus the sum of its children's.
  */
final class Trace {
  private val names = mutable.ArrayBuffer.empty[String]
  private val starts = mutable.ArrayBuffer.empty[Long]
  private val ends = mutable.ArrayBuffer.empty[Long]
  private val parents = mutable.ArrayBuffer.empty[Int]
  private val opIds = mutable.ArrayBuffer.empty[Long]
  private var stack: List[Int] = Nil
  var on = false
  var opId = 0L

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val i = names.size
      names += name; starts += System.nanoTime(); ends += 0L
      parents += stack.headOption.getOrElse(-1); opIds += opId
      stack = i :: stack
      try body
      finally { ends(i) = System.nanoTime(); stack = stack.tail }
    }

  def count: Int = names.size

  /** Durations (ms) of every span with this name. */
  def durations(name: String): Seq[Double] =
    names.indices.filter(names(_) == name).map(i => (ends(i) - starts(i)) / 1e6)

  /** Self time (ms) summed per layer — the span name up to its first dot. */
  def selfMsByLayer: Map[String, Double] = {
    val self = names.indices.map(i => (ends(i) - starts(i)).toDouble).toArray
    names.indices.foreach { i =>
      val p = parents(i)
      if (p >= 0) self(p) -= (ends(i) - starts(i))
    }
    names.indices.groupBy(i => names(i).takeWhile(_ != '.'))
      .map { case (layer, is) => layer -> is.map(self(_)).sum / 1e6 }
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try names.indices.foreach { i =>
      w.println(s"""{"name":"${names(i)}","start_ns":${starts(i)},"end_ns":${ends(i)},""" +
        s""""parent":${parents(i)},"op":${opIds(i)}}""")
    } finally w.close()
  }
}

/** Everything a workload needs: the session, its arguments, the op loop
  * with its failure accounting, and the tracing state.
  */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val traced: Boolean, val tiny: Boolean,
    val corrupt: Boolean, val workDir: String) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val trace = new Trace
  val listener = new GroupListener
  spark.sparkContext.addSparkListener(listener)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  final val TracedGroup = "traced"

  private val born = System.nanoTime()
  /** Progress line on stderr, with seconds since the session started. */
  def phase(what: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - born) / 1e9}%7.1f s  $what")

  def storeDir(name: String): String =
    new java.io.File(s"$workDir/stores/$name").getAbsolutePath

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Per-traced-op sums of /proc/self/io and engine decode counters. */
  var tracedOps = 0L
  var tracedRchar = 0L
  var tracedWchar = 0L
  var tracedChunksRead = 0L
  var tracedChunksSkipped = 0L

  /** Run one op of the closed loop: `work` does the op and returns its
    * check, which runs after the clock stops. An exception or a failed
    * check counts the op as failed. Returns the op's latency in ms.
    */
  def op(kind: String, traced: Boolean)(work: => (() => Boolean)): Double = {
    attempted += 1
    val before = if (traced) Some((Proc.io(), graft.store.Decode.chunksRead.get(),
      graft.store.Decode.chunksFilterSkipped.get())) else None
    if (traced) {
      trace.on = true; trace.opId = attempted
      spark.sparkContext.setJobGroup(TracedGroup, kind, interruptOnCancel = false)
    }
    val t0 = System.nanoTime()
    val check: Option[() => Boolean] =
      try Some(trace.span("op." + kind)(work))
      catch {
        case e: Exception =>
          failures += s"$kind #$attempted threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      } finally {
        trace.on = false
        if (traced) spark.sparkContext.clearJobGroup()
      }
    val ms = (System.nanoTime() - t0) / 1e6
    before.foreach { case ((r0, w0), c0, s0) =>
      val (r1, w1) = Proc.io()
      tracedOps += 1
      tracedRchar += r1 - r0; tracedWchar += w1 - w0
      tracedChunksRead += graft.store.Decode.chunksRead.get() - c0
      tracedChunksSkipped += graft.store.Decode.chunksFilterSkipped.get() - s0
    }
    val ok = check.exists { c =>
      val r = try c() catch { case e: Exception =>
        failures += s"$kind #$attempted check threw ${e.getMessage}"; false }
      if (!r) failures += s"$kind #$attempted: result differs from the oracle"
      r
    }
    if (!ok) failed += 1
    ms
  }

  /** A correctness check outside the timed loop (setup, final state): it
    * counts as one attempted op.
    */
  def verify(what: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch { case e: Exception =>
      failures += s"$what threw ${e.getMessage}"; false }
    if (!ok) { failed += 1; if (!failures.exists(_.startsWith(what))) failures += s"$what failed" }
  }

  /** Closed loop, one client: `warmup` steps whose timings are not kept
    * (their results are still checked), then steps until `seconds` elapse.
    * `step(i, record)`.
    */
  def loop(warmup: Int)(step: (Int, Boolean) => Unit): Unit = {
    var i = 0
    while (i < warmup) { step(i, false); i += 1 }
    phase("timed loop")
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (System.nanoTime() < deadline) { step(i, true); i += 1 }
    phase("loop done")
  }

  /** Per-layer figures common to every workload, from the traced ops. */
  def commonLayers(gatherSpan: String = "api.gather"): Seq[Metric] = {
    listener.settle()
    val n = math.max(1L, tracedOps).toDouble
    val t = listener.of(TracedGroup)
    val self = trace.selfMsByLayer
    def med(span: String) = Stats.median(trace.durations(span))
    Seq(
      Metric("store.plan_units_ms", med("store.planUnits"), "ms"),
      Metric("store.chunks_decoded_per_op", tracedChunksRead / n, "count"),
      Metric("store.chunks_filter_skipped_per_op", tracedChunksSkipped / n, "count"),
      Metric("fsio.rchar_per_op", tracedRchar / n, "B/op"),
      Metric("sources.plan_ms", med("sources.plan"), "ms"),
      Metric("sources.exec_ms", med("sources.exec"), "ms"),
      Metric("sources.jobs_per_op", t.jobs.get / n, "count"),
      Metric("sources.tasks_per_op", t.tasks.get / n, "count"),
      Metric("api.gather_ms", med(gatherSpan), "ms"),
      Metric("spark.task_cpu_ms_per_op", t.cpuNs.get / 1e6 / n, "ms"),
      Metric("spark.gc_ms_per_op", t.gcMs.get / n, "ms"),
      Metric("spark.shuffle_bytes_per_op", t.shuffleBytes.get / n, "B/op"),
      Metric("trace.spans_per_op", trace.count / n, "count")) ++
      Trace.Layers.map(l => Metric(s"self.${l}_ms_per_op", self.getOrElse(l, 0.0) / n, "ms"))
  }
}

object Trace {
  /** Span name prefixes; `op` is the benchmark's own glue around the calls. */
  val Layers: Seq[String] = Seq("op", "api", "store", "index", "mutate", "sources")
}
