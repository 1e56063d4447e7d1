package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** A span around one call into a layer. Times are nanoseconds from the
  * start of the benchmark process.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, run: String)

/** Peak heap in use right after a full collection, over the samples taken.
  * On `dedup` it is bimodal between runs of the same seed (about 64 or
  * 143 MB), so it is a per-layer figure of the traced run, not a bounded one.
  */
object Heap {
  private var peak = 0L
  /** Collects fully, then records the heap still in use. */
  def sample(): Unit = {
    System.gc()
    peak = math.max(peak, java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1e6
}

/** One benchmark process: the Spark session, the job listener, the work
  * directory and, in a traced run, the spans recorded around layer calls.
  */
final class Ctx(val seed: Long, val cores: Int, val work: File) {
  /** Whether calls record spans. */
  var traced = false
  /** Wall seconds of top-level calls since the last [[resetJobs]]. */
  var callSeconds = 0.0
  private var depth = 0
  val t0: Long = System.nanoTime()
  val runId: String = f"${seed}%d-${ProcessHandle.current().pid()}%d"
  var spark: SparkSession = _
  var listener: JobListener = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var calls = 0

  /** Stops any running session and starts a fresh one at `local[slots]`.
    * Shuffle and input partition counts follow `cores`, not `slots`, so a
    * single-slot session runs the same plans.
    */
  def start(slots: Int = cores): SparkSession = {
    stop()
    val local = new File(work, "spark-local"); local.mkdirs()
    spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    spark
  }

  def stop(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark = null
  }

  def now: Long = System.nanoTime() - t0

  /** CPU seconds of work so far: every thread of the process (Spark's
    * driver, scheduler, broadcast and listener threads as well as its task
    * threads, and the collector), less the JIT compiler threads, whose work
    * is warm-up rather than the program's cost.
    */
  def cpuSeconds: Double = (Cpu.processNs - Cpu.threadsNs(Cpu.Jit)) / 1e9
  /** CPU seconds of the last [[call]], at the reference speed. */
  var lastCpu = 0.0
  /** Bytes the threads of the process allocated during the last [[call]]. */
  var lastAlloc = 0L
  /** Job group of the last [[call]]. */
  var lastGroup = ""
  /** Mean number of tasks running while any task of the last [[call]] ran. */
  def lastConcurrency: Double = listener.concurrency(lastGroup)

  def resetJobs(): Unit = { listener.reset(); callSeconds = 0.0 }

  /** Runs `body` with its Spark jobs tagged `<layer>/<name>#<n>`; in a traced
    * run it also records a span. Returns the result, the wall seconds and
    * the number of Spark jobs the call launched.
    */
  def call[T](layer: String, name: String)(body: => T): (T, Double, Int) = {
    calls += 1
    val group = s"$layer/$name#$calls"
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val k0 = Calib.run(cores)
    val parent = open.headOption.getOrElse(-1)
    val id = spans.size
    if (traced) { spans += Span(id, s"$layer.$name", now, -1, parent, runId); open.push(id) }
    val s = System.nanoTime()
    val c0 = cpuSeconds
    val a0 = Cpu.allocatedBytes
    depth += 1
    val out =
      try body
      finally {
        depth -= 1
        if (traced) { open.pop(); spans(id) = spans(id).copy(end = now) }
        sc.clearJobGroup()
      }
    val cpu = cpuSeconds - c0
    lastAlloc = Cpu.allocatedBytes - a0
    val sec = (System.nanoTime() - s) / 1e9
    if (depth == 0) callSeconds += sec
    lastCpu = Calib.scale(cpu, k0, Calib.run(cores))
    org.apache.spark.PerfbenchBus.drain(sc)
    lastGroup = group
    (out, sec, listener.jobs(group))
  }

  /** Runs `body`, which must make no [[call]]; returns its result and its
    * CPU seconds at the reference speed (see [[Calib]]).
    */
  def refCpu[T](body: => T): (T, Double) = {
    val k0 = Calib.run(cores)
    val c0 = cpuSeconds
    val out = body
    val cpu = cpuSeconds - c0
    (out, Calib.scale(cpu, k0, Calib.run(cores)))
  }

  /** Times `body` inside the current call, with no job group of its own;
    * in a traced run it records a span. Returns the result and wall seconds.
    */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = spans.size
    if (traced) { spans += Span(id, name, now, -1, open.headOption.getOrElse(-1), runId); open.push(id) }
    val s = System.nanoTime()
    val out =
      try body
      finally if (traced) { open.pop(); spans(id) = spans(id).copy(end = now) }
    (out, (System.nanoTime() - s) / 1e9)
  }

  /** Self seconds per layer (the span name up to its first dot): each
    * span's duration less the part its child spans cover.
    */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.iterator.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
      s.name.takeWhile(_ != '.') -> (s.end - s.start - covered) / 1e9
    }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def writeSpans(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"run":"${s.run}"}""")
    } finally w.close()
  }
}

/** Process CPU time, heap allocation and, on Linux, the CPU time of named
  * JVM threads.
  */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val tasks = new File("/proc/self/task")
  /** Thread-name prefixes (as Linux shows them, cut to 15 characters). */
  val Jit = Seq("C1 CompilerThre", "C2 CompilerThre")

  def processNs: Long = os.getProcessCpuTime

  /** Heap bytes allocated by all threads, ended ones included, since start. */
  def allocatedBytes: Long = threads.getTotalThreadAllocatedBytes

  /** CPU nanoseconds of the live threads whose name starts with a prefix;
    * 0 where `/proc` is absent. Run with a fixed number of compiler threads
    * (`-XX:-UseDynamicNumberOfCompilerThreads`) so none of them exits.
    */
  def threadsNs(prefixes: Seq[String]): Long =
    Option(tasks.listFiles).fold(0L)(_.iterator.map { t =>
      try {
        val name = read(new File(t, "comm")).trim
        if (prefixes.exists(name.startsWith)) read(new File(t, "schedstat")).split(' ')(0).toLong else 0L
      } catch { case _: java.io.IOException => 0L }
    }.sum)

  private def read(f: File): String = new String(java.nio.file.Files.readAllBytes(f.toPath))
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
  def fresh(f: File): File = { delete(f); f.mkdirs(); f }
}

object Stats {
  /** Length of the union of the intervals (start, end). */
  def covered(spans: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    spans.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** A fixed reference load: the same string, hashing and map work on every
  * core at once. How many CPU seconds it takes follows how fast the host's
  * cores run at the moment, which on a shared host moves by a third within
  * minutes (clock speed, and other guests on the same cores) and moves the
  * CPU time of the program's calls with it. [[scale]] divides a call's CPU
  * time by the reference's, measured right before and right after the call.
  */
object Calib {
  val Iterations = 400000
  /** A typical CPU time of the reference load on the 4-vCPU host the
    * benchmark was tuned on (0.05-0.07 s); scaled times read as CPU seconds
    * at that speed.
    */
  val Ref = 0.06

  def scale(cpu: Double, before: Double, after: Double): Double = cpu * Ref * 2 / (before + after)

  /** Median over `threads` threads of the CPU seconds each spends on the load. */
  def run(threads: Int): Double = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val out = new Array[Double](threads)
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val c0 = mx.getCurrentThreadCpuTime
        val m = new java.util.HashMap[String, Integer]()
        var h = 0L
        var i = 0
        while (i < Iterations) {
          val s = java.lang.Long.toString(Hash.mix(i.toLong + t), 36)
          h += s.hashCode
          m.merge(s.substring(0, 3), 1, (a: Integer, b: Integer) => a + b)
          if ((i & 4095) == 4095) m.clear()
          i += 1
        }
        if (h == 42) print("")
        out(t) = (mx.getCurrentThreadCpuTime - c0) / 1e9
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    Stats.median(out.toSeq)
  }
}
