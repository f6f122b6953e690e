package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up a workload, run its operations in
  * a closed loop for the given seconds, and write raw samples (op
  * latencies, set-up phases, check failures, spans, Spark counters) to a
  * JSON file. `perfbench/run.py` turns that file into metrics.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --scale full|tiny
  *       --work DIR --out FILE --t0-ms EPOCH_MS [--inject-fault]
  */
object Main {
  /** Each prepare (generate + parquet write + read back) repeats this often;
    * set-up reports the median. */
  private val PrepReps = 3

  final case class OpRecord(client: Int, startNs: Long, endNs: Long,
      cpuNs: Long, traced: Boolean, outcome: OpOutcome)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    // Spark leaves non-daemon threads behind: exit explicitly either way
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
    System.exit(0)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceOn = opt("trace") == "1"
    val scale = Scale(opt("scale"))
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val t0Ms = opt("t0-ms").toLong
    val injectFault = args.contains("--inject-fault")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workloadName")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.scratchDir", s"$work/scratch")
      // one er_batch job compiles more than the default 100 generated
      // classes, so with the default every job recompiles its plans and the
      // JIT never settles within a run
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    if (traceOn) spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(spark.sparkContext, traceOn)
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3

    val wl = Workload(workloadName, spark, scale, seed, injectFault)
    val prepS = (0 until PrepReps).map { i =>
      val t = System.nanoTime()
      wl.prepare(s"$work/inputs/rep$i")
      Workload.secondsSince(t)
    }
    val tw = System.nanoTime()
    val warm = wl.warmUp(tracer)
    val warmS = Workload.secondsSince(tw)

    // closed loop: each client sends its next op when the previous returns;
    // in a traced run every other op of a client is traced, so one run
    // yields both sides of the tracing overhead
    val ops = new ConcurrentLinkedQueue[OpRecord]()
    val errors = new ConcurrentLinkedQueue[String]()
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    val traces = new java.util.concurrent.atomic.AtomicLong
    val threads = (0 until wl.clients).map { c =>
      new Thread(() => {
        var i = 0
        // a traced run needs at least one op of each kind
        while (System.nanoTime() < deadline || (traceOn && i < 2)) {
          val traced = traceOn && i % 2 == 1
          val start = System.nanoTime()
          val cpu0 = os.getProcessCpuTime
          val outcome =
            try wl.op(tracer, c, traced, if (traced) traces.incrementAndGet() else -1L)
            catch {
              case e: Throwable =>
                errors.add(s"${e.getClass.getName}: ${e.getMessage}".take(500))
                OpOutcome(Seq("exception"))
            }
          ops.add(OpRecord(c, start - loopStart, System.nanoTime() - loopStart,
            os.getProcessCpuTime - cpu0, traced, outcome))
          i += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())

    val kernels = if (traceOn) wl.kernels(tracer) else Map.empty[String, KernelStat]
    val counts = if (traceOn) wl.counts() else Map.empty[String, Double]
    if (traceOn) counters.drain()
    val spans = tracer.spans
    val result = Map(
      "workload" -> workloadName, "seed" -> seed, "scale" -> scale.name,
      "cores" -> cores, "clients" -> wl.clients, "trace" -> traceOn,
      "setup" -> Map("session_s" -> sessionS, "prep_s" -> prepS, "warmup_s" -> warmS),
      "warmup" -> warm.map(_.failures),
      "ops" -> ops.asScala.toSeq.sortBy(_.startNs).map(o => Map(
        "client" -> o.client, "start_ns" -> o.startNs, "end_ns" -> o.endNs,
        "cpu_ns" -> o.cpuNs, "traced" -> o.traced, "failures" -> o.outcome.failures)),
      "errors" -> errors.asScala.toSeq,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "spark" -> spans.flatMap(s => counters.forSpan(s.id).map { case (c, stages) =>
        s.id.toString -> Map("jobs" -> c.jobs.get, "tasks" -> c.tasks.get,
          "shuffle_write_bytes" -> c.shuffleWriteBytes.get, "spill_bytes" -> c.spillBytes.get,
          "cpu_ns" -> c.cpuNs.get, "run_ms" -> c.runMs.get, "gc_ms" -> c.gcMs.get,
          "stages" -> stages.map { case (w, mx, md) => Seq(w, mx, md) })
      }).toMap,
      "kernels" -> kernels.map { case (k, v) =>
        k -> Map("rows" -> v.rows, "units" -> v.units, "seconds" -> v.seconds) },
      "counts" -> counts,
      "peak_rss_mb" -> peakRssMb())
    wl.close()
    Files.write(Paths.get(opt("out")), Json.render(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** High-water resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
