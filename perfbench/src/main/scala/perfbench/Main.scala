package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** One benchmark JVM. `perfbench/run.py` starts it once per unit of work
  * and reads back `<out>/result.json`.
  *
  * Modes:
  *  - `run`: set up the session, print the ready marker, execute the call
  *    list of one workload, write the result;
  *  - `oracle`: write the DuckDB oracle SQL of the given query ids;
  *  - `expect`: write the union of `F1.featureStore` over the given
  *    dates, the reference the f1 store is checked against;
  *  - `probe`: time `Bench`'s CPU and IO calibration probes;
  *  - `classify`: run every query_mix candidate cold and warm and
  *    report what the selection rule needs.
  *
  * Arguments: `--mode --workload --data --repo --out --calls --trace`.
  */
object Main {
  val Ready = "PERFBENCH_READY"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = opt("out")
    val data = opt("data")
    val calls = Files.readAllLines(Paths.get(opt("calls"))).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split(" ").toSeq)
    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.get()
    val sessionS = (System.nanoTime() - t0) / 1e9
    println(Ready)
    System.out.flush()
    val result = opt("mode") match {
      case "run" => run(spark, opt("workload"), data, opt("repo"), out,
        calls, opt.get("trace").contains("1"), sessionS)
      case "oracle" => Reference.oracle(calls.map(_.last))
      case "expect" => Reference.f1Store(spark, opt("repo"), out, calls.map(_.last))
      case "classify" => Reference.classify(spark, data)
      case "probe" => Json.obj(Seq(
        "calib_sec" -> graft.Bench.calibrationProbe(spark),
        "calib_io_sec" -> graft.Bench.calibrationProbeIo(spark)))
    }
    Files.writeString(Paths.get(out, "result.json"), result + "\n")
    spark.stop()
  }

  private def run(spark: org.apache.spark.sql.SparkSession, workload: String,
                  data: String, repo: String, out: String,
                  calls: Seq[Seq[String]], trace: Boolean,
                  sessionS: Double): String = {
    val tracer = new Tracer(spark, trace)
    val output = new OutputListener
    spark.sparkContext.addSparkListener(output)
    val wl = workload match {
      case "f1_medallion" => new F1Medallion(spark, tracer, data, out, repo)
      case "llm_corpus" => new LlmCorpus(spark, tracer, data, out)
      case "query_mix" => new QueryMix(spark, tracer, data, out)
    }
    val start = tracer.now()
    val cpu0 = cpuSeconds()
    wl.run(calls)
    val end = tracer.now()
    val cpu = cpuSeconds() - cpu0
    val peakRss = peakRssMb()
    wl.writeChecks()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val layers = if (trace) {
      Files.writeString(Paths.get(out, "spans.jsonl"), Layers.spansJson(tracer))
      Layers.compute(tracer, start, end) + ("core.Sessions.self_s" -> sessionS)
    } else Map.empty[String, Double]
    Json.obj(Seq(
      "session_s" -> sessionS,
      "cpu_s" -> cpu,
      "peak_rss_mb" -> peakRss,
      "live_heap_mb" -> liveHeapMb(),
      "wall_s" -> (end - start) / 1000.0,
      // the untimed warm pass, or (cold workloads) session ready to the
      // end of the first op: the first touch
      "warmup_s" -> (if (wl.ops.exists(_.phase == "warm"))
        wl.ops.filter(_.phase == "warm").map(_.ms).sum
      else wl.ops.headOption.fold(Double.NaN)(_.ms)) / 1000.0,
      "output_bytes" -> output.bytes,
      "ops" -> wl.ops.toSeq.map(o => Json.Raw(Json.obj(Seq("id" -> o.id,
        "phase" -> o.phase, "ms" -> o.ms, "cpu_ms" -> o.cpuMs, "ok" -> o.ok,
        "err" -> o.err)))),
      "checks" -> wl.checks.toSeq.map(c => Json.Raw(Json.obj(Seq(
        "op" -> c.op, "key" -> c.key, "path" -> c.path)))),
      "layers" -> layers))
  }

  /** Heap still in use after a full collection: what the session holds
    * on to (cached blocks, registry artifacts, Spark's own state). */
  def liveHeapMb(): Double = {
    // Spark's ContextCleaner frees shuffle/broadcast state only after a
    // collection has cleared their weak references, so collect until the
    // heap stops shrinking (bounded)
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      Thread.sleep(100)
      heap.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var (prev, cur, n) = (collect(), collect(), 2)
    while (cur < prev * 0.99 && n < 5) {
      prev = cur
      cur = collect()
      n += 1
    }
    cur
  }

  /** CPU time of the whole JVM (every thread) since it started. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
