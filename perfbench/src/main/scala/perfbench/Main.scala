package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Drives one benchmark run inside one JVM and writes the raw record
  * (timings, CPU, output locations, spans) as JSON for `run.py`, which
  * checks the outputs and derives the metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --input DIR --work DIR --result FILE
  */
object Main {
  /** Set-up passes per run; `setup_s` reports their median. */
  val PrepReps = 3

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val (workload, seed, seconds) = (o("workload"), o("seed").toLong, o("seconds").toDouble)
    val traced = o("trace") == "1"
    val nproc = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(nproc)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl = Workload(workload, spark, o("input"), o("work"))
    val prepS = (1 to PrepReps).map(_ => timed(wl.prepare()))
    val warmupS = timed(wl.warmup())

    // a traced run first measures half its time untraced, so the tracing
    // overhead is read from the same inputs in the same JVM
    val plainSeconds = if (traced) seconds / 2 else seconds
    val cpu0 = cpuNs
    val m0 = System.nanoTime()
    val ops = wl.measure(plainSeconds, "m", None)
    val measureS = (System.nanoTime() - m0) / 1e9
    val cpuS = (cpuNs - cpu0) / 1e9

    val traceRecord: Map[String, Any] = if (!traced) Map.empty else {
      val tracer = new Tracer(spark.sparkContext, s"$workload-$seed")
      val tOps = wl.measure(seconds - plainSeconds, "t", Some(tracer))
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      val (perLayer, total) = tracer.listener.snapshot
      Map("ops" -> tOps.map(_.fields), "self_s" -> tracer.selfSeconds,
        "no_task_s" -> tracer.noTaskSeconds, "counters" -> tracer.counterValues,
        "layers" -> perLayer, "spark" -> total, "spans" -> tracer.spanRecords)
    }

    val conf = spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" } +
      ("jvm.max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "nproc" -> nproc,
      "spark_conf" -> conf, "session_s" -> sessionS, "prep_s" -> prepS, "warmup_s" -> warmupS,
      "measure_s" -> measureS, "cpu_s" -> cpuS, "ops" -> ops.map(_.fields),
      "summary" -> wl.summary, "trace" -> traceRecord)
    Files.write(Paths.get(o("result")), new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsBytes(record))
    spark.stop()
  }
}
