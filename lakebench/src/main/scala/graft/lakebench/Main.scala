package graft.lakebench

import java.nio.file.{Files, Paths}

import graft.{Bench, LocalSession}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  def obj(m: Iterable[(String, String)]): String = m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Runs one workload in this JVM and writes its raw figures as JSON for
  * the launcher script (`run.py`), which owns the final result line.
  *
  * Arguments: `<workload> <seed> <seconds> <trace 0|1> <work dir>
  * <engine tables dir> <result file>`. With tracing on, the requested
  * workload runs first and the other workloads follow for one pass each,
  * (with the smallest input, no warm-up), so that every layer's figures
  * come out of every traced run. */
object Main {
  val Workloads: Seq[String] = Seq("pc_query", "pc_ingest")

  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** `tour` runs the workload only for its per-layer figures: one pass over
    * its smallest input, without warm-up. */
  def phase(name: String, ctx: Ctx, seconds: Double, tour: Boolean): Phase = name match {
    case "pc_query" => PcQuery.run(ctx, seconds, tour)
    case "pc_ingest" => PcIngest.run(ctx, seconds, tour)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, tables, resultFile) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    val loadStart = loadavg()
    Jvm.start()
    val spark = LocalSession("4")
    val trace = new Trace(traceS == "1")
    val runtime = if (trace.on) Some(new Runtime(spark)) else None
    val ctx = Ctx(spark, seedS.toLong, work, tables, trace, runtime)
    val main = phase(workload, ctx, secondsS.toDouble, tour = false)
    val tour = if (!trace.on) Nil
      else {
        val untraced = ctx.copy(runtime = None)
        Workloads.filter(_ != workload).map(phase(_, untraced, 0, tour = true)) :+ EngineSuite.run(untraced)
      }
    val loop = main.loop

    val layer = scala.collection.mutable.LinkedHashMap[String, Double]()
    (tour :+ main).foreach(p => layer ++= p.layer)
    runtime.foreach { rt =>
      loop.spark.foreach { case (k, v) => layer(s"spark.$k") = v }
      layer("spark.driver_gap_s") = rt.driverGap(loop.windows)
      layer("jvm.gc_s") = loop.gcS
      layer("jvm.jit_s") = loop.jitS
    }
    // after the timed part, so they never overlap it (~2.5 s)
    val (canaryCpu, canaryIo) = (Bench.canarySec(), Bench.canaryIoSec())
    if (trace.on) {
      layer("env.loadavg_start") = loadStart
      layer("env.canary_cpu_s") = canaryCpu
      layer("env.canary_io_s") = canaryIo
      Files.writeString(Paths.get(s"$work/spans.json"), trace.json)
    }
    val e2e = main.e2e ++ Map(
      "build_s" -> main.buildS,
      "pass_s" -> Stats.median(loop.passS),
      "op_p50_ms" -> loop.p50,
      "peak_heap_mb" -> Jvm.peakHeapMb)
    val all = tour :+ main
    val out = Json.obj(Seq(
      "first_op_epoch_ms" -> loop.firstOpEpochMs.toString,
      "build_s" -> Json.num(main.buildS),
      "warm_s" -> Json.num(main.warmS),
      "input_checksum" -> Json.str(main.inputChecksum),
      "op_samples" -> loop.latMs.size.toString,
      "passes" -> loop.passS.size.toString,
      "attempted" -> all.map(_.loop.attempted).sum.toString,
      "failed" -> all.map(_.loop.failed).sum.toString,
      "errors" -> all.flatMap(_.loop.errors).map(Json.str).mkString("[", ",", "]"),
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "env" -> Json.obj(Seq("loadavg_start" -> Json.num(loadStart),
        "canary_cpu_s" -> Json.num(canaryCpu), "canary_io_s" -> Json.num(canaryIo)))))
    Files.writeString(Paths.get(resultFile), out)
    spark.stop()
  }
}
