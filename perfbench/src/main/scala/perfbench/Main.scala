package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.core.GraftSession

object Summary {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Phases that share one JVM and one round: the first phase's docs are
  * the workload's docs. */
final class Phases(c: Ctx, phases: Seq[Workload]) extends Workload(c) {
  def docs: Long = phases.head.docs
  def generate(): Unit = phases.foreach(_.generate())
  def warm(): Unit = phases.foreach(_.warm())
  def round(i: Int): Round = {
    val rs = phases.map(_.round(i))
    def total(xs: Seq[Double]) = if (xs.isEmpty) None else Some(xs.sum)
    Round(total(rs.flatMap(_.pipelineS)), total(rs.flatMap(_.mixS)), rs.flatMap(_.opsMs),
      rs.map(_.attempted).sum, rs.map(_.failed).sum, rs.flatMap(_.counts).toMap)
  }
  def layers(v: RoundView, r: Round): Map[String, Double] =
    phases.map(_.layers(v, r)).reduce(_ ++ _)
}

/** One benchmark run: one JVM, one workload, one seed. Prints the result
  * as a JSON object on the last line of standard output. */
object Main {
  /** Per-layer metrics, reported by traced runs; 0 where a workload does
    * not call the layer. */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.slot_busy" -> "ratio", "spark.max_task_ratio" -> "ratio",
    "jvm.heap_peak_mb" -> "MB", "mixed.op_ms_p50" -> "ms",
    "selection.crop_s" -> "s", "selection.crop_rows_out" -> "count",
    "selection.polygon_s" -> "s",
    "tiling.splitter_s" -> "s", "tiling.splitter_rows_per_doc" -> "ratio",
    "tiling.chipper_s" -> "s", "tiling.chipper_jobs" -> "count",
    "tiling.chipper_shuffle_mb" -> "MB",
    "knn.call_s" -> "s", "knn.action_s" -> "s", "knn.jobs" -> "count",
    "knn.shuffle_write_mb" -> "MB", "knn.spill_mb" -> "MB",
    "knn.shuffle_records_per_query" -> "ratio",
    "voxel.downsize_s" -> "s", "voxel.rows_out" -> "count",
    "raster.rasterize_s" -> "s", "raster.cells" -> "count", "raster.colorize_s" -> "s",
    "lineage.run_s" -> "s", "lineage.overhead_s" -> "s",
    "lineage.bytes_written_mb" -> "MB", "lineage.jobs" -> "count",
    "table.commit_s" -> "s", "table.commit_rows_per_s" -> "rows/s",
    "table.bytes_per_doc" -> "bytes", "table.files" -> "count",
    "table.manifests_ms" -> "ms", "table.files_read_per_select" -> "ratio",
    "table.rows_read_per_row_returned" -> "ratio", "table.append_manifests" -> "count",
    "table.append_ms_p50" -> "ms", "table.select_ms_p90" -> "ms",
    "v2.select_ms_p50" -> "ms", "v2.files_read_per_select" -> "ratio")

  val workloads: Seq[String] = Seq("uniform", "clustered")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <${workloads.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1> --tmp <dir> [--cores <n>] [--smoke 1] " +
      "[--t0-ns <epoch ns>] [--trace-out <file>]")
    sys.exit(2)
  }

  private def epochNs(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def arg(k: String): String = args.getOrElse(k, usage(s"missing --$k"))
    val name = arg("workload")
    if (!workloads.contains(name)) usage(s"unknown workload $name")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val tmp = arg("tmp")
    val smoke = args.get("smoke").contains("1")
    val cores = args.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val t0 = args.get("t0-ns").map(_.toLong).getOrElse(
      ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L)

    // shuffle partitions stay the same at any core count, so a 1-core and a
    // 4-core run do identical work
    val spark = GraftSession.local(cores, shufflePartitions = math.max(8, 2 * cores))
    val tr = new Tracer(trace, s"$name-seed$seed", spark.sparkContext)
    val c = new Ctx(spark, tr, tmp, seed, smoke, cores)
    val scale = if (smoke) 20 else 1
    val w: Workload = name match {
      case "uniform" => new Phases(c, Seq(new Flagship(c, 60000 / scale),
        new TableRw(c, 50000 / scale)))
      case "clustered" => new ClusteredDocs(c, 50000 / scale)
    }

    // set-up: the workload warms up the phases it times only once, on a
    // small input of its own; then the inputs are generated three times and
    // the median generation counts
    val sessionS = (epochNs() - t0) / 1e9
    val warmS = c.time(w.warm())._2
    val gens = (0 until 3).map(_ => c.time(w.generate())._2)
    val setupS = (epochNs() - t0) / 1e9 - gens.sum + Summary.median(gens)
    System.err.println(f"[perfbench] set-up: session $sessionS%.2f s, " +
      f"warm-up $warmS%.2f s, inputs " +
      gens.map(g => f"$g%.2f").mkString("/") + " s")

    val rounds = ArrayBuffer.empty[Round]
    val layerRounds = ArrayBuffer.empty[Map[String, Double]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (rounds.isEmpty || System.nanoTime() < deadline) {
      heapPools.foreach(_.resetPeakUsage())
      val from = tr.spans.size
      val r = w.round(rounds.size)
      rounds += r
      System.err.println(f"[perfbench] $name round ${rounds.size - 1}: pipeline " +
        r.pipelineS.map(p => f"$p%.3f s").getOrElse("-") + ", mixed phase " +
        r.mixS.map(p => f"$p%.3f s").getOrElse("-") + ", ops " +
        r.opsMs.map(m => f"$m%.0f").mkString(" ") + " ms")
      if (trace) {
        tr.drain()
        val v = new RoundView(tr, from)
        val a = v.agg("round")
        val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
        layerRounds += Map(
          "spark.jobs" -> a.jobs.toDouble, "spark.stages" -> a.stages.toDouble,
          "spark.tasks" -> a.tasks.toDouble,
          "spark.shuffle_write_mb" -> a.shufWrite / 1e6,
          "spark.shuffle_read_mb" -> a.shufRead / 1e6, "spark.spill_mb" -> a.spill / 1e6,
          "spark.task_cpu_s" -> a.cpuNs / 1e9, "spark.gc_s" -> a.gcMs / 1e3,
          "spark.slot_busy" -> a.runMs / 1e3 / (v.secs("round") * cores),
          "spark.max_task_ratio" -> tr.maxTaskRatio(v.ids("round")),
          "jvm.heap_peak_mb" -> heapMb,
          "mixed.op_ms_p50" -> Summary.median(r.opsMs)) ++ w.layers(v, r)
      }
    }
    // the PDAL goldens, once per run, after the measured rounds
    Goldens.check(c)

    val wall = Summary.median(rounds.flatMap(_.pipelineS).toSeq)
    val e2e = Seq(("setup_s", "s", setupS), ("docs_per_s", "docs/s", w.docs / wall),
      ("mix_s", "s", Summary.median(rounds.flatMap(_.mixS).toSeq)))
    val metrics: Seq[(String, String, Double)] =
      if (!trace) e2e
      else perLayer.map { case (k, u) =>
        (k, u, Summary.median(layerRounds.map(_.getOrElse(k, 0.0)).toSeq))
      }
    // the trace file also keeps the traced run's end-to-end figures, so
    // the tracing overhead can be read off against an untraced run
    if (trace) args.get("trace-out").foreach { p =>
      val counts = (metrics ++ e2e.map(m => (s"traced.${m._1}", m._2, m._3)))
        .map(m => m._1 -> m._3).toMap
      java.nio.file.Files.write(java.nio.file.Paths.get(p), tr.toJson(counts).getBytes("UTF-8"))
    }
    spark.stop()

    val out = Json.obj(Seq(
      "correct" -> c.failures.isEmpty.toString,
      "attempted" -> rounds.map(_.attempted).sum.toString,
      "failed" -> rounds.map(_.failed).sum.toString,
      "metrics" -> Json.obj(metrics.map { case (k, u, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(out)
  }
}
