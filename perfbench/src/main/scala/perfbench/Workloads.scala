package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Fixtures, Synth}
import graft.operators._
import graft.pipeline.CheckpointRunner

/** The spans of one round, looked up by name. */
final class RoundView(val tr: Tracer, from: Int) {
  private def sp(name: String) = tr.spans.drop(from).filter(_.name == name).toSeq
  def ids(name: String): Seq[Int] = sp(name).map(_.id)
  def secs(name: String): Double = sp(name).map(tr.seconds).sum
  def selfSecs(name: String): Double = sp(name).map(tr.selfSeconds).sum
  def agg(name: String): Agg = {
    val a = new Agg
    sp(name).foreach(s => a.add(tr.inclusive(s.id)))
    a
  }
  /** Jobs a span started itself, not through a child span. */
  def selfJobs(name: String): Long = sp(name).map { s =>
    tr.inclusive(s.id).jobs - tr.children(s.id).map(c => tr.inclusive(c.id).jobs).sum
  }.sum
  def selfOutBytes(name: String): Long = sp(name).map { s =>
    tr.inclusive(s.id).outBytes - tr.children(s.id).map(c => tr.inclusive(c.id).outBytes).sum
  }.sum
}

abstract class Workload(val c: Ctx) {
  /** Input docs of the round's pipeline phase. */
  def docs: Long
  /** Writes the round's inputs; set-up repeats it to take a median. */
  def generate(): Unit
  /** Unmeasured warm-up, on a small input of its own where it needs one. */
  def warm(): Unit
  /** One round: its timed parts run inside "round" spans. */
  def round(i: Int): Round
  /** Per-layer figures of a traced round. */
  def layers(v: RoundView, r: Round): Map[String, Double]

  protected def mb(b: Long): Double = b / 1e6

  protected def knnLayers(v: RoundView, queries: Double): Map[String, Double] = {
    val a = v.agg("knn")
    Map("knn.call_s" -> v.secs("knn.call"), "knn.action_s" -> v.secs("knn.action"),
      "knn.jobs" -> a.jobs.toDouble, "knn.shuffle_write_mb" -> mb(a.shufWrite),
      "knn.spill_mb" -> mb(a.spill),
      "knn.shuffle_records_per_query" -> a.shufWriteRecs / math.max(queries, 1.0))
  }

  /** kNN votes of sampled queries against a brute-force PDAL vote. */
  protected def checkVotes(out: DataFrame, cloud: Gen.Cloud, idx: Array[Int],
      what: String): Unit = {
    val picks = c.sample(idx.length, if (c.smoke) 64 else 256, 11L).map(idx(_))
    val keys = picks.map(cloud.key(_))
    val got = out.filter(col("order_key").isin(keys.toIndexedSeq: _*))
      .select("order_key", "classification").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    var bad = 0
    picks.foreach { q =>
      if (!got.get(cloud.key(q)).contains(Oracle.vote(cloud, idx, q, 5))) bad += 1
    }
    c.check(got.size == picks.length && bad == 0,
      s"$what: ${got.size}/${picks.length} sampled queries found, $bad votes differ from brute force")
  }
}

/** The paper's headline pipeline: crop box, splitter with a fixed origin,
  * then NeighborClassifier k=5, as two checkpointed stages. */
final class Flagship(c0: Ctx, n: Int) extends Workload(c0) {
  import Gen._
  val docs: Long = n.toLong
  private val in = c.path("uniform")
  private val box = (MinX + 400, MinY + 600, MaxX - 400, MaxY - 600)
  private val len = 250.0
  private lazy val cloud = Gen.cloud(Uniform, c.seed, 0, n)
  private lazy val inBox = cloud.x.indices.filter { i =>
    cloud.x(i) >= box._1 && cloud.x(i) <= box._3 && cloud.y(i) >= box._2 && cloud.y(i) <= box._4
  }.toArray
  private var first: Option[(Long, Long)] = None

  def generate(): Unit = Gen.write(c.spark, Uniform, c.seed, 0, n, in)

  /** Untraced, no warm-up pass: of the three timed passes the first pays
    * the plan compilation, and the median leaves it out. A traced run times
    * one pass, so it warms up on a small input first. */
  def warm(): Unit = if (c.tr.on) {
    Gen.write(c.spark, Uniform, c.seed + 1, 0, math.max(n / 20, 500), c.path("warm"))
    pass(c.path("warm"), "warm")
    c.rm(c.path("flag-warm"))
  }

  private val stages: Seq[(String, DataFrame => DataFrame)] = Seq(
    "tile" -> { df =>
      val cropped = c.layer("selection.crop", df)(
        Crop.box2d(_, box._1, box._2, box._3, box._4))
      c.layer("tiling.splitter", cropped)(Splitter(_, len, origin = Some((MinX, MinY))))
    },
    "classify" -> { df => c.layer("knn", df)(NeighborClassifier(_, 5)) })

  private def pass(src: String, tag: String): Double = {
    val runner = new CheckpointRunner(c.spark, c.path(s"flag-$tag"))
    val raw = c.spark.read.parquet(src)
    val input = if (c.tr.on) c.mat(raw) else raw
    val (_, s) = c.time(c.tr.span("round")(c.tr.span("lineage.run")(
      runner.run(input, stages))))
    c.release()
    s
  }

  /** Untraced rounds repeat the pipeline and keep the median pass. */
  private val passes = if (c.tr.on) 1 else 3

  def round(i: Int): Round = {
    val times = (0 until passes).map { p =>
      val tag = s"$i-$p"
      val s = pass(in, tag)
      checkPass(tag)
      c.rm(c.path(s"flag-$tag"))
      s
    }
    System.err.println("[perfbench] flagship passes: " + times.map(t => f"$t%.3f").mkString(" ") + " s")
    Round(Some(Summary.median(times)), None, Nil, 2 * passes, 0,
      Map("selection.crop_rows_out" -> inBox.length.toDouble))
  }

  private def checkPass(tag: String): Unit = {
    val dir = c.path(s"flag-$tag")
    val tiled = c.spark.read.parquet(s"$dir/stage=0_tile/data")
    val classified = c.spark.read.parquet(s"$dir/stage=1_classify/data")
    val d = c.digest(classified)
    first match {
      case Some(f) => c.check(d == f, s"flagship pass $tag: output differs from the first pass")
      case None =>
        first = Some(d)
        val input = c.spark.read.parquet(in)
        c.check(tiled.count() == inBox.length,
          s"flagship: crop kept ${tiled.count()} docs, a plain loop counts ${inBox.length}")
        val sampled = tiled.filter(pmod(col("order_key"), lit(17L)) === c.seed % 17)
          .select("x", "y", "tile_id").collect()
        val badTiles = sampled.count(r =>
          Oracle.tile(r.getDouble(0), r.getDouble(1), MinX, MinY, len) != r.getLong(2))
        c.check(sampled.nonEmpty && badTiles == 0,
          s"flagship: $badTiles of ${sampled.length} sampled tile ids differ from floor")
        c.check(d._1 == inBox.length, s"flagship: classify emitted ${d._1} rows")
        checkVotes(classified, cloud, inBox, "flagship")
        c.spansIntact(tiled, input, "flagship tile stage")
        c.spansIntact(classified, input, "flagship classify stage")
    }
  }

  def layers(v: RoundView, r: Round): Map[String, Double] =
    knnLayers(v, inBox.length) ++ Map(
      "selection.crop_s" -> v.secs("selection.crop"),
      "tiling.splitter_s" -> v.secs("tiling.splitter"),
      "lineage.run_s" -> v.secs("lineage.run"),
      "lineage.overhead_s" -> v.selfSecs("lineage.run"),
      "lineage.bytes_written_mb" -> mb(v.selfOutBytes("lineage.run")),
      "lineage.jobs" -> v.selfJobs("lineage.run").toDouble) ++ r.counts
}

/** Clustered docs: Gaussian clusters whose widths differ by orders of
  * magnitude, over a sparse uniform background (see `Gen.clusters`). A round runs two phases on
  * the same input: NeighborClassifier k=5 over every doc (the kNN phase),
  * then chipper, voxel "first", a buffered splitter, rasterize with
  * colorize back onto the docs, and a polygon crop, with no kNN (the
  * tiling phase). */
final class ClusteredDocs(c0: Ctx, n: Int) extends Workload(c0) {
  import Gen._
  val docs: Long = n.toLong
  private val in = c.path("clustered")
  private val capacity = if (c.smoke) 500L else 5000L
  private val voxelCell = 2.0
  private val len = 500.0; private val buffer = 20.0
  private val res = 50.0
  private lazy val cloud = Gen.cloud(Clustered, c.seed, 0, n)
  private lazy val (polyX, polyY) = Tables.polygon(
    new java.util.SplittableRandom(Gen.mix(c.seed + 99L)), 1500.0)
  private var first: Option[Seq[(Long, Long)]] = None

  def generate(): Unit = Gen.write(c.spark, Clustered, c.seed, 0, n, in)

  /** Latency of each tiling-phase call of the last pass, output written. */
  private val opMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  private def op[T](body: => T): T = {
    val (r, s) = c.time(body)
    opMs += s * 1000
    r
  }

  /** Untraced rounds repeat the kNN phase and keep the median. */
  private val passes = if (c.tr.on) 1 else 3
  private var knnS = 0.0
  private var tilingS = 0.0

  private def knnPhase(input: DataFrame, tag: String): Unit = {
    val times = (0 until passes).map { p =>
      c.time(c.write(c.layer("knn", input)(NeighborClassifier(_, 5)), s"knn-$tag-$p"))._2
    }
    System.err.println("[perfbench] kNN passes: " + times.map(t => f"$t%.3f").mkString(" ") + " s")
    knnS = Summary.median(times)
  }

  /** Warms the tiling phase, which runs once per round. Of the three
    * untraced kNN passes the first pays the plan compilation and the median
    * leaves it out; a traced run times one pass, so it warms kNN too. */
  def warm(): Unit = {
    Gen.write(c.spark, Clustered, c.seed + 1, 0, math.max(n / 20, 500), c.path("warm"))
    val input = c.spark.read.parquet(c.path("warm"))
    if (c.tr.on) knnPhase(input, "warm")
    tilingPhase(input, "warm")
    opMs.clear()
  }

  private def pass(src: String, tag: String): Unit = {
    val raw = c.spark.read.parquet(src)
    val input = if (c.tr.on) c.mat(raw) else raw
    opMs.clear()
    c.tr.span("round") {
      c.tr.span("phase.knn")(knnPhase(input, tag))
      tilingS = c.time(c.tr.span("phase.tiling")(tilingPhase(input, tag)))._2
    }
    c.release()
  }

  private def tilingPhase(input: DataFrame, tag: String): Unit = {
    op(c.write(c.layer("tiling.chipper", input)(Chipper(_, capacity)), s"chip-$tag"))
    op(c.write(c.layer("voxel.downsize", input)(Voxel.downsize(_, voxelCell, "first")),
      s"voxel-$tag"))
    op(c.write(c.layer("tiling.splitter", input)(
      Splitter(_, len, origin = Some((MinX, MinY)), buffer = buffer)), s"split-$tag"))
    val rasterPath = op(c.write(c.layer("raster.rasterize", input)(
      Rasterize(_, res, "z", origin = Some((MinX, MinY)))), s"raster-$tag"))
    val raster = c.spark.read.parquet(rasterPath)
    op(c.write(c.layer("raster.colorize", input)(Colorization(_, raster,
      RasterGrid(MinX, MinY, res), Seq(("mean", "raster_z", 1.0)))), s"color-$tag"))
    op(c.write(c.layer("selection.polygon", input)(
      Crop.polygon(_, Tables.wkt(polyX, polyY))), s"poly-$tag"))
  }

  private val outs = Seq("knn", "chip", "voxel", "split", "raster", "color", "poly")

  def round(i: Int): Round = {
    pass(in, i.toString)
    def out(name: String) = c.spark.read.parquet(
      c.path(if (name == "knn") s"knn-$i-0" else s"$name-$i"))
    val ds = outs.map(o => c.digest(out(o)))
    (1 until passes).foreach { p =>
      c.check(c.digest(c.spark.read.parquet(c.path(s"knn-$i-$p"))) == ds.head,
        s"clustered kNN pass $p differs from the first pass")
    }
    val counts = outs.zip(ds.map(_._1.toDouble)).toMap
    first match {
      case Some(f) => c.check(ds == f, s"clustered round $i: outputs differ from round 0")
      case None =>
        first = Some(ds)
        val knn = out("knn")
        c.check(ds.head._1 == n, s"knn: ${ds.head._1} rows out of $n docs")
        checkVotes(knn, cloud, cloud.x.indices.toArray, "clustered kNN")
        fullCheck(i, out)
    }
    outs.foreach(o => c.rm(c.path(s"$o-$i")))
    (0 until passes).foreach(p => c.rm(c.path(s"knn-$i-$p")))
    Round(Some(knnS), Some(tilingS), opMs.toSeq, outs.size + passes - 1, 0, Map(
      "selection.crop_rows_out" -> counts("poly"),
      "tiling.splitter_rows_per_doc" -> counts("split") / n,
      "voxel.rows_out" -> counts("voxel"), "raster.cells" -> counts("raster")))
  }

  private def fullCheck(i: Int, out: String => DataFrame): Unit = {
    val input = c.spark.read.parquet(in)
    // chipper: every doc in exactly one chip, ceil(n / capacity) chips,
    // none above capacity
    val chip = out("chip")
    val sizes = chip.groupBy("chip_id").count().agg(count(lit(1)), max("count")).head()
    val docsIn = chip.agg(count(lit(1)), countDistinct("order_key")).head()
    val wantChips = (n + capacity - 1) / capacity
    c.check(docsIn.getLong(0) == n && docsIn.getLong(1) == n,
      s"chipper: ${docsIn.getLong(0)} rows, ${docsIn.getLong(1)} distinct docs of $n")
    c.check(sizes.getLong(0) == wantChips && sizes.getLong(1) <= capacity,
      s"chipper: ${sizes.getLong(0)} chips (want $wantChips), largest ${sizes.getLong(1)}")
    // voxel "first": the lowest order key of every occupied voxel
    val vox = out("voxel").agg(count(lit(1)), sum("order_key")).head()
    val wantVox = Oracle.voxelFirst(cloud, voxelCell)
    c.check((vox.getLong(0), vox.getLong(1)) == wantVox,
      s"voxel: kept (${vox.getLong(0)}, ${vox.getLong(1)}), a plain loop keeps $wantVox")
    // splitter with halo: per doc, its floor tile plus the halo copies
    val split = out("split")
    val wantRows = cloud.x.indices.map(j =>
      Oracle.splitterRows(cloud.x(j), cloud.y(j), MinX, MinY, len, buffer).toLong).sum
    val gotRows = split.count()
    c.check(gotRows == wantRows, s"splitter: $gotRows rows, a plain loop emits $wantRows")
    val picks = c.sample(n, if (c.smoke) 100 else 1000, 23L)
    val tiles = split.filter(col("order_key").isin(picks.map(cloud.key(_)).toIndexedSeq: _*))
      .select("order_key", "tile_id").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val badTiles = picks.count { j =>
      val t = tiles.getOrElse(cloud.key(j), Set.empty[Long])
      !t.contains(Oracle.tile(cloud.x(j), cloud.y(j), MinX, MinY, len)) ||
        t.size != Oracle.splitterRows(cloud.x(j), cloud.y(j), MinX, MinY, len, buffer)
    }
    c.check(badTiles == 0, s"splitter: $badTiles of ${picks.length} sampled docs tiled wrong")
    // raster: sampled cells against a plain loop; colorize: sampled docs
    // carry the mean of their own cell
    val raster = out("raster")
    val cells = raster.filter(pmod(col("cell_x") * 31 + col("cell_y"), lit(97L)) === c.seed % 97)
      .select("cell_x", "cell_y", "count", "min", "max", "mean").collect()
      .take(if (c.smoke) 20 else 60)
    val rad = res * math.sqrt(2.0)
    val badCells = cells.count { r =>
      val (cnt, mn, mx, mean) = Oracle.rasterCell(cloud, MinX, MinY, res, rad,
        r.getLong(0), r.getLong(1))
      cnt != r.getLong(2) || mn != r.getDouble(3) || mx != r.getDouble(4) ||
        !Oracle.close(mean, r.getDouble(5))
    }
    c.check(cells.nonEmpty && badCells == 0,
      s"rasterize: $badCells of ${cells.length} sampled cells differ from a plain loop")
    val cpicks = c.sample(n, if (c.smoke) 20 else 60, 29L)
    val colored = out("color").filter(col("order_key").isin(cpicks.map(cloud.key(_)).toIndexedSeq: _*))
      .select("order_key", "raster_z").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val badColor = cpicks.count { j =>
      val cx = math.floor((cloud.x(j) - MinX) / res).toLong
      val cy = math.floor((cloud.y(j) - MinY) / res).toLong
      !colored.get(cloud.key(j)).exists(v =>
        Oracle.close(v, Oracle.rasterCell(cloud, MinX, MinY, res, rad, cx, cy)._4))
    }
    c.check(badColor == 0, s"colorize: $badColor of ${cpicks.length} sampled docs differ")
    // polygon crop against ray casting
    val poly = out("poly").agg(count(lit(1)), coalesce(sum("order_key"), lit(0L))).head()
    val wantPoly = Oracle.polygonCount(cloud, n, polyX, polyY)
    c.check((poly.getLong(0), poly.getLong(1)) == wantPoly,
      s"polygon crop: (${poly.getLong(0)}, ${poly.getLong(1)}), ray casting gives $wantPoly")
    Seq("knn", "chip", "voxel", "split", "color", "poly").foreach(o =>
      c.spansIntact(out(o), input, s"clustered $o"))
  }

  def layers(v: RoundView, r: Round): Map[String, Double] = {
    val chip = v.agg("tiling.chipper")
    knnLayers(v, n) ++ Map("tiling.chipper_s" -> v.secs("tiling.chipper"),
      "tiling.chipper_jobs" -> chip.jobs.toDouble,
      "tiling.chipper_shuffle_mb" -> mb(chip.shufWrite),
      "tiling.splitter_s" -> v.secs("tiling.splitter"),
      "voxel.downsize_s" -> v.secs("voxel.downsize"),
      "raster.rasterize_s" -> v.secs("raster.rasterize"),
      "raster.colorize_s" -> v.secs("raster.colorize"),
      "selection.polygon_s" -> v.secs("selection.polygon")) ++ r.counts
  }
}

/** The PDAL reference goldens, checked once per run. */
object Goldens {
  def check(c: Ctx): Unit = {
    val spark = c.spark
    def step(name: String)(body: => Unit): Unit = {
      val s = c.time(body)._2
      System.err.println(f"[perfbench] golden $name: $s%.2f s")
    }
    val ramp = Synth.ramp(spark, 1000, (0, 0, 0), (10, 100, 1000))
    step("crop") {
      c.check(Crop.box2d(ramp, 3.33333, 33.33333, 6.66666, 66.66666).count() == 333,
        "golden: 2D crop of ramp(1000) is not 333")
      c.check(Crop.box3d(ramp, 2.0, 20.0, 200.0, 4.0, 40.0, 400.0).count() == 200,
        "golden: 3D crop of ramp(1000) is not 200")
    }
    val autzen = Fixtures.autzen1065(spark).cache()
    step("polygon") {
      c.check(Crop.polygon(autzen, Fixtures.autzenSelectionWkt).count() == 47,
        "golden: polygon crop of autzen-1065 is not 47")
    }
    step("splitter") {
      c.check(Splitter(autzen, length = 1000.0).select("tile_id").distinct().count() == 24,
        "golden: splitter of autzen-1065 is not 24 tiles")
      val buffered = Splitter(autzen, length = 1000.0, buffer = 20.0).groupBy("tile_id")
        .agg((max("x") - min("x")).as("w"), (max("y") - min("y")).as("h"))
        .agg(max("w"), max("h")).head()
      c.check(buffered.getDouble(0) <= 1040.0 && buffered.getDouble(1) <= 1040.0,
        "golden: buffered splitter tiles exceed 1040")
    }
    step("chipper") {
      val chips = Chipper(autzen, capacity = 15).groupBy("chip_id").count()
        .agg(count(lit(1)), min("count"), max("count")).head()
      c.check(chips.getLong(0) == 71 && chips.getLong(1) == 15 && chips.getLong(2) == 15,
        "golden: chipper of autzen-1065 is not 71 chips of 15")
    }
    step("neighborclassifier") {
      val changed = NeighborClassifier(autzen, 1).as("o")
        .join(autzen.as("i"), col("o.order_key") === col("i.order_key"))
        .filter(col("o.classification") =!= col("i.classification")).count()
      c.check(changed == 0, s"golden: neighborclassifier k=1 changed $changed docs")
    }
    autzen.unpersist()
  }
}

/** Seeded selection shapes for the table workload. */
object Tables {
  /** A star-shaped 7-gon of radius up to `radius` inside the extent. */
  def polygon(r: java.util.SplittableRandom, radius: Double): (Array[Double], Array[Double]) = {
    import Gen._
    val cx = MinX + radius + r.nextDouble() * (MaxX - MinX - 2 * radius)
    val cy = MinY + radius + r.nextDouble() * (MaxY - MinY - 2 * radius)
    val pts = (0 until 7).map { k =>
      val a = 2 * math.Pi * (k + 0.8 * r.nextDouble()) / 7
      val rr = radius * (0.35 + 0.65 * r.nextDouble())
      (cx + rr * math.cos(a), cy + rr * math.sin(a))
    }
    (pts.map(_._1).toArray, pts.map(_._2).toArray)
  }

  def wkt(px: Array[Double], py: Array[Double]): String =
    (px.indices :+ 0).map(i => s"${px(i)} ${py(i)}").mkString("POLYGON((", ", ", "))")
}
