package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Docs
import graft.operators.Crop
import graft.sources.GraftTable
import graft.sources.v2.GraftDataSource

/** Storage under a mixed load: a clustered commit of uniform docs, then
  * seeded selections (boxes, polygons, V2 reads) with small appends
  * interleaved, closed by countRows and readIncremental over the appends.
  * One client, closed loop. Two probes of known V2 faults run once per
  * round on a fixed table that does not depend on the seed. */
final class TableRw(c0: Ctx, n: Int) extends Workload(c0) {
  import Gen._
  private val appends = 2
  private val appendSize = if (c.smoke) 50 else 1000
  private val reads = 12 // 8 boxes, 2 polygons, 2 V2 reads: see `sels`
  val docs: Long = n.toLong + appends * appendSize
  private val in = c.path("table-docs")
  private val batches = c.path("table-appends")
  private val cellSize = 250.0
  private val numFiles = 16
  private lazy val cloud = Gen.concat(Gen.cloud(Uniform, c.seed, 0, n),
    Gen.cloud(Appends, c.seed, 0, appends * appendSize, keyBase = n.toLong))

  /** The seeded read mix, the same in every round of a run. */
  private sealed trait Sel
  private case class BoxSel(minx: Double, miny: Double, maxx: Double, maxy: Double) extends Sel
  private case class PolySel(px: Array[Double], py: Array[Double]) extends Sel
  private case class V2Sel(b: BoxSel) extends Sel
  private lazy val sels: IndexedSeq[Sel] = {
    // the sizes are fixed and only the places depend on the seed, so the
    // work of a round hardly moves from seed to seed
    val r = new java.util.SplittableRandom(Gen.mix(c.seed * 7L + 3L))
    def box(side: Double): BoxSel = {
      val x = MinX + r.nextDouble() * (MaxX - MinX - side)
      val y = MinY + r.nextDouble() * (MaxY - MinY - side)
      BoxSel(x, y, x + side, y + side)
    }
    val boxes = Seq(50.0, 100, 200, 400, 700, 1000, 1500, 2000).map(box)
    val polys = Seq(300.0, 700).map { rad =>
      val (px, py) = Tables.polygon(r, rad); PolySel(px, py)
    }
    val v2 = Seq(200.0, 1000).map(side => V2Sel(box(side)))
    // interleaved: four boxes, a polygon, a V2 read, and again
    Seq(boxes.take(4), Seq(polys(0), v2(0)), boxes.drop(4), Seq(polys(1), v2(1))).flatten
      .toIndexedSeq
  }

  def generate(): Unit = {
    Gen.write(c.spark, Uniform, c.seed, 0, n, in)
    Gen.write(c.spark, Appends, c.seed, 0, appends * appendSize, batches,
      keyBase = n.toLong, files = 4, batchSize = appendSize)
  }

  private lazy val faultRoot = {
    // fixed, seed-free rows: four ordinary docs, then one whose order key
    // is 2^53 + 1, in a file of its own
    val root = c.path("fault-table")
    val small = (0 until 4).map(i => Gen.row(Uniform, 0L, i, 0L))
    val big = Seq(Gen.row(Uniform, 0L, 4, (1L << 53) - 3))
    Seq(small, big).foreach { rows =>
      GraftTable.commit(c.spark.createDataFrame(
        c.spark.sparkContext.parallelize(rows, 1), Docs.schema), root)
    }
    root
  }

  def warm(): Unit = {
    faultRoot
    val docsPath = c.path("table-warm-docs")
    Gen.write(c.spark, Uniform, c.seed + 1, 0, math.max(n / 20, 500), docsPath)
    val root = c.path("table-warm")
    GraftTable.commitClustered(c.spark.read.parquet(docsPath), root, cellSize, 4)
    sels.take(6).foreach(s => select(root, s))
    GraftTable.commit(c.spark.read.parquet(docsPath).limit(100), root)
    GraftTable.countRows(c.spark, root)
    GraftTable.readIncremental(c.spark, root, 1).count()
    faultProbes()
    c.rm(root)
  }

  private def countKeys(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("order_key"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private val filesRead = ArrayBuffer.empty[Double]
  private val v2Files = ArrayBuffer.empty[Double]
  private var rowsReturned = 0L

  /** Runs one selection; returns (rows, sum of order keys). */
  private def select(root: String, s: Sel): (Long, Long) = s match {
    case BoxSel(a, b, x, y) => c.tr.span("table.select") {
      val (df, files, _) = GraftTable.readBox(c.spark, root, a, b, x, y)
      filesRead += files
      countKeys(df)
    }
    case PolySel(px, py) => c.tr.span("table.polygon_select") {
      val (df, files, _) = GraftTable.readBox(c.spark, root, px.min, py.min, px.max, py.max)
      filesRead += files
      countKeys(c.layer("selection.polygon", df)(Crop.polygon(_, Tables.wkt(px, py))))
    }
    case V2Sel(BoxSel(a, b, x, y)) => c.tr.span("v2.select") {
      val df = c.spark.read.format("graft").load(root)
        .filter(col("x") >= a && col("x") <= x && col("y") >= b && col("y") <= y)
      val out = countKeys(df)
      v2Files += GraftDataSource.lastPrune._1.toDouble
      out
    }
  }

  private def expected(s: Sel, visible: Int): (Long, Long) = s match {
    case BoxSel(a, b, x, y) => Oracle.boxCount(cloud, visible, a, b, x, y)
    case PolySel(px, py) => Oracle.polygonCount(cloud, visible, px, py)
    case V2Sel(BoxSel(a, b, x, y)) => Oracle.boxCount(cloud, visible, a, b, x, y)
  }

  private val selectMs = ArrayBuffer.empty[Double]
  private val v2Ms = ArrayBuffer.empty[Double]
  private val appendMs = ArrayBuffer.empty[Double]
  private var commitS = 0.0
  private var tableFacts = Map.empty[String, Double]

  def round(i: Int): Round = {
    val root = c.path(s"table-$i")
    selectMs.clear(); v2Ms.clear(); appendMs.clear(); filesRead.clear(); v2Files.clear()
    rowsReturned = 0L
    var attempted = 0L
    val results = ArrayBuffer.empty[(Int, Int, (Long, Long))]
    val raw = c.spark.read.parquet(in)
    val input = if (c.tr.on) c.mat(raw) else raw
    val (_, wall) = c.time(c.tr.span("round") {
      val (_, cs) = c.time(c.tr.span("table.commit")(
        GraftTable.commitClustered(input, root, cellSize, numFiles)))
      commitS = cs
      attempted += 1
      val v0 = GraftTable.currentVersion(root)
      var visible = n
      var k = 0
      (0 until reads + appends).foreach { j =>
        if (j % 7 == 6) {
          val b = j / 7
          val df = c.spark.read.parquet(s"$batches/batch=$b")
          val (_, s) = c.time(c.tr.span("table.append")(GraftTable.commit(df, root)))
          appendMs += s * 1000
          visible += appendSize
        } else {
          val s = sels(k)
          val (got, t) = c.time(select(root, s))
          if (s.isInstanceOf[V2Sel]) v2Ms += t * 1000
          else { selectMs += t * 1000; rowsReturned += got._1 }
          results += ((k, visible, got))
          k += 1
        }
        attempted += 1
      }
      val rows = c.tr.span("table.count_rows")(GraftTable.countRows(c.spark, root))
      c.check(rows == docs, s"table: countRows $rows, want $docs")
      val inc = c.tr.span("table.read_incremental")(
        countKeys(GraftTable.readIncremental(c.spark, root, v0)))
      val wantInc = (appends.toLong * appendSize,
        (n.toLong until docs).sum)
      c.check(inc == wantInc, s"table: readIncremental $inc, want $wantInc")
      attempted += 2
    })
    c.release()
    results.foreach { case (k, visible, got) =>
      val want = expected(sels(k), visible)
      c.check(got == want, s"table selection $k (${sels(k)}): engine $got, plain loop $want")
    }
    if (c.tr.on) tableFacts = facts(root)
    c.rm(root)
    val failed = faultProbes()
    Round(None, Some(wall), selectMs.toSeq, attempted + 2, failed)
  }

  /** The two known V2 faults, as operations that fail until they are fixed:
    * a nested column read through V2 must match the object API, and so must
    * a filter on an order key above 2^53. Returns how many failed. */
  private def faultProbes(): Int = {
    val root = faultRoot
    def texts(df: DataFrame) = df.select(col("spans.text").as("t")).collect()
      .map(_.getSeq[String](0).mkString("|")).sorted.toSeq
    val v2 = c.spark.read.format("graft").load(root)
    val nestedOk = texts(v2) == texts(GraftTable.read(c.spark, root))
    val big = col("order_key") > lit(1L << 53)
    val objBig = GraftTable.read(c.spark, root).filter(big).count()
    c.check(objBig == 1, s"table: object API finds $objBig keys above 2^53, want 1")
    val bigOk = v2.filter(big).count() == objBig
    Seq(nestedOk, bigOk).count(!_)
  }

  /** Table figures for the traced run: size, files, manifest cost. */
  private def facts(root: String): Map[String, Double] = {
    val dataDir = new java.io.File(root, "data")
    val files = Option(dataDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    val head = GraftTable.snapshot(root, GraftTable.currentVersion(root))
    val manifestsMs = (0 until 5).map { _ =>
      c.time(c.tr.span("table.manifests")(GraftTable.manifests(c.spark, root).count()))._2 * 1000
    }
    Map("table.bytes_per_doc" -> files.map(_.length).sum.toDouble / docs,
      "table.files" -> files.length.toDouble,
      "table.manifests_ms" -> Summary.median(manifestsMs),
      "table.append_manifests" -> head.manifests.size.toDouble)
  }

  def layers(v: RoundView, r: Round): Map[String, Double] = {
    val sel = v.agg("table.select")
    sel.add(v.agg("table.polygon_select"))
    Map("table.commit_s" -> commitS,
      "table.commit_rows_per_s" -> n / commitS,
      "table.select_ms_p90" -> Summary.quantile(selectMs.toSeq, 0.9),
      "table.append_ms_p50" -> Summary.median(appendMs.toSeq),
      "table.files_read_per_select" -> Summary.mean(filesRead.toSeq),
      "table.rows_read_per_row_returned" -> sel.inRecs / math.max(rowsReturned, 1.0),
      "selection.polygon_s" -> v.secs("selection.polygon"),
      "v2.select_ms_p50" -> Summary.median(v2Ms.toSeq),
      "v2.files_read_per_select" -> Summary.mean(v2Files.toSeq)) ++ tableFacts
  }
}
