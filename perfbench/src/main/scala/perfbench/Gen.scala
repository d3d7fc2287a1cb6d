package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Encoders, Row, SparkSession}

import graft.core.Docs

/** The benchmark's own input generator. Every doc is a pure function of
  * (seed, kind, index), so the same seed gives the same inputs at any
  * partitioning, and the driver-side checks can regenerate coordinates with
  * a plain JVM loop instead of trusting the engine. Nothing here calls the
  * engine's own generator, so a change to it cannot change what is measured.
  */
object Gen {
  /** Extent of every generated input (metres, a 4 km x 6 km survey). */
  val MinX = 635000.0; val MinY = 848000.0; val MaxX = 639000.0; val MaxY = 854000.0

  /** splitmix64 finalizer. */
  def mix(v0: Long): Long = {
    var z = v0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  sealed trait Kind { def tag: Long }
  case object Uniform extends Kind { val tag = 1L }
  /** Gaussian clusters whose widths differ by orders of magnitude, over a
    * sparse uniform background. */
  case object Clustered extends Kind { val tag = 2L }
  /** Small appends to the table: uniform, on their own index range. */
  case object Appends extends Kind { val tag = 3L }

  /** Cluster (centre x, centre y, centre z, sigma) of a seed: 40 clusters,
    * eight each of widths 1, 4, 16, 60 and 250 m, centred on a fixed 5 x 8
    * layout 1 km inside the extent and jittered by up to 50 m by the seed.
    * With a few big clusters, which of them shared a kNN task changed from
    * seed to seed and moved the kNN time by half; forty small ones average
    * that out. */
  def clusters(seed: Long): IndexedSeq[(Double, Double, Double, Double)] = {
    val r = new SplittableRandom(mix(seed * 7919L + 17L))
    val sigmas = IndexedSeq(1.0, 4.0, 16.0, 60.0, 250.0)
    (0 until 40).map { k =>
      (MinX + 1200 + 400 * (k % 5) + r.nextDouble(-50, 50),
        MinY + 1250 + 500 * (k / 5) + r.nextDouble(-50, 50),
        100 + r.nextDouble() * 200, sigmas(k % 5))
    }
  }

  private val clusterCache = new java.util.concurrent.ConcurrentHashMap[Long,
    IndexedSeq[(Double, Double, Double, Double)]]()

  /** One clustered doc lies 1.5 km east of the survey, like a stray
    * return. Its neighbours lie beyond three kNN rings, so every seed takes
    * kNN's escalation path; without it, whether one chance straggler
    * needed a second ring moved the kNN time by 40% from seed to seed. */
  val Outlier = 5L

  /** Every `BackgroundEvery`-th clustered doc belongs to the background. */
  val BackgroundEvery = 10

  /** Background point k: the 3D R-sequence (a low-discrepancy sequence)
    * shifted by the seed, so the background is uniform with no large empty
    * gaps for any input size, and the farthest neighbour of any doc, which
    * sets how far kNN must search, hardly moves from seed to seed. */
  private val phi3 = 1.2207440846057596
  private val alpha = Array(1 / phi3, 1 / (phi3 * phi3), 1 / (phi3 * phi3 * phi3))
  private def frac(v: Double): Double = v - math.floor(v)

  final class P(val x: Double, val y: Double, val z: Double, val cls: Int)

  private def rng(kind: Kind, seed: Long, i: Long) =
    new SplittableRandom(mix(mix(seed * 31L + kind.tag) + i))

  /** Spatially coherent class: a 120 m checkerboard of classes, with 15% of
    * the docs relabelled at random so that kNN votes change some of them. */
  private def classOf(x: Double, y: Double, r: SplittableRandom, seed: Long): Int = {
    val base = (mix(seed + (math.floor(x / 120).toLong * 1000003L) +
      math.floor(y / 120).toLong) & 7L).toInt
    if (r.nextDouble() < 0.15) r.nextInt(8) else base
  }

  def point(kind: Kind, seed: Long, i: Long): P = {
    val r = rng(kind, seed, i)
    kind match {
      case Clustered if i == Outlier =>
        val x = MaxX + 1500; val y = (MinY + MaxY) / 2; val z = 200.0
        new P(x, y, z, classOf(x, y, r, seed))
      case Clustered if i % BackgroundEvery == 0 =>
        val k = (i / BackgroundEvery).toDouble
        val s = new SplittableRandom(mix(seed + 4242L))
        val x = MinX + frac(s.nextDouble() + k * alpha(0)) * (MaxX - MinX)
        val y = MinY + frac(s.nextDouble() + k * alpha(1)) * (MaxY - MinY)
        val z = frac(s.nextDouble() + k * alpha(2)) * 400.0
        new P(x, y, z, classOf(x, y, r, seed))
      case Clustered =>
        val cs = clusterCache.computeIfAbsent(seed, s => clusters(s))
        val c = cs(r.nextInt(cs.length))
        val x = c._1 + gauss(r) * c._4
        val y = c._2 + gauss(r) * c._4
        val z = c._3 + gauss(r) * math.min(c._4 * 0.25, 25.0)
        new P(x, y, z, classOf(x, y, r, seed))
      case _ =>
        val x = MinX + r.nextDouble() * (MaxX - MinX)
        val y = MinY + r.nextDouble() * (MaxY - MinY)
        val z = r.nextDouble() * 400.0
        new P(x, y, z, classOf(x, y, r, seed))
    }
  }

  private def gauss(r: SplittableRandom): Double = {
    val u1 = r.nextDouble() + 1e-300
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  private val kinds = Array("text", "image", "audio", "table")

  /** The full doc row: coordinates from `point`, then the attributes and
    * the interleaved spans payload from a second stream of the same doc. */
  def row(kind: Kind, seed: Long, i: Long, keyBase: Long): Row = {
    val p = point(kind, seed, i)
    val r = rng(kind, seed ^ 0x5DEECE66DL, i)
    val n = 1 + r.nextInt(4)
    val spans = (0 until n).map { j =>
      val k = kinds(r.nextInt(4))
      val text = if (k == "text") s"tok${r.nextInt(50021)} ${r.nextInt(7919)}" else ""
      val media = if (k != "text") f"media/${r.nextLong()}%016x" else ""
      Row(k, text, media, j * 97 + r.nextInt(97))
    }
    val key = keyBase + i
    Row(f"doc$key%012d", spans, p.x, p.y, p.z, r.nextInt(65536), p.cls,
      1 + r.nextInt(3), 3, 245000.0 + key * 0.01, key)
  }

  /** Write docs [from, until) of `kind` as parquet; a doc's order key is
    * keyBase + its index. With batchSize > 0 the docs are split into
    * consecutive batches, one `batch=<j>` directory each. */
  def write(spark: SparkSession, kind: Kind, seed: Long, from: Long, until: Long,
      path: String, keyBase: Long = 0L, files: Int = 8, batchSize: Long = 0L): Unit = {
    val schema =
      if (batchSize > 0) Docs.schema.add("batch", org.apache.spark.sql.types.IntegerType)
      else Docs.schema
    val rows = spark.range(from, until, 1, files)
      .mapPartitions((it: Iterator[java.lang.Long]) => it.map { i =>
        val r = row(kind, seed, i, keyBase)
        if (batchSize > 0) Row.fromSeq(r.toSeq :+ ((i - from) / batchSize).toInt) else r
      })(Encoders.row(schema))
    val w = rows.write.mode("overwrite")
    (if (batchSize > 0) w.partitionBy("batch") else w).parquet(path)
  }

  /** Driver-side coordinates for the independent checks. */
  final class Cloud(val x: Array[Double], val y: Array[Double], val z: Array[Double],
      val cls: Array[Int], val key: Array[Long]) {
    def n: Int = x.length
  }

  def cloud(kind: Kind, seed: Long, from: Int, until: Int, keyBase: Long = 0L): Cloud = {
    val n = until - from
    val x = new Array[Double](n); val y = new Array[Double](n)
    val z = new Array[Double](n); val c = new Array[Int](n)
    val k = new Array[Long](n)
    var i = 0
    while (i < n) {
      val p = point(kind, seed, from + i)
      x(i) = p.x; y(i) = p.y; z(i) = p.z; c(i) = p.cls; k(i) = keyBase + from + i
      i += 1
    }
    new Cloud(x, y, z, c, k)
  }

  def concat(a: Cloud, b: Cloud): Cloud = new Cloud(a.x ++ b.x, a.y ++ b.y,
    a.z ++ b.z, a.cls ++ b.cls, a.key ++ b.key)
}
