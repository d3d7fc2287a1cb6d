package perfbench

import scala.collection.mutable

/** Independent computations the benchmark checks the engine against: plain
  * JVM loops over the generator's own coordinates, written from the PDAL
  * rules the operators follow, never from the engine's code. */
object Oracle {
  def boxCount(c: Gen.Cloud, n: Int, minx: Double, miny: Double,
      maxx: Double, maxy: Double): (Long, Long) = {
    var cnt = 0L; var keys = 0L; var i = 0
    while (i < n) {
      if (c.x(i) >= minx && c.x(i) <= maxx && c.y(i) >= miny && c.y(i) <= maxy) {
        cnt += 1; keys += c.key(i)
      }
      i += 1
    }
    (cnt, keys)
  }

  /** Even-odd ray casting over one closed ring. */
  def inPolygon(px: Array[Double], py: Array[Double], x: Double, y: Double): Boolean = {
    var inside = false
    var j = px.length - 1
    var i = 0
    while (i < px.length) {
      if ((py(i) > y) != (py(j) > y) &&
          x < (px(j) - px(i)) * (y - py(i)) / (py(j) - py(i)) + px(i)) inside = !inside
      j = i; i += 1
    }
    inside
  }

  def polygonCount(c: Gen.Cloud, n: Int, px: Array[Double], py: Array[Double]): (Long, Long) = {
    var cnt = 0L; var keys = 0L; var i = 0
    while (i < n) {
      if (inPolygon(px, py, c.x(i), c.y(i))) { cnt += 1; keys += c.key(i) }
      i += 1
    }
    (cnt, keys)
  }

  /** Tile id with plain floor, packed (x << 32 | y). */
  def tile(x: Double, y: Double, ox: Double, oy: Double, len: Double): Long = {
    val cx = math.floor((x - ox) / len).toLong
    val cy = math.floor((y - oy) / len).toLong
    (cx << 32) | (cy & 0xFFFFFFFFL)
  }

  /** Rows the buffered splitter emits: each doc once in its own tile, plus
    * at most one x-neighbour, one y-neighbour and one diagonal tile whose
    * buffered square (strict bounds) holds it (SplitterFilter.cpp
    * processPoint). */
  def splitterRows(x: Double, y: Double, ox: Double, oy: Double, len: Double,
      buf: Double): Int = {
    val cx = math.floor((x - ox) / len); val cy = math.floor((y - oy) / len)
    def sq(tx: Double, ty: Double): Boolean = {
      val mnx = ox + tx * len - buf; val mny = oy + ty * len - buf
      x > mnx && x < mnx + len + 2 * buf && y > mny && y < mny + len + 2 * buf
    }
    var rows = 1
    if (sq(cx - 1, cy) || sq(cx + 1, cy)) rows += 1
    if (sq(cx, cy - 1) || sq(cx, cy + 1)) rows += 1
    if (sq(cx - 1, cy - 1) || sq(cx - 1, cy + 1) || sq(cx + 1, cy - 1) ||
        sq(cx + 1, cy + 1)) rows += 1
    rows
  }

  /** k nearest of point q among `idx` (3D, ties by order key), then PDAL's
    * vote (NeighborClassifierFilter.cpp doOneNoDomain): the class with the
    * most votes, the smallest class on a tie, and a change only when its
    * count is above half the neighbours found. Returns the new class. */
  def vote(c: Gen.Cloud, idx: Array[Int], q: Int, k: Int): Int = {
    val bestD = Array.fill(k)(Double.MaxValue)
    val bestK = Array.fill(k)(Long.MaxValue)
    val bestC = new Array[Int](k)
    var found = 0
    var t = 0
    while (t < idx.length) {
      val i = idx(t)
      val dx = c.x(i) - c.x(q); val dy = c.y(i) - c.y(q); val dz = c.z(i) - c.z(q)
      val d = dx * dx + dy * dy + dz * dz
      val key = c.key(i)
      if (found < k || d < bestD(k - 1) || (d == bestD(k - 1) && key < bestK(k - 1))) {
        var p = math.min(found, k - 1)
        while (p > 0 && (bestD(p - 1) > d || (bestD(p - 1) == d && bestK(p - 1) > key))) {
          bestD(p) = bestD(p - 1); bestK(p) = bestK(p - 1); bestC(p) = bestC(p - 1)
          p -= 1
        }
        bestD(p) = d; bestK(p) = key; bestC(p) = c.cls(i)
        if (found < k) found += 1
      }
      t += 1
    }
    val counts = mutable.TreeMap.empty[Int, Int]
    (0 until found).foreach(j => counts(bestC(j)) = counts.getOrElse(bestC(j), 0) + 1)
    val (winner, cnt) = counts.foldLeft((Int.MaxValue, -1)) { case (acc, (cls, n)) =>
      if (n > acc._2) (cls, n) else acc
    }
    if (cnt > found / 2.0) winner else c.cls(q)
  }

  /** Voxel "first": the lowest order key of every occupied voxel, with the
    * origin at the first doc minus half a cell (VoxelDownsizeFilter.cpp). */
  def voxelFirst(c: Gen.Cloud, cell: Double): (Long, Long) = {
    val first = c.key.indices.minBy(c.key(_))
    val ox = c.x(first) - cell / 2; val oy = c.y(first) - cell / 2
    val oz = c.z(first) - cell / 2
    val keep = mutable.HashMap.empty[(Long, Long, Long), Long]
    var i = 0
    while (i < c.n) {
      val v = (math.floor((c.x(i) - ox) / cell).toLong,
        math.floor((c.y(i) - oy) / cell).toLong, math.floor((c.z(i) - oz) / cell).toLong)
      keep.get(v) match {
        case Some(k) if k <= c.key(i) =>
        case _ => keep(v) = c.key(i)
      }
      i += 1
    }
    (keep.size.toLong, keep.valuesIterator.sum)
  }

  /** GDAL-writer cell statistics of z: every doc within `radius` of the
    * cell centre counts (count, min, max, mean). */
  def rasterCell(c: Gen.Cloud, ox: Double, oy: Double, res: Double, radius: Double,
      cx: Long, cy: Long): (Long, Double, Double, Double) = {
    val mx = (cx + 0.5) * res + ox; val my = (cy + 0.5) * res + oy
    var n = 0L; var mn = Double.MaxValue; var mxv = -Double.MaxValue; var sum = 0.0
    var i = 0
    while (i < c.n) {
      val dx = c.x(i) - mx; val dy = c.y(i) - my
      if (math.sqrt(dx * dx + dy * dy) <= radius) {
        n += 1; mn = math.min(mn, c.z(i)); mxv = math.max(mxv, c.z(i)); sum += c.z(i)
      }
      i += 1
    }
    (n, mn, mxv, if (n == 0) Double.NaN else sum / n)
  }

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
