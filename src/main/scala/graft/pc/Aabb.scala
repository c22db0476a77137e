package graft.pc

/** Driver-side axis-aligned bounding box over n named dimensions.
  *
  * Boxes are *half-open* `[lower, upper)` per dimension, except that an
  * importance ("i") upper bound >= 1.0 is closed — this is the rule that
  * makes grid/quadtree cells a disjoint, complete cover of the data
  * (reference: pc-format/src/compute.rs:186-190,
  * pc-format/src/expressions.rs:154-158).
  *
  * This is a plain driver value (never a column type / UDT); cells computed
  * here become filter/partition expressions on the DataFrame
  * (reference: pc-format/src/aabb.rs:11-210).
  */
final case class Aabb(names: Vector[String], lower: Vector[Double], upper: Vector[Double]) {
  require(names.size == lower.size && lower.size == upper.size,
    s"rank mismatch: $names / $lower / $upper")

  def rank: Int = names.size

  /** Canonical cell id `"x-{lo}-{hi}y-{lo}-{hi}..."`
    * (reference: pc-format/src/aabb.rs:23-34). */
  def id: String =
    names.indices.map(d => s"${names(d)}-${lower(d)}-${upper(d)}").mkString

  def merge(other: Aabb): Aabb = {
    require(names == other.names)
    Aabb(names,
      lower.zip(other.lower).map { case (a, b) => math.min(a, b) },
      upper.zip(other.upper).map { case (a, b) => math.max(a, b) })
  }

  def intersects(other: Aabb): Boolean = {
    require(names == other.names)
    names.indices.forall(d => lower(d) < other.upper(d) && other.lower(d) < upper(d))
  }

  /** Half-open containment with the closed-importance-at-1.0 exception. */
  def contains(point: Seq[Double]): Boolean =
    names.indices.forall { d =>
      val rightOpen = !(names(d) == "i" && upper(d) >= 1.0)
      point(d) >= lower(d) && (if (rightOpen) point(d) < upper(d) else point(d) <= upper(d))
    }

  def center: Vector[Double] =
    names.indices.map(d => (lower(d) + upper(d)) / 2.0).toVector

  def area: Double =
    names.indices.map(d => upper(d) - lower(d)).product

  /** Lift a 2-D/3-D box into importance space by appending/overwriting the
    * `i` axis (reference: pc-format/src/aabb.rs:66-121). */
  def withImportance(from: Double, to: Double): Aabb =
    names.indexOf("i") match {
      case -1 => Aabb(names :+ "i", lower :+ from, upper :+ to)
      case d  => Aabb(names, lower.updated(d, from), upper.updated(d, to))
    }

  /** Split into `splits(d)` quasi-equal slices per dimension, cartesian
    * product; first/last slices snap to the exact box corners
    * (reference: pc-format/src/framework.rs:69-110). */
  def split(splits: Seq[Int]): Seq[Aabb] = {
    require(splits.size == rank)
    val perDim: Seq[Seq[(Double, Double)]] = names.indices.map { d =>
      val n = splits(d)
      val delta = (upper(d) - lower(d)) / n
      (0 until n).map { k =>
        val start = if (k == 0) lower(d) else lower(d) + delta * k
        val end = if (k == n - 1) upper(d) else lower(d) + delta * (k + 1)
        (start, end)
      }
    }
    perDim.foldLeft(Seq(Vector.empty[(Double, Double)])) { (acc, slices) =>
      for (prefix <- acc; s <- slices) yield prefix :+ s
    }.map(corners => Aabb(names, corners.map(_._1), corners.map(_._2)))
  }
}

object Aabb {
  def xy(x0: Double, y0: Double, x1: Double, y1: Double): Aabb =
    Aabb(Vector("x", "y"), Vector(x0, y0), Vector(x1, y1))

  def xyi(x0: Double, y0: Double, i0: Double, x1: Double, y1: Double, i1: Double): Aabb =
    Aabb(Vector("x", "y", "i"), Vector(x0, y0, i0), Vector(x1, y1, i1))

  private def divEuclid(a: Double, b: Double): Long = math.floor(a / b).toLong

  /** Enumerate all grid cells of size `delta` overlapping `content`; cells
    * are aligned to integer multiples of `delta`
    * (reference: pc-format/src/framework.rs:128-167). */
  def gridCoverage(content: Aabb, delta: Seq[Double]): Seq[Aabb] = {
    require(delta.size == content.rank)
    val ranges: Seq[Seq[Long]] = content.names.indices.map { d =>
      val from = divEuclid(content.lower(d), delta(d))
      val to = divEuclid(content.upper(d), delta(d))
      (from to to).toSeq
    }
    ranges.foldLeft(Seq(Vector.empty[Long])) { (acc, r) =>
      for (prefix <- acc; c <- r) yield prefix :+ c
    }.map { idx =>
      Aabb(content.names,
        idx.zipWithIndex.map { case (c, d) => c * delta(d) }.toVector,
        idx.zipWithIndex.map { case (c, d) => (c + 1) * delta(d) }.toVector)
    }
  }

  /** Importance-layered quadtree cells over an (x, y, i) box: level l of
    * `depth` owns the importance slice `[seen/num, (seen+4^l)/num)` (closed
    * at 1.0 on the last level) and splits xy into 2^l x 2^l cells — a
    * Potree-like LoD pyramid encoded purely as boxes
    * (reference: pc-format/src/framework.rs:169-219). */
  def quadtreeCells(box: Aabb, depth: Int): Seq[Aabb] = {
    require(box.names == Vector("x", "y", "i"), s"need XYI box, got ${box.names}")
    val numCells = (0 to depth).map(d => math.pow(4.0, d).toLong).sum
    val iFraction = 1.0 / numCells
    var seen = 0L
    (0 to depth).flatMap { level =>
      val iLower = if (level == 0) 0.0 else seen * iFraction
      val levelCells = math.pow(4.0, level).toLong
      seen += levelCells
      val iUpper = if (level == depth) 1.0 else seen * iFraction
      val levelBounds = Aabb(box.names,
        box.lower.updated(2, iLower), box.upper.updated(2, iUpper))
      val s = math.round(math.sqrt(levelCells.toDouble)).toInt
      levelBounds.split(Seq(s, s, 1))
    }
  }

  /** Shared grid(σ) derivation (reference: pc-cli/src/partition.rs:
    * 164-198): (cell size, window accumulator, per-axis
    * splits). ONE function feeds both the driver-side cell enumeration
    * below and Layout.gridGeometry's cell-id expression — the two views
    * must agree bit-for-bit, and they drifted once (round vs floor on
    * `acc`) while the arithmetic lived in two copies. Degenerate
    * zero-area bounds (single point / collinear data) get size 1.0 so
    * everything lands in one window instead of dividing by zero. */
  def gridDerivation(bounds: Aabb, count: Long, sigma: Int,
      batchSize: Long = Layout.BatchSize): (Double, Double, Int) = {
    val numBatches = math.max(1L, count / batchSize)
    val raw = math.round(math.sqrt(bounds.area / (numBatches.toDouble / sigma))).toDouble
    val size = if (raw > 0.0) raw else 1.0
    val acc = 8.0 / math.sqrt(sigma.toDouble)
    // floor (not round), matching the reference's integer truncation —
    // for sigma=8, 8/sqrt(8)=2.83 must give 2 splits per axis.
    // INTENTIONAL DIVERGENCE from framework.rs:69-109 within a window:
    // the reference steps cell edges by windowEdge/acc UN-floored
    // (≈windowEdge/2.83) and stretches the last cell to the window edge;
    // we divide the window evenly into floor(acc) equal slices. Query
    // results are invariant (every point lands in exactly one cell either
    // way, and cell ids agree between the driver enumeration and the
    // writer expression — the invariant that actually matters); the even
    // split just gives uniform physical clustering instead of a fat last
    // cell.
    val splits = math.max(1, math.floor(acc).toInt)
    (size, acc, splits)
  }

  def gridPartitionCells(
      bounds: Aabb, // XY bounds of the data
      count: Long,
      sigma: Int,
      batchSize: Long = Layout.BatchSize): (Seq[Aabb], Double) = {
    val (size, acc, splits) = gridDerivation(bounds, count, sigma, batchSize)
    val windows = gridCoverage(bounds, Seq(acc * size, acc * size))
    val cells = windows.flatMap { w =>
      w.withImportance(0.0, 1.0).split(Seq(splits, splits, sigma))
    }
    (cells, size)
  }

  /** Closed-form quadtree depth = round(log4(normalizedCount/batchSize))
    * + square (x,y,i) box centered on the data (reference:
    * pc-cli/src/partition.rs:199-237) — shared with
    * Layout.quadtreeGeometry so the enumerated cells and the writer's
    * cell-id expressions can never drift. Zero-area bounds (single
    * point / collinear data) skip the density normalization entirely:
    * the unnormalized count would otherwise blow up to Long.MaxValue and
    * ask for a ~4^22-cell enumeration. */
  /** Hard depth cap: cell ENUMERATION is O(4^depth) driver memory, and a
    * near-degenerate box (tiny but non-zero area under many points) sends
    * the density-normalized count — and so the uncapped depth — to
    * absurd values. 12 ⇒ ≤ ~22M enumerable cells; real workloads sit far
    * below (2B points ≈ depth 6). */
  val MaxQuadtreeDepth: Int = 12

  def quadtreeDerivation(bounds: Aabb, count: Long,
      batchSize: Long = Layout.BatchSize): (Aabb, Int) = {
    val dx = bounds.upper(0) - bounds.lower(0)
    val dy = bounds.upper(1) - bounds.lower(1)
    val size = math.max(dx, dy) + 0.1
    val countNormalized =
      if (bounds.area > 0.0) (count * (size * size / bounds.area)).toLong
      else count
    val numBatches = math.max(1L, countNormalized / batchSize)
    val depth = math.min(MaxQuadtreeDepth,
      math.max(0, math.round(math.log(numBatches.toDouble) / math.log(4.0)).toInt))
    val c = bounds.center
    val half = size / 2.0
    (Aabb.xyi(c(0) - half, c(1) - half, 0.0, c(0) + half, c(1) + half, 1.0), depth)
  }

  def quadtreePartitionCells(
      bounds: Aabb,
      count: Long,
      batchSize: Long = Layout.BatchSize): (Seq[Aabb], Int) = {
    val (box, depth) = quadtreeDerivation(bounds, count, batchSize)
    (quadtreeCells(box, depth), depth)
  }
}
