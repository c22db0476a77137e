package graft.lakebench

/** Seeded synthetic point cloud over [0, 1000)^2 x [0, 100) with importance
  * in [0, 1): half uniform background, half in Gaussian clusters of varying
  * width, as real LiDAR is uneven. Point `id` is a pure function of
  * (seed, id), so Spark executors and the driver-side reference answers
  * see bit-identical coordinates. */
final case class Cloud(seed: Long, n: Long, centers: Array[Double]) {
  import Cloud._

  def clusters: Int = centers.length / 3

  /** (x, y, z, i) of point `id`. */
  def point(id: Long): (Double, Double, Double, Double) = {
    val u0 = unit(seed, id, 0)
    val (x, y) =
      if (u0 < ClusterShare) {
        val c = math.min((u0 / ClusterShare * clusters).toInt, clusters - 1)
        val r = math.sqrt(-2.0 * math.log(1.0 - unit(seed, id, 1)))
        val a = 2.0 * math.Pi * unit(seed, id, 2)
        val s = centers(3 * c + 2)
        (clamp(centers(3 * c) + s * r * math.cos(a)), clamp(centers(3 * c + 1) + s * r * math.sin(a)))
      } else (Extent * unit(seed, id, 1), Extent * unit(seed, id, 2))
    (x, y, 100.0 * unit(seed, id, 3), unit(seed, id, 4))
  }

  /** Points per unit area of the uniform background. */
  def backgroundDensity: Double = n * (1.0 - ClusterShare) / (Extent * Extent)
}

object Cloud {
  val Extent = 1000.0
  val ClusterShare = 0.5
  private val Unit53 = 1.0 / (1L << 53)

  def apply(seed: Long, n: Long, clusters: Int = 32): Cloud = {
    val c = new Array[Double](3 * clusters)
    (0 until clusters).foreach { k =>
      c(3 * k) = 50.0 + 900.0 * unit(seed, -1L - k, 0)
      c(3 * k + 1) = 50.0 + 900.0 * unit(seed, -1L - k, 1)
      c(3 * k + 2) = 8.0 + 32.0 * unit(seed, -1L - k, 2)
    }
    new Cloud(seed, n, c)
  }

  private def clamp(v: Double): Double = math.min(math.max(v, 0.0), Extent - 1e-9)

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) from a counter. */
  def unit(seed: Long, id: Long, k: Int): Double =
    (mix(mix(seed * 0x9E3779B97F4A7C15L + k) + id * 0xD1B54A32D192ED03L) >>> 11) * Unit53
}
