package graft.pc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, LongType, ShortType}

/** The reference's benchmark query surface re-expressed on Spark
  * (reference: pc-cli/src/benchmark.rs:95-265, BASELINE.md).
  *
  * Query parameters are fixed literals (the reference draws them from a
  * seeded RNG; we pin them so the DuckDB oracle is a plain SQL string).
  * Every query returns a small deterministic result: aggregates use exact
  * integer arithmetic (counts / bigint checksums) so hash comparison is
  * stable across engines.
  */
object PcQueries {
  import Points.{boxPredicate, boxPredicateSql, pointsSql}

  /** Fixed query geometry (domain is x,y in [0,1000)). */
  val sRect = Aabb.xy(123.456, 234.567, 123.456 + 70.0, 234.567 + 70.0) // S_RECT edge 70
  val mRect = Aabb.xy(300.25, 400.75, 300.25 + 220.0, 400.75 + 220.0)   // M_RECT edge 220
  val sCircle = (500.5, 500.5, 25.0)  // S_CRC r=25
  val mCircle = (444.0, 555.0, 100.0) // M_CRC r=100
  val knnAt = (250.125, 750.875)
  /** A level-2 quadtree cell of the [0,1000)^2 x [0,1) domain at depth 2:
    * importance slice [5/21, 1) closed at 1.0, xy cell (1, 2) of 4x4. */
  val vizCell = Aabb.xyi(250.0, 500.0, 5.0 / 21.0, 500.0, 750.0, 1.0)

  private def points(spark: SparkSession, dir: String): DataFrame =
    Points.fromLineitem(spark, dir)

  /** count + bigint checksum of pid — one row, exact in any engine. */
  private def summarize(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("cnt"), coalesce(sum(col("pid")), lit(0L)).as("pid_sum"))

  private def summarizeSql(where: String): String =
    s"SELECT count(*) AS cnt, CAST(coalesce(sum(pid), 0) AS BIGINT) AS pid_sum FROM ($pointsSql) WHERE $where"

  // ---- count / bounds (reference: pc-cli/src/benchmark.rs:99-112) ----

  def pcCount(spark: SparkSession, dir: String): DataFrame =
    points(spark, dir).agg(count(lit(1)).as("cnt"))

  val pcCountSql = s"SELECT count(*) AS cnt FROM ($pointsSql)"

  def pcBounds(spark: SparkSession, dir: String): DataFrame =
    Points.bounds(points(spark, dir), Seq("x", "y", "z", "i"))

  val pcBoundsSql =
    s"""SELECT min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max,
       | min(z) AS z_min, max(z) AS z_max, min(i) AS i_min, max(i) AS i_max
       | FROM ($pointsSql)""".stripMargin.replace("\n", " ")

  // ---- range queries (reference: pc-cli/src/benchmark.rs:123-144) ----

  def rect(box: Aabb)(spark: SparkSession, dir: String): DataFrame =
    summarize(points(spark, dir).filter(boxPredicate(box)))

  def rectSql(box: Aabb): String = summarizeSql(boxPredicateSql(box))

  // ---- circle: bbox prefilter -> cache -> exact r^2
  // (reference: pc-cli/src/benchmark.rs:183-220) ----

  def circle(cx: Double, cy: Double, r: Double)(
      spark: SparkSession, dir: String): DataFrame = {
    val bbox = Aabb.xy(cx - r, cy - r, cx + r, cy + r)
    val pre = points(spark, dir).filter(boxPredicate(bbox))
    val d2 = (col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy)
    summarize(pre.filter(d2 < r * r))
  }

  def circleSql(cx: Double, cy: Double, r: Double): String = {
    val bbox = Aabb.xy(cx - r, cy - r, cx + r, cy + r)
    summarizeSql(
      s"${boxPredicateSql(bbox)} AND (x - $cx) * (x - $cx) + (y - $cy) * (y - $cy) < ${r * r}")
  }

  // ---- importance sampling: i < p selects ~p*N uniform points
  // (reference: pc-cli/src/benchmark.rs:147-180) ----

  def sample(p: Double)(spark: SparkSession, dir: String): DataFrame =
    summarize(points(spark, dir).filter(col("i") < p))

  def sampleSql(p: Double): String = summarizeSql(s"i < $p")

  // ---- k-NN: bbox prefilter + distance sort + limit (Top-K)
  // (reference: pc-cli/src/benchmark.rs:223-264). The bbox radius is part
  // of the query definition (the reference derives it from an assumed
  // density; we pin it so the oracle is static). ----

  /** The shared k-NN plan: bbox prefilter (pushes to the scan) + top-k
    * on exact squared distance (TakeOrderedAndProject — per-partition
    * heaps, no global sort) with a deterministic pid tiebreak. */
  private[graft] def knnOn(pts: DataFrame, k: Int, r: Double,
      at: (Double, Double)): DataFrame = {
    val (cx, cy) = at
    val bbox = Aabb.xy(cx - r, cy - r, cx + r, cy + r)
    pts
      .filter(boxPredicate(bbox))
      .withColumn("d2",
        (col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy))
      .select("pid", "d2")
      .orderBy(col("d2").asc, col("pid").asc)
      .limit(k)
  }

  def knn(k: Int, r: Double)(spark: SparkSession, dir: String): DataFrame =
    knnOn(points(spark, dir), k, r, knnAt)

  /** Density-derived k-NN search radius — the reference's heuristic
    * (pc-cli/src/benchmark.rs:223-264) with the density MEASURED from
    * the cloud instead of assumed: the pinned radii above bake in the
    * testdata's density, and on a fixture 100× sparser the same box
    * would silently return fewer than k rows. A circle of radius r in a
    * cloud of uniform density ρ = n/area holds ~ρ·π·r² points; solving
    * for `safety`·k expected points gives r = √(safety·k / (π·ρ)). The
    * bounds+count aggregate is ONE 1-row collect (metadata-sized, the
    * codebook-seed class — never row data). */
  def knnRadius(pts: DataFrame, k: Int, safety: Double = 4.0): Double = {
    val row = pts.agg(min(col("x")), max(col("x")), min(col("y")),
      max(col("y")), count(lit(1))).head()
    require(row.getLong(4) > 0, "knnRadius: empty cloud")
    val area = (row.getDouble(1) - row.getDouble(0)) *
      (row.getDouble(3) - row.getDouble(2))
    require(area > 0, "knnRadius: degenerate (zero-area) cloud bounds")
    math.sqrt(safety * k / (math.Pi * (row.getLong(4) / area)))
  }

  /** k-NN with the search radius derived from the cloud's own density —
    * correct on fixtures of any density, unlike the pinned-radius
    * variants. Same plan as [[knn]] once r is resolved. */
  def knnAuto(k: Int, safety: Double = 4.0)(
      spark: SparkSession, dir: String): DataFrame = {
    val pts = points(spark, dir)
    knnOn(pts, k, knnRadius(pts, k, safety), knnAt)
  }

  def knnSql(k: Int, r: Double): String = {
    val (cx, cy) = knnAt
    val bbox = Aabb.xy(cx - r, cy - r, cx + r, cy + r)
    s"""SELECT pid, (x - $cx) * (x - $cx) + (y - $cy) * (y - $cy) AS d2
       | FROM ($pointsSql) WHERE ${boxPredicateSql(bbox)}
       | ORDER BY d2 ASC, pid ASC LIMIT $k""".stripMargin.replace("\n", " ")
  }

  /** Oracle for [[knnAuto]]: the radius formula evaluated in SQL over
    * the SAME bounds/count aggregate, operation-for-operation (IEEE
    * doubles make the identical expression tree bit-identical in both
    * engines; safety·k is pre-folded in Scala so neither engine
    * reassociates it). */
  def knnAutoSql(k: Int, safety: Double = 4.0): String = {
    val (cx, cy) = knnAt
    s"""WITH s AS (SELECT count(*) AS n,
       |  (max(x) - min(x)) * (max(y) - min(y)) AS area FROM ($pointsSql)),
       | rr AS (SELECT sqrt(${safety * k} / (pi() * (n / area))) AS r FROM s)
       | SELECT pid, (x - $cx) * (x - $cx) + (y - $cy) * (y - $cy) AS d2
       | FROM ($pointsSql), rr
       | WHERE x >= $cx - r AND x < $cx + r AND y >= $cy - r AND y < $cy + r
       | ORDER BY d2 ASC, pid ASC LIMIT $k""".stripMargin.replace("\n", " ")
  }

  // ---- viz cell: an (x, y, i) quadtree-cell box query
  // (reference: pc-cli/examples/viz.rs:158-271) ----

  def viz(spark: SparkSession, dir: String): DataFrame =
    rect(vizCell)(spark, dir)

  val vizSql: String = rectSql(vizCell)

  // ---- color rescale + recenter: the reference's viz-export projection
  // (pc-io/src/ply.rs:480-499: recenter xyz on the cloud center as f32,
  // rescale u16 colors to u8 via double arithmetic, keep rgb > 0) ----

  /** Deterministic u16 color channels synthesized from pid (the testdata
    * has no real colors; the LAS RGB read path has its own spec). */
  private val CR = 7919L
  private val CG = 104729L
  private val CB = 15485863L

  /** Center-shift to f32 + u16→u8 color rescale. The center is the full
    * cloud's bounds midpoint — a 1-row aggregate broadcast into the
    * projection (no driver collect); output keeps a pid % 97 slice so the
    * result stays small at any SF while exercising every row's math.
    * floor() before the integral cast keeps both engines exact (DuckDB
    * rounds float→int casts; Spark truncates — floor makes it moot).
    * u8 widens to Short per the unsigned-widening convention. */
  def colorRescale(spark: SparkSession, dir: String): DataFrame = {
    val pts = points(spark, dir).select(col("pid"), col("x"), col("y"), col("z"),
      (col("pid") * CR % 65536L).as("red"),
      (col("pid") * CG % 65536L).as("green"),
      (col("pid") * CB % 65536L).as("blue"))
    val center = pts.agg(
      ((min(col("x")) + max(col("x"))) / 2.0).as("cx"),
      ((min(col("y")) + max(col("y"))) / 2.0).as("cy"),
      ((min(col("z")) + max(col("z"))) / 2.0).as("cz"))
    def u8(c: Column) = floor(c.cast(DoubleType) / 65535.0 * 255.0).cast(ShortType)
    pts.crossJoin(broadcast(center))
      .filter(col("red") > 0 && col("green") > 0 && col("blue") > 0 &&
        col("pid") % 97 === 0)
      .select(col("pid"),
        (col("x") - col("cx")).cast(FloatType).as("xc"),
        (col("y") - col("cy")).cast(FloatType).as("yc"),
        (col("z") - col("cz")).cast(FloatType).as("zc"),
        u8(col("red")).as("r8"), u8(col("green")).as("g8"), u8(col("blue")).as("b8"))
      .orderBy("pid")
  }

  val colorRescaleSql: String =
    s"""WITH pts AS (SELECT pid, x, y, z, pid * $CR % 65536 AS red,
       |  pid * $CG % 65536 AS green, pid * $CB % 65536 AS blue FROM ($pointsSql)),
       | c AS (SELECT (min(x)+max(x))/2.0 AS cx, (min(y)+max(y))/2.0 AS cy,
       |  (min(z)+max(z))/2.0 AS cz FROM pts)
       | SELECT pid, CAST(x - cx AS FLOAT) AS xc, CAST(y - cy AS FLOAT) AS yc,
       |  CAST(z - cz AS FLOAT) AS zc,
       |  CAST(floor(CAST(red AS DOUBLE) / 65535.0 * 255.0) AS SMALLINT) AS r8,
       |  CAST(floor(CAST(green AS DOUBLE) / 65535.0 * 255.0) AS SMALLINT) AS g8,
       |  CAST(floor(CAST(blue AS DOUBLE) / 65535.0 * 255.0) AS SMALLINT) AS b8
       | FROM pts, c WHERE red > 0 AND green > 0 AND blue > 0 AND pid % 97 = 0
       | ORDER BY pid""".stripMargin.replace("\n", " ")

  // ---- layout-backed queries: the lakehouse path end-to-end ----------
  // Write the (x,y,i)-clustered layout once per input snapshot, then query the
  // materialized Parquet — this is the reference's actual architecture
  // (partition → row-group stats → pruned scan), and unlike the
  // synthesized-column path the box predicate pushes down to the scan.
  // The oracle is the SAME SQL as the unpartitioned query: layouts must
  // be result-invariant (the reference's core implicit invariant).

  private def layoutPath(spark: SparkSession, dir: String, kind: String): String =
    graft.DatasetCache.materialize(spark, dir, s"${kind}_layout", "lineitem.parquet") { path =>
      val pts = points(spark, dir)
      // size files to the corpus (Layout.AdaptiveBatch → the writers
      // derive adaptiveBatchSize from their own bounds pass): a fixed
      // 8192-row file made file count grow linearly with SF, and at 100x
      // per-file open/footer/scheduling costs dwarfed the pruned reads —
      // the layout lost to the plain scan it exists to beat. Results are
      // layout-invariant (same-SQL oracle), only pruning granularity and
      // scan overhead move.
      val batch = Layout.AdaptiveBatch
      kind match {
        case "grid" => Layout.writeGrid(pts, path, sigma = 8, batchSize = batch)
        case "quad" => Layout.writeQuadtree(pts, path, batchSize = batch)
        case "zorder" => Layout.writeZorder(pts, path, batchSize = batch)
      }
    }

  /** Force the one-time layout builds (bench isolates them as
    * `index_build` instead of charging whichever query runs first).
    *
    * Measured NON-change (r12 optimization round, guide §1/§5): each
    * layout writer runs a bounds pass, a range-sampling pass and the
    * shuffle map side over the synthesized point set — 9 scan+synthesis
    * passes for 3 layouts — which looks like the classic
    * materialize-a-reused-subtree case. Tried: persist the points once
    * (MEMORY_AND_DISK) and share across the writers. Result: build wall
    * 5.5 → 9.0 s — the synthesis is cheap vectorized arithmetic over a
    * columnar scan, while the cache stores deserialized rows whose
    * re-reads + GC pressure cost more than recomputing (guide §5:
    * cache only when recompute beats the memory pressure it creates).
    * Kept the recompute spelling deliberately. */
  def prebuildLayouts(spark: SparkSession, dir: String): Unit = {
    layoutPath(spark, dir, "grid")
    layoutPath(spark, dir, "quad")
    layoutPath(spark, dir, "zorder")
    ()
  }

  /** S_RECT on the grid(8) layout: same oracle as pc_srect. */
  def rectOnGrid(box: Aabb)(spark: SparkSession, dir: String): DataFrame =
    summarize(graft.DatasetCache.readArtifact(spark, layoutPath(spark, dir, "grid"))
      .filter(boxPredicate(box)))

  /** S_RECT on the Z-order layout: layouts are result-invariant, so the
    * oracle is again the flat pc_srect SQL — the layout only changes
    * which row groups the scan can skip. */
  def rectOnZorder(box: Aabb)(spark: SparkSession, dir: String): DataFrame =
    summarize(graft.DatasetCache.readArtifact(spark, layoutPath(spark, dir, "zorder"))
      .filter(boxPredicate(box)))

  /** k-NN on the grid layout: the bbox prefilter prunes row groups via
    * the clustered (x,y) stats before the top-k heap. Same oracle as the
    * flat-path k-NN. */
  def knnOnGrid(k: Int, r: Double)(spark: SparkSession, dir: String): DataFrame = {
    val (cx, cy) = knnAt
    val bbox = Aabb.xy(cx - r, cy - r, cx + r, cy + r)
    graft.DatasetCache.readArtifact(spark, layoutPath(spark, dir, "grid"))
      .filter(boxPredicate(bbox))
      .withColumn("d2",
        (col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy))
      .select("pid", "d2")
      .orderBy(col("d2").asc, col("pid").asc)
      .limit(k)
  }

  /** S_CRC on the grid layout via the NAIVE predicate — no hand-written
    * bbox: [[graft.plans.CirclePrefilterRule]] derives the pushable
    * ranges in the optimizer, giving the reference's two-phase plan for
    * free. Same oracle as the explicit two-phase circle. */
  def circleOnGridNaive(cx: Double, cy: Double, r: Double)(
      spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.install(spark)
    val d2 = (col("x") - cx) * (col("x") - cx) + (col("y") - cy) * (col("y") - cy)
    summarize(graft.DatasetCache.readArtifact(spark, layoutPath(spark, dir, "grid"))
      .filter(d2 < r * r))
  }

  /** Importance sampling on the quadtree LoD layout: same oracle as the
    * flat sample — the LoD pyramid only helps pruning, never results. */
  def sampleOnQuadtree(p: Double)(spark: SparkSession, dir: String): DataFrame =
    summarize(graft.DatasetCache.readArtifact(spark, layoutPath(spark, dir, "quad"))
      .filter(col("i") < p))

  // ---- D2/D5 as a relational query: assign every point to its grid cell
  // (delta=125 => 8x8 xy grid, 8 importance slices) and count per cell —
  // exercises the cell-id expression the partitioner uses. ----

  def gridCells(spark: SparkSession, dir: String): DataFrame =
    points(spark, dir)
      .groupBy(
        floor(col("x") / 125.0).cast(LongType).as("cx"),
        floor(col("y") / 125.0).cast(LongType).as("cy"),
        floor(col("i") * 8.0).cast(LongType).as("ci"))
      .agg(count(lit(1)).as("cnt"), sum(col("pid")).as("pid_sum"))
      .orderBy("cx", "cy", "ci")

  val gridCellsSql: String =
    s"""SELECT CAST(floor(x / 125.0) AS BIGINT) AS cx,
       | CAST(floor(y / 125.0) AS BIGINT) AS cy,
       | CAST(floor(i * 8.0) AS BIGINT) AS ci,
       | count(*) AS cnt, CAST(sum(pid) AS BIGINT) AS pid_sum
       | FROM ($pointsSql) GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace("\n", " ")

  /** Per-cell EXACT second-moment sufficient statistics (counts, sums,
    * sums of squares and cross-products over milli-unit integers) — the
    * order-independent inputs to per-cell covariance / PCA normal
    * estimation, the spatial analog of the events moments table: ship
    * these, and any consumer derives mean/covariance/normals without
    * touching the points again. ONE map-side-combinable aggregation;
    * products in DECIMAL(38,0) so the sums are exact in any engine and
    * any order — but EMITTED as canonical decimal STRINGs, because a
    * DECIMAL(38,0) output column round-trips as typed Decimal through
    * Spark parquet and as float64 through DuckDB's client, hashing
    * differently even when every integer matches. Coordinates are
    * exact milli-units (the synthesis is k/1000.0), so round(x·1000)
    * reproduces k identically everywhere. */
  def cellCov(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    def m(c: String) = round(col(c) * 1000).cast(LongType)
    // Exact int64-split second moments (r12): summing the products as
    // decimal(38,0) ran every row through the slow wide-decimal path
    // inside the aggregate. Each product of milli-unit coords is
    // NON-NEGATIVE and < 10^12 (m ∈ [0, 10^6)), so splitting it at 2^20
    // into (hi = prod >> 20 < 9.6e5, lo = prod & (2^20-1) < 2^20) keeps
    // both per-cell LONG sums exact up to ~8.8e12 rows per cell — orders
    // of magnitude above a 100 TB corpus spread over the fixed 40×40
    // cell domain (and the 2×-margin guard below fails loudly first).
    // The wide-decimal recombine hi·2^20 + lo runs once per GROUP, not
    // per row, and emits the identical canonical integer string.
    val mask = (1L << 20) - 1
    def hiS(a: Column, b: Column) = sum(shiftright(a * b, 20))
    def loS(a: Column, b: Column) = sum((a * b).bitwiseAND(lit(mask)))
    def rec(hi: String, lo: String) =
      (col(hi).cast(d38) * lit(1L << 20) + col(lo).cast(d38))
        .cast(d38).cast("string")
    points(spark, dir)
      .select(floor(col("x") / 125.0).cast(LongType).as("cx"),
        floor(col("y") / 125.0).cast(LongType).as("cy"),
        m("x").as("mx"), m("y").as("my"), m("z").as("mz"))
      .groupBy("cx", "cy")
      .agg(count(lit(1)).as("n"),
        sum("mx").as("sx"), sum("my").as("sy"), sum("mz").as("sz"),
        hiS(col("mx"), col("mx")).as("hxx"), loS(col("mx"), col("mx")).as("lxx"),
        hiS(col("my"), col("my")).as("hyy"), loS(col("my"), col("my")).as("lyy"),
        hiS(col("mz"), col("mz")).as("hzz"), loS(col("mz"), col("mz")).as("lzz"),
        hiS(col("mx"), col("my")).as("hxy"), loS(col("mx"), col("my")).as("lxy"),
        hiS(col("mx"), col("mz")).as("hxz"), loS(col("mx"), col("mz")).as("lxz"),
        hiS(col("my"), col("mz")).as("hyz"), loS(col("my"), col("mz")).as("lyz"))
      // per-cell row-count guard: the hi/lo long sums are exact while
      // n < 2^63 / max(per-row term) ≈ 8.8e12; assert at half that so an
      // overflow can never silently truncate (assert_true is NULL on
      // pass, so the coalesce keeps it inside a kept column)
      .select(col("cx"), col("cy"),
        (col("n") + coalesce(assert_true(col("n") < (1L << 42),
          lit("cellCov: per-cell row count would overflow the int64 " +
            "split-sum accumulators")).cast(LongType), lit(0L))).as("n"),
        col("sx"), col("sy"), col("sz"),
        rec("hxx", "lxx").as("sxx"), rec("hyy", "lyy").as("syy"),
        rec("hzz", "lzz").as("szz"), rec("hxy", "lxy").as("sxy"),
        rec("hxz", "lxz").as("sxz"), rec("hyz", "lyz").as("syz"))
      .orderBy("cx", "cy")
  }

  val cellCovSql: String =
    s"""SELECT CAST(floor(x / 125.0) AS BIGINT) AS cx,
       | CAST(floor(y / 125.0) AS BIGINT) AS cy,
       | count(*) AS n,
       | CAST(sum(mx) AS BIGINT) AS sx, CAST(sum(my) AS BIGINT) AS sy,
       | CAST(sum(mz) AS BIGINT) AS sz,
       | CAST(sum(CAST(mx AS HUGEINT) * mx) AS VARCHAR) AS sxx,
       | CAST(sum(CAST(my AS HUGEINT) * my) AS VARCHAR) AS syy,
       | CAST(sum(CAST(mz AS HUGEINT) * mz) AS VARCHAR) AS szz,
       | CAST(sum(CAST(mx AS HUGEINT) * my) AS VARCHAR) AS sxy,
       | CAST(sum(CAST(mx AS HUGEINT) * mz) AS VARCHAR) AS sxz,
       | CAST(sum(CAST(my AS HUGEINT) * mz) AS VARCHAR) AS syz
       | FROM (SELECT x, y,
       |   CAST(round(x * 1000) AS BIGINT) AS mx,
       |   CAST(round(y * 1000) AS BIGINT) AS my,
       |   CAST(round(z * 1000) AS BIGINT) AS mz FROM ($pointsSql))
       | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")

  /** Density-based spatial region labeling — grid DBSCAN: bucket points
    * into a fixed 2-D grid, keep the CORE cells (count ≥ 1.1× the mean
    * occupied-cell count — an SF-adaptive density gate, exact integer
    * comparison `10·c·occ ≥ 11·total`), and label 4-adjacent core cells
    * with their connected component (region = smallest cell id in the
    * component, the same order-free fixpoint as the dedup clusters).
    * The spatial clustering step of footprint extraction / object
    * segmentation over a point cloud.
    *
    * Scale shape: everything after the ONE point-bucketing aggregation
    * runs on the BOUNDED cell relation (≤ 40×40 here): the density gate
    * is a scalar broadcast condition; adjacency is two equi-joins on
    * shifted (cx, cy) keys (never a distance join); the component pass
    * is [[graft.text.TextOps.connectedComponents]]'s O(log diameter)
    * min-propagation on cell-sized data. Isolated core cells keep their
    * own id via the final coalesce. */
  def cellRegions(spark: SparkSession, dir: String): DataFrame = {
    val g = points(spark, dir)
      .groupBy(floor(col("x") / 25.0).cast(LongType).as("cx"),
        floor(col("y") / 25.0).cast(LongType).as("cy"))
      .agg(count(lit(1)).as("c"))
    // Bounded-metadata collect (the events_pagerank precedent): the
    // occupied-cell relation of the FIXED [0,1000)² domain / 25.0 grid
    // is ≤ 40×40 rows at ANY corpus size — a plan-time constant, like
    // pagerank's ≤|event_type|² edge matrix. The distributed work is
    // exactly the ONE point-bucketing aggregation above; the density
    // gate, 4-adjacency connected components and region sizing run
    // driver-side on ≤1600 rows with the same exact integer arithmetic
    // the oracle replays. The previous on-cluster spelling paid ~25
    // sequential metadata-sized jobs (CC rounds, localCheckpoints,
    // broadcast builds) — r12 profile: 30 stages but only 0.9 s of
    // stage time inside a 2.5 s wall; every removed second was
    // job-launch latency, at ANY corpus size. Fail loudly if the
    // domain bound ever breaks rather than grow unbounded driver state.
    val cells = g.collect()
    require(cells.length <= 1600,
      s"cellRegions: ${cells.length} occupied cells — the fixed-domain " +
        "(40x40) bound no longer holds; the driver-side CC would be unsound")
    val occ = cells.length.toLong
    val tot = cells.iterator.map(_.getLong(2)).sum
    val core = cells.iterator
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (_, _, c) => c * 10 * occ >= tot * 11 }.toArray
    val idOf = core.iterator
      .map { case (cx, cy, _) => (cx, cy) -> (cx * 1000 + cy) }.toMap
    // min-label union-find: the smaller root always wins, so each final
    // root is the SMALLEST cell id of its component — the identical
    // order-free fixpoint the recursive oracle closure converges to
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    idOf.valuesIterator.foreach(v => parent(v) = v)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    core.foreach { case (cx, cy, _) =>
      val id = idOf((cx, cy))
      idOf.get((cx + 1, cy)).foreach(union(id, _))
      idOf.get((cx, cy + 1)).foreach(union(id, _))
    }
    val regions = core.map { case (cx, cy, _) => find(idOf((cx, cy))) }
    val sizes = regions.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val rows = core.zip(regions)
      .map { case ((cx, cy, c), reg) => (cx, cy, reg, sizes(reg), c) }
      .sortBy { case (cx, cy, _, _, _) => (cx, cy) }
      .toSeq
    import spark.implicits._
    rows.toDF("cx", "cy", "region", "region_size", "n_points")
      .orderBy("cx", "cy")
  }

  val cellRegionsSql: String =
    s"""WITH RECURSIVE
       | g AS (SELECT CAST(floor(x / 25.0) AS BIGINT) AS cx,
       |   CAST(floor(y / 25.0) AS BIGINT) AS cy, count(*) AS c
       |  FROM ($pointsSql) GROUP BY 1, 2),
       | tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS occ FROM g),
       | core AS (SELECT cx, cy, cx * 1000 + cy AS id, c
       |  FROM g, tot WHERE c * 10 * occ >= t * 11),
       | und AS (SELECT a.id AS a, b.id AS b FROM core a JOIN core b
       |  ON abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1),
       | reach(a, b) AS (
       |   SELECT id, id FROM core
       |   UNION
       |   SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
       | lab AS (SELECT a AS id, CAST(min(b) AS BIGINT) AS region FROM reach GROUP BY a)
       | SELECT c.cx, c.cy, l.region,
       |  CAST(count(*) OVER (PARTITION BY l.region) AS BIGINT) AS region_size,
       |  CAST(c.c AS BIGINT) AS n_points
       | FROM core c JOIN lab l ON c.id = l.id
       | ORDER BY c.cx, c.cy""".stripMargin.replace("\n", " ")

  // ---- D4 as a relational query: assign every point to its quadtree LoD
  // cell at depth 2 (21 cells; level l owns importance slice
  // [seen/21, (seen+4^l)/21) and a 2^l x 2^l xy grid) and count. ----

  def quadtreeAssign(spark: SparkSession, dir: String): DataFrame = {
    val level = when(col("i") < 1.0 / 21.0, 0L)
      .when(col("i") < 5.0 / 21.0, 1L)
      .otherwise(2L)
    val scale = when(col("i") < 1.0 / 21.0, 1.0)
      .when(col("i") < 5.0 / 21.0, 2.0)
      .otherwise(4.0)
    points(spark, dir)
      .withColumn("level", level)
      .withColumn("qx", floor(col("x") / 1000.0 * scale).cast(LongType))
      .withColumn("qy", floor(col("y") / 1000.0 * scale).cast(LongType))
      .groupBy("level", "qx", "qy")
      .agg(count(lit(1)).as("cnt"), sum(col("pid")).as("pid_sum"))
      .orderBy("level", "qx", "qy")
  }

  val quadtreeAssignSql: String =
    s"""SELECT CAST(CASE WHEN i < 1.0/21.0 THEN 0 WHEN i < 5.0/21.0 THEN 1 ELSE 2 END AS BIGINT) AS level,
       | CAST(floor(x / 1000.0 * (CASE WHEN i < 1.0/21.0 THEN 1.0 WHEN i < 5.0/21.0 THEN 2.0 ELSE 4.0 END)) AS BIGINT) AS qx,
       | CAST(floor(y / 1000.0 * (CASE WHEN i < 1.0/21.0 THEN 1.0 WHEN i < 5.0/21.0 THEN 2.0 ELSE 4.0 END)) AS BIGINT) AS qy,
       | count(*) AS cnt, CAST(sum(pid) AS BIGINT) AS pid_sum
       | FROM ($pointsSql) GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace("\n", " ")

  // ---- distance self-join (spatial similarity join) -------------------

  /** All point pairs within distance `r` among the points in `box` — the
    * spatial similarity join (cluster detection, double-scan dedup for
    * merged LiDAR tiles). A naive formulation is a cross join; the
    * scalable plan buckets points into r-sized grid cells and EQUI-joins
    * on the cell key: any pair within r shares a cell or touches
    * adjacent cells, so one side replicates to its 3x3 neighborhood and
    * the join explores only local candidates. `pid < pid2` keeps each
    * unordered pair exactly once (every candidate surfaces twice, once
    * per endpoint's home cell). At 100 TB this is one shuffle on the
    * cell key with 9x replication of one side — versus a cross join's
    * n²; skewed dense cells are bounded by AQE skew-join splitting.
    * The distance predicate is written with identical IEEE expression
    * shape in the oracle, so results hash-match bit-for-bit. */
  def distJoin(box: Aabb, r: Double)(spark: SparkSession, dir: String): DataFrame = {
    val pts = points(spark, dir).filter(boxPredicate(box))
      .select(col("pid"), col("x"), col("y"))
    val home = pts
      .withColumn("cx", floor(col("x") / r).cast(LongType))
      .withColumn("cy", floor(col("y") / r).cast(LongType))
    val offsets = for { ox <- -1 to 1; oy <- -1 to 1 } yield (ox, oy)
    val probe = home.select(
      col("pid").as("pid2"), col("x").as("x2"), col("y").as("y2"),
      explode(array(offsets.map { case (ox, oy) =>
        struct((col("cx") + ox).as("cx"), (col("cy") + oy).as("cy"))
      }: _*)).as("c"))
      .select(col("pid2"), col("x2"), col("y2"),
        col("c.cx").as("cx"), col("c.cy").as("cy"))
    val dx = col("x") - col("x2")
    val dy = col("y") - col("y2")
    home.join(probe, Seq("cx", "cy"))
      .filter(col("pid") < col("pid2") && (dx * dx + dy * dy <= lit(r * r)))
      .agg(count(lit(1)).as("cnt"),
        coalesce(sum(col("pid") + col("pid2")), lit(0L)).as("pair_sum"))
  }

  def distJoinSql(box: Aabb, r: Double): String =
    s"""WITH p AS (SELECT pid, x, y FROM ($pointsSql) WHERE ${boxPredicateSql(box)})
       | SELECT count(*) AS cnt,
       |  CAST(coalesce(sum(a.pid + b.pid), 0) AS BIGINT) AS pair_sum
       | FROM p a JOIN p b ON a.pid < b.pid
       |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= ${r * r}""".stripMargin.replace("\n", " ")

  // ---- Hausdorff distance + rotation registration ---------------------
  // Twin of the reference's registration demo
  // (pc-format/examples/registration.rs:50-118): directed Hausdorff
  // distance from the scan cloud to a model, and a 1-D rotation sweep
  // minimizing it. The reference runs it driver-side on 3-point clouds;
  // here the MODEL side is a literal constant (registration targets are
  // small by nature), so min-distance is a `least(...)` of K codegen'd
  // terms evaluated map-side while the 100 TB scan side streams — no
  // join, no shuffle beyond one partial-aggregated max. The oracle SQL
  // is generated from the same literals with the same expression shape,
  // so doubles hash-match bit-for-bit.

  /** 16-point model ring (registration target), a pure constant. */
  val modelCloud: Seq[(Double, Double)] = (0 until 16).map { k =>
    val t = k * (2 * math.Pi / 16)
    (411.0 + 150.0 * math.cos(t), 511.0 + 150.0 * math.sin(t))
  }

  /** Rotation center for the sweep (domain center). */
  val rotCenter: (Double, Double) = (500.0, 500.0)

  /** Candidate rotation angles: every 30 degrees. */
  val registerAngles: Seq[Int] = 0 until 360 by 30

  /** Squared distance from (rx, ry) to the nearest model point. */
  private def minDist2(rx: Column, ry: Column): Column =
    least(modelCloud.map { case (bx, by) =>
      (rx - lit(bx)) * (rx - lit(bx)) + (ry - lit(by)) * (ry - lit(by))
    }: _*)

  private def minDist2Sql(rx: String, ry: String): String =
    modelCloud.map { case (bx, by) =>
      s"($rx - $bx) * ($rx - $bx) + ($ry - $by) * ($ry - $by)"
    }.mkString("least(", ", ", ")")

  /** Directed Hausdorff²: max over scan points of squared distance to
    * the nearest model point. One map-only scan + a 1-row max. */
  def hausdorff(spark: SparkSession, dir: String): DataFrame =
    points(spark, dir).agg(
      count(lit(1)).as("cnt"),
      max(minDist2(col("x"), col("y"))).as("h2"))

  val hausdorffSql: String =
    s"""SELECT count(*) AS cnt, max(${minDist2Sql("x", "y")}) AS h2
       | FROM ($pointsSql)""".stripMargin.replace("\n", " ")

  /** Per-angle model offsets, rotated DRIVER-side: rotating the scan by
    * θ about the center and measuring to the model is — by isometry,
    * exactly, not approximately — the same distance as measuring the
    * UNROTATED scan offset (dx, dy) to the model offsets rotated by −θ.
    * So the whole trig sweep collapses to |angles|×|model| literal
    * (u, v) pairs computed once on the driver, and the per-row work is
    * `least((dx−u)²+(dy−v)², …)` — small, flat expression trees. */
  private def rotatedModelOffsets(deg: Int): Seq[(Double, Double)] = {
    val (cx, cy) = rotCenter
    val c = math.cos(math.toRadians(deg.toDouble))
    val s = math.sin(math.toRadians(deg.toDouble))
    modelCloud.map { case (bx, by) =>
      ((bx - cx) * c + (by - cy) * s, -(bx - cx) * s + (by - cy) * c)
    }
  }

  /** Rotation registration sweep: for each candidate angle, the directed
    * Hausdorff² from the rotated scan to the model. Three plan choices
    * matter at scale (each measured on the 600k-point sf0.1 cloud with
    * full output evaluation — `collect()` on a reused Dataset silently
    * reuses the first run's shuffle files and times ~nothing, which is
    * how the slow shapes hid):
    *  - the per-angle maxima are |angles| MAX AGGREGATES in ONE pass —
    *    the original shape exploded every scan row into |angles| struct
    *    rows before aggregating (246 s);
    *  - rotations live in the LITERALS (model rotated by −θ driver-side,
    *    see [[rotatedModelOffsets]]), by isometry exactly — per-row trig
    *    re-derivation bloats the expression tree for nothing;
    *  - the per-angle min-distance is the NATIVE loop expression
    *    [[MinSqDist2D]], not `least(...)` over 16 unrolled terms: 12
    *    unrolled columns put ~2300 straight-line ops in one codegen
    *    method, past HotSpot's JIT limit, and the stage ran as
    *    interpreted bytecode (23 s); the loop form runs 0.9 s.
    * The aggregate's exchange carries one 12-column row per task
    * regardless of scan size; the 1×12 result stacks to (angle, h2)
    * rows at the end. The best angle is the h2-argmin row. The oracle
    * SQL embeds the SAME driver-computed (u, v) literals with the
    * identical per-term IEEE tree (min is order-free without NaN), so
    * the doubles hash-match bit-for-bit. */
  def register(spark: SparkSession, dir: String): DataFrame =
    registerSweep(points(spark, dir))

  /** The sweep itself, over any (x, y) relation — spec entry point. */
  def registerSweep(pts: DataFrame): DataFrame = {
    MinSqDist2D.register(pts.sparkSession)
    val (cx, cy) = rotCenter
    val dx = col("x") - lit(cx)
    val dy = col("y") - lit(cy)
    val d2Cols = registerAngles.map { deg =>
      val (us, vs) = rotatedModelOffsets(deg).unzip
      call_function("pc_min_sqdist2", dx, dy,
        typedLit(us), typedLit(vs)).as(s"d2_$deg")
    }
    val maxAggs = registerAngles.map(deg => max(col(s"d2_$deg")).as(s"h2_$deg"))
    pts.select(d2Cols: _*)
      .agg(maxAggs.head, maxAggs.tail: _*)
      .select(explode(array(registerAngles.map(deg =>
        struct(lit(deg.toLong).as("angle"), col(s"h2_$deg").as("h2"))): _*)).as("a"))
      .select(col("a.angle").as("angle"), col("a.h2").as("h2"))
      .orderBy("angle")
  }

  val registerSql: String = {
    val (cx, cy) = rotCenter
    registerAngles.map { deg =>
      val terms = rotatedModelOffsets(deg).map { case (u, v) =>
        s"((x - $cx) - $u) * ((x - $cx) - $u) + ((y - $cy) - $v) * ((y - $cy) - $v)"
      }.mkString("least(", ", ", ")")
      s"""SELECT CAST($deg AS BIGINT) AS angle, max($terms) AS h2
         | FROM ($pointsSql)""".stripMargin.replace("\n", " ")
    }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY angle")
  }
}
