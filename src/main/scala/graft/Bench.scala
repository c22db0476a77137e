package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...},"index_build":...}.
  *
  * A warm-up pass (untimed) absorbs JVM/codegen/FileSystem-init cost so
  * the numbers measure the queries, not session startup. The one-time
  * shared-artifact builds (shingle index, ANN/IVF/grid/quadtree layouts,
  * IVF codebook) run BEFORE the timed loop and report under
  * `index_build` — they are index-build costs a production deployment
  * amortizes across all queries, and charging them to whichever query
  * happens to run first made per-query numbers order-dependent.
  *
  * SPARK_GRAFT_BENCH_FILTER (comma-separated name prefixes) restricts
  * the run for isolated experiments; unset = everything.
  */
object Bench {

  /** 1-minute load average: external load is THE recurring cause of
    * cross-run variance on a shared machine (r5 verdict item 2, r6
    * driver-vs-committed deltas), so the artifact carries the context
    * needed to judge its own numbers. -1 when the platform has no
    * /proc/loadavg. */
  private def loadavg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Drift-calibration canary (r11 verdict item 2): the loadavg gate
    * catches a BUSY machine but not slow uniform VM drift — same-code
    * canonical runs spanned 104–134 s in r11, all "clean" by load. A
    * fixed single-threaded CPU workload timed inside the artifact makes
    * that drift QUANTIFIABLE: `drift` = canary_sec / [[CanaryRefSec]],
    * so a cross-round comparison can normalize by it instead of
    * re-litigating the noise in prose. xorshift64* over a fixed
    * iteration count — pure register arithmetic, no allocation, no I/O,
    * so it tracks effective CPU speed (clock/steal/contention), which is
    * exactly what uniform drift changes. Min of 3 after 2 untimed JIT
    * warm-ups; the accumulator feeds a side effect so the loop cannot be
    * dead-code-eliminated. */
  private[graft] def canarySec(): Double = {
    def once(): Double = {
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      val t0 = System.nanoTime()
      var i = 0
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x
        i += 1
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (acc == 42L) System.err.println("canary sink") // defeat DCE
      sec
    }
    once(); once() // JIT warm-up, untimed
    Seq(once(), once(), once()).min
  }

  /** The committed reference for [[canarySec]] on this machine, measured
    * at round-12 head across two fresh JVMs (0.413–0.418 s, min-of-3
    * each). A healthy run's `drift` is ~1.0; r11's +45% driver-vs-builder
    * gap would have shown as ~1.4. */
  val CanaryRefSec: Double = 0.413

  /** I/O half of the calibration (r12): the first canonical r12 bench
    * recorded builds 2.5× and queries 1.5× over r11 while the CPU
    * canary read only 1.06 — and an immediate post-run probe showed
    * single- AND 16-wide CPU at full speed. The episodic degradation on
    * this VM is therefore not (only) core speed; the write-heavy index
    * builds implicate the I/O path. This canary times writing a fixed
    * 64 MiB file to the same tmp filesystem the derived layouts use
    * (force(false) so the bytes actually leave the page cache), reading
    * it back, then deleting it — min of 3. */
  private[graft] def canaryIoSec(): Double = {
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 0x5a.toByte)
    def once(): Double = {
      val p = java.nio.file.Files.createTempFile("graft_canary", ".bin")
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.WRITE)
      var i = 0
      while (i < 64) { ch.write(java.nio.ByteBuffer.wrap(buf)); i += 1 }
      ch.force(false)
      ch.close()
      val in = java.nio.channels.FileChannel.open(p,
        java.nio.file.StandardOpenOption.READ)
      val rb = java.nio.ByteBuffer.allocate(1 << 20)
      var n = 0L
      var r = in.read(rb)
      while (r >= 0) { n += r; rb.clear(); r = in.read(rb) }
      in.close()
      val sec = (System.nanoTime() - t0) / 1e9
      java.nio.file.Files.deleteIfExists(p)
      if (n != (64L << 20)) System.err.println(s"canary io short read: $n")
      sec
    }
    once() // warm-up (allocator, dentry cache), untimed
    Seq(once(), once(), once()).min
  }

  /** Committed reference for [[canaryIoSec]], measured at round-12 head
    * immediately after the full-speed CPU probe (0.140–0.149 s across
    * two calls in a fresh JVM). */
  val CanaryIoRefSec: Double = 0.14

  /** Core count of a canonical run: `SPARK_GRAFT_CPUS` unset or equal
    * to it writes `bench_last.json`; any other count writes
    * `bench_last_c<N>.json`. */
  val DefaultCpus = "32"

  /** One-time index/layout builds, isolated and individually timed by
    * [[main]] — but only those some selected query actually consumes (a
    * filtered experiment must not pay for unrelated builds). Exposed so
    * the Profile diagnostic can drive a single build under a listener. */
  def indexDefs(spark: SparkSession, sfDir: String)
      : Seq[(String, String => Boolean, () => Unit)] = Seq(
      ("shingle_index", n => n.startsWith("doc_") || n.startsWith("dedup_"),
        () => graft.text.TextOps.prebuildShingleIndex(spark, sfDir)),
      ("winnow_index", _.startsWith("doc_winnow"),
        () => graft.text.TextOps.prebuildWinnowIndex(spark, sfDir)),
      ("pair_index", n => n.startsWith("doc_dup_clusters") ||
        n.startsWith("doc_dedup_keep") || n.startsWith("doc_ngram_pairs") ||
        n.startsWith("doc_split_safe") || n.startsWith("doc_neardup_lookup"),
        () => graft.text.TextOps.prebuildPairIndex(graft.text.TextOps.DupClusterTau)(spark, sfDir)),
      ("label_index", n => n.startsWith("doc_dedup_keep") ||
        n.startsWith("doc_split_safe"),
        () => graft.text.TextOps.prebuildLabelIndex(graft.text.TextOps.DupClusterTau)(spark, sfDir)),
      ("posting_index", _.startsWith("doc_bm25_indexed"),
        () => graft.text.TextOps.prebuildPostingIndex(spark, sfDir)),
      ("span_index", n => n.startsWith("doc_dup_spans") ||
        n.startsWith("doc_pipeline_keep"),
        () => graft.text.TextOps.prebuildSpanIndex(spark, sfDir)),
      ("ivf_codebook", n => n.startsWith("emb_ivf") && !n.startsWith("emb_ivf2"),
        () => { graft.sim.Ivf.trainCached(spark, sfDir); () }),
      ("pq_codebooks", n => n.startsWith("emb_pq") || n.startsWith("emb_ivfpq"),
        () => graft.sim.Pq.prebuildCodebooks(spark, sfDir)),
      ("lm_index", n => n.startsWith("doc_lm_score") || n.startsWith("doc_ccnet"),
        () => graft.text.TextOps.prebuildLmIndex(spark, sfDir)),
      ("dsir_model", n => n.startsWith("doc_dsir") || n.startsWith("doc_select_budget"),
        () => graft.text.SelectionOps.prebuildDsirModel(spark, sfDir)),
      ("mm_pair_index", _.startsWith("mm_dup_clusters"),
        () => graft.mm.MultimodalOps.prebuildMmPairIndex(500000L)(spark, sfDir)),
      ("bpe_merges", _.startsWith("doc_bpe"),
        () => graft.text.TextOps.prebuildBpeMerges(6)(spark, sfDir)),
      ("sq8_ranges", n => n.startsWith("emb_sq8") || n.startsWith("emb_ivfsq8"),
        () => graft.sim.Sq8.prebuildRanges(spark, sfDir)),
      ("sq8_codes_layout", _.startsWith("emb_ivfsq8"),
        () => graft.sim.Sq8.prebuildCodesLayout(spark, sfDir)),
      ("pq_codes_layout", n => n.startsWith("emb_pq_topk") ||
        n.startsWith("emb_pq_rerank") || n.startsWith("emb_ivfpq"),
        () => graft.sim.Pq.prebuildCodesLayout(spark, sfDir)),
      // the partitioned-layout build feeds only the `_part` probe arm
      ("ivf_layout", n => n.startsWith("emb_ivf") && !n.startsWith("emb_ivfpq") &&
          !n.startsWith("emb_ivfsq8") && !n.startsWith("emb_ivf2"),
        () => { graft.sim.Ivf.layoutPath(spark, sfDir); () }),
      // every consumer of the materialized two-level index pays the
      // same one-time trained2/layout2 parquet builds if benched alone
      // (the *_flat arms deliberately do NOT: they are the
      // train-inline oracle baselines)
      ("ivf2_layout", n => n.startsWith("emb_ivf2_topk") ||
          n.startsWith("emb_ivf2_recall") || n.startsWith("emb_ivf2_delete") ||
          Set("emb_semdedup", "emb_knn_graph", "emb_cluster_sample",
            "emb_cell_drift").contains(n),
        () => graft.sim.Ivf2.prebuildLayout2(spark, sfDir)),
      // the kill-list derivation (one semdedup pass) is a one-time
      // artifact; the delete ops themselves measure pure DV application
      ("ivf2_delete_dv", _.startsWith("emb_ivf2_delete"),
        () => graft.sim.Ivf2.prebuildDeletionVectors(spark, sfDir)),
      // the append op's FROZEN old-half codebooks are a one-time
      // training artifact, like every other index here
      ("ivf2_append_index", n => n.startsWith("emb_ivf2_append") ||
          n.startsWith("emb_ivf2_lifecycle"),
        () => graft.sim.Ivf2.prebuildAppendIndex(spark, sfDir)),
      // the composed-lifecycle artifacts (frozen base layout + delta
      // segment + union-derived DV) are one-time builds; the query
      // itself measures the pure composed read
      ("ivf2_lifecycle", _.startsWith("emb_ivf2_lifecycle"),
        () => graft.sim.Ivf2.prebuildLifecycle(spark, sfDir)),
      ("ann_layout", _.startsWith("emb_lsh"),
        () => graft.sim.SimOps.prebuildAnnLayout(spark, sfDir)),
      ("pc_layouts", _.startsWith("pc_"),
        () => graft.pc.PcQueries.prebuildLayouts(spark, sfDir)),
      ("bucket_layout", _.startsWith("rel_order_rev_bucket"),
        () => graft.rel.RelQueries.prebuildBucketedTables(spark, sfDir)),
      ("lake_ingest", _.startsWith("rel_pricing_lake"),
        () => graft.rel.RelQueries.prebuildLakeTable(spark, sfDir)),
      ("bloom_point_lake", _.startsWith("rel_point_lookup"),
        () => graft.rel.RelQueries.prebuildPointLake(spark, sfDir)),
      ("mv_build", _.startsWith("rel_pricing_mv"),
        () => graft.rel.RelQueries.prebuildMv(spark, sfDir)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    // sample EXTERNAL load at process entry, BEFORE the session warmup
    // and index builds: the 1-min loadavg has ~no memory of this JVM
    // yet, so this is the machine's load, not the bench's own (sampling
    // after warmup self-inflated past nCPU/8 on every healthy full run
    // and made load_warning fire vacuously).
    //
    // Load-aware START (r10 verdict item 1 — BENCH_r10 was recorded on
    // a load-5.76 machine and its index-build numbers were 35-87×
    // environmental noise): when entry load exceeds the warning
    // threshold, WAIT for the machine to quiet down — up to
    // SPARK_GRAFT_BENCH_LOAD_WAIT seconds (default 900; 0 disables) —
    // polling every 30 s, rather than knowingly record a contaminated
    // artifact. If the deadline passes still-loaded, proceed and let
    // load_warning flag the run as before (refusing forever would
    // deadlock a driver on a chronically busy box); load_waited_sec in
    // the artifact records how long the gate held.
    val nCpu = Runtime.getRuntime.availableProcessors()
    val loadThreshold = nCpu / 8.0
    val maxWaitSec = sys.env.get("SPARK_GRAFT_BENCH_LOAD_WAIT") match {
      case None => 900
      case Some(s) =>
        // fail fast and loudly, like SPARK_GRAFT_BENCH_RUNS below: a
        // typo'd value must name its variable, and a negative must not
        // silently disable the gate (0 disables it, explicitly)
        val n = try s.trim.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_BENCH_LOAD_WAIT must be a non-negative int of seconds, got `$s`")
        }
        require(n >= 0,
          s"SPARK_GRAFT_BENCH_LOAD_WAIT must be >= 0, got $n")
        n
    }
    val waitT0 = System.nanoTime()
    var loadStart = loadavg()
    while (loadStart > loadThreshold && loadStart >= 0 &&
        (System.nanoTime() - waitT0) / 1e9 < maxWaitSec) {
      System.err.println(
        f"bench: load $loadStart%.2f > $loadThreshold%.2f, waiting 30s " +
          "for the machine to quiet (SPARK_GRAFT_BENCH_LOAD_WAIT)")
      Thread.sleep(30000)
      loadStart = loadavg()
    }
    val loadWaitedSec = (System.nanoTime() - waitT0) / 1e9
    // calibration canary at artifact START (post-gate, pre-session: the
    // machine state the suite is about to run under) and again at END —
    // two samples bound drift DURING the run, not just at entry
    val canaryStart = canarySec()
    val canaryIoStart = canaryIoSec()
    val spark = LocalSession(DefaultCpus)
    // Warm-up: touch every input table once (schema + footer + codegen).
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    Seq("lineitem", "documents", "embeddings", "events",
      "orders", "customer", "supplier", "part", "nation", "region").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }
    }

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.forall(_.exists(n.startsWith)) }
    val selected = queries.map(_._1)

    val indexDefs = Bench.indexDefs(spark, sfDir)
    val indexBuilds: Seq[(String, Double)] = indexDefs
      .filter { case (_, relevant, _) => selected.exists(relevant) }
      .map { case (name, _, build) =>
        name -> (try timed(build()) catch {
          case e: Throwable =>
            System.err.println(s"bench: index $name FAILED: ${e.getMessage}")
            -1.0
        })
      }


    // min of 3 runs per query: steady-state (plans cached, JIT warm, all
    // shared indexes built); min discards shared-machine noise spikes.
    // The System.gc() barrier drains garbage accumulated by PRECEDING
    // queries before each timing loop — without it a query adjacent to a
    // heap-hungry one pays its predecessors' collection debt in all 3
    // runs, which min-of-N cannot remove (the r5 rel_nation_* 3-5×
    // in-suite-vs-isolated swing). ~10-50 ms of untimed wall-clock per
    // query on the 8g bench heap.
    // SPARK_GRAFT_BENCH_RUNS (default 3): scale-stress sweeps on N00x
    // fixtures run each query for minutes, where (a) min-of-3 triples a
    // multi-hour wall and (b) scheduler noise is proportionally tiny —
    // they pass 2; the canonical sf0.1 artifact keeps the default 3
    val runsPerQuery = sys.env.get("SPARK_GRAFT_BENCH_RUNS") match {
      case None => 3
      case Some(s) =>
        // fail FAST and loudly: a typo must abort before the suite, and
        // 0/negative must never silently fall back to triple wall-clock
        val n = try s.trim.toInt catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_BENCH_RUNS must be a positive int, got `$s`")
        }
        require(n >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $n")
        n
    }
    val results = queries.map { case (name, fn) =>
      var failed = false
      // DOUBLE collect with a settle window (r10 verdict item 2 — the
      // rel_assoc_rules 170x-in-suite vs 34x-isolated adjacency gap at
      // 100x): one System.gc() only ENQUEUES dead localCheckpoint /
      // broadcast references onto the ContextCleaner's async queue; the
      // sleep lets the cleaner actually drop their storage blocks, and
      // the second collect reclaims the heap they pinned. Residency
      // from preceding queries inflates ALL N timing runs equally, so
      // min-of-N cannot remove it — only draining between queries can.
      // ~250 ms of untimed wall per query.
      System.gc(); Thread.sleep(200); System.gc()
      val times = (0 until runsPerQuery).map { _ =>
        val t0 = System.nanoTime()
        // noop sink, NOT count(): count() lets ColumnPruning delete any
        // work whose output the count doesn't need — a window function
        // with unused output vanishes from the counted plan entirely,
        // and e.g. the 60-column simhash aggregation under-measured
        // 3.3× — so count() times a DIFFERENT (smaller) query than the
        // one Verify checks. The noop write evaluates every output
        // column, which is the standard Spark benchmarking practice.
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
        catch { case e: Throwable =>
          failed = true
          System.err.println(s"bench: $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      // -1 sentinel: a throwing query must not report as a fast success
      name -> (if (failed) -1.0 else times.min)
    }
    // millisecond precision: enough for any consumer, and it keeps the
    // stdout line (tail-truncated to its last ~2000 chars in round
    // artifacts) as small as the name contract allows
    def fmt(v: Double): String =
      if (v < 0) "-1.0"
      else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jsonMap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // failed index builds belong in `failed` too: a gate watching
    // failed==[] must notice the isolation silently degrading (the first
    // consumer query would re-run the build inside its timed loop)
    val failedNames = (results.collect { case (k, v) if v < 0 => "\"" + k + "\"" } ++
      indexBuilds.collect { case (k, v) if v < 0 => "\"index:" + k + "\"" })
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val indexTotal = indexBuilds.map(_._2).filter(_ >= 0).sum
    // load_warning (r6 verdict item 7): external load above nCPU/8 at
    // suite START inflates every number ~uniformly — flag the run so
    // consumers stop re-litigating the noise (r5/r6 both did). START
    // only: load_end includes the bench's own 32-thread activity, so
    // gating on it would flag every healthy run.
    val loadEnd = loadavg()
    val loadWarning = loadStart > loadThreshold
    val canaryEnd = canarySec()
    val canaryIoEnd = canaryIoSec()
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jsonMap(results)},"index_build":${jsonMap(indexBuilds)},"index_build_total":${fmt(indexTotal)},"failed":$failedNames,"load_start":${fmt(loadStart)},"load_end":${fmt(loadEnd)},"load_warning":$loadWarning,"load_waited_sec":${fmt(loadWaitedSec)},"canary_sec":${fmt(canaryStart)},"canary_end_sec":${fmt(canaryEnd)},"canary_ref_sec":${fmt(CanaryRefSec)},"drift":${fmt(canaryStart / CanaryRefSec)},"drift_end":${fmt(canaryEnd / CanaryRefSec)},"canary_io_sec":${fmt(canaryIoStart)},"canary_io_end_sec":${fmt(canaryIoEnd)},"canary_io_ref_sec":${fmt(CanaryIoRefSec)},"drift_io":${fmt(canaryIoStart / CanaryIoRefSec)},"drift_io_end":${fmt(canaryIoEnd / CanaryIoRefSec)},"sf":"$sfDir"}"""
    println(line)
    // The stdout line gets tail-truncated to its last ~2000 chars in
    // round artifacts (r4 lost most per-query timings; r5's driver
    // artifact had parsed:null), and the full queries map cannot fit
    // that window (the 128 query names alone are ~1800 chars). So the
    // full JSON is ALWAYS persisted as a file, in BOTH candidate
    // locations: the invoker-chosen path (env override / CWD), and the
    // checkout that owns the running classes — resolved from the code
    // source so a driver invoking sbt from any working directory still
    // leaves bench_last.json inside the repo it benchmarked.
    val outPaths = {
      // only a FULL run ON THE CANONICAL CORPUS may claim a
      // bench_last.json — a filtered experiment would shadow the
      // committed full-suite artifact with a 2-query fragment, and an
      // unfiltered run on a ScaleGen fixture (different SF dir) would
      // shadow it with numbers from a different corpus entirely (this
      // bit a 10x scale-stress run TWICE: once via the classes path in
      // r6, once via the default CWD path in r7 — both now guarded;
      // an EXPLICIT SPARK_GRAFT_BENCH_OUT is always honored)
      val canonical = filter.isEmpty && sfDir.startsWith("/root/testdata/")
      // a run on another core count lands beside it, never over it
      val outName = sys.env.get("SPARK_GRAFT_CPUS").filter(_ != DefaultCpus)
        .fold("bench_last.json")(n => s"bench_last_c$n.json")
      val chosen = sys.env.get("SPARK_GRAFT_BENCH_OUT")
        .orElse(if (canonical) Some(outName) else None)
        .map(p => java.nio.file.Paths.get(p).toAbsolutePath.normalize)
      val fromClasses =
        if (!canonical) None
        else try {
          var p = java.nio.file.Paths.get(
            Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
          while (p != null && !java.nio.file.Files.exists(p.resolve("build.sbt")))
            p = p.getParent
          Option(p).map(_.resolve(outName).toAbsolutePath.normalize)
        } catch { case _: Throwable => None }
      (chosen.toSeq ++ fromClasses).distinct
    }
    outPaths.foreach { p =>
      try java.nio.file.Files.writeString(p, line)
      catch { case e: Throwable =>
        System.err.println(s"bench: could not persist $p: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
