package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.TableIO

/** Distributed PageRank as iterative Dataset joins (north-rule kernel #1).
  *
  * Semantics: standard damped PageRank with dangling-mass redistribution —
  * `r'(v) = (1-d)/n + d * (Σ_{u→v} r(u)/outDeg(u) + danglingMass/n)`,
  * converged when `max_v |r'(v) - r(v)| < tol`. Matches the sequential
  * referee allclose 1e-6 (BASELINE.json north_rule). The reference's seed
  * semantics are citation influence = in-degree over the reverse adjacency
  * (CitationGraphs.go:1537-1539, :3947-3960); PageRank generalizes that
  * one-hop influence to the fixpoint.
  *
  * Scale design:
  *  - edges stay in the CSR-blocked layout (range-partitioned by `src`,
  *    sorted within partitions) and are cached once; every superstep's
  *    `edges ⋈ state on src` reuses that partitioning.
  *  - vertex state carries `(vid, outDeg, rank)` so no per-superstep
  *    degree join is needed; the cached `(vid, outDeg)` frame is
  *    co-partitioned with the contribution aggregate, so the rank update
  *    join is exchange-free.
  *  - contribution aggregation is a hash aggregate with map-side partial
  *    combine, so a hub's in-degree skew is bounded by #partitions rows at
  *    the reducer. Default sums are the codegen'd partial+final double sum
  *    (error O(maxInDeg·eps) ≈ 1e-8 even for 10^8-in-degree hubs — far
  *    inside the 1e-6 gate); `kahan = true` switches to the compensated
  *    [[KahanSum]] aggregator (O(eps) error) at ~25% throughput cost when
  *    stricter reproducibility is wanted.
  *  - `stepsPerJob = k` chains k supersteps lazily inside ONE Spark job
  *    before truncating lineage (and checking convergence), amortizing the
  *    per-job fixed cost — job scheduling, the |V|-row state
  *    materialization, the convergence aggregate — k-fold. Each chained
  *    superstep still runs its own contribution shuffle (that IS the
  *    algorithm); only the driver-side bookkeeping is fused. Convergence
  *    is then checked every k steps (delta spans the block), the standard
  *    cadence trade for fixed-point iterations.
  *  - explicit hub salting ([[saltedContribs]], composable with the loop):
  *    contribution rows into a hot IN-degree dst are pre-split across
  *    `numSalts` sub-keys by src-hash and pre-aggregated per (dst, salt)
  *    before the global per-dst combine, so no single reduce key ever
  *    receives a hub's full in-edge volume (AQE's skew join does not
  *    cover iterative self-joins well — SURVEY.md §4).
  *  - `checkpointEvery = c` commits `(vid, rank)` + per-partition lineage
  *    + metrics (delta, dangling mass, superstep seconds) via [[TableIO]]
  *    every c supersteps (evaluated at block boundaries); [[run]] resumes
  *    mid-iteration from the latest committed snapshot. c = 1 (default) is
  *    the north-rule "every superstep" cadence; long fixed-point runs on a
  *    real cluster raise c so an executor loss costs at most c supersteps
  *    of recompute instead of the whole run (localCheckpoint blocks are
  *    executor-local and die with the executor).
  */
object PageRank {

  final case class Result(ranks: DataFrame, supersteps: Int, delta: Double)

  /** One-off CSR graph layout shared by any number of [[runPrepared]]
    * invocations: edges hash-partitioned by src + sorted within partitions
    * + cached, and the co-partitioned `(vid, outDeg)` frame. Building this
    * is ingest work (one repartition shuffle + cache write over |E|), not
    * superstep work — the north-rule metric (supersteps/hour, edges/sec)
    * is steady-state iteration throughput over a prepared graph. */
  final case class PreparedGraph(
      edges: DataFrame, // (src, dst) CSR-partitioned + cached
      vertDeg: DataFrame, // (vid, outDeg) co-partitioned + cached
      n: Long,
      hasDanglers: Boolean) {
    def unpersist(): Unit = { edges.unpersist(); vertDeg.unpersist() }
  }

  def prepare(spark: SparkSession, edges: DataFrame): PreparedGraph = {
    // AQE off for the layout too: AQE may coalesce REPARTITION_BY_COL, and
    // the layout's partition count IS the superstep parallelism (and the
    // partitioning every superstep join reuses) — it must be exactly
    // spark.sql.shuffle.partitions, decided by the engine, not re-derived
    // from small-sample sizes at runtime.
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try prepareInternal(spark, edges)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  private def prepareInternal(spark: SparkSession, edges: DataFrame): PreparedGraph = {
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .sortWithinPartitions("src", "dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outDeg = e.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("outDeg"))
    val vertices = e.select(col("src").as("vid"))
      .union(e.select(col("dst").as("vid"))).distinct()
    // (vid, outDeg) co-partitioned with every groupBy(vid) aggregate;
    // outDeg 0 marks dangling vertices. Cached for the whole run — this is
    // the only per-vertex frame any superstep joins against.
    val vertDeg = vertices.join(outDeg, Seq("vid"), "left")
      .na.fill(0L, Seq("outDeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one action: |V| and dangler count (dangler-free graphs skip the
    // dangling-mass branch in every superstep)
    val firstRow = vertDeg
      .agg(count(lit(1)), sum(when(col("outDeg") === 0, 1L).otherwise(0L)))
      .head()
    PreparedGraph(e, vertDeg, firstRow.getLong(0), firstRow.getLong(1) > 0L)
  }

  /** @param checkpointTable directory for TableIO superstep snapshots;
    *                        null/empty disables checkpointing.
    * @param stepsPerJob     supersteps fused per Spark job (lineage
    *                        truncation + convergence cadence); 1 = classic
    *                        one-job-per-superstep.
    * @param checkpointEvery TableIO snapshot cadence in supersteps (only
    *                        with checkpointTable set); commits land on the
    *                        first block boundary at or past each multiple.
    */
  def run(
      spark: SparkSession,
      edges: DataFrame, // (src LONG, dst LONG), deduped, no self-loops
      damping: Double = 0.85,
      tol: Double = 1e-9,
      maxIters: Int = 50,
      checkpointTable: String = null,
      kahan: Boolean = false,
      stepsPerJob: Int = 1,
      checkpointEvery: Int = 1): Result = {

    // AQE is scoped OFF for the kernel's internal queries: its stage cache
    // misses the canonical equality between the dangling-total aggregate
    // and the rank-update join, so with AQE on the contribution shuffle
    // (the edge join + map-side combine — the whole superstep) executes
    // TWICE per superstep on graphs with danglers; without AQE the total
    // rides a ReusedExchange (asserted by PlanSpec). AQE also coalesces the
    // contribution exchange at small sizes, destabilizing the 32-partition
    // co-partitioning the next superstep's join relies on. Nothing AQE
    // offers applies here: partition counts are hand-sized, skew is handled
    // by salting, and no superstep join is broadcastable at web scale.
    val g = prepare(spark, edges)
    try runPrepared(spark, g, damping, tol, maxIters, checkpointTable,
      kahan, stepsPerJob, checkpointEvery)
    finally g.unpersist()
  }

  /** Iterate over a [[prepare]]d graph (steady-state superstep path; the
    * graph layout is reused across invocations and never unpersisted here).
    * AQE is scoped OFF for the kernel's internal queries — see [[run]]. */
  def runPrepared(
      spark: SparkSession,
      g: PreparedGraph,
      damping: Double = 0.85,
      tol: Double = 1e-9,
      maxIters: Int = 50,
      checkpointTable: String = null,
      kahan: Boolean = false,
      stepsPerJob: Int = 1,
      checkpointEvery: Int = 1): Result = {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try runInternal(spark, g, damping, tol, maxIters, checkpointTable,
      kahan, stepsPerJob, checkpointEvery)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  private def runInternal(
      spark: SparkSession,
      g: PreparedGraph,
      damping: Double,
      tol: Double,
      maxIters: Int,
      checkpointTable: String,
      kahan: Boolean,
      stepsPerJob: Int,
      checkpointEvery: Int): Result = {

    val ckpt = Option(checkpointTable).filter(_.nonEmpty)
    val e = g.edges
    val vertDeg = g.vertDeg
    val n = g.n
    val hasDanglers = g.hasDanglers

    // Join strategy note (guide §3.1, measured r6): a shuffled-hash hint on
    // the state side of the contribution join (skipping its per-superstep
    // sort) benched WITHIN NOISE of sort-merge on the 18M-edge probe
    // (interleaved A/B: 5.35/5.77 SMJ vs 5.52/5.68 SHJ) — the superstep is
    // shuffle-bound, not sort-bound. Sort-merge stays: it spills gracefully
    // when a 100 TB state partition outgrows task memory.

    // one chained superstep: state (vid, outDeg, rank) -> next state
    def superstep(st: DataFrame): DataFrame = {
      val contribs = e
        .join(st.where(col("outDeg") > 0).withColumnRenamed("vid", "src")
          .select(col("src"), (col("rank") / col("outDeg")).as("c")), "src")
        .select(col("dst").as("vid"), col("c"))

      // Kahan keeps the compensated error O(eps) under shuffle reordering
      // (the 1e-6 reproducibility path); plain codegen'd sum is the
      // throughput path — error is O(maxInDeg·eps), still « 1e-6
      val summed =
        if (kahan) contribs.groupBy("vid").agg(KahanSum.column(col("c")).as("inMass"))
        else contribs.groupBy("vid").agg(sum(col("c")).as("inMass"))

      // Dangling mass WITHOUT a separate per-superstep job: rank mass is
      // conserved at 1, so Σ_dangling rank = 1 - Σ_v inMass. The 1-row
      // total crossJoins into the rank update (broadcast NLJ) and its
      // aggregate reads the SAME contribution shuffle (exchange reuse) —
      // one job per superstep instead of two. Dangler-free graphs skip
      // even that branch.
      if (!hasDanglers)
        vertDeg.join(summed, Seq("vid"), "left")
          .na.fill(0.0, Seq("inMass"))
          .select(col("vid"), col("outDeg"),
            (lit((1.0 - damping) / n)
              + lit(damping) * col("inMass")).as("rank"))
      else {
        val totals = summed
          .agg(coalesce(sum(col("inMass")), lit(0.0)).as("totalIn"))
        vertDeg.join(summed, Seq("vid"), "left")
          .na.fill(0.0, Seq("inMass"))
          .crossJoin(totals)
          .select(col("vid"), col("outDeg"),
            (lit((1.0 - damping) / n) + lit(damping)
              * (col("inMass") + (lit(1.0) - col("totalIn")) / n)).as("rank"))
      }
    }

    // resume from the latest committed superstep if present: snapshots
    // store (vid, rank); re-attach outDeg from the cached frame
    val (startStep, startState) = ckpt.flatMap(TableIO.read(spark, _)) match {
      case Some((meta, df)) =>
        (meta.step.toInt + 1,
          vertDeg.join(df.select(col("vid"), col("rank")), Seq("vid")))
      case None =>
        (0, vertDeg.withColumn("rank", lit(1.0 / n)))
    }

    // truncate lineage at block boundaries: without this the logical plan
    // (and planning time) grows without bound across iterations
    var st = startState.localCheckpoint(true)
    var step = startStep
    var delta = Double.MaxValue
    var lastCommitted = startStep - 1

    while (step < maxIters && delta >= tol) {
      val t0 = System.nanoTime()
      val block = math.min(math.max(1, stepsPerJob), maxIters - step)
      // with danglers a superstep reads its `summed` twice (rank join +
      // dangling total), so chaining steps would double the fused plan per
      // step; there each chained step's state is lineage-cut lazily, which
      // keeps the planned block one superstep deep and the block-boundary
      // commits and convergence test unchanged
      var cur = st
      for (i <- 0 until block) {
        cur = superstep(cur)
        if (hasDanglers && i < block - 1) cur = cur.localCheckpoint(false)
      }
      val newSt = cur.localCheckpoint(true)

      // convergence check costs one extra join+agg per BLOCK; skip it
      // entirely for fixed-iteration runs (tol < 0). With block > 1 the
      // delta spans the block — a conservative stop test (per-step deltas
      // only shrink as the iteration contracts).
      if (tol >= 0) {
        delta = newSt
          .join(st.select(col("vid"), col("rank").as("prev")), "vid")
          .agg(max(abs(col("rank") - col("prev")))).head().getDouble(0)
      }

      val secs = (System.nanoTime() - t0) / 1e9
      val endStep = step + block - 1
      ckpt.foreach { t =>
        if (endStep - lastCommitted >= math.max(1, checkpointEvery)) {
          // metrics-only dangling mass: a cheap scan of the freshly
          // materialized |V|-row state (checkpointed runs pay this 1-job
          // cost for the lineage record; the hot path above does not)
          val danglingMass =
            if (!hasDanglers) 0.0
            else newSt.where(col("outDeg") === 0)
              .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
          TableIO.commit(newSt.select(col("vid"), col("rank")), t, endStep,
            Map("delta" -> delta, "danglingMass" -> danglingMass,
              "superstepSecs" -> secs, "vertices" -> n.toDouble,
              "stepsInBlock" -> block.toDouble))
          lastCommitted = endStep
        }
      }
      st.unpersist()
      st = newSt
      step += block
    }
    // a convergence exit (delta < tol) between cadence boundaries must still
    // commit the final ranks — TableIO readers otherwise see stale state
    // (mirrors hashMin's always-commit-at-convergence; a maxIters exit keeps
    // the cadence contract so partial runs resume from the cadence point)
    ckpt.foreach { t =>
      if (delta < tol && step - 1 > lastCommitted) {
        val danglingMass =
          if (!hasDanglers) 0.0
          else st.where(col("outDeg") === 0)
            .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
        TableIO.commit(st.select(col("vid"), col("rank")), t, step - 1,
          Map("delta" -> delta, "danglingMass" -> danglingMass,
            "vertices" -> n.toDouble, "finalCommit" -> 1.0))
        lastCommitted = step - 1
      }
    }
    // NOTE: the prepared graph (e, vertDeg) is NOT unpersisted here — it is
    // owned by the caller ([[run]] unpersists its own; [[runPrepared]]
    // callers reuse it across invocations). The returned ranks are
    // localCheckpoint'd, so they outlive the layout caches.
    Result(st.select(col("vid"), col("rank")), step, delta)
  }

  /** Hub-salted variant of one contribution superstep, exposed for the
    * skew-handling path: splits each hot dst's IN-edges into `numSalts`
    * groups keyed by src-hash and pre-aggregates per (dst, salt) before
    * the global per-dst combine. The salt MUST vary across the rows of a
    * fixed dst (hence hash(src), never hash(dst) — a salt that is a pure
    * function of the group key puts every row of the hub in one sub-key
    * and the two-stage defense degenerates to the plain groupBy).
    * Composable with [[run]]'s loop; used when the degree histogram shows
    * in-degree skew beyond what map-side combine flattens. */
  /** The salt sub-key for [[saltedContribs]] — a function of `src` so it
    * varies across a fixed dst's in-edges (spec-asserted). */
  def saltCol(numSalts: Int): Column = pmod(hash(col("src")), lit(numSalts))

  def saltedContribs(e: DataFrame, ranksWithDeg: DataFrame, numSalts: Int): DataFrame = {
    val salted = e.withColumn("salt", saltCol(numSalts))
    salted
      .join(ranksWithDeg.where(col("outDeg") > 0).withColumnRenamed("vid", "src"), "src")
      .groupBy(col("dst").as("vid"), col("salt"))
      .agg(sum(col("rank") / col("outDeg")).as("c"))
      .groupBy("vid")
      .agg(KahanSum.column(col("c")).as("inMass"))
  }
}
