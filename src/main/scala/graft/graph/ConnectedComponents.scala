package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components (north-rule kernel #2), two interchangeable
  * algorithms over the undirected (symmetrized) edge table:
  *
  *  - [[hashMin]]: synchronous min-label propagation — component id of v =
  *    min vid reachable from v; converges in O(diameter) supersteps. Simple,
  *    exact, and the semantics referee for the star variant.
  *  - [[smallStarLargeStar]]: the alternating small-star/large-star edge
  *    rewriting of Kiveris et al. ("Connected Components in MapReduce and
  *    Beyond", SoCC'14) — O(log n) rounds on high-diameter graphs, the
  *    scale path for 10^12-vertex web graphs.
  *
  * Both return `(vid LONG, component LONG)` with component = min member vid
  * (deterministic), and checkpoint per-superstep state via
  * [[graft.io.TableIO]].
  * The reference consumes CC semantics through its DBSCAN community
  * expansion (CitationGraphs.go:2873) — ε-threshold similarity graph
  * components; this kernel is that expansion made distributed.
  */
object ConnectedComponents {

  /** Symmetrize + dedup: every undirected edge present in both directions.
    *
    * Shape (guide §2.3 — shuffle fewer bytes): canonicalize each edge to
    * `(min, max)` FIRST and dedup that, then mirror the deduped set with a
    * narrow projection. The dedup exchange now carries |E| canonical rows
    * instead of the 2|E| rows the mirror-then-distinct form shuffled —
    * half the bytes through the only exchange of the operator, with an
    * identical output set (a directed pair and its reverse canonicalize to
    * the same row; the mirror of a strict-u<v set cannot collide with the
    * set itself, so no second distinct is needed). */
  def symmetrize(edges: DataFrame): DataFrame = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    canon.union(canon.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Min-label propagation over the [[Undirected]] layout and block loop
    * (which owns the layout, fusion, commit and resume rules).
    *
    * @param checkpointEvery TableIO commit cadence in supersteps (with
    *                        checkpointTable set): an executor loss costs at
    *                        most `checkpointEvery` supersteps of recompute —
    *                        `localCheckpoint` blocks are executor-local and
    *                        die with the executor. The converged state
    *                        always commits.
    * @param stepsPerJob     supersteps chained lazily per Spark job.
    *
    * Superstep: `min` over in-neighbours ∪ self (the loop row) in one
    * `layout ⋈ state → groupBy(dst)`, which also carries the vertex's own
    * input label (`prev`, read off the loop row). Stop test: no label
    * changed in the block's last step — a step that changes nothing has
    * reached the fixpoint, so fused blocks stop at the same labels as
    * single steps. */
  def hashMin(
      spark: SparkSession,
      edges: DataFrame,
      maxIters: Int = 100,
      checkpointTable: String = null,
      checkpointEvery: Int = 1,
      stepsPerJob: Int = 1): DataFrame =
    Undirected.iterate(spark, edges, maxIters, checkpointTable,
        checkpointEvery, stepsPerJob)(
      init = _.withColumn("component", col("vid")),
      superstep = (layout, st) => layout
        .join(st.select(col("vid").as("src"), col("component")), "src")
        .groupBy(col("dst").as("vid"))
        .agg(min(col("component")).as("component"),
          max(when(col("src") === col("dst"), col("component"))).as("prev")),
      changed = Some(_.where(col("component") =!= col("prev")).count()))

  /** Alternating large-star / small-star until the edge set reaches
    * fixpoint; then component(v) = its parent in the resulting star forest.
    *
    * large-star: ∀u, m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u.
    * small-star: ∀u, m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v ≤ u
    * (plus (u, m)). Edge lists are kept as directed pairs with the
    * neighborhood grouped on `u`.
    */
  def smallStarLargeStar(
      spark: SparkSession,
      edges: DataFrame,
      maxIters: Int = 50): DataFrame = {
    // canonical (u > v) pairs directly — symmetrize-then-recanonicalize
    // would dedup the same |E| set through a 2|E|-row exchange (guide §2.3)
    var e = edges
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    // invariant: pairs (u, v) with v < u ("child -> smaller neighbor")

    // cheap convergence signature: (edge count, xor of edge hashes). Two
    // full `except`s per round cost two extra distinct-shuffles; instead we
    // compare signatures (one aggregation each) and only when they match run
    // ONE confirming one-sided except (counts equal + A∖B empty ⇒ A = B).
    def sigOf(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prevSig = sigOf(e)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      // ---- large-star on the symmetric view -------------------------------
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val minN = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      // connect every neighbor larger than u to m
      val large = sym.join(minN, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      val afterLarge = large.union(e).distinct()

      // ---- small-star -----------------------------------------------------
      val sym2 = afterLarge
      val minN2 = sym2.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val small = sym2.join(minN2, "u")
        .select(col("u"), col("v"), col("m"))
      val newEdges = small.select(col("v").as("u"), col("m").as("v"))
        .union(small.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
        .localCheckpoint(true) // truncate lineage per round

      val newSig = sigOf(newEdges)
      converged = newSig == prevSig && newEdges.except(e).isEmpty
      prevSig = newSig
      e.unpersist()
      e = newEdges
      iter += 1
    }
    // star forest: every u points at its component min v; roots are their
    // own. The universe comes from raw endpoints — an endpoint-level
    // distinct, strictly cheaper than the (src,dst)-pair distinct a
    // re-symmetrize would shuffle, and it keeps self-loop-only vertices
    // (singleton components) that symmetrize would drop.
    val vertices = edges.select(col("src").as("vid"))
      .union(edges.select(col("dst").as("vid"))).distinct()
    vertices.join(e.select(col("u").as("vid"), col("v").as("component")),
        Seq("vid"), "left")
      .groupBy("vid").agg(min(coalesce(col("component"), col("vid"))).as("component"))
  }
}
