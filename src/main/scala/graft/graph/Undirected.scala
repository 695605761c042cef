package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.TableIO

/** The shared engine of the undirected vertex-label kernels
  * ([[ConnectedComponents.hashMin]], [[LabelPropagation.run]]): one cached
  * edge layout and one block-fused superstep loop. A kernel supplies its
  * initial state, its superstep body and, if it has one, its stop test.
  *
  * Layout. ONE scan of the input feeds the whole setup: the canonical
  * `(least, greatest)` edge rows are deduped once and persisted — |E| rows
  * through the only exchange instead of the 2|E| a mirror-then-distinct
  * would shuffle. Self-loop rows are KEPT there, so the vertex universe
  * derived from it still holds loop-only vertices. The table the
  * supersteps join is the mirrored non-loop edges plus ONE added self-loop
  * per vertex, laid out CSR-style (`repartition(src)` +
  * `sortWithinPartitions`) and persisted: distinct's `(src, dst)` hash
  * partitioning does not satisfy the per-step join's clustering on `src`.
  * Genuine self-edges are dropped before the loops are added, so
  * `src = dst` marks exactly the added row; through it each vertex
  * receives its own state in the SAME aggregate that brings its
  * neighbours', and the state frame is read once per superstep.
  *
  * Loop. `stepsPerJob` supersteps are chained lazily, then lineage is cut
  * once (`localCheckpoint`) and one action runs per block, amortizing the
  * per-job fixed cost (job scheduling, the |V|-row state materialization)
  * k-fold. Fusion is safe only because the state is read once per
  * superstep: a body that read it twice would double the fused plan per
  * chained step. With `checkpointTable` set, a block commits its state via
  * [[TableIO]] when it ends at or past the next multiple of
  * `checkpointEvery` (counted from the resume point), and the final block
  * always commits; a run resumes after the table's latest snapshot. AQE
  * stays on: unlike [[PageRank]], no exchange or co-partitioned frame is
  * reused across supersteps, so its runtime broadcast of a shrunken state
  * and its small-stage coalescing are pure wins.
  */
private[graph] object Undirected {

  /** @param init      vertex universe `(vid)` → initial state, used when
    *                  there is no snapshot to resume from
    * @param superstep `(layout, state)` → next state over the `(src, dst)`
    *                  layout. It may emit columns beyond the state's for
    *                  `changed` to read; the loop keeps only the state's.
    * @param changed   stop test on a block's lineage-cut output: its count
    *                  is the block's one action, and 0 ends the run. Without
    *                  it the eager cut is the action and all `maxSteps` run.
    * @return the final state, lineage-cut, so it outlives the layout
    *         caches — which are released on every exit path. */
  def iterate(
      spark: SparkSession,
      edges: DataFrame,
      maxSteps: Int,
      checkpointTable: String,
      checkpointEvery: Int,
      stepsPerJob: Int)(
      init: DataFrame => DataFrame,
      superstep: (DataFrame, DataFrame) => DataFrame,
      changed: Option[DataFrame => Long]): DataFrame = {
    val ckpt = Option(checkpointTable).filter(_.nonEmpty)
    val canon = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vertices = canon.select(col("src").as("vid"))
      .union(canon.select(col("dst").as("vid"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val links = canon.where(col("src") =!= col("dst"))
    val layout = links
      .union(links.select(col("dst").as("src"), col("src").as("dst")))
      .union(vertices.select(col("vid").as("src"), col("vid").as("dst")))
      .repartition(col("src"))
      .sortWithinPartitions("src", "dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (startStep, start) = ckpt.flatMap(TableIO.read(spark, _)) match {
        case Some((meta, df)) => (meta.step.toInt + 1, df)
        case None => (0, init(vertices))
      }
      val stateCols = start.columns.toSeq.map(col)
      var state = start.localCheckpoint(true)
      var step = startStep
      var done = false
      val cadence = math.max(1, checkpointEvery)
      var nextCommitRel = 0L
      while (step < maxSteps && !done) {
        val block = math.min(math.max(1, stepsPerJob), maxSteps - step)
        var cur = state
        for (_ <- 0 until block) cur = superstep(layout, cur)
        val cut = cur.localCheckpoint(changed.isEmpty)
        val nChanged = changed.map(_(cut))
        done = nChanged.contains(0L)
        val next = cut.select(stateCols: _*)
        val endStep = step + block - 1
        ckpt.foreach { t =>
          val endRel = endStep - startStep
          if (endRel >= nextCommitRel || done || endStep >= maxSteps - 1) {
            TableIO.commit(next, t, endStep,
              nChanged.map(c => "changed" -> c.toDouble).toMap)
            nextCommitRel = (endRel / cadence + 1) * cadence
          }
        }
        state.unpersist()
        state = next
        step += block
      }
      state
    } finally {
      layout.unpersist(); vertices.unpersist(); canon.unpersist()
    }
  }
}
