package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (north-rule kernel #3).
  *
  * Each superstep, every vertex adopts the most frequent label among its
  * in-neighbors; ties break to the MINIMUM label (deterministic under any
  * partitioning — required for exact-match verification). Vertices with no
  * neighbors keep their label. Initial label = vid unless a seed frame is
  * given.
  *
  * Reference seed semantics: label assignment/refinement — GSDMM
  * one-topic-per-doc resampling (CitationGraphs.go:1747-1822), argmax
  * communities (:3236-3259), label histograms (:3886-3896) — generalized to
  * the synchronous propagation fixpoint.
  *
  * The per-vertex mode is computed as `groupBy(vid, label)` vote counts
  * over the [[Undirected]] layout — the loop row (`src = dst`) delivers the
  * vertex's own label at vote weight 0, so it wins exactly when no
  * neighbour votes — followed by a `row_number` window ordered
  * `(count DESC, label ASC)`; no driver-side state, no join-back to the
  * state frame. There is no stop test: exactly `numIters` supersteps run.
  */
object LabelPropagation {

  /** @param checkpointEvery TableIO commit cadence in supersteps (with
    *                        checkpointTable set) — see
    *                        [[ConnectedComponents.hashMin]]. The final
    *                        superstep always commits.
    * @param stepsPerJob     supersteps chained lazily per Spark job; the
    *                        fixed iteration count makes fusion
    *                        trajectory-exact. */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      numIters: Int = 10,
      seedLabels: DataFrame = null, // (vid, label); default = vid
      checkpointTable: String = null,
      checkpointEvery: Int = 1,
      stepsPerJob: Int = 1): DataFrame = {
    // seeds are aligned to the graph's vertex set: unlabeled vertices start
    // at their own vid, seed rows for vids outside the graph are dropped
    // (the propagation domain is the graph)
    def init(vertices: DataFrame): DataFrame = Option(seedLabels)
      .map(s => vertices
        .join(s.select(col("vid"), col("label").as("seed")), Seq("vid"), "left")
        .select(col("vid"), coalesce(col("seed"), col("vid")).as("label")))
      .getOrElse(vertices.withColumn("label", col("vid")))

    def superstep(layout: DataFrame, st: DataFrame): DataFrame = {
      val counts = layout
        .join(st.select(col("vid").as("src"), col("label")), "src")
        .groupBy(col("dst").as("vid"), col("label"))
        .agg(sum(when(col("src") === col("dst"), 0).otherwise(1)).as("cnt"))
      val w = Window.partitionBy("vid").orderBy(desc("cnt"), asc("label"))
      counts
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("vid"), col("label"))
    }

    Undirected.iterate(spark, edges, numIters, checkpointTable,
      checkpointEvery, stepsPerJob)(init, superstep, changed = None)
  }
}
