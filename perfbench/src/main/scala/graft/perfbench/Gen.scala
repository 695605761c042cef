package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's input generators. Every row is a pure function of
  * `(index, seed)`, so the Spark tables and the sequential referee see the
  * same inputs under any partitioning, and the same seed reproduces them.
  */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Out-degree in [1, 8]: the shape of the engine's synthetic crawl. */
  def outDegree(i: Long, seed: Long): Int = 1 + (mix(i ^ mix(seed)) & 0x7).toInt

  /** Link target `k` of vertex `i` over `[0, n)`. `hub`: a Zipf-like
    * inverse CDF that puts most links on a few small ids; otherwise
    * uniform. */
  def target(i: Long, k: Int, n: Long, seed: Long, hub: Boolean): Long = {
    val h = mix(i * 1024 + k + mix(seed + 1))
    if (hub) math.min(n - 1, (math.pow(unit(h), 3.5) * n).toLong)
    else java.lang.Math.floorMod(h, n)
  }

  // ---- kernels_flat : (src, dst) edge table -------------------------------

  /** Distinct out-neighbours of `i` over uniform targets: out-degree 1–8,
    * no self-links (a self-target moves to the next id), so the table is
    * deduplicated and loop-free, as `PageRank.run` requires, and no vertex
    * dangles. */
  def outEdges(i: Long, n: Long, seed: Long): Array[Long] =
    (0 until outDegree(i, seed)).map { k =>
      val t = target(i, k, n, seed, hub = false)
      if (t == i) (t + 1) % n else t
    }.distinct.toArray

  def edgeList(n: Long, seed: Long): Array[(Long, Long)] =
    (0L until n).iterator
      .flatMap(i => outEdges(i, n, seed).iterator.map(t => (i, t)))
      .toArray

  def edgeTable(spark: SparkSession, n: Long, seed: Long,
      partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).as[Long]
      .flatMap(i => outEdges(i, n, seed).map(t => (i, t)))
      .toDF("src", "dst")
  }

  // ---- crawl_to_rank : pages in the input_hint schema --------------------

  /** Canonical url of page `t` in an `n`-page crawl; ids `>= n` name
    * pages outside the crawl, which become dangling vertices. */
  def url(t: Long, n: Long, seed: Long): String = {
    val site = java.lang.Math.floorMod(mix(t + seed), 61L)
    if (t >= n) s"https://ext$site.example.net/x/${t - n}"
    else s"https://site$site.example.org/p/$t"
  }

  /** Page ids linked from page `i`: hub-skewed, with self-links and
    * duplicates left in for the engine to drop. About one link in 16
    * leaves the crawl. */
  def links(i: Long, n: Long, seed: Long): Seq[Long] =
    (0 until outDegree(i, seed)).map { k =>
      val t = target(i, k, n, seed, hub = true)
      if ((mix(i * 1024 + k + seed) & 15) == 0) n + t else t
    }

  /** The href as written in the html: some carry a `#fragment` or an
    * upper-case scheme and host, which url normalization must undo. */
  def href(t: Long, k: Int, n: Long, seed: Long): String = {
    val u = url(t, n, seed)
    val h = mix(t * 31 + k + seed)
    val cased =
      if ((h & 7) == 0) { val p = u.indexOf('/', 8); u.substring(0, p).toUpperCase + u.substring(p) }
      else u
    if (((h >>> 3) & 3) == 0) s"$cased#s$k" else cased
  }

  def title(i: Long): String = s"Page $i of the crawl"

  def html(i: Long, n: Long, seed: Long): String = {
    val anchors = links(i, n, seed).zipWithIndex
      .map { case (t, k) => s"""<a class="l" href="${href(t, k, n, seed)}">link $k</a>""" }
      .mkString("\n")
    s"<html><head><title>${title(i)}</title></head>\n<body>\n$anchors\n</body></html>"
  }

  /** Pages `(url, warc_ts, html, text, lang)` for ids `[0, n)`. */
  def pageTable(spark: SparkSession, n: Long, seed: Long,
      partitions: Int): DataFrame = {
    import spark.implicits._
    val epoch = 1704067200L // 2024-01-01T00:00:00Z
    spark.range(0, n, 1, partitions).as[Long].map { i =>
      (url(i, n, seed), new Timestamp((epoch + i) * 1000L),
        html(i, n, seed).getBytes("UTF-8"), title(i),
        if (i % 9 == 0) "de" else "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
  }

  /** The link graph the engine must build from [[pageTable]]: vertex ids
    * are positions of urls in sorted order over page urls and link
    * targets, edges are distinct and loop-free. Returns (vertex count,
    * edges). */
  def crawlGraph(n: Long, seed: Long): (Long, Array[(Long, Long)]) = {
    val raw = (0L until n).iterator
      .flatMap(i => links(i, n, seed).iterator.map(t => (i, t))).toArray
    val ids = ((0L until n).iterator ++ raw.iterator.map(_._2)).toArray.distinct
    val sortedUrls = ids.map(t => url(t, n, seed)).sorted
    val vid = sortedUrls.zipWithIndex.map { case (u, k) => u -> k.toLong }.toMap
    val edges = raw.iterator
      .map { case (s, t) => (vid(url(s, n, seed)), vid(url(t, n, seed))) }
      .filter { case (s, d) => s != d }.toArray.distinct
    (sortedUrls.length.toLong, edges)
  }
}
