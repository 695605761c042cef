package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.graph.Referee

class PerfbenchSpec extends AnyFunSuite {

  private val tiny = 300L

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toFile

  private def withSpark[T](body: SparkSession => T): T = {
    val spark = GraftSession.local(cores = 2)
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark) finally spark.stop()
  }

  test("the fast referee agrees with the engine's sequential referee") {
    val graphs: Seq[Seq[(Long, Long)]] = Seq(
      Gen.edgeList(200, 3L).toSeq, Gen.crawlGraph(150, 5L)._2.toSeq,
      Referee.twoCliques, Referee.danglers, Referee.zipf(120, 500, 9L))
    graphs.foreach { e =>
      val ref = new RefGraph(e.toArray)
      val (ranks, _) = ref.pageRank(tol = 1e-9, maxIters = 50)
      val want = Referee.pageRank(e)
      assert(ranks.keySet == want.keySet)
      want.foreach { case (v, r) => assert(math.abs(ranks(v) - r) < 1e-12, s"vid $v") }
      assert(ref.components() == Referee.components(e))
      assert(ref.labelProp(3) == Referee.labelProp(e, 3))
      assert(ref.triangles() == Referee.triangles(e))
    }
  }

  test("the same seed reproduces the inputs; another seed changes them") {
    assert(Gen.edgeList(500, 1L).sameElements(Gen.edgeList(500, 1L)))
    assert(!Gen.edgeList(500, 1L).sameElements(Gen.edgeList(500, 2L)))
    assert(Gen.html(7, 500, 1L) == Gen.html(7, 500, 1L))
    assert((0L until 50L).exists(i => Gen.html(i, 500, 1L) != Gen.html(i, 500, 2L)))
    val (v1, e1) = Gen.crawlGraph(500, 1L)
    val (v1b, e1b) = Gen.crawlGraph(500, 1L)
    assert(v1 == v1b && e1.sameElements(e1b))
    assert(!Gen.crawlGraph(500, 2L)._2.sameElements(e1))
  }

  test("the kernels_flat table has out-degree 1-8 everywhere: no self-links, no danglers") {
    Seq(1L, 2L, 3L, 5L, 45L, 205L).foreach { seed =>
      val e = Gen.edgeList(9500, seed)
      assert(e.forall { case (s, d) => s != d } && e.distinct.length == e.length)
      val out = e.groupBy(_._1).map { case (v, es) => v -> es.length }
      assert(out.size == 9500 && out.values.forall(d => d >= 1 && d <= 8), s"seed $seed")
    }
  }

  test("metric names are well formed, unique and carry a unit") {
    val all = Metrics.endToEnd ++ Metrics.perLayer
    all.foreach { case (name, unit) =>
      assert(name.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), name)
      assert(unit.matches("[A-Za-z0-9_/%.-]{1,16}"), s"$name: $unit")
    }
    assert(all.map(_._1).distinct.size == all.size)
    assert(Metrics.endToEnd.map(_._1).contains("setup_s"))
  }

  test("each workload runner agrees with the referee at tiny size, traced or not") {
    withSpark { spark =>
      Workload.all.foreach { w0 =>
        val w = w0.copy(size = tiny)
        val dir = tmp(s"pb-${w.name}")
        val input = new java.io.File(dir, "in").getPath
        w.writeInput(spark, tiny, 11L, input)
        val want = Expected.of(w, tiny, 11L)
        Seq(false, true).zipWithIndex.foreach { case (traced, i) =>
          spark.catalog.clearCache()
          val o = w.run(spark, input, new java.io.File(dir, s"ckpt-$i").getPath,
            new Probe(spark, traced))
          assert(want.mismatches(o).isEmpty, s"${w.name} traced=$traced")
        }
      }
    }
  }

  test("a run reports every metric by name and unit and checks its outputs") {
    Seq(false, true).foreach { traced =>
      val w = Workload.all.head.copy(size = tiny)
      val r = Main.run(w, 5L, seconds = 0.0, traced = traced, cores = 2, tmp("pb-run"))
      assert(r.failed == 0 && r.attempted >= 1, r.problems)
      val want = if (traced) Metrics.perLayer else Metrics.endToEnd
      assert(r.metrics.map(m => m._1 -> m._3) == want)
      val line = Json.result(r)
      want.foreach { case (n, u) => assert(line.contains(s""""$n": {"value": """), n) }
      assert(line.startsWith("""{"correct": true, "attempted": """))
    }
  }
}
