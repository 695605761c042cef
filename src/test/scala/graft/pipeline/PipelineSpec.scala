package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat"), // near dup
    (3L, "completely different content about spark engines"),
    (4L, "completely different content about spark engines"), // exact dup of 3
    (5L, "unrelated short text")
  ).toDF("id", "text")

  test("exact dedup keeps min id per content group") {
    val out = Dedup.exact(docs, "id", "text").as[(Long, String)].collect().toMap
    assert(out.keySet == Set(0L, 2L, 3L, 5L))
    val groups = Dedup.exactGroups(docs, "id", "text")
      .select("ids").as[Seq[Long]].collect().toSet
    assert(groups == Set(Seq(0L, 1L), Seq(3L, 4L)))
  }

  test("minhash LSH surfaces exact and near duplicates") {
    val cand = Dedup.minhashCandidates(docs, "id", "text",
      shingleK = 4, numHashes = 12, bands = 6)
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((0L, 1L)), s"exact dup pair found: $cand")
    assert(cand.contains((3L, 4L)))
    assert(cand.contains((0L, 2L)) || cand.contains((1L, 2L)),
      s"near dup found: $cand")
  }

  test("ngram jaccard: exact dups = 1.0, near dups in (0,1)") {
    val sims = Dedup.ngramJaccard(docs, "id", "text", n = 2)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(sims((0L, 1L)) == 1.0)
    assert(sims((0L, 2L)) > 0.4 && sims((0L, 2L)) < 1.0)
    assert(!sims.contains((0L, 5L)), "no shared ngram, no pair emitted")
  }

  test("ngram jaccard: prefix-filtered path matches brute force exactly") {
    // small vocab => dense near-dups AND hot grams (the case prefix
    // filtering must survive losslessly); plus gram-less docs
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val rdocs = ((0L until 60L).map { i =>
      val len = 3 + rnd.nextInt(10)
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    } ++ Seq((100L, ""), (101L, "solo"))).toDF("id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      // brute force = the t=0 pair-counting path, thresholded after
      val brute = Dedup.ngramJaccard(rdocs, "id", "text", n = 2)
        .where(col("jaccard") >= t)
        .as[(Long, Long, Double)].collect().toSet
      val pref = Dedup.ngramJaccard(rdocs, "id", "text", n = 2, minJaccard = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref == brute, s"prefix vs brute mismatch at t=$t")
    }
  }

  test("simhash: identical docs have hamming 0, near dups small distance") {
    val cand = Dedup.simhashCandidates(docs, "id", "text", maxHamming = 12)
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(cand((0L, 1L)) == 0)
    assert(cand((3L, 4L)) == 0)
    assert(cand.get((0L, 2L)).forall(_ > 0))
  }

  test("minhash: shingle-less docs (shorter than k chars) never pair") {
    val short = Seq((10L, "abc"), (11L, "xy"), (12L, ""),
      (13L, null.asInstanceOf[String])).toDF("id", "text")
    val cand = Dedup.minhashCandidates(docs.union(short), "id", "text",
      shingleK = 5, numHashes = 12, bands = 6)
      .as[(Long, Long)].collect().toSet
    // without the empty-shingle filter every short doc shares the
    // all-MaxValue signature and they'd all pair with each other
    assert(cand.forall { case (a, b) => a < 10 && b < 10 },
      s"shingle-less docs leaked into candidates: $cand")
  }

  test("dupClusters: transitive closure of pairs, min-id survivor, singletons kept") {
    // chain 1-2, 2-3 (NOT 1-3: near-dup is not transitive) must collapse
    // into ONE cluster; 5-6 a second; 4 and 7 singletons
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val out = Dedup.dupClusters(spark, ids, "doc_id", pairs)
      .as[(Long, Long, Long)].collect()
      .map { case (id, c, s) => id -> ((c, s)) }.toMap
    assert(out == Map(
      1L -> ((1L, 1L)), 2L -> ((1L, 0L)), 3L -> ((1L, 0L)),
      4L -> ((4L, 1L)), 5L -> ((5L, 1L)), 6L -> ((5L, 0L)),
      7L -> ((7L, 1L))), s"clusters: $out")
    // survivors = exactly one per cluster = the kept corpus
    val survivors = out.collect { case (id, (_, 1L)) => id }.toSet
    assert(survivors == Set(1L, 4L, 5L, 7L))
  }

  test("dupClusters fails loudly when maxIters truncates before convergence") {
    // a 6-doc chain has diameter 5; min-label propagation at maxIters=1
    // cannot close it — silent part-propagated labels would mark several
    // chain members survivors, so the closure check must throw instead
    val ids = (1L to 6L).toDF("doc_id")
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("id1", "id2")
    val e = intercept[IllegalArgumentException] {
      Dedup.dupClusters(spark, ids, "doc_id", chain, maxIters = 1).collect()
    }
    assert(e.getMessage.contains("maxIters"), e.getMessage)
    // and with enough supersteps the same chain closes into one cluster
    val ok = Dedup.dupClusters(spark, ids, "doc_id", chain)
      .as[(Long, Long, Long)].collect()
    assert(ok.forall(_._2 == 1L) && ok.count(_._3 == 1L) == 1)
  }

  test("dupClusters releases the persisted pair table when the closure check throws") {
    val ids = (1L to 6L).toDF("doc_id")
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("id1", "id2")
    val before = cachedFrames
    intercept[IllegalArgumentException] {
      Dedup.dupClusters(spark, ids, "doc_id", chain, maxIters = 1)
    }
    assert(chain.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "pair table still cached after the failed closure check")
    assert(cachedFrames == before, s"cached frames: $before -> $cachedFrames")
  }

  test("simhash planted hamming-8 pair: derived 9-block pigeonhole finds it, 4 blocks miss") {
    // 8 differing bits placed so EVERY 16-bit quarter differs (a 4-block
    // scheme guarantees recall only to hamming 3 and misses this pair)
    // while block 7 of the derived 9-block layout ([50,57)) is untouched
    val mask = Seq(0, 9, 17, 25, 33, 41, 49, 57).map(1L << _).reduce(_ | _)
    val fp1 = 0x0123456789ABCDEFL
    val fps = Seq((1L, fp1), (2L, fp1 ^ mask)).toDF("id", "fp")
    val auto = Dedup.simhashCandidatesFp(fps, maxHamming = 8)
      .as[(Long, Long, Int)].collect().toSeq
    assert(auto == Seq((1L, 2L, 8)), s"complete recall at radius 8: $auto")
    val four = Dedup.simhashCandidatesFp(fps, maxHamming = 8, numBlocks = 4)
      .as[(Long, Long, Int)].collect()
    assert(four.isEmpty,
      "explicit 4-block (16-bit) blocking guarantees only hamming <= 3")
  }

  test("windowed minhash signature is bit-identical to the shingle-array form") {
    // reference = the previous implementation: hash each DISTINCT shingle
    // string (substring semantics: k CODE POINTS per shingle), then the
    // same splitmix remix chain per hash index
    val k = 12
    val refUdf = udf { (shingles: Seq[String]) =>
      val mins = Array.fill(k)(Long.MaxValue)
      if (shingles != null) shingles.foreach { s =>
        var h = 1125899906842597L
        var j = 0
        while (j < s.length) { h = h * 1000003L + s.charAt(j).toLong; j += 1 }
        h = graft.ingest.Pages.mix(h)
        var i = 0
        while (i < k) {
          val hi = graft.ingest.Pages.mix(h ^ (i.toLong * 0x9E3779B97F4A7C15L))
          if (hi < mins(i)) mins(i) = hi
          i += 1
        }
      }
      mins.toSeq
    }
    val rnd = new scala.util.Random(11)
    val emoji = Array("😀", "🤖", "🚀") // non-BMP
    val cases = Seq("", "a", "abcd", "abcde", "aaaaaaaaaaaaaaaa",
        "ab😀cd", "😀🤖🚀ab",
        null.asInstanceOf[String]) ++
      (0 until 40).map { i =>
        val len = rnd.nextInt(60)
        (0 until len).map { _ =>
          if (rnd.nextInt(10) == 0) emoji(rnd.nextInt(3))
          else ('a' + rnd.nextInt(6)).toChar.toString // small alphabet => dup windows
        }.mkString
      }
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    for (kk <- Seq(3, 5)) {
      val got = df.select($"id",
          Dedup.minhashSignature($"text", kk, k).as("sig"))
        .as[(Long, Seq[Long])].collect().toMap
      val want = df.select($"id",
          refUdf(graft.text.TextAnalysis.shingles($"text", kk)).as("sig"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(got == want, s"windowed vs shingle-array signature diverged at k=$kk")
    }
  }

  test("simhash radius >= 64 fails loudly (no blocking scheme covers it)") {
    val fps = Seq((1L, 0L), (2L, -1L)).toDF("id", "fp")
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashCandidatesFp(fps, maxHamming = 64)
    }
    assert(e.getMessage.contains("0..63"), e.getMessage)
  }

  test("minhash signature survives the capped dedup table (giant doc)") {
    // > maxFill (3/4 of the clamped 2^22-slot table ≈ 3.1M) DISTINCT
    // windows, so insertion stops mid-document and later windows are
    // re-minimized without dedup — the signature must equal the
    // shingle-set reference regardless (re-mixing a seen hash is a no-op
    // for minima). Text is a base-26 counter: every 5-char window at a
    // stride-5 boundary is distinct, and windows overlapping two counter
    // cells repeat rarely; 3.4M windows total.
    val k = 4
    val cells = 680000
    val sb = new java.lang.StringBuilder(cells * 5)
    var i = 0
    while (i < cells) {
      var x = i; var j = 0
      val cell = new Array[Char](5)
      while (j < 5) { cell(4 - j) = ('a' + x % 26).toChar; x /= 26; j += 1 }
      sb.append(cell); i += 1
    }
    val text = sb.toString
    val df = Seq((1L, text)).toDF("id", "text")
    val got = df.select(Dedup.minhashSignature($"text", 5, k))
      .as[Seq[Long]].head()
    // reference: minima over the DISTINCT window hashes, computed directly
    val distinctHashes = new scala.collection.mutable.HashSet[Long]
    var w = 0
    while (w + 5 <= text.length) {
      var h = 1125899906842597L
      var j = w
      while (j < w + 5) { h = h * 1000003L + text.charAt(j).toLong; j += 1 }
      distinctHashes += graft.ingest.Pages.mix(h)
      w += 1
    }
    val want = (0 until k).map { idx =>
      var m = Long.MaxValue
      distinctHashes.foreach { h =>
        val hi = graft.ingest.Pages.mix(h ^ (idx.toLong * 0x9E3779B97F4A7C15L))
        if (hi < m) m = hi
      }
      m
    }
    assert(got == want, "capped-table signature diverged from reference")
  }

  test("signatures are deterministic across partitionings") {
    val s1 = docs.repartition(1)
      .select($"id", Dedup.simhash($"text")).as[(Long, Long)].collect().toMap
    val s7 = docs.repartition(7)
      .select($"id", Dedup.simhash($"text")).as[(Long, Long)].collect().toMap
    assert(s1 == s7)
  }
}

class AnnSpec extends SparkSpec {
  import spark.implicits._

  // orthogonal-ish clusters in 4d
  val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Seq(0.0f, 0.9f, 0.1f, 0.0f)),
    (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
    (5L, Seq(0.0f, 0.0f, 0.9f, 0.1f))
  ).toDF("id", "vec")

  test("brute-force top-1 finds the cluster partner") {
    val top1 = Ann.bruteForceTopK(vecs, vecs, 1)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    assert(top1(0L) == 1L && top1(1L) == 0L)
    assert(top1(2L) == 3L && top1(3L) == 2L)
    assert(top1(4L) == 5L && top1(5L) == 4L)
  }

  test("cosine of identical vectors is 1") {
    val sims = vecs.as("a").crossJoin(vecs.as("b"))
      .where($"a.id" === $"b.id")
      .select(Ann.cosine($"a.vec", $"b.vec")).as[Double].collect()
    sims.foreach(s => assert(math.abs(s - 1.0) < 1e-6))
  }

  test("LSH buckets group same-direction vectors; topK subset of brute force") {
    val lsh = Ann.lshTopK(vecs, k = 1, numPlanes = 4, numTables = 3)
      .select("qid", "cid", "sim").as[(Long, Long, Double)].collect()
    // whatever LSH returns must score identically to brute force
    val brute = Ann.bruteForceTopK(vecs, vecs, 5)
      .select("qid", "cid", "sim").as[(Long, Long, Double)].collect()
      .map { case (q, c, s) => (q, c) -> s }.toMap
    lsh.foreach { case (q, c, s) =>
      assert(math.abs(brute((q, c)) - s) < 1e-9)
    }
  }

  test("brute force fails loudly over the driver-collect ceiling") {
    // the exact baseline's "corpus fits on one node" contract is enforced,
    // not assumed: a misrouted big corpus errors with the lshTopK pointer
    // instead of OOMing the driver
    val ex = intercept[IllegalArgumentException] {
      Ann.bruteForceTopK(vecs, vecs, 1, collectCeiling = 3L).collect()
    }
    assert(ex.getMessage.contains("lshTopK"))
  }

  test("LSH candidate dedup never carries embedding vectors in shuffle keys") {
    // the pair dedup must aggregate on bare (qid, cid); the vectors join
    // back after — no 768-d arrays inside a distinct/sort key at scale
    val plan = Ann.lshTopK(vecs, k = 1, numPlanes = 4, numTables = 3)
      .queryExecution.executedPlan.toString
    val aggKeyLines = plan.linesIterator
      .filter(l => l.contains("HashAggregate") && l.contains("keys=")).toSeq
    assert(aggKeyLines.nonEmpty, "expected a pair-dedup aggregate")
    aggKeyLines.foreach { l =>
      assert(!l.contains("vec") && !l.contains("qv") && !l.contains("cv"),
        s"vector column in an aggregate key: $l")
    }
  }

  test("cosine near-dups finds the planted close pairs") {
    val pairs = Ann.cosineNearDups(vecs, threshold = 0.95, numPlanes = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // at least one of the three planted near-pairs must share a bucket
    assert(pairs.nonEmpty)
    assert(pairs.subsetOf(Set((0L, 1L), (2L, 3L), (4L, 5L))),
      s"only genuinely close pairs pass the exact filter: $pairs")
  }

  test("cosine near-dups bucket self-join carries bare ids, not vectors") {
    // the 768-d rule: embeddings are re-attached AFTER the pair set forms,
    // so the bucket-keyed self-join's inputs must be vector-free
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = Ann.cosineNearDups(vecs, threshold = 0.9, numPlanes = 4)
      .queryExecution.optimizedPlan
    val bucketJoins = lp.collect {
      case j: Join if j.condition.exists(_.references.exists(
        _.name.contains("bucket"))) => j
    }
    assert(bucketJoins.nonEmpty, "expected the bucket self-join")
    bucketJoins.foreach { j =>
      j.children.foreach { c =>
        assert(!c.output.exists(a => a.name == "vec" || a.name.startsWith("v1")
            || a.name.startsWith("v2")),
          s"vector column feeds the bucket self-join: ${c.output.map(_.name)}")
      }
    }
  }

  test("hot-bucket cap bounds degenerate buckets, leaves small ones intact") {
    // 30 identical vectors = one degenerate bucket in every table; 2 close
    // vectors in an orthogonal direction = a small legitimate bucket
    val dense = (0L until 30L).map(i => (i, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
    val small = Seq((100L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (101L, Seq(0.0f, 0.9f, 0.1f, 0.0f)))
    val data = (dense ++ small).toDF("id", "vec")

    val capped = Ann.lshTopK(data, k = 5, numPlanes = 4, numTables = 2,
      maxBucketSize = 10).select("qid", "cid").as[(Long, Long)].collect()
    // the dense bucket (30 > 10) is dropped: no pairs among ids 0-29
    assert(!capped.exists { case (q, c) => q < 30L && c < 30L },
      s"dense-bucket pairs must be dropped: ${capped.mkString(",")}")
    // the small bucket (2 ≤ 10) survives
    assert(capped.contains((100L, 101L)) && capped.contains((101L, 100L)),
      s"small bucket must survive the cap: ${capped.mkString(",")}")
    // cap off: the dense bucket's quadratic pair set is present
    val uncapped = Ann.lshTopK(data, k = 5, numPlanes = 4, numTables = 2)
      .select("qid", "cid").as[(Long, Long)].collect()
    assert(uncapped.exists { case (q, c) => q < 30L && c < 30L })

    // same knob on the near-dup path
    val nd = Ann.cosineNearDups(data, threshold = 0.95, numPlanes = 4,
      maxBucketSize = 10).select("id1", "id2").as[(Long, Long)].collect()
    assert(!nd.exists { case (a, b) => a < 30L && b < 30L })
    assert(nd.contains((100L, 101L)))
  }

  test("IVF top-1 finds cluster partners at nprobe < nlist") {
    // centroids = ids 0..2 (smallest-id rule). Cells: cent0 = {0,4,5} (4,5
    // are orthogonal to every centroid — all-zero sims tie-break to the
    // lowest centroid id), cent1 = {1}, cent2 = {2,3}. nprobe = 2 reaches
    // each id's true partner across the cell split.
    val top1 = Ann.ivfTopK(vecs, k = 1, nlist = 3, nprobe = 2)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    assert(top1 == Map(0L -> 1L, 1L -> 0L, 2L -> 3L, 3L -> 2L,
      4L -> 5L, 5L -> 4L), s"got $top1")
  }

  test("IVF with nprobe = nlist is exhaustive: equals brute force exactly") {
    val ivf = Ann.ivfTopK(vecs, k = 2, nlist = 3, nprobe = 3)
      .select("qid", "cid", "rank").as[(Long, Long, Int)].collect().toSet
    val brute = Ann.bruteForceTopK(vecs, vecs, 2)
      .select("qid", "cid", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivf == brute, s"ivf $ivf vs brute $brute")
  }

  test("IVF guardrails: bad nprobe and an over-ceiling nlist fail loudly") {
    intercept[IllegalArgumentException] {
      Ann.ivfTopK(vecs, k = 1, nlist = 2, nprobe = 3)
    }
    val ex = intercept[IllegalArgumentException] {
      Ann.ivfTopK(vecs, k = 1, nlist = 10, nprobe = 1, centroidCeiling = 4)
    }
    assert(ex.getMessage.contains("ceiling"))
  }

  test("IVF cell join carries bare ids, not vectors; results are partitioning-invariant") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = Ann.ivfTopK(vecs, k = 1, nlist = 3, nprobe = 2)
    val cellJoins = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.exists(_.references.exists(
        _.name.contains("list"))) => j
    }
    assert(cellJoins.nonEmpty, "expected the probe-cell equi-join")
    cellJoins.foreach { j =>
      j.children.foreach { c =>
        assert(!c.output.exists(a => a.name == "vec" || a.name == "qv"
            || a.name == "cv"),
          s"vector column feeds the cell join: ${c.output.map(_.name)}")
      }
    }
    val r1 = Ann.ivfTopK(vecs.repartition(1), k = 1, nlist = 3, nprobe = 2)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    val r7 = Ann.ivfTopK(vecs.repartition(7), k = 1, nlist = 3, nprobe = 2)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    assert(r1 == r7)
  }

  test("IVF hot-cell cap drops the degenerate cell, keeps small ones") {
    // centroids = ids 0 (x-direction) and 1 (y-direction). The 30 identical
    // x-direction vectors pile into cell 0 (31 members with id 0 itself);
    // the y-direction pair {1, 100} forms a small legitimate cell.
    // maxListSize = 10 drops the dense cell's quadratic pair set but keeps
    // the small cell intact.
    val dense = (10L until 40L).map(i => (i, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
    val seedsAndSmall = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (100L, Seq(0.0f, 0.9f, 0.1f, 0.0f)))
    val data = (seedsAndSmall ++ dense).toDF("id", "vec")
    val capped = Ann.ivfTopK(data, k = 5, nlist = 2, nprobe = 1,
      maxListSize = 10).select("qid", "cid").as[(Long, Long)].collect()
    assert(!capped.exists { case (q, c) =>
        (q >= 10L && q < 40L) && (c >= 10L && c < 40L) },
      s"dense-cell pairs must be dropped: ${capped.take(5).mkString(",")}")
    assert(capped.contains((1L, 100L)) && capped.contains((100L, 1L)),
      s"small cell must survive the cap: ${capped.mkString(",")}")
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  lazy val media = Multimodal.synthesize(spark, 30).cache()

  test("media table schema and determinism") {
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "mime", "payload", "meta_w", "meta_h", "meta_ms"))
    val a = Multimodal.synthesize(spark, 10, 2)
      .select("media_id", "payload").as[(Long, Array[Byte])]
      .collect().map { case (i, p) => (i, p.toSeq) }.toMap
    val b = Multimodal.synthesize(spark, 10, 5)
      .select("media_id", "payload").as[(Long, Array[Byte])]
      .collect().map { case (i, p) => (i, p.toSeq) }.toMap
    assert(a == b)
  }

  test("feature extraction: schema, batch shape, deterministic values") {
    val feats = Multimodal.extractFeatures(media)
    assert(feats.schema == Multimodal.featureSchema)
    val rows = feats
      .as[(Long, String, Int, Option[Int], Option[Int], Seq[Float])].collect()
    assert(rows.length == 30)
    rows.foreach { case (_, _, n, _, _, f) =>
      assert(n > 0 && f.length == 8)
    }
    // image rows decode to the REAL synthesized dimensions; audio/video
    // rows have no dimensions (stub path)
    val meta = media.select("media_id", "mime", "meta_w", "meta_h")
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    rows.foreach { case (id, mime, _, w, h, f) =>
      if (mime == "image/png") {
        assert(w.contains(meta(id)._3) && h.contains(meta(id)._4),
          s"decoded dims $w x $h != synthesized ${meta(id)._3} x ${meta(id)._4}")
        assert(f.forall(v => v >= 0.0f && v <= 1.0f))
      } else assert(w.isEmpty && h.isEmpty)
    }
    // deterministic: same media id -> same feature under any partitioning
    val again = Multimodal.extractFeatures(media.repartition(13))
      .as[(Long, String, Int, Option[Int], Option[Int], Seq[Float])].collect()
      .map(r => r._1 -> r._6).toMap
    rows.foreach { case (id, _, _, _, _, f) => assert(again(id) == f) }
  }

  test("image decode is real: fixture PNGs yield exact dimensions and pixel features") {
    // uniform red 3x2: meanR=1, meanG=meanB=0, every luma = 0.299
    val red = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) red.setRGB(x, y, 0xff0000)
    val redBos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(red, "png", redBos)
    val Some((rw, rh, rf)) = Multimodal.decodeImage(redBos.toByteArray)
    assert((rw, rh) == (3, 2))
    val expRed = Seq(1.0f, 0.0f, 0.0f, 0.299f, 0.299f, 0.299f, 0.299f, 0.299f)
    rf.toSeq.zip(expRed).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-6f, s"$got vs $want in ${rf.toSeq}")
    }
    // 2x2 with a single white TL pixel: quadrant features separate
    val q = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    q.setRGB(0, 0, 0xffffff)
    val qBos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(q, "png", qBos)
    val Some((_, _, qf)) = Multimodal.decodeImage(qBos.toByteArray)
    val expQ = Seq(0.25f, 0.25f, 0.25f, 0.25f, 1.0f, 0.0f, 0.0f, 0.0f)
    qf.toSeq.zip(expQ).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-6f, s"$got vs $want in ${qf.toSeq}")
    }
    // non-image bytes refuse to decode (no exception, stub path downstream)
    assert(Multimodal.decodeImage(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
  }

  test("frame sampling is a generator over payload blocks") {
    val frames = Multimodal.sampleFrames(media, stride = 2)
    val counts = frames.groupBy("media_id").count()
      .as[(Long, Long)].collect().toMap
    counts.foreach { case (_, c) => assert(c >= 1) }
    assert(frames.columns.toSeq == Seq("media_id", "frame_idx", "frame_bytes"))
  }
}
