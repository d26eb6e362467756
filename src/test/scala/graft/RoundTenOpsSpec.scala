package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-10 batch — properties the DuckDB
  * hash gate cannot see. Headliners: incremental dedup must equal the
  * whole-corpus pair set restricted to batch-touching pairs (the
  * split-invariance that makes a frozen history index sound), and the
  * k-means loop must genuinely reach its movement fixpoint inside the
  * round cap (otherwise "converge" is just "iterate").
  */
class RoundTenOpsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.sf

  test("dedup_incremental equals the whole-corpus minhash pairs restricted to batch docs") {
    // signatures are content-determined, so the history/batch split must
    // not change WHICH pairs verify — only which are reported. Rebuild
    // the restriction from dedup_minhash's output and compare exactly.
    val isBatch = (id: Long) => {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"incr|$id".getBytes("UTF-8"))
      f"${md(0)}%02x" < "40"
    }
    val full = SparkEntry.queries("dedup_minhash")(s, dir)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.flatMap { case (a, b, j) =>
      (isBatch(a), isBatch(b)) match {
        case (true, true)   => Some((a, b, j, "batch"))
        case (true, false)  => Some((a, b, j, "history"))
        case (false, true)  => Some((b, a, j, "history"))
        case (false, false) => None
      }
    }.toSet
    val got = SparkEntry.queries("dedup_incremental")(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
      .toSet
    assert(got == expected,
      s"incremental drifted from the restricted full-corpus set: " +
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    assert(expected.nonEmpty, "vacuous restriction — no batch-touching pairs at this sf")
  }

  test("dedup_incremental: every reported pair leads with a genuine batch doc") {
    val rows = SparkEntry.queries("dedup_incremental")(s, dir).collect()
    val md = (id: Long) => java.security.MessageDigest.getInstance("MD5")
      .digest(s"incr|$id".getBytes("UTF-8"))
    rows.foreach { r =>
      val (bd, mdoc, src) = (r.getLong(0), r.getLong(1), r.getString(3))
      assert(f"${md(bd)(0)}%02x" < "40", s"batch_doc $bd is not a batch doc")
      val matchIsBatch = f"${md(mdoc)(0)}%02x" < "40"
      assert(matchIsBatch == (src == "batch"),
        s"match_src $src disagrees with the split for match_doc $mdoc")
    }
  }

  test("emb_kmeans_converge stops at the movement threshold inside the 6-round cap") {
    val res = operators.Sim.kmeansConvergeDetail(s, dir)
    val (out, stopRound, met) = (res.state, res.rounds, res.converged)
    assert(met,
      s"movement never fell to 2% within $stopRound rounds — the threshold " +
        "stopping rule degenerated to the cap on this corpus")
    assert(stopRound <= 6)
    // the reported stop_round column must agree with the loop observable
    val reported = out.select("stop_round").distinct().collect().map(_.getLong(0))
    assert(reported.toSeq == Seq(stopRound.toLong))
    // centroid-count invariance: Lloyd may empty a cell in general, but
    // on this corpus the 10 label-seeded cells must all survive — a
    // collapse would silently change the index geometry every ANN query
    // shares (the rejected collapsing-Lloyd quantizer, BASELINE.md r9)
    val cells = out.select("cell_first").distinct().count()
    val finalCells = out.select("cell_final").distinct().count()
    assert(cells == finalCells,
      s"centroid count drifted: $cells initial cells, $finalCells after convergence")
  }

  test("emb_centroid_drift flags exactly the injected label-0 encoder bias") {
    val rows = SparkEntry.queries("emb_centroid_drift")(s, dir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (label, t, drifted) = (r.getInt(0), r.getDouble(4), r.getBoolean(5))
      assert(drifted == (label == 0),
        s"label $label t_stat=$t drifted=$drifted — expected only label 0 to flag")
      // the location statistic is scale-normalized: null T ≈ 1 whatever n
      if (label != 0) assert(t > 0.0 && t < 4.0, s"null label $label t_stat=$t")
      else assert(t > 10.0, s"injected drift t_stat=$t lacks margin")
    }
  }

  test("graph_truss_support histogram is conservative: edges sum to m, supports sum to 3 triangles") {
    val hist = SparkEntry.queries("graph_truss_support")(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val tri = SparkEntry.queries("graph_triangles")(s, dir).head()
    val (m, t) = (tri.getLong(1), tri.getLong(2))
    assert(hist.map(_._2).sum == m,
      s"histogram covers ${hist.map(_._2).sum} edges, graph has $m")
    assert(hist.map { case (sup, n) => sup * n }.sum == 3 * t,
      "per-edge supports must total 3 per triangle")
  }

  test("sim_ivfpq_residual_recall: residual ADC is near-lossless against its coarse-probe ceiling") {
    // the IVF coarse stage caps recall (same nprobe=3 cells); the PQ
    // stage may only lose what compression costs. The round-10 probe
    // showed the RAW codebook losing (0.40 → 0.125 at sf0.1); the
    // residual+trained+reorder path must stay within one hit of the
    // ceiling per query on this corpus.
    val ceil = SparkEntry.queries("sim_ivf_recall")(s, dir)
      .select("q_id", "n_hit").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("sim_ivfpq_residual_recall")(s, dir)
      .select("q_id", "n_hit").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (q, hits) =>
      assert(hits >= ceil(q) - 1,
        s"query $q: residual ADC found $hits of the coarse ceiling ${ceil(q)}")
    }
  }

  test("emb_kmeans_converge: the fixpoint is stable (a re-run of the loop lands on the same assignment)") {
    val a = SparkEntry.queries("emb_kmeans_converge")(s, dir)
      .select("vec_id", "cell_final").collect().map(_.toString).toSeq
    val b = SparkEntry.queries("emb_kmeans_converge")(s, dir)
      .select("vec_id", "cell_final").collect().map(_.toString).toSeq
    assert(a == b)
  }

  // --------------------------------------------- round-10 continuation batch

  private def md5p(sv: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(sv.getBytes("UTF-8"))
    f"${md(0)}%02x"
  }
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def dot64(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0; while (i < 64) { acc += a(i) * b(i); i += 1 }; acc
  }
  private def nrm64(a: Array[Double]): Double = math.sqrt(dot64(a, a))
  private def loadVecs(d: String): Array[(Long, Array[Double], Int)] =
    s.read.parquet(d + "/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v", "cast(label as int) as label")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))

  test("sim_ivf_incremental matches an in-memory replay of the frozen-index probe") {
    // since round 12 the frozen index is the ⌊√n_hist⌋-cell quantizer:
    // the replay runs the full hash-seeded integer-exact 2-round Lloyd
    // on history, probes the final centroids with the quantized batch,
    // and scores history per its final assignment — independent of
    // both the Spark DSL and the DuckDB oracle. Since round 13 the
    // serving path scores candidates by residual ADC and only exact
    // re-ranks the top-64 ADC survivors; the cut BINDS at this sf for
    // query 301 (its 3 probed cells hold > 64 vectors and ADC drops
    // its exact-top-1 — ANN semantics, recall pinned elsewhere), so
    // the replay carries the identical codebook → codes → LUT → top-64
    // stage before the exact re-rank.
    val vecs = loadVecs(dir)
    val isBatch = (id: Long) => md5p(s"incrv|$id") < "40"
    val hist = vecs.filter(t => !isBatch(t._1))
    val batch = vecs.filter(t => isBatch(t._1))
    val nc = math.max(2L, math.floor(math.sqrt(hist.length.toDouble)).toLong)
    def quant(v: Array[Double]): Array[Double] = v.map(t =>
      BigDecimal(t * 1048576.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble)
    def seed(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ivfs|$id".getBytes("UTF-8"))
      val hex = md.map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % nc
    }
    val hx = hist.map { case (id, v, _) => (id, quant(v)) }
    def cellsOf(asn: Map[Long, Long]): Array[(Long, Array[Double], Double)] =
      hx.groupBy { case (id, _) => asn(id) }.map { case (c, vs) =>
        val cv = Array.tabulate(64)(i => vs.map(_._2(i)).sum)
        (c, cv, nrm64(cv))
      }.filter(_._3 > 0).toArray
    def assign(cents: Array[(Long, Array[Double], Double)]): Map[Long, Long] =
      hx.map { case (id, x) =>
        val xn = nrm64(x)
        id -> cents.map { case (c, cv, cn) => (c, dot64(x, cv) / (xn * cn)) }
          .sortBy { case (c, cc) => (-cc, c) }.head._1
      }.toMap
    val a0 = hx.map { case (id, _) => id -> seed(id) }.toMap
    val a2 = assign(cellsOf(assign(cellsOf(a0))))
    val c3 = cellsOf(a2)
    // ADC stage replay: cell directions, 16 anchor residuals folded per
    // cell, per-vector codes (argmin squared L2 per subspace, ties to
    // the lowest code), per-(query, cell) LUT, top-64 by (adc_sim,
    // vec_id) — all folds in the same order the Spark plan evaluates
    def dot8(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0; while (i < 8) { acc += a(i) * b(i); i += 1 }; acc
    }
    val uMap: Map[Long, Array[Double]] =
      c3.map { case (c, cv, cn) => c -> cv.map(_ / cn) }.toMap
    val anchors: Array[(Int, Array[Double])] =
      hist.sortBy(_._1).take(16).zipWithIndex.map { case ((id, v, _), code) =>
        val u = uMap(a2(id))
        (code, Array.tabulate(64)(i => v(i) - u(i)))
      }
    val cw: Map[(Long, Int, Int), (Array[Double], Double)] =
      (for {
        (c, u) <- uMap.toSeq
        sub <- 0 until 8
        (code, r) <- anchors
      } yield {
        val w = Array.tabulate(8)(j => u(sub * 8 + j) + r(sub * 8 + j))
        ((c, sub, code), (w, dot8(w, w)))
      }).toMap
    val hcodes: Map[Long, (Array[Int], Double)] = hist.map { case (hid, hv, _) =>
      val c = a2(hid)
      val perSub = Array.tabulate(8) { sub =>
        anchors.map { case (code, _) =>
          val w = cw((c, sub, code))._1
          var d2 = 0.0; var j = 0
          while (j < 8) { val d = hv(sub * 8 + j) - w(j); d2 += d * d; j += 1 }
          (d2, code)
        }.minBy { case (d2, code) => (d2, code) }._2
      }
      var recn2 = 0.0; var sub = 0
      while (sub < 8) { recn2 += cw((c, sub, perSub(sub)))._2; sub += 1 }
      hid -> (perSub, recn2)
    }.toMap
    var bindingQueries = 0
    def replay(adcLeg: Boolean) = batch.flatMap { case (qid, qv, _) =>
      val (qx, qn) = (quant(qv), nrm64(qv))
      val qxn = nrm64(quant(qv))
      val ranked = c3.map { case (c, cv, cn) => (c, dot64(qx, cv) / (qxn * cn)) }
        .sortBy { case (c, cc) => (-cc, c) }
      val probed = ranked.take(3).map(_._1).toSet
      val assigned = ranked.head._1
      val cands = hist.filter(h => probed.contains(a2(h._1)))
      if (adcLeg && cands.length > 64) bindingQueries += 1
      val survivors = (if (adcLeg) cands.map { case (hid, _, _) =>
          val c = a2(hid)
          val (codes, recn2) = hcodes(hid)
          var adot = 0.0; var sub = 0
          while (sub < 8) {
            val w = cw((c, sub, codes(sub)))._1
            var pd = 0.0; var j = 0
            while (j < 8) { pd += qv(sub * 8 + j) * w(j); j += 1 }
            adot += pd; sub += 1
          }
          (hid, r6(adot / (qn * math.sqrt(recn2))))
        } else cands.map { case (hid, hv, _) =>
          (hid, r6(dot64(qv, hv) / (qn * nrm64(hv))))
        }).sortBy { case (hid, sc) => (-sc, hid) }.take(64).map(_._1).toSet
      cands.filter(h => survivors.contains(h._1))
        .map { case (hid, hv, _) => (hid, r6(dot64(qv, hv) / (qn * nrm64(hv)))) }
        .sortBy { case (hid, cs) => (-cs, hid) }
        .take(3).zipWithIndex
        .map { case ((hid, cs), i) => (qid, assigned, i + 1, hid, cs, nc) }
    }.toSet
    // the stats planner's decision input, replayed: total candidate
    // pairs over all probed cells (the corpus is duplicate-free at this
    // sf, so vector grain equals the engine's rep grain)
    val pairCount = batch.map { case (_, qv, _) =>
      val qx = quant(qv); val qxn = nrm64(qx)
      val probed = c3.map { case (c, cv, cn) => (c, dot64(qx, cv) / (qxn * cn)) }
        .sortBy { case (c, cc) => (-cc, c) }.take(3).map(_._1).toSet
      hist.count(h => probed.contains(a2(h._1))).toLong
    }.sum
    val plannerAdc = pairCount > operators.Sim.AdcPairCut
    assert(!plannerAdc,
      s"gate-sf candidate volume $pairCount crossed the ADC cut — the " +
        "planner pin below assumes the exact leg at this sf")
    def collected(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
      .toSet
    // the SHIPPED query follows the planner's choice
    val expected = replay(plannerAdc)
    val got = collected(SparkEntry.queries("sim_ivf_incremental")(s, dir))
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    assert(expected.nonEmpty, "vacuous: no batch vectors at this sf")
    // and the ADC leg stays pinned against its replay via the forced
    // leg — the planner must not turn the ADC machinery into dead code
    val expectedAdc = replay(adcLeg = true)
    val gotAdc = collected(operators.Sim.ivfIncrementalWith(s, dir, Some(true)))
    assert(gotAdc == expectedAdc,
      s"ADC leg: missing=${(expectedAdc -- gotAdc).take(3)} extra=${(gotAdc -- expectedAdc).take(3)}")
    assert(bindingQueries > 0,
      "vacuous: the ADC top-64 cut no longer binds for any query at " +
        "this sf — the replay's ADC stage is untested dead weight")
  }

  test("sim_ivf_incremental: neighbors come from history only, queries from the batch only") {
    val rows = SparkEntry.queries("sim_ivf_incremental")(s, dir).collect()
    rows.foreach { r =>
      assert(md5p(s"incrv|${r.getLong(0)}") < "40", s"q_id ${r.getLong(0)} not a batch vector")
      assert(md5p(s"incrv|${r.getLong(3)}") >= "40", s"cand ${r.getLong(3)} not a history vector")
    }
  }

  test("text_lm_ppl_filter matches an in-memory replay (history LM, exact thirds)") {
    val docs = s.read.parquet(dir + "/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val isBatch = (id: Long) => md5p(s"incr|$id") < "40"
    def toks(t: String) = t.split(' ').filter(_.nonEmpty)
    val histToks = docs.filter(d => !isBatch(d._1)).flatMap(d => toks(d._2))
    val cw = histToks.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val n = histToks.length.toLong
    val v = cw.size.toLong
    val scored = docs.filter(d => isBatch(d._1)).map { case (id, t) =>
      val tf = toks(t).groupBy(identity).map { case (k, g) => k -> g.length.toLong }
      val ntok = tf.values.sum
      val sx = tf.map { case (tok, cnt) =>
        BigDecimal(-cnt * math.log((cw.getOrElse(tok, 0L) + 1).toDouble / (n + v)))
          .setScale(18, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      (id, ntok, sx.toDouble / ntok)
    }.sortBy { case (id, _, x) => (x, id) }
    val nd = scored.length
    val expected = scored.zipWithIndex.map { case ((id, ntok, x), i) =>
      val rr = i + 1L
      val bucket = if (rr * 3 <= nd) "head" else if (rr * 3 <= nd * 2L) "middle" else "tail"
      (id, ntok, r6(math.exp(x)), bucket)
    }.toSet
    val got = SparkEntry.queries("text_lm_ppl_filter")(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    val counts = got.toSeq.groupBy(_._4).map { case (k, g) => k -> g.size }
    Seq("head", "middle", "tail").foreach { b =>
      assert(math.abs(counts.getOrElse(b, 0) - nd / 3.0) <= 1.0,
        s"bucket $b drifted from a third: $counts of $nd")
    }
  }

  test("dedup_semantic matches the SemDeDup keep-order EXISTS rule (in-memory replay)") {
    val cells = SparkEntry.queries("emb_kmeans_converge")(s, dir)
      .selectExpr("vec_id", "cast(cell_final as int) as cell", "cos_final").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val vmap = loadVecs(dir).map(t => t._1 -> t._2).toMap
    val groups = cells.groupBy { case (id, cell, _) => (cell, vmap(id).toSeq) }
      .map { case ((cell, vseq), members) =>
        (cell, vseq.toArray, members.map(_._1).min, members.head._3, members.map(_._1))
      }.toArray
    val byCell = groups.groupBy(_._1)
    val expected = groups.flatMap { case (cell, va, rep, cc, mems) =>
      val nBefore = byCell(cell).count { case (_, vb, repB, ccB, _) =>
        repB != rep && (ccB < cc || (ccB == cc && repB < rep)) &&
          r6(dot64(va, vb) / (nrm64(va) * nrm64(vb))) >= 0.4
      }.toLong
      mems.map { id =>
        if (id == rep) (id, cell, cc, nBefore, nBefore > 0)
        else (id, cell, cc, nBefore + 1, true)
      }
    }.toSet
    val got = SparkEntry.queries("dedup_semantic")(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    assert(got.exists(_._5) && got.exists(!_._5),
      "vacuous: the corpus must yield both pruned and kept vectors")
  }

  test("dedup_semantic prunes identical-vector twins through the collapse path (synthetic corpus)") {
    val tmp = java.nio.file.Files.createTempDirectory("semdup").toString
    val rnd = new scala.util.Random(7)
    val base = (0 until 12).map { i =>
      (i.toLong, Seq.fill(64)((rnd.nextDouble() - 0.5).toFloat), i % 2)
    }
    val twins = base.take(5).map { case (id, vv, l) => (id + 100L, vv, l) }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.{Row, types => T}
    val schema = T.StructType(Seq(
      T.StructField("vec_id", T.LongType),
      T.StructField("embedding", T.ArrayType(T.FloatType)),
      T.StructField("label", T.IntegerType)))
    val df = s.createDataFrame(
      (base ++ twins).map(t => Row(t._1, t._2, t._3)).asJava, schema)
    df.write.mode("overwrite").parquet(tmp + "/embeddings.parquet")
    val out = SparkEntry.queries("dedup_semantic")(s, tmp).collect()
      .map(r => (r.getLong(0), r.getBoolean(4))).toMap
    assert(out.size == 17)
    (0 until 5).foreach { i =>
      assert(out(i + 100L), s"identical twin of vector $i was not pruned")
    }
  }

  test("graph_betweenness_sample equals exact radius-3 Brandes (in-memory replay)") {
    val li = s.read.parquet(dir + "/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = (edges.toSeq ++ edges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).toArray }
    val srcs = adj.keySet.filter(_ % 97 == 0).toSeq.sorted.take(4)
    val bc = collection.mutable.Map[Long, BigDecimal]().withDefaultValue(BigDecimal(0))
    for (src <- srcs) {
      val dist = collection.mutable.Map[Long, Int](src -> 0)
      val sigma = collection.mutable.Map[Long, Long](src -> 1L)
      var frontier = Seq(src)
      for (h <- 1 to 3) {
        val cand = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
        frontier.foreach { u =>
          adj(u).foreach { w => if (!dist.contains(w)) cand(w) += sigma(u) }
        }
        cand.foreach { case (w, sg) => dist(w) = h; sigma(w) = sg }
        frontier = cand.keys.toSeq
      }
      val delta = collection.mutable.Map[Long, BigDecimal]().withDefaultValue(BigDecimal(0))
      for (h <- 2 to 1 by -1) {
        dist.filter(_._2 == h).keys.foreach { v0 =>
          var acc = BigDecimal(0)
          adj(v0).foreach { w =>
            if (dist.get(w).contains(h + 1)) {
              val term = (sigma(v0).toDouble / sigma(w)) * (1 + delta(w).toDouble)
              acc += BigDecimal(term).setScale(18, BigDecimal.RoundingMode.HALF_UP)
            }
          }
          delta(v0) = acc
        }
      }
      dist.foreach { case (v0, d0) => if (d0 >= 1 && d0 <= 2) bc(v0) += delta(v0) }
    }
    val expected = bc.toMap.filter(_._2 > 0)
      .map { case (v0, b) => (v0, r6(b.toDouble)) }
    val got = SparkEntry.queries("graph_betweenness_sample")(s, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == expected,
      s"missing=${(expected.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- expected.keySet).take(3)} " +
        s"diff=${expected.collect { case (k, e) if got.get(k).exists(_ != e) => (k, e, got(k)) }.take(3)}")
    assert(got.nonEmpty, "vacuous: no positive betweenness at this sf")
  }

  private def holtReplay(rows: Seq[(java.sql.Date, Long)])
      : (Seq[(java.sql.Date, Long, Long, Long)], Boolean) = {
    def tdiv(x: Long, d: Long): Long = if (x >= 0) x / d else -((-x) / d)
    val sorted = rows.sortBy(_._1.getTime)
    var l = 0L; var b = 0L; var init = false; var sawNeg = false
    val out = collection.mutable.ArrayBuffer[(java.sql.Date, Long, Long, Long)]()
    sorted.foreach { case (d, y) =>
      if (!init) { l = y * 64; b = 0; init = true }
      else {
        val f = l + b
        out += ((d, y, f, math.abs(y * 64 - f)))
        val t1 = y * 64 + l + b
        val lp = tdiv(t1, 2)
        val t2 = lp - l + 3 * b
        if (t1 < 0 || t2 < 0) sawNeg = true
        l = lp; b = tdiv(t2, 4)
      }
    }
    (out.toSeq, sawNeg)
  }

  test("ts_holt_linear matches the in-memory dyadic fold on the real series") {
    val daily = Tables(s, dir, "events")
      .selectExpr("cast(date_trunc('day', ts) as date) as d").groupBy("d").count()
      .collect().map(r => (r.getDate(0), r.getLong(1))).toSeq
    val (expected, _) = holtReplay(daily)
    val got = SparkEntry.queries("ts_holt_linear")(s, dir).collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("text_ngram_novelty matches an in-memory replay of the frozen-vocabulary join") {
    val docs = s.read.parquet(dir + "/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val isBatch = (id: Long) => md5p(s"incr|$id") < "40"
    def grams(t: String): Seq[String] = {
      val tk = t.split(' ').filter(_.nonEmpty)
      if (tk.length < 3) Seq.empty
      else (0 until tk.length - 2).map(i => s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}")
    }
    val hist = docs.filter(d => !isBatch(d._1)).flatMap(d => grams(d._2)).toSet
    val expected = docs.filter(d => isBatch(d._1)).flatMap { case (id, t) =>
      val gs = grams(t)
      if (gs.isEmpty) None
      else {
        val novel = gs.count(g => !hist.contains(g)).toLong
        Some((id, gs.length.toLong, novel,
          r6(novel.toDouble / gs.length)))
      }
    }.toSet
    val got = SparkEntry.queries("text_ngram_novelty")(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    assert(got.exists(_._3 > 0), "vacuous: no novel grams in the batch at this sf")
  }

  test("pipeline_admission is exactly the three-leg composition, with both verdicts present") {
    val ppl = SparkEntry.queries("text_lm_ppl_filter")(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getString(3))).toMap
    val dups = SparkEntry.queries("dedup_incremental")(s, dir).collect()
      .map(_.getLong(0)).toSet
    val nov = SparkEntry.queries("text_ngram_novelty")(s, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val rows = SparkEntry.queries("pipeline_admission")(s, dir).collect()
    assert(rows.map(_.getLong(0)).toSet == ppl.keySet,
      "the admission table must cover exactly the scored batch docs")
    rows.foreach { r =>
      val id = r.getLong(0)
      assert((r.getDouble(1), r.getString(2)) == ppl(id), s"ppl leg drifted for $id")
      assert(r.getDouble(3) == nov.getOrElse(id, 0.0), s"novelty leg drifted for $id")
      val nd = dups.contains(id)
      assert(r.getBoolean(4) == nd, s"near-dup leg drifted for $id")
      assert(r.getBoolean(5) == (!nd && r.getString(2) != "tail"), s"admit rule broke for $id")
      val reason = if (nd) "near_dup" else if (r.getString(2) == "tail") "tail_ppl" else "ok"
      assert(r.getString(6) == reason, s"reason drifted for $id")
    }
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)),
      "vacuous: the gate must both admit and reject at this sf")
  }

  private def hwReplay(rows: Seq[(java.sql.Date, Long)])
      : (Seq[(java.sql.Date, Long, Long, Long)], Boolean) = {
    def tdiv(x: Long, d: Long): Long = if (x >= 0) x / d else -((-x) / d)
    val sorted = rows.sortBy(_._1.getTime)
    val sArr = Array.fill(7)(0L)
    var l = 0L; var b = 0L; var init = false; var sawNeg = false
    val out = collection.mutable.ArrayBuffer[(java.sql.Date, Long, Long, Long)]()
    sorted.foreach { case (d, y) =>
      val di = ((d.toLocalDate.toEpochDay % 7) + 7) % 7
      if (!init) { l = y * 64; b = 0; init = true }
      else {
        val si = sArr(di.toInt)
        val f = l + b + si
        out += ((d, y, f, math.abs(y * 64 - f)))
        val t1 = y * 64 - si + l + b
        val lp = tdiv(t1, 2)
        val t2 = lp - l + 3 * b
        val t3 = y * 64 - lp + si
        if (t1 < 0 || t2 < 0 || t3 < 0) sawNeg = true
        sArr(di.toInt) = tdiv(t3, 2)
        l = lp; b = tdiv(t2, 4)
      }
    }
    (out.toSeq, sawNeg)
  }

  test("ts_holt_winters matches the in-memory seasonal fold on the real series") {
    val daily = Tables(s, dir, "events")
      .selectExpr("cast(date_trunc('day', ts) as date) as d").groupBy("d").count()
      .collect().map(r => (r.getDate(0), r.getLong(1))).toSeq
    val (expected, _) = hwReplay(daily)
    val got = SparkEntry.queries("ts_holt_winters")(s, dir).collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("graph_local_clustering matches an in-memory per-node replay; node triangles total 3T") {
    val li = s.read.parquet(dir + "/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val adj = (edges.toSeq ++ edges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).toSet }
    val expected = adj.map { case (v0, nb) =>
      val d = nb.size.toLong
      val tri = nb.toSeq.map(w => (adj(w) & nb).size).sum / 2
      val cc = if (d >= 2)
        BigDecimal(2.0 * tri / (d * (d - 1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
      (v0, (d, tri.toLong, cc))
    }
    val got = SparkEntry.queries("graph_local_clustering")(s, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expected)
    val totalTri = SparkEntry.queries("graph_triangles")(s, dir).head().getLong(2)
    assert(got.values.map(_._2).sum == 3 * totalTri,
      "per-node triangle counts must total 3 per triangle")
  }

  test("ts_holt_linear: the sign-safe division branch is exercised and exact on a crashing series") {
    // Spark's div truncates toward zero, DuckDB's // floors — the
    // engines disagree exactly when the trend state goes negative, so
    // this corpus forces it: a cliff from 400 events/day to 1/day
    val tmp = java.nio.file.Files.createTempDirectory("holt").toString
    val counts = Seq(400L, 300L, 200L, 100L) ++ Seq.fill(12)(1L)
    val rows = counts.zipWithIndex.flatMap { case (c, day) =>
      (0L until c).map { k =>
        (day * 1000L + k,
          java.sql.Timestamp.valueOf(f"2024-03-${day + 1}%02d 12:00:00"),
          k % 7, "view", 1.0, "{}")
      }
    }
    import s.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(tmp + "/events.parquet")
    val daily = counts.zipWithIndex.map { case (c, day) =>
      (java.sql.Date.valueOf(f"2024-03-${day + 1}%02d"), c)
    }
    val (expected, sawNeg) = holtReplay(daily)
    assert(sawNeg, "the series never drove the smoothing state negative — weak fixture")
    val got = SparkEntry.queries("ts_holt_linear")(s, tmp).collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected,
      s"divergence on the negative-trend path: got=${got.take(4)} expected=${expected.take(4)}")
    // the seasonal variant shares the division trap — drive it too
    val (expectedHw, sawNegHw) = hwReplay(daily)
    assert(sawNegHw, "the series never drove the Holt-Winters state negative — weak fixture")
    val gotHw = SparkEntry.queries("ts_holt_winters")(s, tmp).collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(gotHw == expectedHw,
      s"HW divergence on the negative path: got=${gotHw.take(4)} expected=${expectedHw.take(4)}")
  }
}
