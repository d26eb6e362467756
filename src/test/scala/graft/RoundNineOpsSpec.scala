package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-9 batch — properties the DuckDB hash
  * gate cannot see. The headline item: the Gramian accumulator's two-limb
  * rewrite is driven PAST the old single-long wrap bound and checked
  * against an independent BigInt recomputation.
  */
class RoundNineOpsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.sf

  test("gramian_of: exact past the old 2^22-vector single-long bound (two-limb accumulator)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.GramianAgg.gramian_of
    // 9 M max-magnitude (2^20) components: Σq² = 9e6·2^40 ≈ 9.90e18 —
    // past Long.MaxValue (9.22e18), where the old accumulator wrapped
    // silently. Multi-partition range exercises update, serialize,
    // deserialize AND the 128-bit merge path.
    val n = 9000000L
    val df = s.range(n).repartition(8)
      .select(array(lit(1048576L), lit(-1048576L)).as("q"))
    val row = df.agg(gramian_of(col("q"), 2).as("g")).selectExpr(
      "g.n", "g.s[0]", "g.s[1]",
      "cast(g.p[0] as string)", "cast(g.p[1] as string)", "cast(g.p[2] as string)").head()
    val p = BigInt(n) * BigInt(1048576L) * BigInt(1048576L) // independent recomputation
    assert(p > BigInt(Long.MaxValue), "test must exceed the old wrap bound")
    assert(row.getLong(0) == n)
    assert(row.getLong(1) == n * 1048576L)
    assert(row.getLong(2) == -n * 1048576L)
    assert(BigInt(row.getString(3)) == p)
    assert(BigInt(row.getString(4)) == -p)
    assert(BigInt(row.getString(5)) == p)
  }

  test("GramianBuffer: randomized adds + shuffled merges match BigInt recomputation") {
    import org.apache.spark.sql.graft.GramianBuffer
    val rnd = new scala.util.Random(9)
    val dim = 4
    val vecs = Array.fill(20000)(Array.fill(dim)(
      (rnd.nextLong() % 1048576L))) // |q| ≤ 2^20, signed
    val chunks = vecs.grouped(1000).map { ch =>
      val b = new GramianBuffer(dim)
      ch.foreach(b.add)
      b
    }.toArray
    val order = rnd.shuffle(chunks.indices.toList)
    val acc = new GramianBuffer(dim)
    order.foreach(i => acc.mergeFrom(chunks(i)))
    // independent BigInt recomputation of every triangle entry
    var idx = 0
    for (i <- 0 until dim; j <- i until dim) {
      val exp = vecs.foldLeft(BigInt(0))((a, v) => a + BigInt(v(i)) * BigInt(v(j)))
      assert(acc.prod(idx) == exp, s"prod($i,$j) drift")
      idx += 1
    }
    for (i <- 0 until dim)
      assert(acc.sums(i) == vecs.foldLeft(0L)((a, v) => a + v(i)))
    assert(acc.n == vecs.length)
  }

  test("pointer-doubling CC converges on a diameter-50 path where 8-round hash-min provably does not") {
    import org.apache.spark.sql.functions._
    import s.implicits._
    // path 0—1—…—50: the true component min is 0 for every node, but
    // hash-min moves information one hop per round, so after 8 rounds
    // node 50 carries label 42 — a non-component the budget-mirroring
    // oracle could never catch. Pointer doubling jumps labels through
    // the label table and closes the same path in ~log2(50) rounds.
    // persist mirrors the production adjacency cache shape
    val adj = (0 until 50)
      .flatMap(i => Seq((i.toLong, i.toLong + 1), (i.toLong + 1, i.toLong)))
      .toDF("src", "dst")
      .repartition(4, col("src"))
      .persist()
    adj.count()
    val hmRes = operators.Graph.hashMinLabels("hash-min path", adj, 8)
    val hm = hmRes.state.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hm(50L) == 42L && hm.values.exists(_ != 0L),
      s"hash-min unexpectedly converged inside 8 rounds: ${hm.toSeq.sorted}")
    assert(!hmRes.converged && hmRes.rounds == 8,
      s"hash-min reported converged=${hmRes.converged} after ${hmRes.rounds} rounds")
    val pdRes = operators.Graph.pointerDoubleLabels("pointer-doubling path", adj, 16)
    val pd = pdRes.state.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pd.size == 51 && pd.values.forall(_ == 0L),
      s"pointer doubling failed to reach the true fixpoint: ${pd.toSeq.sorted}")
    // reach after r rounds is 2^r − 1 hops, so 49 hops need 6 productive
    // rounds plus the no-change round that detects the fixpoint
    val logBound = math.ceil(math.log(50) / math.log(2)).toInt + 1
    assert(pdRes.converged && pdRes.rounds <= logBound,
      s"pointer doubling took ${pdRes.rounds} rounds (bound $logBound), converged=${pdRes.converged}")
    val short = operators.Graph.pointerDoubleLabels("short pointer-doubling path", adj, 3)
    val err = intercept[IllegalStateException](short.requireConverged("not a fixpoint"))
    assert(err.getMessage.contains("short pointer-doubling path"), err.getMessage)
  }

  test("graph_cc_pointer_doubling equals graph_connected_components on the co-purchase graph") {
    val a = SparkEntry.queries("graph_cc_pointer_doubling")(s, dir)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("graph_connected_components")(s, dir)
      .collect().map(_.toString).toSeq
    assert(a == b, "the two CC variants disagree — both must sit at the unique min-label fixpoint")
  }

  test("dedup_ngram_minhash: pairs are a subset of the exact set, recall >= 0.9") {
    val r = SparkEntry.queries("dedup_ngram_minhash_recall")(s, dir).head()
    assert(r.getAs[Double]("recall") >= 0.9,
      s"recall ${r.getAs[Double]("recall")} below the 0.9 floor " +
        s"(${r.getAs[Long]("n_found")}/${r.getAs[Long]("n_exact")})")
    // same measure + threshold as the exact plan ⇒ precision is exactly 1:
    // every approximate pair must appear in the exact pair set
    def pairs(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(s, dir).select("doc_a", "doc_b")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val exact = pairs("dedup_ngram_jaccard")
    val approx = pairs("dedup_ngram_minhash")
    assert(approx.subsetOf(exact),
      s"non-exact pairs leaked: ${(approx -- exact).take(5)}")
  }

  test("emb_pca_power: loadings match an in-memory power iteration from the exact Gramian") {
    import org.apache.spark.sql.functions._
    val vecs = Tables(s, dir, "embeddings")
      .select(expr("transform(cast(embedding as array<double>), x -> cast(round(x * 1048576) as bigint))"))
      .collect().map(_.getSeq[Long](0).toArray)
    val n = vecs.length
    val d = 64
    val sums = Array.fill(d)(BigInt(0))
    val prods = Array.fill(d, d)(BigInt(0))
    vecs.foreach { q =>
      for (i <- 0 until d) {
        sums(i) += q(i)
        for (j <- 0 until d) prods(i)(j) += BigInt(q(i)) * q(j)
      }
    }
    val m = Array.tabulate(d, d)((i, j) => (BigInt(n) * prods(i)(j) - sums(i) * sums(j)).toDouble)
    var v = Array.fill(d)(0.125)
    var nw = 0.0
    (1 to 3).foreach { _ =>
      val w = m.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
      nw = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nw)
    }
    val want = v.zipWithIndex.sortBy { case (x, i) => (-math.abs(x), i) }.take(8)
      .map { case (x, i) => (i.toLong, x) }.sortBy(_._1)
    val got = SparkEntry.queries("emb_pca_power")(s, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
      s"top-|loading| dims differ: got ${got.map(_._1).mkString(",")} want ${want.map(_._1).mkString(",")}")
    got.zip(want).foreach { case ((_, g), (_, w)) =>
      assert(math.abs(g - w) <= 1e-5, s"loading drift: $g vs $w")
    }
  }

  test("emb_matryoshka_recall: recall equals the in-memory 16-dim vs 64-dim top-5 overlap") {
    import org.apache.spark.sql.functions._
    val rows = Tables(s, dir, "embeddings")
      .select(col("vec_id"), expr("cast(embedding as array<double>)"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def topk(q: (Long, Array[Double]), dims: Int): Set[Long] = {
      def cos(a: Array[Double], b: Array[Double]) = {
        val d = (0 until dims).map(i => a(i) * b(i)).sum
        val na = math.sqrt((0 until dims).map(i => a(i) * a(i)).sum)
        val nb = math.sqrt((0 until dims).map(i => b(i) * b(i)).sum)
        BigDecimal(d / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      rows.filter(_._1 != q._1)
        .map { case (id, v) => (id, cos(q._2, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }
    val want = rows.filter(_._1 < 8).map { q =>
      q._1 -> (topk(q, 64) & topk(q, 16)).size
    }.toMap
    val got = SparkEntry.queries("emb_matryoshka_recall")(s, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == want, s"recall overlap drift: got $got want $want")
  }

  test("dq_drift_psi: PSI is non-negative and matches an in-memory recomputation") {
    import org.apache.spark.sql.functions._
    val o = Tables(s, dir, "orders")
      .select(col("o_totalprice"), col("o_orderdate").cast("string"))
      .collect().map(r => (r.getDouble(0), r.getString(1) < "1998-01-01"))
    val mn = o.map(_._1).min
    val mx = o.map(_._1).max
    def bkt(v: Double): Long =
      if (mx == mn) 0L else math.min(math.floor((v - mn) / ((mx - mn) / 10)).toLong, 9L)
    val na = o.filter(_._2).groupBy(x => bkt(x._1)).view.mapValues(_.size.toLong).toMap
    val nb = o.filterNot(_._2).groupBy(x => bkt(x._1)).view.mapValues(_.size.toLong).toMap
    val ta = na.values.sum.toDouble
    val tb = nb.values.sum.toDouble
    val keys = (na.keySet ++ nb.keySet).toSeq
    val psi = keys.map { k =>
      val pa = math.max(na.getOrElse(k, 0L) / ta, 1e-6)
      val pb = math.max(nb.getOrElse(k, 0L) / tb, 1e-6)
      (pa - pb) * math.log(pa / pb)
    }.sum
    val r = SparkEntry.queries("dq_drift_psi")(s, dir).head()
    assert(r.getAs[Double]("psi") >= 0.0, "PSI terms are (x-y)ln(x/y) >= 0 — a negative total is impossible")
    assert(math.abs(r.getAs[Double]("psi") - psi) <= 1e-5,
      s"psi ${r.getAs[Double]("psi")} vs in-memory $psi")
    assert(r.getAs[Long]("n_a") == ta.toLong && r.getAs[Long]("n_b") == tb.toLong)
  }

  test("dq_ref_integrity: every FK edge is clean on generated TPC-H data, with exact row counts") {
    val rows = SparkEntry.queries("dq_ref_integrity")(s, dir).collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("ok") && r.getAs[Long]("n_orphans") == 0L,
        s"${r.getAs[String]("fk")}: ${r.getAs[Long]("n_orphans")} orphans")
    }
    val li = Tables(s, dir, "lineitem").count()
    assert(rows.filter(_.getAs[String]("fk").startsWith("lineitem."))
      .forall(_.getAs[Long]("n_rows") == li))
  }

  test("agg_robust_mean: fences and both means match an in-memory recomputation") {
    import org.apache.spark.sql.functions._
    val vs = Tables(s, dir, "lineitem").select(col("l_extendedprice"))
      .collect().map(_.getDouble(0)).sorted
    val n = vs.length
    def fence(p: Int): Double = {
      val pos100 = p.toLong * (n - 1)
      val lo = (pos100 / 100).toInt
      val m = pos100 % 100
      val vlo = vs(lo)
      val vhi = if (lo + 1 < n) vs(lo + 1) else vlo
      BigDecimal(vlo + (m * (vhi - vlo)) / 100.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (p05, p95) = (fence(5), fence(95))
    val wm = vs.map(v => BigDecimal(math.min(math.max(v, p05), p95))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum / n
    val trimmedVals = vs.filter(v => v >= p05 && v <= p95)
    val tm = trimmedVals.map(v => BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum / trimmedVals.length
    val r = SparkEntry.queries("agg_robust_mean")(s, dir).head()
    assert(r.getAs[Long]("n") == n)
    assert(r.getAs[Double]("p05") == p05 && r.getAs[Double]("p95") == p95)
    assert(math.abs(r.getAs[Double]("winsorized_mean") - wm.toDouble) <= 1e-5)
    assert(math.abs(r.getAs[Double]("trimmed_mean") - tm.toDouble) <= 1e-5)
  }

  test("flow_gap_percentiles: matches the in-memory interpolated percentiles of per-user gaps") {
    import org.apache.spark.sql.functions._
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gaps = ev.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (r._3, r._2)).sliding(2).collect {
        case Array(a, b) => (b._3 - a._3).toDouble
      }
    }.toArray.sorted
    val n = gaps.length
    val got = SparkEntry.queries("flow_gap_percentiles")(s, dir).collect()
      .map(r => (r.getAs[Double]("pct"), r.getAs[Double]("value"))).toMap
    Seq(50, 90, 99).foreach { p =>
      val pos100 = p.toLong * (n - 1)
      val lo = (pos100 / 100).toInt
      val m = pos100 % 100
      val vlo = gaps(lo)
      val vhi = if (lo + 1 < n) gaps(lo + 1) else vlo
      val want = BigDecimal(vlo + (m * (vhi - vlo)) / 100.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(p / 100.0) - want) <= 1e-9, s"p$p: got ${got(p / 100.0)} want $want")
    }
  }

  test("text_boilerplate_spans: flags exactly the injected template header, nothing else") {
    def injected(source: String): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(source.getBytes("UTF-8"))
      "%02x".format(h(0) & 0xff).charAt(0) match {
        case '0' | '2' | '4' | '6' | '8' | 'a' | 'c' | 'e' => true
        case _ => false
      }
    }
    val rows = SparkEntry.queries("text_boilerplate_spans")(s, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(r => injected(r.getAs[String]("source"))) &&
      rows.exists(r => !injected(r.getAs[String]("source"))),
      "corpus must contain both injected and clean sources for the test to mean anything")
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      // the 30% share threshold needs >= 4 docs per source, or df = 1
      // natural spans would clear it — pin the corpus assumption
      assert(r.getAs[Long]("n_docs") >= 4L, s"$src: only ${r.getAs[Long]("n_docs")} docs")
      val even = injected(src)
      if (even) {
        // a 10-token header yields exactly 4 pure-header 7-grams, each in
        // EVERY doc of the source; header-boundary spans mix in varying
        // doc prefixes and must stay under the 30% share
        assert(r.getAs[Long]("n_boiler_spans") == 4L,
          s"$src: ${r.getAs[Long]("n_boiler_spans")} boilerplate spans (want the 4 header grams)")
        assert(r.getAs[Long]("max_span_df") == r.getAs[Long]("n_docs"),
          s"$src: header spans must hit every doc")
      } else {
        assert(r.getAs[Long]("n_boiler_spans") == 0L,
          s"$src: uninjected source flagged ${r.getAs[Long]("n_boiler_spans")} spans")
      }
    }
  }

  test("ts_forecast_snaive: MAE/MAPE match an in-memory lag-7 backtest") {
    import org.apache.spark.sql.functions._
    val daily = Tables(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getDate(0).toLocalDate, r.getLong(1))).toMap
    val scored = daily.toSeq.flatMap { case (d, y) =>
      daily.get(d.minusDays(7)).map(yhat => (y, yhat))
    }
    val mae = scored.map { case (y, yh) => math.abs(y - yh) }.sum.toDouble / scored.size
    val mape = scored.map { case (y, yh) =>
      math.round(math.abs(y - yh) * 1000000.0 / y)
    }.sum.toDouble / scored.size / 10000.0
    val r = SparkEntry.queries("ts_forecast_snaive")(s, dir).head()
    assert(r.getAs[Long]("n_days") == daily.size)
    assert(r.getAs[Long]("n_scored") == scored.size)
    assert(math.abs(r.getAs[Double]("mae") - mae) <= 1e-6)
    assert(math.abs(r.getAs[Double]("mape_pct") - mape) <= 1e-6)
  }

  test("text_dup_substring_runs: matches an in-memory chained-island recomputation") {
    import org.apache.spark.sql.functions._
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty)))
    def md5(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val spans = docs.flatMap { case (id, tk) =>
      (0 to tk.length - 7).map(i => (id, i + 1, md5(tk.slice(i, i + 7).mkString(" "))))
    }
    val dup = spans.groupBy(_._3).filter(_._2.map(_._1).distinct.size >= 2).keySet
    val want = docs.flatMap { case (id, _) =>
      val ps = spans.filter(x => x._1 == id && dup(x._3)).map(_._2).sorted
      if (ps.isEmpty) None
      else {
        // chain consecutive positions into islands
        val runs = ps.foldLeft(List.empty[(Int, Int)]) {
          case ((a, b) :: rest, p) if p == b + 1 => (a, p) :: rest
          case (acc, p) => (p, p) :: acc
        }.map { case (a, b) => (a, b - a + 7) }
        val mx = runs.map(_._2).max
        if (mx < 12) None
        else Some((id, runs.size.toLong, mx.toLong,
          runs.filter(_._2 == mx).map(_._1).min.toLong))
      }
    }.sortBy(_._1)
    val got = SparkEntry.queries("text_dup_substring_runs")(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq,
      s"run table drift: got ${got.take(3).mkString(",")} want ${want.take(3).mkString(",")}")
  }

  test("xxhash64 pair keys: zero ckey collisions in the corpus (documented assumption, now checked)") {
    import org.apache.spark.sql.functions._
    // the posting-join pair keys are xxhash64(md5(text)) longs; a
    // collision would silently merge two contents' posting groups with
    // no runtime detection path — probability ~|reps|²/2⁶⁵, but this
    // turns the assumption into a checked fact on every test corpus
    val r = Tables(s, dir, "documents")
      .select(md5(col("text")).as("ckey"))
      .agg(countDistinct(col("ckey")).as("nk"),
        countDistinct(expr("xxhash64(ckey)")).as("nh")).head()
    assert(r.getLong(0) == r.getLong(1),
      s"${r.getLong(0) - r.getLong(1)} xxhash64 collisions across distinct contents")
  }

  test("gramian_of: a vector of the wrong dimension throws (schema drift fail-fast)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.GramianAgg.gramian_of
    val bad = s.range(10).select(
      when(col("id") === 5, array(lit(1L), lit(2L), lit(3L)))
        .otherwise(array(lit(1L), lit(2L))).as("q"))
    val ex = intercept[Exception] {
      bad.agg(gramian_of(col("q"), 2)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("schema drift")), s"unexpected error: $ex")
  }
}
