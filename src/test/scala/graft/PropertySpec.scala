package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY §5.2 item 3) — algebraic invariants over
  * generated inputs, complementing the per-query oracle gate (fixed
  * corpus) and the golden-value unit specs (fixed fixtures):
  * the COPY codec round-trips arbitrary control-character soup, set
  * operators satisfy set algebra, cosine stays in [-1, 1], dedup is
  * idempotent, and rename-projection honors its mapping for any map.
  *
  * Spark-driven properties keep case counts small (each case is a local
  * job); the generators are seeded so failures reproduce.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def check(name: String, p: Prop, n: Int = 10): Unit = {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(n)
      .withInitialSeed(Seed(20260813L))
    val r = SCTest.check(params, p)
    assert(r.passed, s"$name: ${r.status}")
  }

  /** Strings biased toward the COPY codec's dangerous characters. */
  private val tricky: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.alphaNumChar,
    2 -> Gen.oneOf('\t', '\n', '\r', '\\'),
    1 -> Gen.oneOf('é', '中', '"', '\'', ' '),
  )).map(_.mkString)

  /** Inverse of CopySink's escape: one left-to-right scan over `\x`
    * pairs (naive sequential replaces would mis-decode `\\t`).
    */
  private def decode(line: String): Option[String] =
    if (line == "\\N") None
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < line.length) {
        val ch = line.charAt(i)
        if (ch == '\\' && i + 1 < line.length) {
          line.charAt(i + 1) match {
            case 'n' => sb += '\n'
            case 'r' => sb += '\r'
            case 't' => sb += '\t'
            case '\\' => sb += '\\'
            case o => sb += '\\'; sb += o
          }
          i += 2
        } else { sb += ch; i += 1 }
      }
      Some(sb.toString)
    }

  test("COPY codec round-trips arbitrary strings and never emits raw control chars") {
    import scala.jdk.CollectionConverters._
    val samples: Seq[Option[String]] =
      Gen.listOfN(150, tricky).sample.get.map(Option(_)) ++ Seq(None, None, Some(""))
    val schema = StructType(Seq(StructField("v", StringType, nullable = true)))
    val rows = samples.map(v => org.apache.spark.sql.Row(v.orNull)).asJava
    val df = s.createDataFrame(rows, schema)
    val encoded = df
      .select(col("v"), graft.ingest.CopySink.lineExpr(schema).as("line"))
      .collect()
    encoded.foreach { r =>
      val orig = Option(r.getString(0))
      val line = r.getString(1)
      // the invariant COPY FROM needs: no raw delimiters survive encoding
      assert(!line.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"raw control char in encoded line: ${line.getBytes("UTF-8").mkString(",")}")
      assert(decode(line) == orig,
        s"round-trip failed: orig=$orig line=$line decoded=${decode(line)}")
    }
  }

  test("set algebra: |A except B| + |A intersect B| == |distinct A|") {
    import s.implicits._
    val genList = Gen.listOf(Gen.choose(0, 15))
    val p = Prop.forAll(genList, genList) { (a: List[Int], b: List[Int]) =>
      val da = a.toDF("v")
      val db = b.toDF("v")
      da.except(db).count() + da.intersect(db).count() == a.distinct.size.toLong
    }
    check("set-algebra", p, 10)
  }

  test("cosine over generated float vectors stays in [-1, 1]; cos(v, v) == 1") {
    import s.implicits._
    import org.apache.spark.sql.graft.VecFunctions.vec_dot
    val genVec = Gen.listOfN(8, Gen.choose(-5.0f, 5.0f))
      .suchThat(v => v.map(x => math.abs(x.toDouble)).sum > 0.1)
    val pairs = Gen.listOfN(120, Gen.zip(genVec, genVec)).sample.get
    val df = pairs.map { case (a, b) => (a, b) }.toDF("a", "b")
      .select(
        (vec_dot(col("a"), col("b")) /
          (sqrt(vec_dot(col("a"), col("a"))) * sqrt(vec_dot(col("b"), col("b")))))
          .as("cos_ab"),
        (vec_dot(col("a"), col("a")) /
          (sqrt(vec_dot(col("a"), col("a"))) * sqrt(vec_dot(col("a"), col("a")))))
          .as("cos_aa"))
      .collect()
    df.foreach { r =>
      assert(math.abs(r.getDouble(0)) <= 1.0 + 1e-9, s"cos out of bounds: ${r.getDouble(0)}")
      assert(math.abs(r.getDouble(1) - 1.0) <= 1e-9, s"cos(v,v) != 1: ${r.getDouble(1)}")
    }
  }

  test("dedup is idempotent and keeps exactly one row per distinct value") {
    import s.implicits._
    val genDocs = Gen.listOf(Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
    val p = Prop.forAll(genDocs) { (docs: List[String]) =>
      val df = docs.zipWithIndex.toDF("text", "id")
      val once = df.groupBy("text").agg(min(col("id")).as("keep"))
      val again = once.groupBy("text").agg(min(col("keep")).as("keep"))
      once.count() == docs.distinct.size.toLong && again.count() == once.count()
    }
    check("dedup-idempotent", p, 10)
  }

  test("rename-projection emits mapped targets in order; unknown sources become NULL") {
    import s.implicits._
    val base = Seq((1, "x", 2.0), (2, "y", 3.0)).toDF("a", "b", "c")
    val genMap: Gen[List[(String, String)]] = for {
      srcs <- Gen.someOf(Seq("a", "b", "c", "nope"))
      if srcs.nonEmpty
    } yield srcs.toList.zipWithIndex.map { case (src, i) => src -> s"t$i" }
    val p = Prop.forAll(genMap) { (m: List[(String, String)]) =>
      val out = graft.ingest.Importer.project(base, m)
      val colsOk = out.columns.toSeq == m.map(_._2)
      val nullsOk = m.zipWithIndex.forall { case ((src, tgt), _) =>
        val nulls = out.filter(col(tgt).isNull).count()
        if (src == "nope") nulls == 2 else nulls == 0
      }
      colsOk && nullsOk
    }
    check("rename-projection", p, 8)
  }

  test("property: bpe_count codegen == declarative fold on arbitrary vocab-biased strings, with sane bounds") {
    import org.apache.spark.sql.graft.VecFunctions
    // bias toward vocab fragments so matches and overlaps actually occur
    val word: Gen[String] = Gen.listOf(Gen.frequency(
      3 -> Gen.oneOf("th", "ing", "tion", "er", "e", "t", "a"),
      2 -> Gen.alphaLowerChar.map(_.toString),
      1 -> Gen.oneOf("é", "中", "😀", "9", "_"),
    )).map(_.mkString.take(48))
    val p = Prop.forAll(Gen.listOfN(24, word)) { (ws: List[String]) =>
      val nonEmpty = ws.filter(_.nonEmpty)
      nonEmpty.isEmpty || {
        import s.implicits._
        val rows = nonEmpty.toDF("w").select(
          col("w"),
          VecFunctions.bpe_count(col("w")).as("fast"),
          expr(operators.Text.bpeCountExpr("w")).as("fold"),
          length(col("w")).as("n")).collect()
        rows.forall { r =>
          val (fast, fold, n) = (r.getLong(1), r.getLong(2), r.getInt(3).toLong)
          fast == fold && fast >= (n + 3) / 4 && fast <= n
        }
      }
    }
    check("bpe-count-equivalence", p, 6)
  }

  test("property: kmv_sketch is partition-invariant and equals the true bottom-k set") {
    import org.apache.spark.sql.graft.VecFunctions
    val hashes: Gen[List[Long]] =
      Gen.listOfN(200, Gen.chooseNum(0L, 1L << 60)).map(_.distinct)
    val p = Prop.forAll(hashes, Gen.chooseNum(1, 32)) { (hs: List[Long], parts: Int) =>
      hs.nonEmpty && {
        import s.implicits._
        val k = 16
        // the sketch is a pure function of the SET: any repartitioning
        // (merge order) must produce the same sorted bottom-k array
        val arr = hs.toDF("h").repartition(parts)
          .agg(VecFunctions.kmv_sketch(col("h"), k).as("sk"))
          .collect()(0).getSeq[Long](0)
        arr == hs.sorted.take(k)
      }
    }
    check("kmv-sketch-bottom-k", p, 8)
  }

  test("property: dyadic EWMA window fold equals a reference Scala recomputation") {
    val cents: Gen[List[Long]] = Gen.listOfN(30, Gen.chooseNum(-100000L, 100000L))
    val p = Prop.forAll(cents) { (cs: List[Long]) =>
      cs.nonEmpty && {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy("i").rowsBetween(-7, Window.currentRow)
        val rows = cs.zipWithIndex.map { case (c, i) => (i, c) }
          .toDF("i", "cents")
          .withColumn("hist", collect_list(col("cents")).over(w))
          .select(col("i"), expr(
            "aggregate(transform(hist, (x, j) -> x * shiftleft(CAST(1 AS BIGINT), j)), CAST(0 AS BIGINT), (a, x) -> a + x)"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
        cs.indices.forall { i =>
          val frame = cs.slice(math.max(0, i - 7), i + 1)
          val ref = frame.zipWithIndex.map { case (x, j) => x << j }.sum
          rows(i) == ref
        }
      }
    }
    check("ewma-dyadic-reference", p, 6)
  }

  test("property: histogram selection equals the direct interpolated percentile on skewed, duplicate-heavy data") {
    // values biased toward pathological shapes: a hot constant (one
    // bucket holds most of the mass), tight clusters, and a heavy tail —
    // plus the all-equal edge the mx==mn guard exists for
    val value: Gen[Double] = Gen.frequency(
      5 -> Gen.const(42.0),
      3 -> Gen.chooseNum(41.9, 42.1),
      2 -> Gen.chooseNum(-1e6, 1e6))
    val data: Gen[(List[Double], Int)] = for {
      n <- Gen.chooseNum(1, 400)
      vs <- Gen.listOfN(n, value)
      p <- Gen.chooseNum(1, 99)
    } yield (vs, p)
    val prop = Prop.forAll(data) { case (vs: List[Double], p: Int) =>
      import s.implicits._
      val df = vs.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("v", "k")
      val got = operators.Relational.histogramSelect(df, Seq(p), nb = 16)
        .collect()(0).getAs[Double]("value")
      val sorted = vs.sorted
      val n = sorted.length
      val pos100 = p.toLong * (n - 1)
      val lo = (pos100 / 100).toInt
      val m = pos100 % 100
      val vlo = sorted(lo)
      val vhi = if (lo + 1 < n) sorted(lo + 1) else vlo
      val want = BigDecimal(vlo + (m * (vhi - vlo)) / 100.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      got == want || math.abs(got - want) <= 1e-9 ||
        { System.err.println(s"n=$n p=$p got=$got want=$want"); false }
    }
    check("histogram-selection-vs-direct", prop, 8)
  }

  test("property: histogram selection on a 99%-constant column — correct AND no window partition exceeds the collapsed distinct-value bound") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, count, lit}
    import s.implicits._
    // degenerate skew: one value holds 99% of the mass, the rest spread
    // over a wide range that SHARES the dominant value's bucket — the
    // shape where the old single-level row-ranking plan funneled ~n rows
    // into one window task. The same column runs through the kernel's
    // interpolated rule (global and as two groups) and its type-1
    // weighted rule.
    val rnd = new scala.util.Random(11)
    val vs: Seq[Double] = Seq.tabulate(20000)(i =>
      if (i % 100 == 0) rnd.nextDouble() * 1e6 else 42.0)
    val rows = rnd.shuffle(vs).zipWithIndex
      .map { case (v, i) => (v, i.toLong, (i % 2).toLong, (i % 3 + 1).toLong) }
    val df = rows.toDF("v", "k", "g", "w")
    val pcts = Seq(50, 90, 99)
    def interpolated(sorted: Seq[Double], p: Int): Double = {
      val n = sorted.length
      val pos100 = p.toLong * (n - 1)
      val lo = (pos100 / 100).toInt
      val m = pos100 % 100
      val vlo = sorted(lo)
      val vhi = if (lo + 1 < n) sorted(lo + 1) else vlo
      BigDecimal(vlo + (m * (vhi - vlo)) / 100.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // plan pin: the window-input frame is the COLLAPSED distinct-value
    // table — the dominant value is one row per sub-bucket, and no
    // (keys, bucket, sub-bucket) window partition exceeds the
    // distinct-value bound (straddle distincts ≤ 1% spread + the hot value)
    def assertBound(dv: DataFrame, keys: String*): Unit = {
      val parts = dv.groupBy((keys ++ Seq("b", "b2")).map(col): _*).agg(count(lit(1)).as("sz"))
        .agg(org.apache.spark.sql.functions.max(col("sz")).as("mx"),
          org.apache.spark.sql.functions.sum(col("sz")).as("tot")).head()
      val distinctStraddle = parts.getLong(1)
      assert(distinctStraddle <= 300,
        s"collapse failed: $distinctStraddle rows reached the window input (expect ≤ ~1%-spread distincts)")
      assert(parts.getLong(0) <= 300,
        s"a window partition holds ${parts.getLong(0)} rows — the degenerate-skew bound is broken")
    }

    // interpolated, global: correctness vs the direct sorted interpolation
    val (res, dv) = operators.Relational.histogramSelectParts(df, pcts, nb = 16)
    val got = res.collect()
      .map(r => (r.getAs[Double]("pct"), r.getAs[Double]("value"))).toMap
    pcts.foreach { p =>
      val want = interpolated(vs.sorted, p)
      assert(math.abs(got(p / 100.0) - want) <= 1e-9, s"p$p: got ${got(p / 100.0)} want $want")
    }
    assertBound(dv)

    // interpolated, two groups keyed by g
    val (gres, gdv) =
      operators.Relational.histogramSelectParts(df, pcts, nb = 16, keys = Seq("g"))
    val ggot = gres.collect()
      .map(r => ((r.getAs[Long]("g"), r.getAs[Double]("pct")), r.getAs[Double]("value"))).toMap
    assert(ggot.size == 2 * pcts.size, s"expected ${2 * pcts.size} (group, pct) rows: $ggot")
    for (g <- Seq(0L, 1L); p <- pcts) {
      val want = interpolated(rows.filter(_._3 == g).map(_._1).sorted, p)
      val have = ggot((g, p / 100.0))
      assert(math.abs(have - want) <= 1e-9, s"g$g p$p: got $have want $want")
    }
    assertBound(gdv, "g")

    // type-1 weighted: the smallest v whose cumulative weight reaches p·W
    val (wres, wdv) = operators.Relational.rankSelect(df.select("v", "w"), Nil,
      operators.Relational.type1Ranks(pcts), nb = 16)
    val wgot = wres.collect().map(r => (r.getAs[Long]("p100"), r.getAs[Double]("v"))).toMap
    val byV = rows.map(r => (r._1, r._4)).sortBy(_._1)
    val cumw = byV.scanLeft(0L)(_ + _._2).tail
    val tw = cumw.last
    pcts.foreach { p =>
      val want = byV(cumw.indexWhere(_ * 100 >= p * tw))._1
      assert(wgot.get(p.toLong).contains(want), s"type-1 p$p: got ${wgot.get(p.toLong)} want $want")
    }
    assertBound(wdv)
  }

  test("property: histogram selection on an all-DISTINCT concentrated column — the sub-bucket level bounds window partitions") {
    import org.apache.spark.sql.functions.{col, count, lit}
    import s.implicits._
    // the adversarial complement of duplicate skew: 20 000 DISTINCT
    // values packed into one bucket's range ([0, 1e-6] with a 1e6
    // outlier) — collapse alone cannot shrink this; the one recursion
    // level must split the hot bucket so no (b, b2) partition holds the
    // whole concentration
    val nb = 16
    val vs: Seq[Double] = Seq.tabulate(20000)(i => i * 5e-11) :+ 1e6
    val rnd = new scala.util.Random(13)
    val df = rnd.shuffle(vs).zipWithIndex
      .map { case (v, i) => (v, i.toLong) }.toDF("v", "k")
    val (res, dv) =
      operators.Relational.histogramSelectParts(df, Seq(50, 90, 99), nb = nb)
    val got = res.collect()
      .map(r => (r.getAs[Double]("pct"), r.getAs[Double]("value"))).toMap
    val sorted = vs.sorted
    val n = sorted.length
    Seq(50, 90, 99).foreach { p =>
      val pos100 = p.toLong * (n - 1)
      val lo = (pos100 / 100).toInt
      val m = pos100 % 100
      val vlo = sorted(lo)
      val vhi = if (lo + 1 < n) sorted(lo + 1) else vlo
      val want = BigDecimal(vlo + (m * (vhi - vlo)) / 100.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(p / 100.0) - want) <= 1e-9, s"p$p: got ${got(p / 100.0)} want $want")
    }
    val mx = dv.groupBy("b", "b2").agg(count(lit(1)).as("sz"))
      .agg(org.apache.spark.sql.functions.max(col("sz"))).head().getLong(0)
    // 20 000 distincts over nb sub-buckets of the hot bucket's own range
    // → ~n/nb per partition; 4× slack for uneven spread
    assert(mx <= 20000 / nb * 4,
      s"a window partition holds $mx rows — the sub-bucket level failed to split the concentration")
  }
}
