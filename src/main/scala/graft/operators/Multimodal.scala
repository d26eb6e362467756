package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque binary payloads with typed metadata,
  * and a distributed per-partition decode pass.
  *
  * The test corpus has no real image/audio bytes (and this container has
  * no decode libs), so the payload is the document's UTF-8 bytes and the
  * DECODE STEP IS A DETERMINISTIC STUB — clearly marked below. Everything
  * around the stub is the real production shape:
  *  - binary column + metadata derived in codegen'd expressions
  *    (`mm_binary_meta`);
  *  - `mapPartitions` over a typed Dataset for the imperative decoder
  *    (`mm_decode_stub`) — one decoder init per partition, streaming
  *    iterator, no driver involvement; at 100 TB you size partitions via
  *    maxPartitionBytes and the same code runs unchanged.
  */
object Multimodal {

  type Q = (SparkSession, String) => DataFrame

  /** Decoded metadata record (what a real image decoder would emit). */
  final case class Decoded(
      doc_id: Long, n_bytes: Long, n_frames: Long, mean_byte: Double,
      fake_w: Long, fake_h: Long)

  /** Binary payload + metadata via expressions only: byte length, sha256,
    * magic bytes, and stubbed "decoded" dimensions derived from length.
    */
  private val binaryMeta: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        octet_length(col("text")).cast("bigint").as("n_bytes"),
        sha2(col("text"), 256).as("sha"),
        lower(hex(encode(substring(col("text"), 1, 4), "UTF-8"))).as("magic4"))
      // STUB dims: deterministic stand-in for decoded width/height.
      .withColumn("fake_w", (lit(64) + pmod(col("n_bytes"), lit(512))).cast("bigint"))
      .withColumn("fake_h", (lit(64) + pmod(col("n_bytes") * 7, lit(512))).cast("bigint"))
      .select("doc_id", "n_bytes", "sha", "magic4", "fake_w", "fake_h")
      .orderBy("doc_id")
  }

  /** Imperative per-partition decode over the binary payload. The DuckDB
    * oracle is byte-wise (hex(encode(text)) parsed pair-by-pair), so the
    * mean-byte check holds on any corpus, ASCII or not; RoundFiveOpsSpec
    * pins the Spark side's UTF-8-byte (not code-point) semantics on a
    * non-ASCII fixture.
    */
  private val decodeStub: Q = (s, dir) => {
    import s.implicits._
    val ds = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      // A real pipeline would initialize the decoder once per partition
      // here (e.g. codec contexts). STUB: metadata derives
      // deterministically from the bytes so the oracle can check the
      // plumbing end-to-end.
      it.map { case (id, bytes) =>
        var sum = 0L
        var i = 0
        while (i < bytes.length) { sum += (bytes(i) & 0xff); i += 1 }
        Decoded(
          doc_id = id,
          n_bytes = bytes.length.toLong,
          n_frames = bytes.length / 100L,
          mean_byte = sum.toDouble / bytes.length,
          fake_w = 64L + bytes.length % 512,
          fake_h = 64L + (bytes.length * 7L) % 512)
      }
    }.toDF().orderBy("doc_id")
  }

  /** Frame sampling: each payload is treated as a video of `n_frames`
    * (stub: bytes/100) frames; emit at most 8 evenly-spaced frame indices
    * per doc. This is the exact Spark plumbing (metadata → per-row index
    * array → explode) a real video pipeline uses to fan frame-decode work
    * out across executors; only the n_frames derivation is stubbed.
    */
  private val frameSample: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        (octet_length(col("text")).cast("bigint") / lit(100)).cast("bigint").as("n_frames"))
      .filter(col("n_frames") > 0)
      .withColumn("step", greatest(lit(1L), (col("n_frames") / 8L).cast("bigint") +
        when(col("n_frames") % 8 === 0, 0L).otherwise(1L)))
      .select(col("doc_id"), col("n_frames"),
        explode(expr("sequence(0, n_frames - 1, step)")).as("frame_idx"))
      .orderBy("doc_id", "frame_idx")
  }

  /** (doc_id, text) → (doc_id, phash): the 60-bit aHash as a PER-ROW
    * expression chain — no doc-grain exchange at all (r16; the pre-r16
    * shape fanned 60 (doc, i, v) rows per doc through posexplode into a
    * doc-partitioned window + hash agg, i.e. a full shuffle of 60× the
    * corpus row count just to bind the sample array and its mean).
    * The CollapseProject trap (see git history: inlining the transform
    * into 60 bit lambdas re-ran the O(len) substr scan 60×60 times per
    * row) is avoided by a SINGLE-ELEMENT Generate barrier:
    * explode(array(vals)) materializes the sample array once per row as
    * a Generate output ATTRIBUTE, so every downstream lambda folds a
    * bound 60-long array (3.6 k long-adds/row worst case — noise)
    * instead of re-evaluating the substr transform. Generate pipelines
    * inside the scan stage; the only exchanges left are the n_same
    * group count and the output sort.
    */
  private def phashOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(array(expr(
        "transform(sequence(0, 59), i -> ascii(substr(text, 1 + cast((i * length(text)) div 60 as int), 1)))")))
        .as("vals"))
      // `total` gets its own one-element Generate barrier: left as a plain
      // projection, CollapseProject inlines the fold into the bit lambda
      // below and the 60-element sum re-runs per bit — 3.6 k interpreted
      // lambda evals/row (measured 1.5 → 5.1 s, the same trap one level up)
      .select(col("doc_id"), col("vals"),
        explode(array(expr("aggregate(vals, 0L, (a, x) -> a + x)"))).as("total"))
      .select(col("doc_id"), expr(
        """aggregate(zip_with(vals, sequence(0, 59),
          |  (v, i) -> IF(v * 60 > total, shiftleft(1L, i), 0L)), 0L, (a, x) -> a + x)"""
          .stripMargin).as("phash"))

  /** Perceptual average-hash over the payload — the multimodal dedup
    * primitive (aHash: sample N values, threshold each against the mean,
    * pack bits). On real images the decoded 8x8 grayscale feeds this; here
    * the STUB "pixels" are 60 evenly-spaced payload bytes, so the hash
    * arithmetic, the bit packing, and the collision-group join are all the
    * production shape. 60 bits (not 64) keeps the packed value inside a
    * signed int64 without overflow in either engine (same choice as
    * SimHash64). The mean threshold is the integer cross-multiplication
    * `val*60 > total` — no division, no floats, bit-identical everywhere.
    * Collision groups come from one hash aggregation on the 8-byte hash +
    * a key-partitioned join back; at 100 TB only (doc_id, phash) pairs
    * shuffle.
    */
  private val phash: Q = (s, dir) => {
    // n_same via a map-side-partial groupBy + join-back over the ONE
    // materialized phash table (r17). The r16 window count routed every
    // row of a phash group through one window task — on a duplicate-
    // heavy corpus (every real crawl) the hottest content's group holds
    // a large share of all rows, so the window was a single-task sort
    // on exactly the skewed key this query exists to expose (r16 ADVICE
    // medium; guide §2.5, the componentsOutput lesson). The r16
    // counter-probe that favored the window (join form 2.09 s) paid the
    // phash chain TWICE plus a broadcast build — the lazy checkpoint
    // removes that: one per-row chain pass, a 16-byte/row persist, a
    // partially-aggregated sizes table, and an AQE-decided join-back.
    val h = phashOf(Tables(s, dir, "documents").select(col("doc_id"), col("text")))
      .localCheckpoint(false)
    val sizes = h.groupBy("phash").agg(count(lit(1)).as("n_same"))
    h.join(sizes, "phash")
      .select(col("doc_id"), col("phash"), col("n_same"))
      .orderBy("doc_id")
  }

  /** Nearest-neighbor resize plumbing: each payload is a fake W×H image
    * (dims derived from length, as binaryMeta), downsampled to an 8×8
    * grid — per OUTPUT pixel (ox, oy) the source coordinate is
    * (ox·W div 8, oy·H div 8) and the "pixel" is the code point at the
    * flattened offset. This is the real Spark shape of distributed image
    * resize: per-pixel source-coordinate arithmetic fanned out through a
    * generator (the posexplode barrier — phash's inlining lesson), then
    * one doc_id-keyed ordered reassembly into the grid fingerprint. Only
    * the sample function is stubbed; a codec would replace ascii(substr)
    * with a byte lookup.
    */
  private val resizeStub: Q = (s, dir) => {
    // Per-row expression chain over the 64-pixel sample array, bound once
    // via the same single-element Generate barrier as [[phashOf]] (r16).
    // The pre-r16 shape posexploded 64 (i, px) rows per doc and reassembled
    // them through a (doc, w, h)-keyed hash agg with array_sort(collect_list)
    // — a 64×-corpus-rows shuffle whose only purpose was binding `ps` once.
    // Now the grid fingerprint and checksum fold the bound array in place;
    // the output sort is the only exchange left.
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        (lit(64) + pmod(length(col("text")), lit(512))).cast("bigint").as("w"),
        (lit(64) + pmod(length(col("text")) * 7, lit(512))).cast("bigint").as("h"))
      .select(col("doc_id"), col("w"), col("h"), explode(array(expr(
        """transform(sequence(0, 63), i -> ascii(substr(text,
          |  1 + cast(((((i div 8) * h) div 8) * w + (((i % 8) * w) div 8)) % length(text) as int),
          |  1)))""".stripMargin))).as("ps"))
      .select(col("doc_id"), col("w"), col("h"),
        expr("md5(concat_ws(',', transform(ps, x -> cast(x AS string))))").as("grid_fp"),
        expr("aggregate(ps, 0L, (a, x) -> a + x)").as("checksum"))
      .orderBy("doc_id")
  }

  /** Per-(doc, frame) integer energy + peak over the stub PCM samples —
    * shared by [[audioEnergy]], [[shotBoundary]] and [[alignStub]].
    * Session-cached (r16): all three consumers re-ran the identical
    * 256-sample/doc posexplode fan-out + doc-grain hash agg; the frame
    * table is O(docs·8) rows, far smaller than its build input, so one
    * shared build per (session, corpus) is the same whole-corpus
    * substrate discipline as the dedup shingle caches.
    */
  private def frames(s: SparkSession, dir: String) = graft.Cached.of(s, dir, "mm.frames") {
    val v = Tables(s, dir, "documents")
      .filter(length(col("text")) >= 32)
      .withColumn("nf", least(lit(8), (length(col("text")) / 32).cast("int")))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, nf * 32 - 1), i -> ascii(substr(text, i + 1, 1)))"))
        .as(Seq("i", "v")))
    v.groupBy(col("doc_id"), expr("cast(i div 32 as bigint)").as("frame_idx"))
      .agg(
        sum(expr("cast((v - 64) * (v - 64) as bigint)")).as("energy"),
        max(col("v")).cast("bigint").as("peak"))
  }

  /** Framed audio-feature extraction: the payload's bytes stand in for
    * PCM samples (STUB — a decoder would emit real samples; everything
    * downstream is the production shape). Each doc yields up to 8
    * non-overlapping 32-sample frames; per frame the exact integer
    * energy Σ(v−64)², its RMS (one IEEE sqrt of an exact ratio —
    * correctly rounded, so bit-identical cross-engine), and the peak
    * sample. The per-sample fan-out goes through the posexplode
    * generator barrier (phash's inlining lesson) and collapses in one
    * doc-keyed hash aggregation — frames per doc are bounded, so output
    * is O(docs) and the shape is embarrassingly parallel at 100 TB.
    */
  private val audioEnergy: Q = (s, dir) =>
    frames(s, dir)
      .withColumn("rms", round(sqrt(col("energy").cast("double") / lit(32.0)), 6))
      .select("doc_id", "frame_idx", "energy", "rms", "peak")
      .orderBy("doc_id", "frame_idx")

  /** Shot-boundary detection over the frame-energy series: a boundary
    * fires where the energy jump against the previous frame exceeds 15%
    * of it — the classic intensity-delta cut detector, thresholded at
    * this corpus's 95th percentile jump, as the EXACT integer
    * cross-multiplication 20·|e−prev| > 3·prev (no ratios, no floats). One doc-keyed lag window over the (doc, frame) table,
    * so cost is the frame aggregation audio_energy already pays plus a
    * per-doc window of ≤ 8 rows — the real video-segmentation shape
    * with only the decoder stubbed.
    */
  private val shotBoundary: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    frames(s, dir)
      .withColumn("prev_energy", lag(col("energy"), 1).over(w))
      .filter(col("prev_energy").isNotNull)
      .withColumn("is_boundary",
        expr("20 * abs(energy - prev_energy) > 3 * prev_energy"))
      .select("doc_id", "frame_idx", "energy", "prev_energy", "is_boundary")
      .orderBy("doc_id", "frame_idx")
  }

  /** Near-duplicate IMAGE detection: Hamming-≤3 pairs over the 60-bit
    * perceptual hash, found by 4×15-bit band LSH (pigeonhole: 3 flipped
    * bits cannot touch all 4 bands, so one band matches exactly) — the
    * image-modality twin of dedup_simhash_pairs' text pipeline. The
    * corpus's organic distinct phashes sit ≥5 bits apart, so the query
    * first APPENDS deterministic near-dup variants (doc_id+10^6, a
    * ~2-sample-position run of '~' spliced mid-text — the same
    * prove-the-operator augmentation discipline as text_pii_redact) and
    * then must recover exactly the variants that landed within radius 3.
    *
    * Scale shape: banding runs on DISTINCT phash values (content
    * collapse — copies share the hash), each band bucket is an equi-join
    * key, and the exact bit_count verify touches only band-collision
    * candidates. 15-bit bands keep buckets sparse (2^15 per band) — the
    * width/radius tradeoff is the standard multi-index one: wider bands
    * = fewer false candidates but smaller guaranteed radius.
    */
  private val phashNearPairs: Q = (s, dir) => {
    val aug = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      .unionAll(Tables(s, dir, "documents")
        .filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("""concat(substr(text, 1, length(text) div 2),
                 |  repeat('~', length(text) div 30 + 1),
                 |  substr(text, length(text) div 2 + length(text) div 30 + 2))"""
            .stripMargin).as("text")))
    // per-row phash chain — same shape (and rationale) as [[phashOf]]
    val h = phashOf(aug)
    // ONE phash exchange for the whole query (r17): `reps` formerly fed
    // four un-reused subtree copies (both band-join sides and the two
    // doc-count lookups) — the plan re-ran the full per-row phash chain
    // and its exchange per copy, scanning documents 8×. The distinct-
    // phash table is corpus-bounded and within-query: checkpoint it
    // (lazily — the query's action materializes it) so every consumer
    // reads one persisted copy.
    val reps = h.groupBy("phash").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(false)
    // n_docs rides THROUGH the banding instead of joining back: the band
    // join's output already carries both sides' rows, and (ph_a, ph_b)
    // functionally determine docs_a/docs_b, so deduplicating the full
    // row is the same set — two joins (and their exchanges) removed.
    // The exact-radius filter runs BEFORE the dedup, so the distinct's
    // shuffle is output-bounded (verified pairs only), not
    // band-candidate-sized.
    val bands = reps.select(col("phash"), col("n_docs"), explode(expr(
        "transform(sequence(0, 3), c -> struct(c AS cidx, (shiftright(phash, 15 * c) & 32767) AS cval))"))
        .as("ch"))
      .select(col("phash"), col("n_docs"),
        col("ch.cidx").as("cidx"), col("ch.cval").as("cval"))
    bands.as("a").join(bands.as("b"),
        col("a.cidx") === col("b.cidx") && col("a.cval") === col("b.cval") &&
          col("a.phash") < col("b.phash"))
      .select(col("a.phash").as("ph_a"), col("b.phash").as("ph_b"),
        col("a.n_docs").as("docs_a"), col("b.n_docs").as("docs_b"))
      .withColumn("hamming", expr("cast(bit_count(ph_a ^ ph_b) as bigint)"))
      .filter(col("hamming") <= 3)
      .distinct()
      .select(col("ph_a"), col("ph_b"), col("hamming"), col("docs_a"), col("docs_b"))
      .orderBy("ph_a", "ph_b")
  }

  /** Cross-modal alignment plumbing: map each of a doc's first ≤16
    * transcript tokens onto its audio frames by monotonic proportional
    * alignment — token j of n lands on frame (j·nf) div n — and join
    * the frame's energy. This is the CTC-free skeleton of
    * subtitle/forced alignment: a real aligner replaces the linear map
    * with a learned one, but the Spark shape is identical — generator
    * fan-out on both modalities, then one (doc_id, frame_idx) equi-join,
    * embarrassingly parallel at any corpus size.
    */
  private val alignStub: Q = (s, dir) => {
    val toks = Tables(s, dir, "documents")
      .filter(length(col("text")) >= 32)
      .withColumn("tk",
        expr("slice(filter(split(text, ' '), t -> length(t) > 0), 1, 16)"))
      .filter(expr("size(tk) > 0"))
      .withColumn("nt", expr("cast(size(tk) as bigint)"))
      .withColumn("nf", expr("cast(least(8, length(text) div 32) as bigint)"))
      .select(col("doc_id"), col("nt"), col("nf"),
        posexplode(col("tk")).as(Seq("j", "token")))
      .withColumn("frame_idx", expr("(j * nf) div nt"))
    toks.join(frames(s, dir).select(col("doc_id"), col("frame_idx"), col("energy")),
        Seq("doc_id", "frame_idx"))
      .select(col("doc_id"), col("j").cast("bigint").as("tok_idx"),
        col("token"), col("frame_idx"), col("energy"))
      .orderBy("doc_id", "tok_idx")
  }

  val queries: Map[String, Q] = Map(
    "mm_align_stub" -> alignStub,
    "mm_phash_near_pairs" -> phashNearPairs,
    "mm_audio_energy" -> audioEnergy,
    "mm_shot_boundary" -> shotBoundary,
    "mm_resize_stub" -> resizeStub,
    "mm_binary_meta" -> binaryMeta,
    "mm_decode_stub" -> decodeStub,
    "mm_frame_sample" -> frameSample,
    "mm_phash" -> phash,
  )

  val oracles: Map[String, String] = Map(
    "mm_align_stub" ->
      """WITH n AS (SELECT doc_id, text, least(8, length(text) // 32) AS nf
        |  FROM documents WHERE length(text) >= 32),
        |u AS (SELECT doc_id, unnest(range(0, nf * 32)) AS i, text FROM n),
        |s AS (SELECT doc_id, i, ascii(substr(text, CAST(i AS INT) + 1, 1)) AS v FROM u),
        |f AS (SELECT doc_id, CAST(i // 32 AS BIGINT) AS frame_idx,
        |    CAST(SUM((v - 64) * (v - 64)) AS BIGINT) AS energy FROM s GROUP BY 1, 2),
        |tk AS (SELECT doc_id, CAST(least(8, length(text) // 32) AS BIGINT) AS nf,
        |    list_slice(list_filter(string_split(text, ' '), t -> len(t) > 0), 1, 16) AS tks
        |  FROM documents WHERE length(text) >= 32),
        |e AS (SELECT doc_id, nf, CAST(len(tks) AS BIGINT) AS nt,
        |    CAST(x.i - 1 AS BIGINT) AS j, tks[x.i] AS token
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(tks))) AS i) x
        |  WHERE len(tks) > 0)
        |SELECT e.doc_id, e.j AS tok_idx, e.token,
        |  (e.j * e.nf) // e.nt AS frame_idx, f.energy
        |FROM e JOIN f ON f.doc_id = e.doc_id AND f.frame_idx = (e.j * e.nf) // e.nt
        |ORDER BY 1, 2""".stripMargin,
    // brute-force distinct-pair Hamming replay — the banding is
    // recall-lossless at radius 3, so LSH output == exhaustive output
    "mm_phash_near_pairs" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    substr(text, 1, length(text)//2) ||
        |    repeat('~', length(text)//30 + 1) ||
        |    substr(text, length(text)//2 + length(text)//30 + 2)
        |  FROM documents WHERE doc_id % 50 = 0),
        |v AS (SELECT doc_id,
        |    list_transform(range(0, 60),
        |      i -> ascii(substr(text, 1 + CAST((i * length(text)) // 60 AS INT), 1))) AS vals
        |  FROM aug),
        |t AS (SELECT doc_id, vals, list_sum(vals) AS total FROM v),
        |h AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60),
        |    i -> CASE WHEN vals[i + 1] * 60 > total THEN (CAST(1 AS BIGINT) << i)
        |         ELSE 0 END)) AS BIGINT) AS phash FROM t),
        |reps AS (SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_docs FROM h GROUP BY 1),
        |pr AS (SELECT a.phash AS ph_a, b.phash AS ph_b,
        |    CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming,
        |    a.n_docs AS docs_a, b.n_docs AS docs_b
        |  FROM reps a JOIN reps b ON a.phash < b.phash)
        |SELECT ph_a, ph_b, hamming, docs_a, docs_b
        |FROM pr WHERE hamming <= 3 ORDER BY ph_a, ph_b""".stripMargin,
    "mm_audio_energy" ->
      """WITH n AS (SELECT doc_id, text,
        |    least(8, length(text) // 32) AS nf
        |  FROM documents WHERE length(text) >= 32),
        |u AS (SELECT doc_id, text, unnest(range(0, nf * 32)) AS i FROM n),
        |s AS (SELECT doc_id, i,
        |    ascii(substr(text, CAST(i AS INT) + 1, 1)) AS v
        |  FROM u),
        |f AS (SELECT doc_id, CAST(i // 32 AS BIGINT) AS frame_idx,
        |    CAST(SUM((v - 64) * (v - 64)) AS BIGINT) AS energy,
        |    CAST(MAX(v) AS BIGINT) AS peak
        |  FROM s GROUP BY 1, 2)
        |SELECT doc_id, frame_idx, energy,
        |  round(sqrt(CAST(energy AS DOUBLE) / 32.0), 6) AS rms, peak
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_shot_boundary" ->
      """WITH n AS (SELECT doc_id, text,
        |    least(8, length(text) // 32) AS nf
        |  FROM documents WHERE length(text) >= 32),
        |u AS (SELECT doc_id, text, unnest(range(0, nf * 32)) AS i FROM n),
        |s AS (SELECT doc_id, i,
        |    ascii(substr(text, CAST(i AS INT) + 1, 1)) AS v
        |  FROM u),
        |f AS (SELECT doc_id, CAST(i // 32 AS BIGINT) AS frame_idx,
        |    CAST(SUM((v - 64) * (v - 64)) AS BIGINT) AS energy
        |  FROM s GROUP BY 1, 2),
        |l AS (SELECT doc_id, frame_idx, energy,
        |    lag(energy) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev_energy
        |  FROM f)
        |SELECT doc_id, frame_idx, energy, prev_energy,
        |  20 * abs(energy - prev_energy) > 3 * prev_energy AS is_boundary
        |FROM l WHERE prev_energy IS NOT NULL
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_phash" ->
      """WITH v AS (SELECT doc_id,
        |    list_transform(range(0, 60),
        |      i -> ascii(substr(text, 1 + CAST((i * length(text)) // 60 AS INT), 1))) AS vals
        |  FROM documents),
        |t AS (SELECT doc_id, vals, list_sum(vals) AS total FROM v),
        |h AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60),
        |    i -> CASE WHEN vals[i + 1] * 60 > total THEN (CAST(1 AS BIGINT) << i)
        |         ELSE 0 END)) AS BIGINT) AS phash FROM t),
        |g AS (SELECT phash, COUNT(*) AS n_same FROM h GROUP BY phash)
        |SELECT h.doc_id, h.phash, g.n_same FROM h JOIN g USING (phash)
        |ORDER BY doc_id""".stripMargin,
    "mm_resize_stub" ->
      """WITH b AS (SELECT doc_id, text,
        |    CAST(64 + length(text) % 512 AS BIGINT) AS w,
        |    CAST(64 + (length(text) * 7) % 512 AS BIGINT) AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h,
        |    list_transform(range(0, 64), i -> ascii(substr(text,
        |      CAST(1 + ((((i // 8) * h) // 8) * w + (((i % 8) * w) // 8)) % length(text) AS INT),
        |      1))) AS ps
        |  FROM b)
        |SELECT doc_id, w, h,
        |  md5(array_to_string(list_transform(ps, x -> CAST(x AS VARCHAR)), ',')) AS grid_fp,
        |  CAST(list_sum(ps) AS BIGINT) AS checksum
        |FROM px ORDER BY doc_id""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | sha256(text) AS sha,
        | lower(hex(encode(substr(text, 1, 4)))) AS magic4,
        | 64 + octet_length(encode(text)) % 512 AS fake_w,
        | 64 + (octet_length(encode(text)) * 7) % 512 AS fake_h
        |FROM documents ORDER BY doc_id""".stripMargin,
    // byte-wise, not code-point-wise: hex(encode(text)) exposes the UTF-8
    // byte stream, and each 2-hex-digit pair parses to the byte value —
    // so mean_byte agrees with the Spark side on ANY corpus, not just
    // ASCII (where code points and bytes coincide)
    "mm_decode_stub" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS nb FROM documents)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bytes,
        | nb // 100 AS n_frames,
        | CAST(list_sum(list_transform(range(0, nb),
        |   i -> CAST(('0x' || substr(hx, 2 * i + 1, 2)) AS INT))) AS DOUBLE) / nb AS mean_byte,
        | 64 + nb % 512 AS fake_w,
        | 64 + (nb * 7) % 512 AS fake_h
        |FROM b ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH f AS (SELECT doc_id, octet_length(encode(text)) // 100 AS n_frames
        |           FROM documents),
        |s AS (SELECT doc_id, n_frames,
        |        greatest(1, (n_frames // 8) +
        |          CASE WHEN n_frames % 8 = 0 THEN 0 ELSE 1 END) AS step
        |      FROM f WHERE n_frames > 0)
        |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(unnest(range(0, n_frames, step)) AS BIGINT) AS frame_idx
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,
  )
}
