package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation pack (north-star extension beyond the
  * reference's import pipeline, which ends at the sink —
  * `/root/reference/src/ParquetImporter.php:54-75`): the operations that
  * sit between a cleaned corpus and a training run. Sequence packing,
  * RAG chunking, stratified train/val splitting, token-entropy scoring,
  * URL canonicalization dedup, per-domain crawl stats, length-decile
  * clipping, and int8 embedding quantization.
  *
  * Determinism rules (see Text.scala): ratios are single int/int double
  * divisions; float chains end in round(..., 6); order-dependent double
  * sums route through a fixed-scale decimal; hashing is md5; every query
  * ends in a total ordering.
  *
  * Scale notes: everything here is per-row expressions plus hash
  * aggregations/windows keyed by lang/domain/doc — the embarrassingly
  * parallel shapes. text_length_clip's decile boundaries come from a
  * value-domain-bounded histogram, not a global window (see its doc).
  */
object Train {

  type Q = (SparkSession, String) => DataFrame

  private val toksExpr = "filter(split(text, ' '), t -> length(t) > 0)"

  /** Concat-and-chunk sequence packing: docs in (lang, doc_id) order are
    * laid head-to-tail and cut into 2048-token context windows; a doc
    * belongs to the window its first token lands in. Pure integer window
    * arithmetic (running sum per language) — exact in both engines, and
    * at 100 TB the running sum shuffles once on the partition key (lang)
    * with only (doc_id, n_tok) ints flowing through the exchange.
    */
  private val packSequences: Q = (s, dir) => {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr(s"cast(size($toksExpr) as bigint)").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", expr("(cum - n_tok) div 2048"))
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "seq_id")
  }

  /** Sliding-window RAG chunking: 64-token chunks at stride 48 (16-token
    * overlap), one output row per chunk with its md5 fingerprint. The
    * start-offset fan-out is a per-row explode — no shuffle before the
    * final presentation sort.
    */
  private val chunkSliding: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .filter(col("doc_id") % 20 === 0)
      .withColumn("tk", expr(toksExpr))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("tk"),
        explode(expr(
          "transform(sequence(0, cast(floor((size(tk) - 1) / 48.0) as int)), g -> 1 + 48 * g)"))
          .as("st"))
      .select(col("doc_id"), col("st"),
        expr("cast(size(slice(tk, st, 64)) as bigint)").as("n_tok_chunk"),
        md5(expr("array_join(slice(tk, st, 64), ' ')")).as("chunk_fp"))
      .orderBy("doc_id", "st")
  }

  /** Deterministic stratified train/val split: within each language,
    * order docs by md5 of a salted id and send the first ceil(90%) to
    * train. Hash-ordering makes the split reproducible across runs and
    * engines; the per-language window is the same single shuffle as any
    * grouped ranking.
    */
  private val splitStratified: Q = (s, dir) => {
    val byLang = Window.partitionBy("lang")
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr(s"cast(size($toksExpr) as bigint)").as("n_tok"),
        md5(concat(lit("split:"), col("doc_id"))).as("h"))
      .withColumn("rn", row_number().over(byLang.orderBy("h", "doc_id")))
      .withColumn("n", count(lit(1)).over(byLang))
      .withColumn("split",
        when(col("rn") <= ceil(col("n") * lit(0.9)), lit("train")).otherwise(lit("val")))
    d.groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy("lang", "split")
  }

  /** Token-level Shannon entropy per doc (natural log) — low entropy
    * marks repetitive/boilerplate text. The order-dependent double sum
    * of p*ln(p) terms routes through DECIMAL(28,18) so partial/final
    * aggregation order cannot change the result (see graft.Det).
    */
  private val textEntropy: Q = (s, dir) => {
    val tf = Tables(s, dir, "documents")
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val tot = tf.groupBy("doc_id")
      .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_uniq"))
    tf.join(tot, "doc_id")
      .withColumn("p", col("c").cast("double") / col("n_tok").cast("double"))
      .groupBy("doc_id")
      .agg(max(col("n_tok")).as("n_tok"), max(col("n_uniq")).as("n_uniq"),
        round(sum(expr("cast(-p * ln(p) as decimal(28,18))")).cast("double"), 6)
          .as("entropy"))
      .orderBy("doc_id")
  }

  /** Bigram-LM cross-entropy with add-one smoothing — the conditional
    * upgrade of [[unigramXent]] (CCNet/KenLM-style quality filtering):
    * p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V) from exact corpus counts, scored
    * over every 20th doc. Same determinism route: each -cnt·ln(p) term
    * is one ln + one multiply, snapped to DECIMAL(28,18) so the per-doc
    * sum is order-free; the final entropy is a single decimal→double
    * division. Corpus bigram/unigram tables join on their natural keys
    * (shuffle joins Catalyst sizes itself); only the 5% scored slice
    * crosses into the final aggregation. One lead-window pass (doc_id
    * partitioned) builds bigrams — embarrassingly parallel at 100 TB.
    */
  private val bigramXent: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val tk = Tables(s, dir, "documents")
      .select(col("doc_id"), posexplode(expr(toksExpr)))
      .select(col("doc_id"), col("pos"), col("col").as("w1"))
    val bg = tk.withColumn("w2",
        lead(col("w1"), 1).over(Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("w2").isNotNull)
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cu = tk.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val vocab = tk.agg(countDistinct(col("w1")).as("v"))
    val sel = bg.filter(col("doc_id") % 20 === 0)
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))
    sel.join(cb, Seq("w1", "w2")).join(cu, "w1").crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(expr(
          "cast(-cnt * ln(cast(cb + 1 as double) / (cu + v)) as decimal(28,18))"))
          .as("sx"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sx").cast("double") / col("n_bigrams"), 6).as("xent2"))
      .orderBy("doc_id")
  }

  /** Unigram-LM cross-entropy per doc against the corpus language model —
    * the CCNet-style perplexity quality filter: boilerplate full of
    * corpus-frequent tokens scores low, rare-token noise scores high.
    * The LM is one hash agg over tokens (vocab-sized result, broadcast
    * back) plus a one-row total; scoring is then map-side per doc. The
    * order-dependent sum of cnt·ln(p) doubles routes through
    * DECIMAL(28,18) so aggregation order cannot change the result, and
    * round(.,6) absorbs any last-ULP ln() difference between engines.
    * Scoring covers every 20th doc; the LM uses the whole corpus.
    */
  private val unigramXent: Q = (s, dir) => {
    val tk = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
    val td = tk.filter(col("doc_id") % 20 === 0)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
    val cf = tk.groupBy("token").agg(count(lit(1)).as("cw"))
    val tot = tk.agg(count(lit(1)).as("n"))
    td.join(broadcast(cf), "token")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tok"),
        sum(expr("cast(-cnt * ln(cast(cw as double) / n) as decimal(28,18))"))
          .as("sx"))
      .select(col("doc_id"), col("n_tok"),
        round(col("sx").cast("double") / col("n_tok"), 6).as("xent"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity filter (Wenzek et al. 2020) with the nightly
    * train/apply split — the LM quality gate every crawl pipeline runs:
    * a language model is trained ONCE on a frozen reference corpus and
    * each new batch is scored against it, NOT against itself (scoring a
    * batch with a batch-trained LM lets boilerplate floods score
    * themselves fluent). Here the md5-parity split shared with
    * `dedup_incremental` makes ~75% of documents the HISTORY the
    * unigram LM (add-one smoothing over history vocab; OOV falls to the
    * same smoothed floor) is trained on and ~25% the scored BATCH. Each
    * batch doc gets exact-integer token counts, a DECIMAL(28,18)-routed
    * cross-entropy sum (orderless, so hash-stable), perplexity, and the
    * CCNet head/middle/tail bucket by xent thirds — bucket edges come
    * from the distributed globalRank discipline (range partition +
    * boundary offsets, Flow.globalRank), never a global window. The LM
    * join carries NO broadcast hint: a 100 TB corpus vocabulary is not
    * a driver table, and token→token is a plain shuffle equi-join. At
    * scale: LM build is one map-side-combining count over history;
    * scoring is batch-linear.
    */
  /** The frozen history LM — token counts over the history split, the
    * artifact [[graft.IndexBuild]] writes (`lm_hist_counts`) and a cold
    * scoring session reads back instead of re-tokenizing history text
    * (see [[graft.IndexStore]]). Session-cached either way: the LM is
    * consumed by both `text_lm_ppl_filter` and `pipeline_admission`.
    */
  private[graft] def buildLmHistCounts(s: SparkSession, dir: String): DataFrame =
    lmCountsFor(s, dir, not(expr(isBatchDocExpr)))

  /** [[buildLmHistCounts]] over an arbitrary doc slice — `lit(true)` is
    * the full-corpus build the index-merge spec compares against.
    */
  private[graft] def lmCountsFor(s: SparkSession, dir: String, pred: Column): DataFrame =
    Tables(s, dir, "documents")
      .filter(pred)
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cw"))

  /** Nightly index UPDATE for the LM artifact: token counts are
    * additive, so the merge is one outer join of the persisted history
    * counts with tonight's batch counts — raw history text untouched.
    */
  private[graft] def mergedArtifacts(
      s: SparkSession, dir: String, histRoot: String): Map[String, DataFrame] = {
    val hist = s.read.parquet(s"$histRoot/lm_hist_counts")
      .select(col("token"), col("cw").as("hw"))
    val batch = lmCountsFor(s, dir, expr(isBatchDocExpr))
      .select(col("token"), col("cw").as("bw"))
    Map("lm_hist_counts" -> hist.join(batch, Seq("token"), "full_outer")
      .select(col("token"),
        (coalesce(col("hw"), lit(0L)) + coalesce(col("bw"), lit(0L))).as("cw")))
  }

  private val isBatchDocExpr = graft.Incr.isBatchDoc

  private val lmPplFilter: Q = (s, dir) => {
    val lm = graft.IndexStore.artifact(s, dir, "lm_hist_counts")
    val nv = lm.agg(sum(col("cw")).as("n"), count(lit(1)).as("v"))
    // the batch side tokenizes ONLY batch documents (filter before the
    // explode — per-row tokenization commutes with the doc filter)
    val bt = Tables(s, dir, "documents")
      .filter(expr(isBatchDocExpr))
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
    val scored = bt.join(lm, Seq("token"), "left")
      .na.fill(0L, Seq("cw"))
      .crossJoin(broadcast(nv))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_tok"),
        sum(expr("cast(-cnt * ln(cast(cw + 1 as double) / (n + v)) as decimal(28,18))"))
          .as("sx"))
      .withColumn("xent", col("sx").cast("double") / col("n_tok"))
    val nd = scored.agg(count(lit(1)).as("nd"))
    Flow.globalRank(scored, "rr", col("xent"), col("doc_id"))
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("n_tok"),
        round(exp(col("xent")), 6).as("ppl"),
        when(col("rr") * 3 <= col("nd"), lit("head"))
          .when(col("rr") * 3 <= col("nd") * 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy("doc_id")
  }

  /** URL canonicalization dedup: synthesized crawl URLs with www./query/
    * fragment/trailing-slash variants collapse to a canonical form
    * (lowercase, strip www., strip ?query and #fragment, strip trailing
    * slash); keep the lowest doc_id per canonical URL. Hash-groupBy on
    * the canonical string — the same shape as dedup_exact.
    */
  private val dedupUrl: Q = (s, dir) => {
    // regex chain per row is the cost — run it spread (see Tables.docsSpread)
    val urlExpr =
      """concat(CASE WHEN doc_id % 3 = 0 THEN 'https://WWW.' ELSE 'https://' END,
        | source, '.example.com/page/', cast(doc_id % 300 as string),
        | CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
        | CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed' ELSE '' END,
        | CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END)""".stripMargin
    Tables.docsSpread(s, dir)
      .withColumn("url", expr(urlExpr))
      .withColumn("canon",
        expr("""regexp_replace(replace(lower(regexp_replace(url, '[?#].*$', '')),
               |'://www.', '://'), '/$', '')""".stripMargin))
      .groupBy("canon")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_urls"),
        countDistinct(col("url")).as("n_distinct_urls"))
      .orderBy("canon")
  }

  /** Per-domain crawl stats: doc counts, distinct-content counts, token
    * volume, and duplication rate per synthesized domain. dup_rate is a
    * single int/int double division (bit-identical across engines).
    */
  private val domainStats: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .withColumn("domain", concat(col("source"), lit(".example.com")))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        sum(expr(s"cast(size($toksExpr) as bigint)")).as("n_tokens"))
      .select(col("domain"), col("n_docs"), col("n_distinct"), col("n_tokens"),
        ((col("n_docs") - col("n_distinct")).cast("double") / col("n_docs"))
          .as("dup_rate"))
      .orderBy("domain")
  }

  /** Length-decile clipping table via value-based deciles with NO global
    * window: ONE distributed job (tokenizing scan + partial/final hash
    * agg) reduces the corpus to a token-count histogram whose size is
    * bounded by the value domain — distinct token counts per doc — not
    * by corpus size; the decile table then folds out of that bounded
    * histogram driver-side (the same aggregate-then-broadcast-back shape
    * AQE stats and approx_percentile boundaries use). A value's decile
    * is `floor(10 * docs_below / n) + 1` — all ties share a decile,
    * deciles can be skipped under heavy ties, and the result is exact
    * and deterministic in both engines. Deciles 1 / 10 are the clip
    * candidates. Replaces the round-3 global-NTILE formulation, whose
    * single-partition WindowExec moved every ROW to one task
    * (PlanEvidenceSpec pins Window absence; the only per-row work left
    * is the one scan feeding the histogram agg).
    */
  private val lengthClip: Q = (s, dir) => {
    import s.implicits._
    val hist = Tables(s, dir, "documents")
      .select(expr(s"cast(size($toksExpr) as bigint)").as("n_tok"))
      .groupBy("n_tok").agg(count(lit(1)).as("c"))
      .orderBy("n_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = hist.map(_._2).sum
    var below = 0L
    val assigned = hist.map { case (v, c) =>
      val dec = ((below * 10) / total).toInt + 1
      below += c
      (dec, v, c)
    }
    assigned.groupBy(_._1).toSeq
      .map { case (dec, rows) =>
        (dec, rows.map(_._3).sum, rows.map(_._2).min, rows.map(_._2).max,
          if (dec == 1) "low" else if (dec == 10) "high" else "keep")
      }
      .sortBy(_._1)
      .toDF("decile", "n_docs", "lo", "hi", "clip")
  }

  /** Symmetric int8 quantization of embedding vectors: per-vector scale
    * maxabs/127, quantize with floor(x/scale + 0.5) (well-defined in
    * both engines — no round-half tie ambiguity), report the first 4
    * quantized values and the L1 reconstruction error. All math in
    * double (the float32 source is cast up first so both engines run
    * identical IEEE ops); the in-array error sum is a sequential left
    * fold in array order on both sides.
    */
  private val embQuantize: Q = (s, dir) => {
    Tables(s, dir, "embeddings")
      .filter(col("vec_id") % 10 === 0)
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("maxabs", expr("array_max(transform(v, x -> abs(x)))"))
      .filter(col("maxabs") > 0)
      .select(col("vec_id"),
        expr("cast(size(v) as bigint)").as("n_dims"),
        round(col("maxabs"), 6).as("maxabs_r"),
        expr("""array_join(transform(slice(v, 1, 4),
               |x -> cast(cast(floor(x * 127.0 / maxabs + 0.5) as int) as string)), ',')"""
          .stripMargin).as("q4"),
        round(expr(
          """aggregate(transform(v, x -> abs(x - floor(x * 127.0 / maxabs + 0.5) * maxabs / 127.0)),
            |cast(0 as double), (a, x) -> a + x)""".stripMargin), 6).as("l1_err"))
      .orderBy("vec_id")
  }

  /** pack_sequences keyed on the tokenizer-grade BPE budget instead of
    * the whitespace proxy — real training prep packs on what the model
    * will actually see, and a 2048 budget of BPE tokens holds ~2-3× more
    * words than a whitespace count suggests. Same one-exchange running
    * sum (only (doc_id, lang, n_bpe) ints flow); the BPE side reuses
    * Text.bpePerDoc's distinct-word collapse.
    */
  private val packSequencesBpe: Q = (s, dir) => {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .join(Text.bpePerDoc(s, dir).select(col("doc_id"), col("n_bpe_tokens").as("n_tok")),
        "doc_id")
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", expr("(cum - n_tok) div 2048"))
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "seq_id")
  }

  /** Temperature-rebalanced mixture sampling — the data-composition step
    * that actually SELECTS the training subset (pipeline_train_mix stops
    * at weights): per-source quotas ∝ n^α with α = 0.5 (the multilingual
    * sampling-temperature rule that upweights small sources), allocated
    * by exact integer largest-remainder so quotas sum to the 200-doc
    * target, CAPPED at each source's population with the shortfall
    * redistributed to sources with headroom in remainder-priority order
    * (one deterministic cumulative-headroom pass — if total population
    * is below the target the output under-fills by design, with every
    * available doc selected), then filled per source by deterministic
    * hash priority.
    *
    * Every step is engine-exact: isqrt(n) is floor of the CORRECTLY
    * ROUNDED IEEE sqrt of an integer (identical in any engine), quota
    * arithmetic is pure BIGINT div/mod, the remainder tie-break is
    * total-ordered (rem DESC, source ASC), and the hash priority is 13
    * md5 hex chars = 52 bits — exactly representable in the double the
    * top-k heap orders by, so heap order equals exact integer order.
    *
    * Scale shape: NO window ever touches the doc table. Per-source
    * selection is the TopKByValue TypedImperativeAggregate (bounded
    * 200-element heaps, merged map-side like any partial aggregate —
    * only k rows per source per map partition cross the exchange),
    * replacing the r7 `Window.partitionBy(source)` full-corpus rank
    * whose parallelism was capped at #sources. The three quota windows
    * run on the ~source-count-row table (value-domain-bounded); the
    * quota table broadcasts to the 200-row survivor join.
    */
  private val mixtureSample: Q = (s, dir) => {
    import org.apache.spark.sql.graft.TopKAgg
    val docs = Tables(s, dir, "documents").select(col("doc_id"), col("source"))
    val per = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("isq", expr("cast(floor(sqrt(cast(n_docs as double))) as bigint)"))
    val tot = per.agg(sum(col("isq")).as("w_tot"))
    val q0 = per.crossJoin(broadcast(tot))
      .withColumn("q_base", expr("(200 * isq) div w_tot"))
      .withColumn("rem", expr("(200 * isq) % w_tot"))
    val left = q0.agg((lit(200L) - sum(col("q_base"))).as("leftover"))
    val byRem = Window.orderBy(col("rem").desc, col("source"))
    val q1 = q0.crossJoin(broadcast(left))
      .withColumn("rr", row_number().over(byRem))
      .withColumn("q1", least(
        col("q_base") + when(col("rr") <= col("leftover"), 1L).otherwise(0L),
        col("n_docs")))
    val short = q1.agg((lit(200L) - sum(col("q1"))).as("short"))
    val quota = q1.crossJoin(broadcast(short))
      .withColumn("headroom", col("n_docs") - col("q1"))
      .withColumn("cumhead", coalesce(
        sum(col("headroom")).over(byRem.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("quota", col("q1") +
        greatest(lit(0L), least(col("headroom"), col("short") - col("cumhead"))))
      .select("source", "quota")
    val tops = docs
      .withColumn("prio",
        expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 13), 16, 10) as bigint)"))
      .groupBy("source")
      .agg(TopKAgg.topk_by_value(-col("prio").cast("double"), col("doc_id"), 200)
        .as("top"))
    tops.select(col("source"), posexplode(col("top")))
      .select(col("source"), (col("pos") + 1).cast("bigint").as("sel_rank"),
        col("col.key").as("doc_id"))
      .join(broadcast(quota), "source")
      .filter(col("sel_rank") <= col("quota"))
      .select(col("doc_id"), col("source"), col("sel_rank"), col("quota"))
      .orderBy("source", "sel_rank")
  }

  /** Shard-manifest build — the "global shuffle" a training dataloader
    * actually needs at 100 TB: a deterministic hash permutation assigns
    * every doc to one of 16 shards (md5 priority, so shard membership is
    * reproducible and uniform regardless of input order or partitioning),
    * and the manifest row per shard carries count, token budget, doc-id
    * range, and an order-free XOR fingerprint (the dq_checksum
    * discipline) that lets a loader verify a shard it just read. One
    * tokenizing map + one 16-group hash agg; no sort, no window, no
    * skew — the shape stays flat at any corpus size.
    */
  private val shardManifest: Q = (s, dir) => {
    Tables.docsSpread(s, dir)
      .select(col("doc_id"),
        expr(s"cast(size($toksExpr) as bigint)").as("n_tok"),
        expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
          .as("h"))
      .withColumn("shard", pmod(col("h"), lit(16L)))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        expr("bit_xor(h)").as("fingerprint"))
      .orderBy("shard")
  }

  /** Curriculum phase assignment — order training docs easy→hard (token
    * count as the difficulty proxy, doc_id tiebreak so the order is
    * total) and split into 4 equal phases, the curriculum-learning prep
    * step a training scheduler consumes. The quartile cut does NOT use a
    * global NTILE window (single-task sort of the doc table at 100 TB):
    * phases come from the distributed [[Flow.globalRank]] substrate plus
    * NTILE's closed form over two broadcast scalars — bit-identical to
    * DuckDB's ntile(4), zero single-partition sorts (the
    * flow_rfm_segments discipline applied to the corpus table). Output
    * is the 4-row phase manifest (doc counts, token ranges, token
    * budget per phase).
    */
  private val curriculum: Q = (s, dir) => {
    val d = graft.Tables.docsSpread(s, dir)
      .select(col("doc_id"), expr(s"cast(size($toksExpr) as bigint)").as("n_tok"))
    val ranked = Flow.globalRank(d, "rk", col("n_tok"), col("doc_id"))
    val n = d.agg(count(lit(1)).as("_n"))
    val phase = expr(
      """cast(CASE
        |  WHEN rk <= (_n % 4) * ((_n div 4) + 1)
        |    THEN (rk + (_n div 4)) div ((_n div 4) + 1)
        |  ELSE (_n % 4) + (rk - (_n % 4) * ((_n div 4) + 1) + (_n div 4) - 1) div (_n div 4)
        |END as bigint)""".stripMargin)
    ranked.crossJoin(broadcast(n))
      .withColumn("phase", phase)
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).as("sum_tok"))
      .orderBy("phase")
  }

  val queries: Map[String, Q] = Map(
    "train_curriculum" -> curriculum,
    "train_shard_manifest" -> shardManifest,
    "train_mixture_sample" -> mixtureSample,
    "pack_sequences" -> packSequences,
    "pack_sequences_bpe" -> packSequencesBpe,
    "chunk_sliding" -> chunkSliding,
    "sample_split_stratified" -> splitStratified,
    "text_entropy" -> textEntropy,
    "text_unigram_xent" -> unigramXent,
    "text_lm_ppl_filter" -> lmPplFilter,
    "pipeline_admission" -> pipelineAdmission,
    "text_bigram_xent" -> bigramXent,
    "dedup_url" -> dedupUrl,
    "text_domain_stats" -> domainStats,
    "text_length_clip" -> lengthClip,
    "emb_quantize" -> embQuantize,
  )

  /** The nightly admission gate END-TO-END — the composition the three
    * incremental legs exist for: per batch document, join the CCNet
    * perplexity bucket ([[lmPplFilter]]), the frozen-index near-dup
    * verdict (Dedup.dedup_incremental), and the lexical novelty score
    * (Text.text_ngram_novelty) into one admit/reject decision table
    * (admit = not a near-dup AND not in the perplexity tail; novelty
    * rides along as the data-mixing signal, reason names the first
    * failing check). All three legs share the md5-parity split and
    * their session-cached history artifacts, so the composition costs
    * three batch-sized joins on doc_id — the production shape where the
    * gate is one job reading three persisted-index joins, not three
    * pipelines. Docs with no 3-grams carry novelty 0.
    */
  private def pipelineAdmission: Q = (s, dir) => {
    val ppl = lmPplFilter(s, dir).select(col("doc_id"), col("ppl"), col("bucket"))
    val dups = Dedup.queries("dedup_incremental")(s, dir)
      .select(col("batch_doc").as("doc_id")).distinct()
      .withColumn("nd", lit(true))
    val nov = Text.queries("text_ngram_novelty")(s, dir)
      .select(col("doc_id"), col("novelty"))
    ppl.join(dups, Seq("doc_id"), "left")
      .join(nov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ppl"), col("bucket"),
        coalesce(col("novelty"), lit(0.0)).as("novelty"),
        coalesce(col("nd"), lit(false)).as("near_dup"))
      .withColumn("admit", !col("near_dup") && col("bucket") =!= "tail")
      .withColumn("reason",
        when(col("near_dup"), lit("near_dup"))
          .when(col("bucket") === "tail", lit("tail_ppl"))
          .otherwise(lit("ok")))
      .orderBy("doc_id")
  }

  /** text_lm_ppl_filter's DuckDB replay — factored so the
    * pipeline_admission composition can embed it as a subquery.
    */
  private val oLmPpl: String =
    """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS token
        |  FROM documents),
        |lm AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cw FROM tok
        |  WHERE NOT substr(md5('incr|' || CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |  GROUP BY 1),
        |nv AS (SELECT CAST(SUM(cw) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v FROM lm),
        |bt AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok
        |  WHERE substr(md5('incr|' || CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |  GROUP BY 1, 2),
        |sc AS (SELECT bt.doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tok,
        |    SUM(CAST(-cnt * ln(CAST(COALESCE(lm.cw, 0) + 1 AS DOUBLE) / (nv.n + nv.v))
        |      AS DECIMAL(28,18))) AS sx
        |  FROM bt LEFT JOIN lm USING (token), nv GROUP BY 1),
        |x AS (SELECT doc_id, n_tok, CAST(sx AS DOUBLE) / n_tok AS xent FROM sc),
        |r AS (SELECT *, row_number() OVER (ORDER BY xent, doc_id) AS rr,
        |  COUNT(*) OVER () AS nd FROM x)
        |SELECT doc_id, n_tok, round(exp(xent), 6) AS ppl,
        |  CASE WHEN rr * 3 <= nd THEN 'head'
        |       WHEN rr * 3 <= nd * 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "train_curriculum" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |t AS (SELECT n_tok, CAST(ntile(4) OVER (ORDER BY n_tok, doc_id) AS BIGINT) AS phase
        |  FROM d)
        |SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "train_shard_manifest" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT) AS n_tok,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT h % 16 AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        |  CAST(bit_xor(h) AS BIGINT) AS fingerprint
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "train_mixture_sample" ->
      """WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS isq FROM per),
        |t AS (SELECT CAST(SUM(isq) AS BIGINT) AS w_tot FROM w),
        |q0 AS (SELECT source, n_docs, isq, (200 * isq) // w_tot AS q_base,
        |    (200 * isq) % w_tot AS rem FROM w, t),
        |l AS (SELECT 200 - CAST(SUM(q_base) AS BIGINT) AS leftover FROM q0),
        |q1 AS (SELECT source, n_docs, rem,
        |    CAST(LEAST(q_base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
        |      <= (SELECT leftover FROM l) THEN 1 ELSE 0 END, n_docs) AS BIGINT) AS q1
        |  FROM q0),
        |sh AS (SELECT 200 - CAST(SUM(q1) AS BIGINT) AS short FROM q1),
        |quota AS (SELECT source,
        |    CAST(q1 + GREATEST(0, LEAST(n_docs - q1,
        |      (SELECT short FROM sh) - COALESCE(SUM(n_docs - q1) OVER (ORDER BY rem DESC, source
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS BIGINT) AS quota
        |  FROM q1),
        |pr AS (SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS prio
        |  FROM documents),
        |rk AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY prio, doc_id) AS BIGINT) AS rk
        |  FROM pr)
        |SELECT rk.doc_id, rk.source, rk.rk AS sel_rank, quota.quota
        |FROM rk JOIN quota USING (source)
        |WHERE rk.rk <= quota.quota
        |ORDER BY source, sel_rank""".stripMargin,
    "pack_sequences_bpe" ->
      s"""WITH RECURSIVE ${Text.oBpeCte},
         |dt AS (SELECT d.doc_id, d.lang, bpd.n_bpe_tokens AS n_tok
         |  FROM documents d JOIN bpd ON d.doc_id = bpd.doc_id),
         |c AS (
         |  SELECT doc_id, lang, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM dt)
         |SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS seq_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2 ORDER BY lang, seq_id""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS seq_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin,
    "chunk_sliding" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
        |  FROM documents WHERE doc_id % 20 = 0),
        |c AS (
        |  SELECT doc_id, tk, CAST(1 + 48 * g AS INT) AS st
        |  FROM t, LATERAL (SELECT unnest(generate_series(0,
        |    CAST(floor((len(tk) - 1) / 48.0) AS BIGINT))) AS g)
        |  WHERE len(tk) > 0)
        |SELECT doc_id, st,
        |  CAST(len(tk[st:st+63]) AS BIGINT) AS n_tok_chunk,
        |  md5(array_to_string(tk[st:st+63], ' ')) AS chunk_fp
        |FROM c ORDER BY doc_id, st""".stripMargin,
    "sample_split_stratified" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tok,
        |    md5('split:' || doc_id) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, n_tok,
        |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM t)
        |SELECT lang,
        |  CASE WHEN rn <= ceil(n * 0.9) THEN 'train' ELSE 'val' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM r GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "text_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS token
        |  FROM documents WHERE doc_id % 20 = 0),
        |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM tok GROUP BY doc_id, token),
        |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |          CAST(COUNT(*) AS BIGINT) AS n_uniq
        |        FROM tf GROUP BY doc_id),
        |j AS (SELECT tf.doc_id, n_tok, n_uniq,
        |        CAST(c AS DOUBLE) / CAST(n_tok AS DOUBLE) AS p
        |      FROM tf JOIN tot ON tf.doc_id = tot.doc_id)
        |SELECT doc_id, MAX(n_tok) AS n_tok, MAX(n_uniq) AS n_uniq,
        |  round(CAST(SUM(CAST(-p * ln(p) AS DECIMAL(28,18))) AS DOUBLE), 6) AS entropy
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_bigram_xent" ->
      """WITH tok AS (
        |  SELECT doc_id, i AS pos, t[i] AS w1 FROM (
        |    SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
        |    FROM documents), unnest(range(1, len(t) + 1)) u(i)),
        |bg AS (SELECT doc_id, w1,
        |    lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM tok QUALIFY w2 IS NOT NULL),
        |cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY 1, 2),
        |cu AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cu FROM tok GROUP BY 1),
        |v AS (SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM tok),
        |sel AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM bg WHERE doc_id % 20 = 0 GROUP BY 1, 2, 3),
        |x AS (SELECT sel.doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
        |    SUM(CAST(-cnt * ln(CAST(cb + 1 AS DOUBLE) / (cu + (SELECT v FROM v)))
        |      AS DECIMAL(28,18))) AS sx
        |  FROM sel JOIN cb USING (w1, w2) JOIN cu USING (w1) GROUP BY 1)
        |SELECT doc_id, n_bigrams,
        |  round(CAST(sx AS DOUBLE) / n_bigrams, 6) AS xent2
        |FROM x ORDER BY doc_id""".stripMargin,
    // history-trained add-one unigram LM scores the batch split; bucket
    // edges are xent thirds over the scored set (rank, doc_id tiebreak)
    "text_lm_ppl_filter" -> oLmPpl,
    // the three incremental-leg oracles embedded as subqueries (DuckDB
    // scopes each subquery's CTEs locally), joined on doc_id
    "pipeline_admission" ->
      s"""SELECT p.doc_id, p.ppl, p.bucket,
         |  COALESCE(n.novelty, 0.0) AS novelty,
         |  (d.doc_id IS NOT NULL) AS near_dup,
         |  (d.doc_id IS NULL AND p.bucket <> 'tail') AS admit,
         |  CASE WHEN d.doc_id IS NOT NULL THEN 'near_dup'
         |       WHEN p.bucket = 'tail' THEN 'tail_ppl' ELSE 'ok' END AS reason
         |FROM ($oLmPpl) p
         |LEFT JOIN (SELECT DISTINCT batch_doc AS doc_id
         |           FROM (${Dedup.oracles("dedup_incremental")})) d
         |  ON d.doc_id = p.doc_id
         |LEFT JOIN (${Text.oracles("text_ngram_novelty")}) n
         |  ON n.doc_id = p.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    "text_unigram_xent" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS token
        |  FROM documents),
        |td AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM tok WHERE doc_id % 20 = 0 GROUP BY 1, 2),
        |cf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cw FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
        |x AS (SELECT td.doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tok,
        |    SUM(CAST(-cnt * ln(CAST(cw AS DOUBLE) / (SELECT n FROM tot)) AS DECIMAL(28,18))) AS sx
        |  FROM td JOIN cf USING (token) GROUP BY 1)
        |SELECT doc_id, n_tok,
        |  round(CAST(sx AS DOUBLE) / n_tok, 6) AS xent
        |FROM x ORDER BY doc_id""".stripMargin,
    "dedup_url" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'https://WWW.' ELSE 'https://' END ||
        |     source || '.example.com/page/' || CAST(doc_id % 300 AS VARCHAR) ||
        |     CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
        |     CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed' ELSE '' END ||
        |     CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, url,
        |    regexp_replace(replace(lower(regexp_replace(url, '[?#].*$', '')),
        |      '://www.', '://'), '/$', '') AS canon
        |  FROM u)
        |SELECT canon, MIN(doc_id) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_distinct_urls
        |FROM c GROUP BY canon ORDER BY canon""".stripMargin,
    "text_domain_stats" ->
      """WITH t AS (
        |  SELECT source || '.example.com' AS domain, md5(text) AS fp,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |g AS (
        |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY domain)
        |SELECT domain, n_docs, n_distinct, n_tokens,
        |  CAST(n_docs - n_distinct AS DOUBLE) / n_docs AS dup_rate
        |FROM g ORDER BY domain""".stripMargin,
    "text_length_clip" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |h AS (SELECT n_tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY n_tok),
        |tot AS (SELECT SUM(c) AS n FROM h),
        |dec AS (
        |  SELECT a.n_tok,
        |    CAST((COALESCE(SUM(b.c), 0) * 10) // (SELECT n FROM tot) AS INT) + 1 AS decile
        |  FROM h a LEFT JOIN h b ON b.n_tok < a.n_tok
        |  GROUP BY a.n_tok),
        |d AS (SELECT t.doc_id, t.n_tok, dec.decile FROM t JOIN dec USING (n_tok))
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  MIN(n_tok) AS lo, MAX(n_tok) AS hi,
        |  CASE WHEN decile = 1 THEN 'low' WHEN decile = 10 THEN 'high'
        |       ELSE 'keep' END AS clip
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,
    "emb_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |m AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) AS maxabs
        |      FROM e)
        |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims,
        |  round(maxabs, 6) AS maxabs_r,
        |  array_to_string(list_transform(v[1:4],
        |    x -> CAST(CAST(floor(x * 127.0 / maxabs + 0.5) AS INT) AS VARCHAR)), ',') AS q4,
        |  round(list_sum(list_transform(v,
        |    x -> abs(x - floor(x * 127.0 / maxabs + 0.5) * maxabs / 127.0))), 6) AS l1_err
        |FROM m WHERE maxabs > 0 ORDER BY vec_id""".stripMargin,
  )
}
