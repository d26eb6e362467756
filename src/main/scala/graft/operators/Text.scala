package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis pack for LLM-training-data pipelines over the `documents`
  * table: tokenization + term stats, token counting (whitespace + BPE-ish
  * regex), quality scoring, language-ID (marker-word heuristic), document
  * fingerprinting (normalized md5 + min-gram), and a lang x source pivot.
  *
  * Determinism rules: all ratios are a single int/int -> double division
  * (one IEEE op — bit-identical in Spark and DuckDB, no rounding needed);
  * all hashing is md5 (identical in both engines); every query ends in a
  * total ordering.
  *
  * Scale notes: every query is a single scan + narrow per-row expressions
  * (whole-stage codegen, no UDFs) followed by at most one hash aggregation
  * — shape is embarrassingly parallel at 100 TB.
  */
object Text {

  type Q = (SparkSession, String) => DataFrame

  /** Non-empty whitespace tokens (split on ' ' leaves empties for runs). */
  private val toksExpr = "filter(split(text, ' '), t -> length(t) > 0)"

  /** Token 3-grams over `tk`. The size guard must yield an EMPTY array
    * for docs under 3 tokens — `sequence(1, greatest(n-2, 0))` would
    * produce the DESCENDING [1, 0] (Spark sequence steps -1 when start >
    * stop) and crash element_at on out-of-bounds/zero indices.
    */
  private val gramsExpr =
    s"""CASE WHEN size(tk) < 3 THEN CAST(array() AS array<string>)
       |ELSE transform(sequence(1, size(tk) - 2),
       |  i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))
       |END""".stripMargin

  /** Lexical novelty of tonight's batch against the frozen corpus — the
    * third leg of the nightly admission gate (dedup_incremental finds
    * near-copies, text_lm_ppl_filter scores fluency, this scores what
    * fraction of a new doc's token 3-grams the history corpus has NEVER
    * seen): a data-mixing signal — all-novel batches are new domains or
    * garbage, zero-novel batches are redundant spend. Same md5-parity
    * split as the other incremental queries. Unlike
    * [[decontaminate]] — whose reference set is a SMALL benchmark and
    * therefore broadcast — the reference here is the corpus-scale
    * distinct-gram vocabulary, so the membership join is a plain gram
    * shuffle equi-join with NO broadcast hint (the ADVICE-r9 rule), and
    * novelty counts arrive from one map-side-combining (doc, gram)
    * aggregate. Docs under 3 tokens have no grams and no row (both
    * engines). At 100 TB: two gram scans + one shuffle; in production
    * the history vocabulary is a persisted bloom/exact gram table.
    */
  private val isBatchDocExpr = graft.Incr.isBatchDoc

  /** (doc_id, gram) rows over a documents frame — shared by the history
    * vocabulary build and the batch side of [[ngramNovelty]].
    */
  private def gramsOf(docs: DataFrame): DataFrame =
    docs.withColumn("tk", expr(toksExpr))
      .select(col("doc_id"), explode(expr(gramsExpr)).as("gram"))

  /** The frozen history gram vocabulary — the artifact
    * [[graft.IndexBuild]] writes (`gram_hist_vocab`) and a cold scoring
    * session reads back instead of re-shingling history text (see
    * [[graft.IndexStore]]).
    */
  private[graft] def buildGramHistVocab(s: SparkSession, dir: String): DataFrame =
    gramVocabFor(s, dir, not(expr(isBatchDocExpr)))

  /** [[buildGramHistVocab]] over an arbitrary doc slice — `lit(true)` is
    * the full-corpus build the index-merge spec compares against.
    */
  private[graft] def gramVocabFor(s: SparkSession, dir: String, pred: Column): DataFrame =
    gramsOf(Tables.docsSpread(s, dir).filter(pred))
      .select("gram").distinct()

  /** Nightly index UPDATE for the vocabulary artifact: the gram set is a
    * union, so the merge adds only the batch grams history never saw.
    */
  private[graft] def mergedArtifacts(
      s: SparkSession, dir: String, histRoot: String): Map[String, DataFrame] = {
    val hist = Tables.read(s, s"$histRoot/gram_hist_vocab")
    val batch = gramVocabFor(s, dir, expr(isBatchDocExpr))
    Map("gram_hist_vocab" ->
      hist.unionByName(batch.join(hist, Seq("gram"), "left_anti")))
  }

  private val ngramNovelty: Q = (s, dir) => {
    // the batch side grams ONLY batch documents (per-row gramming
    // commutes with the doc filter); with a persisted index active the
    // filter runs on the raw table so a cold session never spreads or
    // grams history text
    val batchDocs =
      if (graft.IndexStore.active.isDefined)
        Tables(s, dir, "documents").filter(expr(isBatchDocExpr))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      else Tables.docsSpread(s, dir).filter(expr(isBatchDocExpr))
    val hist = graft.IndexStore.artifact(s, dir, "gram_hist_vocab").withColumn("seen", lit(1L))
    gramsOf(batchDocs)
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .join(hist, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_grams"),
        sum(when(col("seen").isNull, col("cnt")).otherwise(lit(0L))).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
      .orderBy("doc_id")
  }

  /** Tokenize + corpus term stats: term frequency and document frequency. */
  private val tokenizeStats: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token"))
  }

  /** Per-doc token counting: whitespace tokens vs a BPE-ish regex lexer
    * (letter runs | digit runs | single other chars).
    */
  private val tokenCount: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .select(
        col("doc_id"),
        expr(s"cast(size($toksExpr) as bigint)").as("n_ws"),
        expr("cast(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) as bigint)")
          .as("n_bpe"),
        length(col("text")).cast("bigint").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length, type-token ratio, mean token length,
    * stopword ratio, punctuation ratio, and a keep/drop flag — the
    * Gopher-style heuristic filter shape.
    */
  private val quality: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .withColumn("tk", expr(toksExpr))
      .select(
        col("doc_id"), col("lang"),
        length(col("text")).cast("bigint").as("n_chars"),
        expr("cast(size(tk) as bigint)").as("n_tokens"),
        expr("cast(size(array_distinct(tk)) as bigint)").as("n_uniq"),
        expr("cast(size(array_distinct(tk)) as double) / size(tk)").as("ttr"),
        expr("cast(aggregate(tk, 0, (a, t) -> a + length(t)) as double) / size(tk)")
          .as("avg_token_len"),
        expr("cast(size(filter(tk, t -> array_contains(array('the','a','of','and','to','in'), t))) as double) / size(tk)")
          .as("stop_ratio"),
        expr("cast(length(regexp_replace(text, '[a-z0-9 ]', '')) as double) / length(text)")
          .as("punct_ratio"),
        expr("cast(CASE WHEN size(tk) BETWEEN 10 AND 10000 AND size(array_distinct(tk)) > 5 THEN 1 ELSE 0 END as int)")
          .as("keep"))
      .orderBy("doc_id")
  }

  /** Readability scoring — Flesch reading ease + Flesch–Kincaid grade
    * from three EXACT integer counts per document: words (whitespace
    * tokens), sentences (runs of `[.!?]`, floored at 1 so a fragment
    * still scores), and syllables (vowel groups `[aeiouy]+` per word,
    * floored at 1 per word — the standard dictionary-free heuristic).
    * The corpus-quality use: readability is a cheap fluency prior next
    * to text_quality's ratio heuristics, and because the inputs are
    * integers the two final formulas are a handful of IEEE ops each —
    * replayed with the identical literal coefficients and association
    * in DuckDB, so the doubles hash cross-engine. One scan, per-row
    * codegen expressions, no shuffle: embarrassingly parallel at 100 TB.
    */
  private val readability: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .withColumn("tk", expr(toksExpr))
      .select(col("doc_id"), col("lang"),
        expr("cast(size(tk) as bigint)").as("n_words"),
        expr("cast(greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1) as bigint)")
          .as("n_sents"),
        expr("cast(aggregate(tk, 0, (a, t) -> a + greatest(size(regexp_extract_all(t, '[aeiouy]+', 0)), 1)) as bigint)")
          .as("n_syll"))
      .withColumn("flesch", round(
        lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sents"))
          - lit(84.6) * (col("n_syll").cast("double") / col("n_words")), 6))
      .withColumn("grade_fk", round(
        lit(0.39) * (col("n_words").cast("double") / col("n_sents"))
          + lit(11.8) * (col("n_syll").cast("double") / col("n_words"))
          - lit(15.59), 6))
      .orderBy("doc_id")
  }

  /** Marker sets per language for the lang-ID heuristic (distinct-token
    * overlap count; ties resolve in fixed lang order de<en<es<fr<zh).
    */
  private val markers = Seq(
    "de" -> Seq("der", "die", "das", "und", "ein"),
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "de", "y", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les"),
    "zh" -> Seq("de_zh", "shi_zh"))

  private val langId: Q = (s, dir) => {
    def arr(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("array(", ", ", ")")
    val scoreCols = markers.map { case (l, ws) =>
      expr(s"cast(size(array_intersect(array_distinct(tk), ${arr(ws)})) as bigint)").as(s"s_$l")
    }
    val langs = markers.map(_._1)
    // argmax with lexicographic tie-break = first lang whose score >= all later
    val predSql = langs.init.zipWithIndex.map { case (l, i) =>
        val rest = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
        s"WHEN $rest THEN '$l'"
      }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
    Tables(s, dir, "documents")
      .withColumn("tk", expr(toksExpr))
      .select(col("doc_id") +: col("lang") +: scoreCols: _*)
      .withColumn("pred_lang", expr(predSql))
      .withColumn("is_correct", (col("pred_lang") === col("lang")).cast("int"))
      .orderBy("doc_id")
  }

  /** Confusion matrix of the lang-ID heuristic — the evaluation a
    * classifier ships with: (true lang, predicted lang) counts and the
    * within-true-lang share, so per-language precision/recall read off
    * directly. Runs the identical argmax as text_lang_id, then ONE hash
    * aggregation to a |langs|² matrix — the eval is as parallel as the
    * classifier itself, and at 100 TB the matrix is still 25 rows.
    */
  private val langConfusion: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    langId(s, dir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_of_true",
        col("n").cast("double") / sum(col("n")).over(Window.partitionBy("lang")).cast("double"))
      .orderBy("lang", "pred_lang")
  }

  /** Document fingerprinting: md5 of the normalized text (exact-dup key)
    * plus the minimum md5 over all 8-char grams of the normalized text
    * (a 1-gram winnow — stable under small edits).
    */
  private val fingerprint: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .withColumn("nrm", expr("trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))"))
      .select(
        col("doc_id"),
        md5(col("nrm")).as("fp_exact"),
        expr("array_min(transform(sequence(1, greatest(length(nrm) - 7, 1)), i -> md5(substr(nrm, i, 8))))")
          .as("fp_min"))
      .orderBy("doc_id")
  }

  private val sources: Seq[String] = (0 until 20).map(i => s"src$i")

  /** lang x source contingency table via pivot. */
  private val langSourcePivot: Q = (s, dir) => {
    Tables(s, dir, "documents")
      .groupBy("lang")
      .pivot("source", sources)
      .count()
      .na.fill(0L)
      .orderBy("lang")
  }

  /** End-to-end training-data pipeline in one composed plan: quality
    * filter -> exact dedup (keep lowest doc_id per normalized
    * fingerprint) -> per-language corpus stats. The shape every cleaning
    * job has; here it is a single Catalyst plan, so pushdown/pruning
    * apply across stage boundaries.
    */
  private val pipelineCleanCorpus: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    // Project to (doc_id, lang, n_chars, n_tok, fp) BEFORE the dedup
    // window: the shuffle on fp then carries ~50 bytes/row instead of the
    // full text + token array — at 100 TB that is the difference between
    // a metadata-sized exchange and re-shuffling the whole corpus.
    val kept = Tables(s, dir, "documents")
      .withColumn("tk", expr(toksExpr))
      .filter(expr("size(tk) BETWEEN 10 AND 10000 AND size(array_distinct(tk)) > 5"))
      .select(
        col("doc_id"), col("lang"), col("n_chars"),
        expr("cast(size(tk) as bigint)").as("n_tok"),
        md5(expr("trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))")).as("fp"))
    val deduped = kept
      .withColumn("rn", row_number().over(
        Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn") === 1)
    deduped.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        expr("cast(sum(n_chars) as double) / sum(n_tok)").as("chars_per_token"))
      .orderBy("lang")
  }

  /** TF-IDF top-5 terms per document. Ranking is by the integer triple
    * (tf desc, df asc, token) — deterministic across engines — while the
    * tfidf score itself is the usual tf·ln(N/df), rounded to 6 places for
    * cross-engine float agreement.
    *
    * Scale shape: two hash aggregations (tf by (doc,token), df by token)
    * + a broadcast of the single-row corpus count + one window by doc_id.
    * Nothing holds corpus-level state; all shuffles are on natural keys.
    */
  private val tfidf: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.docsSpread(s, dir)
    val tok = docs.select(col("doc_id"), explode(expr(toksExpr)).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tok.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("token"))))
      .filter(col("rn") <= 5)
      .select("doc_id", "token", "tf", "df", "tfidf", "rn")
      .orderBy("doc_id", "rn")
  }

  /** Eval-set decontamination: flag corpus documents sharing any token
    * 3-gram with a "benchmark" set (stand-in: every 97th doc). The
    * canonical pre-training hygiene op.
    *
    * Scale shape: the benchmark side is tiny (1/97th of the corpus, then
    * distinct grams) so Spark broadcasts it and the corpus side never
    * shuffles its gram explosion — at 100 TB the corpus stays
    * map-side-only until the final per-doc count.
    */
  private val decontaminate: Q = (s, dir) => {
    val grams = Tables.docsSpread(s, dir)
      .withColumn("tk", expr(toksExpr))
      .select(col("doc_id"), explode(expr(gramsExpr)).as("gram"))
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .select(col("gram")).distinct()
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), "gram")
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  /** PII redaction: mask emails and phone-shaped tokens. The corpus is
    * synthetic (no real PII), so the query first APPENDS deterministic
    * fake PII derived from doc_id, then proves the masking removes it —
    * the redaction regexes are the operator under test. Patterns avoid
    * lookarounds so Java regex (Spark) and RE2 (DuckDB) agree.
    */
  private val piiRedact: Q = (s, dir) => {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]+"
    val phoneRe = "555-[0-9]{4}"
    Tables(s, dir, "documents")
      .withColumn("aug", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .withColumn("red",
        regexp_replace(regexp_replace(col("aug"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"))
      .select(
        col("doc_id"),
        expr(s"cast(size(regexp_extract_all(aug, '$emailRe', 0)) as int)").as("n_email"),
        expr(s"cast(size(regexp_extract_all(aug, '$phoneRe', 0)) as int)").as("n_phone"),
        md5(col("red")).as("red_md5"),
        (length(col("aug")) - length(col("red"))).cast("bigint").as("chars_removed"))
      .orderBy("doc_id")
  }

  /** Within-document repetition scoring (the Gopher repetition filter):
    * fraction of duplicated token 3-grams per doc. High rep_ratio marks
    * boilerplate/spam. Pure per-row expressions — no shuffle at all.
    */
  private val repetition: Q = (s, dir) => {
    // The doc filter is expressed on the token count, NOT on size(g):
    // `filter(size(g) > 0)` gets pushed below the tk/g projections, which
    // inlines the full token expression into every element_at inside the
    // gram lambda — re-tokenizing the doc once per gram index (O(n^2) per
    // doc; measured 4.6 s vs 0.5 s at sf0.1). `size(toks) >= 3` is the
    // same predicate and evaluates the tokenizer once per row.
    Tables(s, dir, "documents")
      .filter(expr(s"size($toksExpr) >= 3"))
      .withColumn("tk", expr(toksExpr))
      .withColumn("g", expr(gramsExpr))
      .select(
        col("doc_id"),
        expr("cast(size(g) as bigint)").as("n_grams"),
        expr("cast(size(array_distinct(g)) as bigint)").as("n_uniq"),
        expr("1.0 - cast(size(array_distinct(g)) as double) / size(g)").as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** Training-mix weighting: after quality filter + exact dedup, compute
    * each language's token share and the up/down-sampling weight needed
    * to hit a uniform 20% target mix — the data-composition step between
    * corpus cleaning and training. One extra single-row broadcast (the
    * total) on top of the cleaning plan; weights are round(target *
    * total / tokens, 6) with the identical expression shape in the
    * oracle.
    */
  private val trainMix: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val kept = Tables(s, dir, "documents")
      .withColumn("tk", expr(toksExpr))
      .filter(expr("size(tk) BETWEEN 10 AND 10000 AND size(array_distinct(tk)) > 5"))
      .select(col("doc_id"), col("lang"),
        expr("cast(size(tk) as bigint)").as("n_tok"),
        md5(expr("trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))")).as("fp"))
    val deduped = kept
      .withColumn("rn", row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn") === 1)
    val perLang = deduped.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val total = perLang.agg(sum(col("n_tokens")).as("total_tokens"))
    perLang.crossJoin(broadcast(total))
      .select(
        col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("total_tokens"), 6).as("tok_frac"),
        round(lit(0.2) * col("total_tokens") / col("n_tokens"), 6).as("mix_weight"))
      .orderBy("lang")
  }

  /** Corpus heavy-hitter tokens via a Misra-Gries sketch + exact re-count
    * — the sketch-then-verify pattern that makes approximate algorithms
    * oracle-checkable. Pass 1 aggregates the whole token stream into ONE
    * k=400-entry MG summary ([[org.apache.spark.sql.graft.MisraGries]]):
    * constant O(k) state per partition through the exchange, and every
    * token with frequency > n/401 is guaranteed present in the candidate
    * array no matter how partitions merge. Pass 2 re-counts ONLY tokens
    * in the broadcast candidate array and keeps those above n/200 (>
    * the sketch's guarantee line, so the result is exact). At 100 TB the
    * expensive exact aggregation runs over ~k distinct groups instead of
    * the full vocabulary.
    */
  private val heavyHitters: Q = (s, dir) => {
    val toks = graft.Tables.docsSpread(s, dir)
      .select(explode(expr(toksExpr)).as("token"))
    val cand = toks.agg(
      org.apache.spark.sql.graft.VecFunctions.misra_gries(col("token"), 400).as("cands"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    toks.join(broadcast(cand), array_contains(col("cands"), col("token")))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * 200 > col("n_total"))
      .select(col("token"), col("cnt"), col("n_total"))
      .orderBy(col("cnt").desc, col("token"))
  }

  // ------------------------------------------------------------ BPE count

  /** Literal merge vocabulary for the greedy longest-match tokenizer —
    * common English subwords by length (the shape a trained BPE vocab
    * has; a production run would broadcast the real merges table). The
    * single source is the codegen expression's companion
    * ([[org.apache.spark.sql.graft.BpeCount]]): the hot path, the
    * declarative fold (kept for the equivalence spec), and the DuckDB
    * oracle all derive from the same arrays.
    */
  private val bpeVocab: Map[Int, Seq[String]] = {
    import org.apache.spark.sql.graft.BpeCount
    Map(4 -> BpeCount.V4.toSeq, 3 -> BpeCount.V3.toSeq, 2 -> BpeCount.V2.toSeq)
  }

  /** Greedy longest-match token count for one word column, as a Spark
    * `aggregate` fold: state (p, c) = (next unconsumed char position,
    * tokens so far); step i only acts when i == p, advancing p by the
    * longest vocab match at p (4, 3, 2, else 1 char). Data-dependent
    * stride inside a fixed-length fold — the trick that makes greedy
    * matching expressible declaratively, hence replayable in DuckDB
    * (there as a recursive CTE, which allows true variable stride).
    * The QUERY path uses the codegen'd bpe_count expression instead;
    * this fold is the declarative reference, pinned equivalent in
    * VecExpressionsSpec.
    */
  private[graft] def bpeCountExpr(w: String): String = {
    def arr(n: Int) = bpeVocab(n).map("'" + _ + "'").mkString("array(", ",", ")")
    s"""aggregate(sequence(1, length($w)), named_struct('p', 1, 'c', 0),
       |  (a, i) -> IF(i != a.p, a, named_struct(
       |    'p', a.p + CASE WHEN array_contains(${arr(4)}, substr($w, i, 4)) THEN 4
       |               WHEN array_contains(${arr(3)}, substr($w, i, 3)) THEN 3
       |               WHEN array_contains(${arr(2)}, substr($w, i, 2)) THEN 2
       |               ELSE 1 END,
       |    'c', a.c + 1)),
       |  a -> cast(a.c AS bigint))""".stripMargin
  }

  /** Per-doc BPE token budget (doc_id, n_words, n_bpe_tokens) — shared
    * with Train.packSequencesBpe, which packs on this count.
    */
  private[operators] def bpePerDoc(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.docsSpread(s, dir)
      .select(col("doc_id"), explode(expr(toksExpr)).as("w"))
    val perDocWord = words.groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
    val distinctW = perDocWord.select("w").distinct()
      .withColumn("ntok", org.apache.spark.sql.graft.VecFunctions.bpe_count(col("w")))
    perDocWord.join(distinctW, "w")
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("ntok")).as("n_bpe_tokens"))
  }

  /** Tokenizer-grade token budget: greedy longest-match BPE-ish counts
    * per document (vs the whitespace proxy in `text_token_count`).
    * Distributed shape: words content-collapse to DISTINCT before the
    * per-word fold runs — on a duplicate-heavy crawl the fold cost is
    * quadratic-free and proportional to distinct vocabulary, not corpus
    * size — then per-(doc, word) multiplicities expand the counts back
    * with one word-keyed join and a doc_id-keyed sum. The interpreted
    * lambda (higher-order fns are CodegenFallback) therefore runs once
    * per distinct word, not once per occurrence.
    */
  private val bpeCount: Q = (s, dir) => bpePerDoc(s, dir).orderBy("doc_id")

  /** Zipf-law fit over the top-256 token frequencies — the corpus-health
    * diagnostic behind "is this scraped text natural language?" (natural
    * corpora fit log f ≈ a + s·log r with s ≈ −1 and high R²; boilerplate
    * / generated spam bends the curve). OLS runs on 2^-20-quantized
    * log coordinates (lx = round(ln rk · 10⁶), ly likewise) so every sum
    * is an EXACT 64-bit integer — the scale factor cancels in the slope,
    * and the only engine-sensitive ops are 512 `ln` calls on small
    * integers (the text_tfidf precedent) plus the final two divisions.
    * The vocab cut is the text_vocab_encode TakeOrdered shape: bounded
    * per-partition heaps, rank window over 256 rows; the distributed
    * work is the one map-side-combining token count. Overflow audit:
    * ly ≤ ln(10¹⁵)·10⁶ ≈ 3.5e7 ⇒ n·Σly² ≤ 256²·1.2e15 < 2^63 with wide
    * margin at any plausible corpus frequency.
    */
  private val zipfFit: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.docsSpread(s, dir)
      .select(explode(expr(toksExpr)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("w"))
      .limit(256)
    val q = top
      .withColumn("rk", row_number().over(
        Window.orderBy(col("tf").desc, col("w"))).cast("bigint"))
      .select(
        expr("cast(round(ln(cast(rk as double)) * 1000000) as bigint)").as("lx"),
        expr("cast(round(ln(cast(tf as double)) * 1000000) as bigint)").as("ly"))
    q.agg(count(lit(1)).as("n"),
        sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
        sum(col("lx") * col("ly")).as("sxy"),
        sum(col("lx") * col("lx")).as("sxx"),
        sum(col("ly") * col("ly")).as("syy"))
      // n·sxy and sx·sy pass 2^63 with ~15% headroom at the comment's own
      // extreme-frequency bound (n=256, lx·ly ≤ 1.2e15 ⇒ n·sxy ≈ 7.9e19)
      // — route every product through DECIMAL(38,0) (the autocorr /
      // modularity discipline; the oracle's HUGEINT sums are exact the
      // same way) and convert to double once, identically, at the end
      .select(col("n"),
        round(expr(
          """cast(cast(n as decimal(38,0)) * sxy
            |   - cast(sx as decimal(19,0)) * cast(sy as decimal(19,0)) as double)
            | / cast(cast(n as decimal(38,0)) * sxx
            |   - cast(sx as decimal(19,0)) * cast(sx as decimal(19,0)) as double)"""
            .stripMargin), 6).as("zipf_slope"),
        round(expr(
          """(cast(cast(n as decimal(38,0)) * sxy
            |    - cast(sx as decimal(19,0)) * cast(sy as decimal(19,0)) as double)
            |  * cast(cast(n as decimal(38,0)) * sxy
            |    - cast(sx as decimal(19,0)) * cast(sy as decimal(19,0)) as double))
            | / (cast(cast(n as decimal(38,0)) * sxx
            |    - cast(sx as decimal(19,0)) * cast(sx as decimal(19,0)) as double)
            |  * cast(cast(n as decimal(38,0)) * syy
            |    - cast(sy as decimal(19,0)) * cast(sy as decimal(19,0)) as double))"""
            .stripMargin), 6).as("r2"))
  }

  /** Vocabulary build + encode (the word2id step of training prep):
    * top-256 tokens by (tf DESC, token) get stable ids 1..256; each doc's
    * first 16 tokens encode to ids (0 = OOV), emitted as a csv string
    * with the OOV count. Vocab selection is orderBy+limit →
    * TakeOrderedAndProject (per-partition 256-row heaps + driver merge),
    * NOT a global rank window over the full distinct-token table — on a
    * web corpus that table is 10^7–10^8 rows and a global window sorts
    * it on one task. Only AFTER the cut does a rank window assign stable
    * ids, over exactly 256 rows; the 256-row vocab then broadcasts to
    * the encode join. Reassembly is the ordered collect_list discipline
    * from text_span_scrub.
    */
  private val vocabEncode: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val top = Tables.docsSpread(s, dir)
      .select(explode(expr(toksExpr)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("w"))
      .limit(256)
    val vocab = top
      .withColumn("id", row_number().over(
        Window.orderBy(col("tf").desc, col("w"))).cast("bigint"))
      .select("w", "id")
    val heads = Tables.docsSpread(s, dir)
      .select(col("doc_id"), posexplode(expr(s"slice($toksExpr, 1, 16)")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("w"))
    heads.join(broadcast(vocab), Seq("w"), "left")
      .withColumn("tid", coalesce(col("id"), lit(0L)))
      .groupBy("doc_id")
      .agg(
        sum(when(col("tid") === 0, 1L).otherwise(0L)).as("n_oov"),
        expr("concat_ws(',', transform(array_sort(collect_list(struct(p, tid))), x -> cast(x.tid AS string)))")
          .as("head_ids"))
      .orderBy("doc_id")
  }

  /** Distributed BPE MERGE TRAINING (3 rounds) — the corpus-scale half of
    * the tokenizer story (text_bpe_count APPLIES a vocab; this LEARNS
    * one): count adjacent symbol pairs across the distinct-word-collapsed
    * corpus, adopt the most frequent pair (ties: count DESC, pair ASC) as
    * a merge, apply it greedily left-to-right everywhere, repeat. The
    * greedy non-overlapping application — inherently sequential-looking —
    * is fully declarative: for an (x,y) merge with x≠y matches can never
    * overlap, and for x=y the left-to-right choice is exactly "even
    * offset within each maximal run of x" — a gaps-islands window, no
    * per-row recursion. So each round is explode + two windows + a
    * regroup, every step partitioned by word: at 100 TB pair counts
    * partial-aggregate map-side over the VOCABULARY (duplicate text never
    * multiplies symbol rows), and the merge table is the only global
    * state. Exact integer counts; DuckDB replays all three rounds.
    */
  private val bpeTrain: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val words = Tables(s, dir, "documents")
      .select(explode(expr(
        "filter(split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '), t -> length(t) > 0 AND length(t) <= 24)"))
        .as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    var rows = words
      .select(col("w").as("wid"), col("cnt"),
        explode(expr("sequence(1, length(w))")).as("pos"))
      .withColumn("sym", expr("substr(wid, pos, 1)"))
    val wOrd = Window.partitionBy("wid").orderBy("pos")
    var merges: DataFrame = null
    for (r <- 1 to 3) {
      val withNext = rows.withColumn("nxt", lead(col("sym"), 1).over(wOrd))
      val top = withNext.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("x"), col("nxt").as("y"))
        .agg(sum(col("cnt")).as("pair_cnt"))
        .orderBy(col("pair_cnt").desc, col("x"), col("y")).limit(1)
      val roundRow = top.select(lit(r).as("round"), col("x"), col("y"),
        concat(col("x"), col("y")).as("merged"), col("pair_cnt"))
      merges = if (merges == null) roundRow else merges.unionAll(roundRow)
      if (r == 3) {
        // the learned merge is the output — applying it would be dead work
      } else {
      val marked = withNext.crossJoin(broadcast(top.select(col("x"), col("y"))))
        .withColumn("isnew",
          when(lag(col("sym"), 1).over(wOrd).isNull
            || lag(col("sym"), 1).over(wOrd) =!= col("sym"), 1L).otherwise(0L))
        .withColumn("blk", sum(col("isnew")).over(wOrd))
        .withColumn("off", row_number().over(
          Window.partitionBy("wid", "blk").orderBy("pos")) - 1)
        .withColumn("mark", coalesce(
          col("sym") === col("x") && col("nxt") === col("y") &&
            (col("x") =!= col("y") || col("off") % 2 === 0), lit(false)))
        .withColumn("skip", coalesce(lag(col("mark"), 1).over(wOrd), lit(false)))
      rows = marked.filter(!col("skip"))
        .select(col("wid"), col("cnt"),
          row_number().over(wOrd).as("pos"),
          when(col("mark"), concat(col("x"), col("y"))).otherwise(col("sym")).as("sym"))
        // LAZY checkpoint (r17): the merge rounds are a fixed budget with
        // no per-round observable — the query's single final action
        // (merges.orderBy) computes both applied rounds in one job (each
        // round's RDD persist-marked, computed once) instead of two eager
        // materialize jobs + the final one. Still cuts plan lineage.
        .localCheckpoint(false)
      }
    }
    merges.orderBy("round")
  }

  /** Statistical watermark detection — the filter a training pipeline
    * runs to keep LLM-generated text OUT of the corpus. Green-list
    * scheme: a keyed hash partitions the vocabulary into green/red
    * halves (here md5-prefix parity); watermarked generators bias
    * towards green tokens, so a doc's green count g among n tokens has
    * z = (2g − n)/√n ≫ 0 under watermarking and ≈ N(0,1) on natural
    * text. The corpus is organic, so the query APPENDS deterministic
    * "generated" variants (doc_id+2·10^6, text = the doc's green tokens
    * only — the same prove-the-operator augmentation as text_pii_redact
    * and mm_phash_near_pairs) and must flag exactly those.
    *
    * Scale shape: one tokenize pass, per-doc hash agg; z is integer
    * arithmetic + one IEEE sqrt and division — embarrassingly parallel,
    * no shuffle beyond the doc_id agg.
    */
  private val watermarkDetect: Q = (s, dir) => {
    val greenTok =
      "filter(filter(split(text, ' '), t -> length(t) > 0), " +
        "t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint) % 2 = 0)"
    val aug = Tables.docsSpread(s, dir).select(col("doc_id"), col("text"))
      .unionAll(Tables.docsSpread(s, dir)
        .filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          expr(s"array_join($greenTok, ' ')").as("text")))
    aug
      .select(col("doc_id"), explode(expr(toksExpr)).as("token"))
      .withColumn("green",
        expr("cast(conv(substr(md5(token), 1, 15), 16, 10) as bigint) % 2 = 0"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("green"), 1L).otherwise(0L)).as("n_green"))
      .withColumn("z", round(
        (col("n_green") * 2 - col("n_tok")).cast("double") /
          sqrt(col("n_tok").cast("double")), 6))
      .withColumn("flagged", col("z") > lit(3.0))
      .orderBy("doc_id")
  }

  /** Per-source boilerplate-span detection — the C4/RefinedWeb cleaning
    * step that catches template headers, licence banners and navigation
    * chrome BEFORE they reach training data: a 7-token span appearing in
    * ≥ 30% of one source's documents is boilerplate for that source even
    * when whole-doc similarity is low. The synthetic corpus carries no
    * natural boilerplate (measured: max per-source span df = 1), so the
    * query APPENDS the failure mode it exists to catch — even-numbered
    * sources get a 10-token template header prepended (the
    * pii_redact/norm_outliers augmentation discipline) and must surface
    * exactly its pure-header spans. Shape at 100 TB: one tokenize
    * explode (rows ~ tokens), one map-side-combining (source, span-md5)
    * aggregate, a 20-row broadcast of per-source doc counts — the
    * dedup_span shape plus per-source normalization; span TEXT never
    * shuffles, only md5s.
    */
  private val boilerplateSpans: Q = (s, dir) => {
    val d = Tables.docsSpread(s, dir).select(col("doc_id"), col("source"), col("text"))
    // injection tag = md5(source) first-nibble parity: corpus-agnostic
    // (no assumption about the source naming scheme) and identical in
    // both engines — a numeric-suffix cast would NULL on Spark but
    // ERROR in DuckDB for an unexpected source format
    val aug = d.withColumn("text",
      when(expr("substr(md5(source), 1, 1) in ('0','2','4','6','8','a','c','e')"),
        concat(lit("tmpl hdr alpha beta gamma delta epsilon zeta eta theta "), col("text")))
        .otherwise(col("text")))
    val sp = aug
      .withColumn("tk", expr("filter(split(text, ' '), t -> length(t) > 0)"))
      .select(col("doc_id"), col("source"), explode(expr(
        """CASE WHEN size(tk) < 7 THEN CAST(array() AS array<string>)
          |ELSE transform(sequence(1, size(tk) - 6), i -> md5(concat_ws(' ', slice(tk, i, 7))))
          |END""".stripMargin)).as("h"))
    val f = sp.groupBy("source", "h")
      .agg(expr("cast(count(distinct doc_id) as bigint)").as("df"))
    // doc counts from the UN-augmented frame with a plain count:
    // augmentation never changes row count and doc_id is unique per row
    val sd = d.groupBy("source").agg(count(lit(1)).as("nd"))
    f.join(broadcast(sd), "source")
      .groupBy("source")
      .agg(max(col("nd")).as("n_docs"),
        sum(when(col("df") * 10 >= col("nd") * 3, 1L).otherwise(0L)).as("n_boiler_spans"),
        max(col("df")).as("max_span_df"))
      .orderBy("source")
  }

  /** Variable-length duplicated-substring RUNS — the exact-substring
    * dedup criterion of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (substrings ≥ N tokens appearing in more
    * than one document), computed WITHOUT suffix arrays: consecutive
    * cross-doc-duplicated 7-token windows chain into maximal islands via
    * the gaps-and-islands trick (i − row_number is constant on a run),
    * and an island spanning positions [a, b] covers exactly b − a + 7
    * tokens. Per doc: run count, longest run, its start. Shape at
    * 100 TB: one tokenize explode, one map-side-combining duplicate
    * filter on span md5s, and a per-DOC position window (bounded by
    * document length, never corpus size).
    */
  private val dupSubstringRuns: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val sp = Tables.docsSpread(s, dir)
      .withColumn("tk", expr("filter(split(text, ' '), t -> length(t) > 0)"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(tk) < 7 THEN CAST(array() AS array<struct<i: int, h: string>>)
          |ELSE transform(sequence(1, size(tk) - 6), i -> struct(i AS i, md5(concat_ws(' ', slice(tk, i, 7))) AS h))
          |END""".stripMargin)).as("sp"))
      .select(col("doc_id"), col("sp.i").as("i"), col("sp.h").as("h"))
    val dup = sp.groupBy("h")
      .agg(expr("cast(count(distinct doc_id) as bigint)").as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val fl = sp.join(dup, "h")
    val isl = fl.withColumn("grp",
      col("i") - row_number().over(Window.partitionBy("doc_id").orderBy("i")))
    val runs = isl.groupBy("doc_id", "grp")
      .agg(min(col("i")).as("st"),
        (max(col("i")) - min(col("i")) + 7).cast("bigint").as("run_tokens"))
    // longest run with ties broken to the SMALLEST start: one struct-max
    // (lexicographic on (run_tokens, -st)) — deterministic, single agg
    runs.groupBy("doc_id")
      .agg(count(lit(1)).as("n_runs"),
        max(struct(col("run_tokens"), (-col("st")).as("negst"))).as("best"))
      .filter(col("best.run_tokens") >= 12)
      .select(col("doc_id"), col("n_runs"),
        col("best.run_tokens").as("max_run_tokens"),
        (-col("best.negst")).cast("bigint").as("longest_start"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "text_boilerplate_spans" -> boilerplateSpans,
    "text_dup_substring_runs" -> dupSubstringRuns,
    "text_watermark_detect" -> watermarkDetect,
    "text_bpe_train" -> bpeTrain,
    "text_bpe_count" -> bpeCount,
    "text_vocab_encode" -> vocabEncode,
    "text_zipf_fit" -> zipfFit,
    "text_heavy_hitters" -> heavyHitters,
    "pipeline_train_mix" -> trainMix,
    "pipeline_clean_corpus" -> pipelineCleanCorpus,
    "text_tfidf" -> tfidf,
    "text_decontaminate" -> decontaminate,
    "text_ngram_novelty" -> ngramNovelty,
    "text_pii_redact" -> piiRedact,
    "text_repetition" -> repetition,
    "text_tokenize_stats" -> tokenizeStats,
    "text_token_count" -> tokenCount,
    "text_quality" -> quality,
    "text_readability" -> readability,
    "text_lang_id" -> langId,
    "text_lang_confusion" -> langConfusion,
    "text_fingerprint" -> fingerprint,
    "text_lang_source_pivot" -> langSourcePivot,
  )

  private val oToks = "list_filter(string_split(text, ' '), t -> len(t) > 0)"

  /** DuckDB replay of the greedy BPE fold: recursive CTE per DISTINCT
    * word — each step consumes the longest vocab match at `pos` — with
    * the identical literal vocab, so counts pin bit-exact.
    */
  private[operators] val oBpeCte: String = {
    def dl(n: Int) = bpeVocab(n).map("'" + _ + "'").mkString("[", ",", "]")
    s"""t AS (SELECT doc_id, unnest($oToks) AS w FROM documents),
       |dw AS (SELECT doc_id, w, COUNT(*) AS n FROM t GROUP BY 1, 2),
       |words AS (SELECT DISTINCT w FROM dw),
       |r(w, pos, cnt) AS (
       |  SELECT w, 1, 0 FROM words
       |  UNION ALL
       |  SELECT w,
       |    pos + CASE WHEN list_contains(${dl(4)}, substr(w, pos, 4)) THEN 4
       |          WHEN list_contains(${dl(3)}, substr(w, pos, 3)) THEN 3
       |          WHEN list_contains(${dl(2)}, substr(w, pos, 2)) THEN 2
       |          ELSE 1 END,
       |    cnt + 1
       |  FROM r WHERE pos <= len(w)),
       |ntok AS (SELECT w, MAX(cnt) AS ntok FROM r GROUP BY 1),
       |bpd AS (SELECT dw.doc_id, CAST(SUM(dw.n) AS BIGINT) AS n_words,
       |  CAST(SUM(dw.n * ntok.ntok) AS BIGINT) AS n_bpe_tokens
       |  FROM dw JOIN ntok USING (w) GROUP BY 1)""".stripMargin
  }

  private val oBpe: String =
    s"""WITH RECURSIVE $oBpeCte
       |SELECT doc_id, n_words, n_bpe_tokens FROM bpd ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_dup_substring_runs" ->
      """WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        |  FROM documents),
        |sp AS (SELECT doc_id, i, md5(array_to_string(tk[i:i+6], ' ')) AS h
        |  FROM (SELECT doc_id, tk, unnest(
        |      CASE WHEN len(tk) < 7 THEN CAST([] AS BIGINT[])
        |      ELSE range(1, len(tk) - 5) END) AS i FROM d)),
        |dup AS (SELECT h FROM sp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        |fl AS (SELECT sp.doc_id, sp.i FROM sp JOIN dup USING (h)),
        |isl AS (SELECT doc_id,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp, i
        |  FROM fl),
        |runs AS (SELECT doc_id, grp, MIN(i) AS st,
        |    MAX(i) - MIN(i) + 7 AS run_tokens FROM isl GROUP BY 1, 2),
        |ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
        |    CAST(MAX(run_tokens) AS BIGINT) AS mx FROM runs GROUP BY 1)
        |SELECT ag.doc_id, ag.n_runs, ag.mx AS max_run_tokens,
        |  CAST(MIN(CASE WHEN r.run_tokens = ag.mx THEN r.st END) AS BIGINT) AS longest_start
        |FROM ag JOIN runs r USING (doc_id)
        |WHERE ag.mx >= 12
        |GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
    "text_boilerplate_spans" ->
      """WITH d0 AS (SELECT doc_id, source, text FROM documents),
        |aug AS (SELECT doc_id, source,
        |    CASE WHEN substr(md5(source), 1, 1) IN ('0','2','4','6','8','a','c','e')
        |      THEN 'tmpl hdr alpha beta gamma delta epsilon zeta eta theta ' || text
        |      ELSE text END AS text
        |  FROM d0),
        |tk AS (SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk FROM aug),
        |sp AS (SELECT doc_id, source, unnest(
        |    CASE WHEN len(tk) < 7 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(range(1, len(tk) - 5), i -> md5(array_to_string(tk[i:i+6], ' ')))
        |    END) AS h
        |  FROM tk),
        |f AS (SELECT source, h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM sp GROUP BY 1, 2),
        |sd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM d0 GROUP BY 1)
        |SELECT f.source, MAX(sd.nd) AS n_docs,
        |  CAST(SUM(CASE WHEN df * 10 >= sd.nd * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_spans,
        |  MAX(df) AS max_span_df
        |FROM f JOIN sd USING (source) GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_watermark_detect" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    array_to_string(list_filter(
        |      list_filter(string_split(text, ' '), t -> len(t) > 0),
        |      t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 2 = 0), ' ')
        |  FROM documents WHERE doc_id % 40 = 0),
        |tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS token
        |  FROM aug),
        |g AS (SELECT doc_id, token,
        |    CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) % 2 = 0 AS green
        |  FROM tok),
        |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |    CAST(COUNT(*) FILTER (green) AS BIGINT) AS n_green
        |  FROM g GROUP BY 1)
        |SELECT doc_id, n_tok, n_green,
        |  round((n_green * 2 - n_tok) / sqrt(n_tok), 6) AS z,
        |  round((n_green * 2 - n_tok) / sqrt(n_tok), 6) > 3.0 AS flagged
        |FROM a ORDER BY doc_id""".stripMargin,
    "text_bpe_train" ->
      """WITH words AS (
              |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
              |    SELECT unnest(list_filter(
              |      string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
              |      t -> len(t) > 0 AND len(t) <= 24)) AS w
              |    FROM documents) GROUP BY w),
              |s1 AS (SELECT w AS wid, cnt, i + 1 AS pos, substr(w, i + 1, 1) AS sym
              |  FROM (SELECT w, cnt, unnest(range(len(w))) AS i FROM words)),
              |n1 AS (SELECT *, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt FROM s1),
              |t1 AS (SELECT sym AS x, nxt AS y, CAST(SUM(cnt) AS BIGINT) AS pair_cnt FROM n1
              |  WHERE nxt IS NOT NULL GROUP BY 1, 2 ORDER BY pair_cnt DESC, x, y LIMIT 1),
              |m1 AS (SELECT n.*, t.x, t.y,
              |    CASE WHEN lag(n.sym) OVER (PARTITION BY n.wid ORDER BY n.pos) IS NULL
              |           OR lag(n.sym) OVER (PARTITION BY n.wid ORDER BY n.pos) <> n.sym
              |         THEN 1 ELSE 0 END AS isnew
              |  FROM n1 n, t1 t),
              |b1 AS (SELECT *, SUM(isnew) OVER (PARTITION BY wid ORDER BY pos) AS blk FROM m1),
              |o1 AS (SELECT *, row_number() OVER (PARTITION BY wid, blk ORDER BY pos) - 1 AS off FROM b1),
              |k1 AS (SELECT *, coalesce(sym = x AND nxt = y AND (x <> y OR off % 2 = 0), FALSE) AS mark FROM o1),
              |f1 AS (SELECT *, coalesce(lag(mark) OVER (PARTITION BY wid ORDER BY pos), FALSE) AS skip FROM k1),
              |s2 AS (SELECT wid, cnt, row_number() OVER (PARTITION BY wid ORDER BY pos) AS pos,
              |    CASE WHEN mark THEN x || y ELSE sym END AS sym
              |  FROM f1 WHERE NOT skip),
              |n2 AS (SELECT *, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt FROM s2),
              |t2 AS (SELECT sym AS x, nxt AS y, CAST(SUM(cnt) AS BIGINT) AS pair_cnt FROM n2
              |  WHERE nxt IS NOT NULL GROUP BY 1, 2 ORDER BY pair_cnt DESC, x, y LIMIT 1),
              |m2 AS (SELECT n.*, t.x, t.y,
              |    CASE WHEN lag(n.sym) OVER (PARTITION BY n.wid ORDER BY n.pos) IS NULL
              |           OR lag(n.sym) OVER (PARTITION BY n.wid ORDER BY n.pos) <> n.sym
              |         THEN 1 ELSE 0 END AS isnew
              |  FROM n2 n, t2 t),
              |b2 AS (SELECT *, SUM(isnew) OVER (PARTITION BY wid ORDER BY pos) AS blk FROM m2),
              |o2 AS (SELECT *, row_number() OVER (PARTITION BY wid, blk ORDER BY pos) - 1 AS off FROM b2),
              |k2 AS (SELECT *, coalesce(sym = x AND nxt = y AND (x <> y OR off % 2 = 0), FALSE) AS mark FROM o2),
              |f2 AS (SELECT *, coalesce(lag(mark) OVER (PARTITION BY wid ORDER BY pos), FALSE) AS skip FROM k2),
              |s3 AS (SELECT wid, cnt, row_number() OVER (PARTITION BY wid ORDER BY pos) AS pos,
              |    CASE WHEN mark THEN x || y ELSE sym END AS sym
              |  FROM f2 WHERE NOT skip),
              |n3 AS (SELECT *, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt FROM s3),
              |t3 AS (SELECT sym AS x, nxt AS y, CAST(SUM(cnt) AS BIGINT) AS pair_cnt FROM n3
              |  WHERE nxt IS NOT NULL GROUP BY 1, 2 ORDER BY pair_cnt DESC, x, y LIMIT 1),
              |m3 AS (SELECT n.*, t.x, t.y,
              |    CASE WHEN lag(n.sym) OVER (PARTITION BY n.wid ORDER BY n.pos) IS NULL
              |           OR lag(n.sym) OVER (PARTITION BY n.wid ORDER BY n.pos) <> n.sym
              |         THEN 1 ELSE 0 END AS isnew
              |  FROM n3 n, t3 t),
              |b3 AS (SELECT *, SUM(isnew) OVER (PARTITION BY wid ORDER BY pos) AS blk FROM m3),
              |o3 AS (SELECT *, row_number() OVER (PARTITION BY wid, blk ORDER BY pos) - 1 AS off FROM b3),
              |k3 AS (SELECT *, coalesce(sym = x AND nxt = y AND (x <> y OR off % 2 = 0), FALSE) AS mark FROM o3),
              |f3 AS (SELECT *, coalesce(lag(mark) OVER (PARTITION BY wid ORDER BY pos), FALSE) AS skip FROM k3),
              |s4 AS (SELECT wid, cnt, row_number() OVER (PARTITION BY wid ORDER BY pos) AS pos,
              |    CASE WHEN mark THEN x || y ELSE sym END AS sym
              |  FROM f3 WHERE NOT skip)
              |SELECT 1 AS round, x, y, x || y AS merged, pair_cnt FROM t1
              |UNION ALL SELECT 2, x, y, x || y, pair_cnt FROM t2
              |UNION ALL SELECT 3, x, y, x || y, pair_cnt FROM t3
              |ORDER BY round""".stripMargin,
    "text_bpe_count" -> oBpe,
    "text_vocab_encode" ->
      s"""WITH tok AS (SELECT unnest($oToks) AS w FROM documents),
         |v AS (SELECT w, CAST(row_number() OVER (ORDER BY COUNT(*) DESC, w) AS BIGINT) AS id
         |  FROM tok GROUP BY w QUALIFY id <= 256),
         |h AS (SELECT doc_id, p, tk[p] AS w FROM (
         |  SELECT doc_id, $oToks AS tk,
         |    unnest(range(1, least(len($oToks), 16) + 1)) AS p FROM documents)),
         |e AS (SELECT h.doc_id, h.p, COALESCE(v.id, 0) AS tid
         |  FROM h LEFT JOIN v USING (w))
         |SELECT doc_id,
         |  CAST(COUNT(*) FILTER (tid = 0) AS BIGINT) AS n_oov,
         |  string_agg(CAST(tid AS VARCHAR), ',' ORDER BY p) AS head_ids
         |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_zipf_fit" ->
      s"""WITH tf AS (SELECT w, COUNT(*) AS tf FROM (
         |    SELECT unnest($oToks) AS w FROM documents)
         |  GROUP BY w ORDER BY tf DESC, w LIMIT 256),
         |r AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, w) AS rk FROM tf),
         |q AS (SELECT
         |    CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000) AS BIGINT) AS lx,
         |    CAST(round(ln(CAST(tf AS DOUBLE)) * 1000000) AS BIGINT) AS ly
         |  FROM r),
         |s AS (SELECT COUNT(*) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
         |    SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx, SUM(ly * ly) AS syy
         |  FROM q)
         |SELECT CAST(n AS BIGINT) AS n,
         |  round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
         |  round((CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
         |    / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
         |FROM s""".stripMargin,
    "text_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($oToks) AS token FROM documents),
         |n AS (SELECT COUNT(*) AS n_total FROM t)
         |SELECT token, COUNT(*) AS cnt, (SELECT n_total FROM n) AS n_total
         |FROM t GROUP BY token HAVING COUNT(*) * 200 > (SELECT n_total FROM n)
         |ORDER BY cnt DESC, token""".stripMargin,
    "pipeline_train_mix" ->
      s"""WITH kept AS (
         |  SELECT doc_id, lang, len($oToks) AS n_tok,
         |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
         |  FROM documents
         |  WHERE len($oToks) BETWEEN 10 AND 10000
         |    AND len(list_distinct($oToks)) > 5),
         |dd AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |       FROM kept),
         |pl AS (SELECT lang, COUNT(*) AS n_docs,
         |         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |       FROM dd WHERE rn = 1 GROUP BY lang),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM pl)
         |SELECT lang, n_docs, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS tok_frac,
         |  round(0.2 * total_tokens / n_tokens, 6) AS mix_weight
         |FROM pl CROSS JOIN t ORDER BY lang""".stripMargin,
    "pipeline_clean_corpus" ->
      s"""WITH kept AS (
         |  SELECT *, $oToks AS tk,
         |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
         |  FROM documents
         |  WHERE len($oToks) BETWEEN 10 AND 10000
         |    AND len(list_distinct($oToks)) > 5),
         |dd AS (
         |  SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |  FROM kept)
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(tk)) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |  CAST(SUM(n_chars) AS DOUBLE) / SUM(len(tk)) AS chars_per_token
         |FROM dd WHERE rn = 1
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_repetition" ->
      s"""SELECT doc_id, CAST(len(g) AS BIGINT) AS n_grams,
         |  CAST(len(list_distinct(g)) AS BIGINT) AS n_uniq,
         |  1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g) AS rep_ratio
         |FROM (SELECT doc_id, list_transform(
         |    range(1, greatest(len(tk) - 1, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS g
         |  FROM (SELECT doc_id, $oToks AS tk FROM documents))
         |WHERE len(g) > 0 ORDER BY doc_id""".stripMargin,
    "text_pii_redact" ->
      """WITH a AS (
        |  SELECT doc_id, text || ' contact user' || doc_id ||
        |    '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
        |  FROM documents),
        |r AS (SELECT doc_id, aug,
        |  regexp_replace(
        |    regexp_replace(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]+', '<EMAIL>', 'g'),
        |    '555-[0-9]{4}', '<PHONE>', 'g') AS red
        |  FROM a)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]+')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(aug, '555-[0-9]{4}')) AS INT) AS n_phone,
        |  md5(red) AS red_md5,
        |  CAST(length(aug) - length(red) AS BIGINT) AS chars_removed
        |FROM r ORDER BY doc_id""".stripMargin,
    // batch 3-grams left-join the history-distinct gram vocabulary;
    // novelty = unseen-gram occurrence share per batch doc
    "text_ngram_novelty" ->
      s"""WITH g AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len(tk) - 1, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
         |  FROM (SELECT doc_id, $oToks AS tk FROM documents)),
         |hist AS (SELECT DISTINCT gram FROM g
         |  WHERE NOT substr(md5('incr|' || CAST(doc_id AS VARCHAR)), 1, 2) < '40'),
         |bg AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g
         |  WHERE substr(md5('incr|' || CAST(doc_id AS VARCHAR)), 1, 2) < '40'
         |  GROUP BY 1, 2),
         |x AS (SELECT bg.doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
         |    CAST(SUM(CASE WHEN h.gram IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_novel
         |  FROM bg LEFT JOIN hist h ON bg.gram = h.gram GROUP BY 1)
         |SELECT doc_id, n_grams, n_novel,
         |  round(CAST(n_novel AS DOUBLE) / n_grams, 6) AS novelty
         |FROM x ORDER BY doc_id""".stripMargin,
    "text_decontaminate" ->
      s"""WITH g AS (
         |  SELECT doc_id, unnest(list_transform(
         |    range(1, greatest(len(tk) - 1, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS gram
         |  FROM (SELECT doc_id, $oToks AS tk FROM documents)),
         |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
         |SELECT doc_id, COUNT(DISTINCT gram) AS n_shared_grams
         |FROM g JOIN bench USING (gram)
         |WHERE doc_id % 97 <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($oToks) AS token FROM documents),
         |tfq AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |sc AS (SELECT tfq.doc_id, tfq.token, tfq.tf, dfq.df,
         |  round(tfq.tf * ln(CAST(n_docs AS DOUBLE) / dfq.df), 6) AS tfidf,
         |  row_number() OVER (PARTITION BY tfq.doc_id
         |    ORDER BY tfq.tf DESC, dfq.df ASC, tfq.token) AS rn
         |FROM tfq JOIN dfq USING (token) CROSS JOIN n)
         |SELECT doc_id, token, tf, df, tfidf, rn FROM sc
         |WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin,
    "text_tokenize_stats" ->
      s"""SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
         |FROM (SELECT doc_id, unnest($oToks) AS token FROM documents)
         |GROUP BY token ORDER BY tf DESC, token""".stripMargin,
    "text_token_count" ->
      s"""SELECT doc_id, len($oToks) AS n_ws,
         | len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
         | length(text) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id, lang, length(text) AS n_chars,
         | len(tk) AS n_tokens, len(list_distinct(tk)) AS n_uniq,
         | CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr,
         | CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) / len(tk) AS avg_token_len,
         | CAST(len(list_filter(tk, t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE) / len(tk) AS stop_ratio,
         | CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
         | CAST(CASE WHEN len(tk) BETWEEN 10 AND 10000 AND len(list_distinct(tk)) > 5 THEN 1 ELSE 0 END AS INT) AS keep
         |FROM (SELECT *, $oToks AS tk FROM documents) ORDER BY doc_id""".stripMargin,
    "text_readability" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $oToks AS tk FROM documents),
         |c AS (SELECT doc_id, lang,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sents,
         |  CAST(list_sum(list_transform(tk,
         |    t -> greatest(len(regexp_extract_all(t, '[aeiouy]+')), 1))) AS BIGINT) AS n_syll
         |  FROM t)
         |SELECT doc_id, lang, n_words, n_sents, n_syll,
         |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
         |    - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) AS flesch,
         |  round(0.39 * (CAST(n_words AS DOUBLE) / n_sents)
         |    + 11.8 * (CAST(n_syll AS DOUBLE) / n_words) - 15.59, 6) AS grade_fk
         |FROM c ORDER BY doc_id""".stripMargin,
    "text_lang_id" -> {
      def arr(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      val scores = markers.map { case (l, ws) =>
        s"len(list_intersect(list_distinct(tk), ${arr(ws)})) AS s_$l"
      }.mkString(",\n ")
      val langs = markers.map(_._1)
      val pred = langs.init.zipWithIndex.map { case (l, i) =>
          val rest = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
          s"WHEN $rest THEN '$l'"
        }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
      s"""WITH t AS (SELECT doc_id, lang, $oToks AS tk FROM documents),
         |sc AS (SELECT doc_id, lang,
         | $scores
         |FROM t)
         |SELECT *, $pred AS pred_lang,
         | CAST(($pred) = lang AS INT) AS is_correct
         |FROM sc ORDER BY doc_id""".stripMargin
    },
    "text_lang_confusion" -> {
      def arr(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      val scores = markers.map { case (l, ws) =>
        s"len(list_intersect(list_distinct(tk), ${arr(ws)})) AS s_$l"
      }.mkString(",\n ")
      val langs = markers.map(_._1)
      val pred = langs.init.zipWithIndex.map { case (l, i) =>
          val rest = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
          s"WHEN $rest THEN '$l'"
        }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
      s"""WITH t AS (SELECT doc_id, lang, $oToks AS tk FROM documents),
         |sc AS (SELECT doc_id, lang,
         | $scores
         |FROM t),
         |p AS (SELECT lang, $pred AS pred_lang FROM sc),
         |c AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1, 2)
         |SELECT lang, pred_lang, n,
         |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE) AS share_of_true
         |FROM c ORDER BY lang, pred_lang""".stripMargin
    },
    "text_fingerprint" ->
      """SELECT doc_id, md5(nrm) AS fp_exact,
        | list_min(list_transform(range(1, greatest(len(nrm) - 6, 2)), i -> md5(substr(nrm, i, 8)))) AS fp_min
        |FROM (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nrm
        |      FROM documents) ORDER BY doc_id""".stripMargin,
    "text_lang_source_pivot" ->
      ("SELECT lang, " +
        sources.map(src => s"COUNT(*) FILTER (WHERE source = '$src') AS $src").mkString(", ") +
        " FROM documents GROUP BY lang ORDER BY lang"),
  )
}
