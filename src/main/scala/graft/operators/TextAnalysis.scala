package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-level text analysis for corpus curation: token budgeting,
  * language ID, quality scoring, fingerprinting. All pure column
  * expressions — one codegen'd projection over the scan, no shuffle at all
  * (the 100 TB plan is scan → project → write, fully parallel). */
object TextAnalysis {

  /** Whitespace and BPE-ish token counts per document. */
  def tokenCounts(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(
      col(idCol),
      size(tokens(col(textCol))).as("n_ws_tokens"),
      bpeTokenCount(lower(col(textCol))).as("n_bpe_tokens"))

  /** Marker-word language identification (deterministic heuristic). */
  def languageId(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol), langId(lower(col(textCol))).as("lang_pred"))

  /** Quality metrics + a composite score in [0,1]:
    * 0.4·min(1, words/100) + 0.3·(1 − punct_ratio) + 0.3·stopword_ratio.
    * Thresholds chosen to separate prose from boilerplate/noise.
    * `keepCols` carries extra input columns through the projection so
    * downstream group-wise consumers (e.g. the percentile cut) don't need
    * a self-join back onto the corpus for them. */
  def qualityScore(docs: DataFrame, textCol: String, idCol: String,
                   keepCols: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val nWords = tokenCount(t).cast("double")
    val nPunct = punctCount(t).cast("double")
    val nStop = stopwordCount(t).cast("double")
    val nChars = length(t).cast("double")
    val punctRatio = nPunct / greatest(nChars, lit(1.0))
    val stopRatio = nStop / greatest(nWords, lit(1.0))
    docs.select(
      col(idCol) +: keepCols.map(col) :+
      nWords.cast("long").as("n_words") :+
      round(punctRatio, 6).as("punct_ratio") :+
      round(stopRatio, 6).as("stopword_ratio") :+
      round(
        least(nWords / 100.0, lit(1.0)) * 0.4
          + (lit(1.0) - punctRatio) * 0.3
          + stopRatio * 0.3,
        6).as("quality"): _*)
  }

  /** Canonical-text md5 fingerprint per document. */
  def fingerprints(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol), fingerprint(col(textCol)).as("fp"))

  /** TF-IDF top terms per document: tf = in-doc term count, idf =
    * ln(N / docfreq), top `k` terms ranked by the ROUNDED score — rounding
    * before ranking matters because distinct (tf, df) pairs can produce
    * mathematically equal products (2·ln4 = 4·ln2) that land an ulp apart
    * when evaluated in different engines; rounding makes them exact ties,
    * broken deterministically by term.
    *
    * Two shuffles (doc-term counts, term doc-frequencies) + one broadcast
    * of the per-term df (vocabulary-sized, small) — corpus never re-shuffles. */
  def tfidfTopTerms(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(idCol).as("doc"),
        explode(graft.expressions.Exprs.wordShingles(col(textCol), 1)).as("word"))
      .filter(col("word") =!= "")
    val tf = words.groupBy("doc", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    // Corpus size as a 1-row broadcast join, NOT an eager count(): the
    // whole operator stays one lazy plan (composable, cacheable by the
    // caller, no hidden extra corpus scan as a driver-side action).
    val nDf = docs.select(countDistinct(col(idCol)).cast("double").as("n_docs"))
    val scored = tf.join(broadcast(df), "word")
      .crossJoin(broadcast(nDf))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 4))
    val w = Window.partitionBy("doc").orderBy(col("tfidf").desc, col("word").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc"), col("word"), col("tfidf"), col("rank").cast("long").as("rank"))
  }

  /** n-gram repetition ratio per document (a Gopher-style quality rule:
    * heavily templated/boilerplate text repeats shingles). ZERO shuffle and
    * zero row explosion: both shingle counts come from array lengths of the
    * codegen'd shingle kernels inside one projection — at 100 TB this is a
    * pure scan-side column. rep_ratio = 1 − distinct/total. */
  def repetitionScore(docs: DataFrame, textCol: String, idCol: String,
                      shingleSize: Int = 3): DataFrame = {
    val all = size(graft.expressions.Exprs.wordShingles(col(textCol), shingleSize)).cast("double")
    val dist = size(graft.expressions.Exprs.wordShinglesDistinct(col(textCol), shingleSize)).cast("double")
    docs.select(
      col(idCol),
      all.cast("long").as("n_shingles"),
      dist.cast("long").as("n_distinct"),
      round(lit(1.0) - dist / all, 6).as("rep_ratio"))
  }

  /** PII-pattern counts per document (email / URL / IPv4) — the redaction
    * triage pass of a curation pipeline. Pure regexp_count projection;
    * patterns stay RE2-compatible so the DuckDB twin is exact. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = "https?://[^\\s]+"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  def piiCounts(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(
      col(idCol),
      regexp_count(col(textCol), lit(EmailPattern)).cast("long").as("n_emails"),
      regexp_count(col(textCol), lit(UrlPattern)).cast("long").as("n_urls"),
      regexp_count(col(textCol), lit(Ipv4Pattern)).cast("long").as("n_ipv4"))

  /** PII redaction (the action the triage counts above gate): replace each
    * email / URL / IPv4 match with a typed placeholder token. Order matters
    * and is part of the contract — URLs first (so an address inside a URL
    * is swallowed by `<URL>`, not half-redacted), then emails, then bare
    * IPs. Pure projection, zero shuffle; RE2-safe patterns keep the DuckDB
    * twin exact. */
  def redactPii(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(
      col(idCol),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), UrlPattern, "<URL>"),
          EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>").as("clean_text"))

  /** Cross-corpus repeated-span removal (the boilerplate-strip pass of a
    * web-curation pipeline, done at line level by CCNet/RefinedWeb; here the
    * unit is a fixed `span`-token chunk because the corpus has no line
    * structure). A span whose exact text occurs more than `maxDf` times
    * across the WHOLE corpus is dropped from every document; survivors are
    * reassembled in order.
    *
    * Scale shape: chunk explode is scan-side; the df count is one
    * map-side-combinable shuffle of (short-string chunk, count) partial
    * sums; membership is a LEFT ANTI join against only the spans that
    * FAILED the cut — the Zipf head, ~total/maxDf distinct values at
    * worst, which stays broadcastable when the kept-span relation (nearly
    * the whole corpus) would not be. Same df-cut idiom as
    * [[graft.operators.Dedup.ngramJaccardPairs]]. Reassembly is one
    * groupBy(doc) of (idx, chunk) pairs. No driver-side data, no
    * quadratic step. */
  def stripRepeatedSpans(docs: DataFrame, textCol: String, idCol: String,
                         span: Int = 2, maxDf: Long = 20): DataFrame = {
    require(span > 0, s"span must be positive: $span")
    // Empty tokens (leading/trailing/double spaces, empty docs) are removed
    // so an empty document chunks to NOTHING, not to one empty chunk.
    val tk = array_remove(graft.expressions.Exprs.wordShingles(col(textCol), 1), "")
    val base = docs.select(col(idCol).as("doc"), tk.as("tk"))
      .select(col("doc"), col("tk"),
        floor((size(col("tk")) + span - 1) / span).cast("int").as("n_chunks"))
    // sequence(0, n-1) DESCENDS when n = 0 (Spark generates 0..-1), so the
    // empty-document case must be filtered out, not guarded arithmetically.
    val chunks = base.filter(col("n_chunks") > 0)
      .select(col("doc"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          i => array_join(slice(col("tk"), i * span + 1, lit(span)), " "))))
      .select(col("doc"), col("pos").as("cidx"), col("col").as("chunk"))
    val hot = chunks.groupBy("chunk").agg(count(lit(1)).as("span_df"))
      .filter(col("span_df") > maxDf).select("chunk")
    val kept = chunks.join(hot, Seq("chunk"), "left_anti")
      .groupBy("doc")
      .agg(array_sort(collect_list(struct(col("cidx"), col("chunk")))).as("ks"))
      .select(col("doc"),
        array_join(transform(col("ks"), k => k("chunk")), " ").as("clean_text"),
        size(col("ks")).cast("long").as("n_kept"))
    base.join(kept, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_chunks").cast("long") - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"))
  }

  /** Cross-document repeated SPAN detection at sliding-window granularity —
    * the detection kernel of substring-level dedup (the "same 8+-token span
    * verbatim in many documents" pass): every `spanTokens`-token window of
    * every document, grouped corpus-wide, keeping spans seen in at least
    * `minDocs` DISTINCT documents. Complements [[stripRepeatedSpans]]:
    * that pass cuts on ALIGNED fixed chunks (cheap, removal-oriented);
    * sliding windows catch duplication at ANY offset — a quote pasted
    * mid-sentence never lands on a chunk boundary but always produces
    * matching windows. Returns (span, n_docs, n_occ, first_doc).
    *
    * Scale shape: the window relation is ~n_tokens rows per document (vs
    * n_tokens/span for the chunk pass — this operator is the more
    * expensive of the two BY DESIGN; run it on the post-curation corpus or
    * a sample). The group-by is one shuffle keyed on the span with partial
    * aggregation; n_docs is a two-phase distinct on (span, doc) pairs. At
    * 100 TB, add the df-cut head/tail split if a span goes Zipf-hot. */
  def repeatedSpans(docs: DataFrame, textCol: String, idCol: String,
                    spanTokens: Int = 8, minDocs: Int = 2): DataFrame = {
    require(spanTokens > 0 && minDocs > 0, s"need positive span/minDocs")
    // Single tokenizer evaluation: the too-short guard lives INSIDE the
    // generator (null → explode_outer emits one null-pos row, filtered on
    // the GENERATED attribute, which cannot push below the Generate). An
    // explicit `filter(size(__toks) >= span)` instead would push below
    // the defining projection, substitute the kernel, and re-tokenize
    // every row in a scan-side filter (pinned by KernelSingleEvalSpec).
    docs
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("__toks"))
      .select(col("doc"), col("__toks"),
        explode_outer(when(size(col("__toks")) >= spanTokens,
          sequence(lit(0), size(col("__toks")) - spanTokens))).as("pos"))
      .filter(col("pos").isNotNull)
      .select(col("doc"),
        array_join(slice(col("__toks"), col("pos") + 1, lit(spanTokens)), " ")
          .as("span"))
      .groupBy("span")
      .agg(countDistinct(col("doc")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** DSIR-style importance weights (Xie et al. 2023, Data Selection via
    * Importance Resampling): score every document by how much more likely
    * its tokens are under a TARGET distribution (a small trusted corpus —
    * here the rows `isTarget` selects) than under the raw-corpus
    * distribution: avg over tokens of ln p_t(w) − ln p_r(w), add-one
    * smoothed over the shared vocabulary so tokens the target never saw
    * penalize smoothly instead of −∞. Selecting the top-weight documents
    * steers a 100 TB crawl toward the target domain with two unigram
    * models — no trained classifier, no per-document inference.
    *
    * Exactness under distribution: each token's log-ratio rounds to
    * integer MICRO-units before the per-doc sum ([[unigramLogProb]]'s
    * order-invariant idiom), so partitioning never changes a weight and
    * the DuckDB twin is exact. Length-normalized (avg, not sum) so the
    * ranking measures domain affinity, not document length.
    *
    * Scale shape: ONE token-stream pass builds both models — the vocab agg
    * counts (raw, target) per word in the same map-side-combinable pass
    * (the target is a subset of the corpus, so its vocabulary embeds in
    * the raw vocabulary and add-one smoothing shares one V); the
    * Zipf-small vocab and its 1-row totals broadcast back over the token
    * stream into one per-doc agg. Same plan shape as [[unigramLogProb]] —
    * two corpus-sized passes total (vocab, scoring), everything between
    * them vocabulary-sized. */
  def dsirWeights(docs: DataFrame, textCol: String, idCol: String,
                  isTarget: Column): DataFrame = {
    val words = docs.select(col(idCol).as("doc"), isTarget.as("__t"),
        explode(graft.expressions.Exprs.wordShingles(col(textCol), 1)).as("word"))
      .filter(col("word") =!= "")
    val vocab = words.groupBy("word").agg(
      count(lit(1)).as("cr"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("ct"))
    val stats = vocab.select(
      sum(col("cr")).cast("double").as("nr"),
      sum(col("ct")).cast("double").as("nt"),
      count(lit(1)).cast("double").as("v"))
    words.join(broadcast(vocab), "word")
      .crossJoin(broadcast(stats))
      .select(col("doc"),
        round((log((col("ct") + 1) / (col("nt") + col("v"))) -
          log((col("cr") + 1) / (col("nr") + col("v")))) * 1e6, 0)
          .cast("long").as("lr_micro"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"), sum("lr_micro").as("s"))
      .select(col("doc"), col("n_tokens"),
        (round(col("s") / 1e6 / col("n_tokens"), 4) + lit(0.0)).as("avg_logratio"))
  }

  /** Unigram log-probability per document — the cheap perplexity proxy used
    * as a fluency/quality filter (a high-magnitude avg_logprob flags
    * gibberish or vocabulary-skewed text). Model = the corpus itself:
    * p(w) = count(w) / total_tokens.
    *
    * Exactness under distribution: each token's ln p(w) is rounded to
    * integer MICRO-units before the per-doc sum (the same order-invariant
    * integer idiom as corpusStats), so partitioning never changes the
    * result and the DuckDB twin is exact.
    *
    * Scale shape: one vocabulary agg (Zipf-small result, map-side
    * combined), broadcast back over the token stream, one per-doc agg.
    * At open-web scale the vocabulary relation is the thing to cap
    * (top-V + OOV floor) or materialize once as an index artifact next to
    * the IVF centroids; the per-doc pass is unchanged either way. */
  def unigramLogProb(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val words = docs.select(col(idCol).as("doc"),
        explode(graft.expressions.Exprs.wordShingles(col(textCol), 1)).as("word"))
      .filter(col("word") =!= "")
    val vocab = words.groupBy("word").agg(count(lit(1)).as("cnt"))
    // Total token count derives from the vocabulary counts (Σ cnt), not a
    // third pass over the token stream — the vocab exchange is reused.
    val total = vocab.select(sum(col("cnt")).cast("double").as("n_total"))
    words.join(broadcast(vocab), "word")
      .crossJoin(broadcast(total))
      .select(col("doc"),
        round(log(col("cnt") / col("n_total")) * 1e6, 0).cast("long").as("lp_micro"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"), sum("lp_micro").as("s"))
      .select(col("doc"), col("n_tokens"),
        round(col("s") / 1e6 / col("n_tokens"), 4).as("avg_logprob"))
  }

  /** Corpus bigram model counts with conditional log-probabilities —
    * the order-2 sibling of [[unigramLogProb]] and the statistic behind
    * n-gram-LM quality filters (a document whose bigrams are all
    * low-probability under the corpus model is noise or another language)
    * and contamination probes. cond_lp = ln(c(w1,w2) / c(w1·)) where the
    * left-context total c(w1·) comes from the bigram counts themselves
    * (Σ over w2), so the model is self-consistent: probabilities given
    * each context sum to 1 exactly, with no last-token-of-document edge
    * case leaking in from a separate unigram pass.
    *
    * `minCount` bounds the reported vocabulary (the Zipf tail is noise
    * and at open-web scale the untruncated bigram relation is the thing
    * to cap) — applied AFTER the context totals so truncation never
    * changes a reported probability.
    *
    * Scale shape: the token stream explodes to one bigram row per
    * adjacent pair (≈ corpus token count) into a map-side-combinable
    * (w1, w2) count agg; the context totals re-aggregate THAT Zipf-small
    * relation, not the corpus. One corpus-sized shuffle total. */
  def bigramCondLogProb(docs: DataFrame, textCol: String,
                        minCount: Long = 1L): DataFrame =
    bigramModel(lmTokens(docs, textCol), minCount)

  /** The model kernel over an [[lmTokens]] stream (so [[buildLmTable]]
    * can feed model AND vocab from one tokenization). */
  private def bigramModel(toks: DataFrame, minCount: Long): DataFrame = {
    val bi = toks.select(explode(expr(
        "transform(sequence(0, size(tk)-2), i -> struct(tk[i] as w1, tk[i+1] as w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cnt = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val ctx = cnt.groupBy("w1").agg(sum("cnt").as("c1"))
    cnt.join(ctx, "w1")
      .filter(col("cnt") >= minCount)
      .select(col("w1"), col("w2"), col("cnt"),
        (round(log(col("cnt") / col("c1")), 4) + lit(0.0)).as("cond_lp"))
  }

  /** Per-source Jensen–Shannon divergence against the REST of the corpus —
    * the symmetric, [0, ln 2]-bounded corpus-similarity readout training-mix
    * curation reads to spot outlier sources (KL is infinite on any
    * vocabulary gap; JSD is not, which is why mixture work uses it).
    * P = the source's unigram distribution, Q = everything else's;
    * JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2.
    *
    * Exactness: per shared word, the term is ONE double expression over
    * exact counts floored to nano units (the [[graft.operators.Stats]]
    * mutualInfo lane) so the cross-word sum is an exact long sum. Words
    * ABSENT from the source contribute (b/2B)·ln 2 each — a closed form,
    * so their total is (B − Σ_present b)·ln 2 / 2B computed from exact
    * sums: no source×vocabulary cross join ever materializes (the
    * scale-critical trick; a 20-source corpus with a 1e8-type vocabulary
    * would otherwise build 2e9 rows of zeros).
    *
    * Scale shape: one (source, word) agg (map-side combinable), one
    * vocabulary-grain total, one source-grain total, a 1-row broadcast;
    * the join back runs at (source, word) grain — present pairs only. */
  def sourceJsDivergence(docs: DataFrame, textCol: String,
                         srcCol: String): DataFrame = {
    val words = docs.select(col(srcCol).as("src"),
        explode(graft.expressions.Exprs.wordShingles(col(textCol), 1))
          .as("word"))
      .filter(col("word") =!= "")
    val perSW = words.groupBy("src", "word").agg(count(lit(1)).as("__a"))
      // scanned by the word totals, the source totals, and the term join —
      // caller-owned cache per the file convention
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = perSW.groupBy("word").agg(sum("__a").as("__ct"))
    val perS = perSW.groupBy("src").agg(sum("__a").as("__sa"))
    val n = perS.agg(sum("__sa").cast("long").as("__n"))
    // the term text is SHARED with the oracle twin builder modulo casts —
    // identical operand order keeps the doubles bit-identical
    val termNano =
      """CAST(floor(1e9 * (
        |  CAST(__a AS DOUBLE) / (2 * CAST(__sa AS DOUBLE)) *
        |    ln(2 * CAST(__a AS DOUBLE) * CAST(__bb AS DOUBLE) /
        |       (CAST(__a AS DOUBLE) * CAST(__bb AS DOUBLE)
        |        + CAST(__b AS DOUBLE) * CAST(__sa AS DOUBLE)))
        |  + CASE WHEN __b > 0
        |      THEN CAST(__b AS DOUBLE) / (2 * CAST(__bb AS DOUBLE)) *
        |        ln(2 * CAST(__b AS DOUBLE) * CAST(__sa AS DOUBLE) /
        |           (CAST(__a AS DOUBLE) * CAST(__bb AS DOUBLE)
        |            + CAST(__b AS DOUBLE) * CAST(__sa AS DOUBLE)))
        |      ELSE 0 END)) AS BIGINT)""".stripMargin
    perSW.join(tot, "word").join(perS, "src").crossJoin(broadcast(n))
      .withColumn("__b", col("__ct") - col("__a"))
      .withColumn("__bb", col("__n") - col("__sa"))
      .groupBy("src")
      .agg(max(col("__sa")).as("__sa"), max(col("__bb")).as("__bb"),
        count(lit(1)).as("n_types"),
        sum(expr(termNano)).as("__t"),
        sum(col("__b").cast("decimal(38,0)")).as("__sb"))
      .select(col("src").as("source"), col("__sa").as("n_words"),
        col("n_types"),
        (round(col("__t").cast("double") / lit(1e9) +
          (col("__bb") - col("__sb")).cast("double") * log(lit(2.0)) /
            (lit(2.0) * col("__bb").cast("double")), 6) + lit(0.0))
          .as("jsd"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995,
    * Chen & Goodman's interpolated form) — the smoothing that separates a
    * production n-gram LM from [[bigramCondLogProb]]'s raw MLE: mass
    * discounted from seen bigrams is redistributed by CONTINUATION counts
    * (how many contexts a word follows, not how often), fixing the
    * "san Francisco" pathology where raw frequency overrates a word glued
    * to one context. Discount D = 3/4, so clearing denominators by 4
    * makes the whole estimate ONE exact rational:
    * p_kn = [max(4·c12−3, 0)·N_types + 3·N1+(w1·)·N1+(·w2)] /
    * (4·c1·N_types) — integer numerator and denominator accumulated in
    * decimal(38,0), one double division, rounded. Per-context mass is
    * conserved exactly: Σ_w2 p_kn(w2|w1) = 1.
    *
    * `minPairCount` truncates the REPORTED vocabulary only (the
    * [[bigramCondLogProb]] convention: applied after all totals, so
    * truncation never changes a probability).
    *
    * Scale shape: one corpus-sized pair agg, then three aggregates OF the
    * Zipf-small bigram relation (context totals, continuation counts, the
    * 1-row type total); joins on w1/w2 at model grain, never corpus. */
  def kneserNeyBigram(docs: DataFrame, textCol: String,
                      minPairCount: Long = 1L): DataFrame = {
    val toks = lmTokens(docs, textCol)
    val bi = toks.select(explode(expr(
        "transform(sequence(0, size(tk)-2), i -> struct(tk[i] as w1, tk[i+1] as w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cnt = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      // scanned by the context/continuation/type aggs and the result —
      // caller-owned cache per the file convention
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ctx = cnt.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("nf"))
    val cont = cnt.groupBy("w2").agg(count(lit(1)).as("nc"))
    val types = cnt.agg(count(lit(1)).cast("long").as("nt"))
    cnt.filter(col("c12") >= minPairCount)
      .join(ctx, "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c12"),
        (round(
          expr("CAST(greatest(4*c12 - 3, 0) AS DECIMAL(38,0)) * nt" +
            " + 3 * CAST(nf AS DECIMAL(38,0)) * nc").cast("double") /
          expr("4 * CAST(c1 AS DECIMAL(38,0)) * nt").cast("double"), 6)
          + lit(0.0)).as("p_kn"))
  }

  /** Per-document bigram log-probability under the corpus model — the
    * LM-perplexity quality filter (the CCNet recipe: score every document
    * under a reference LM and cut the tail). [[bigramCondLogProb]] is the
    * MODEL; this applies it back over the corpus: each adjacent token pair
    * scores its conditional log-prob when the model knows the bigram
    * (count ≥ `minCount`), else backs off to `backoff`·p_unigram(w2)
    * (stupid backoff — no discounting mass to renormalize, which keeps
    * the oracle twin exact). A document of common-word prose scores near
    * the corpus average; gibberish, wrong-language, or template text
    * scores far below it. Returns (doc, n_pairs, bigram_lp) where
    * `bigram_lp` is the document TOTAL at 4 dp — normalize by `n_pairs`
    * downstream for a length-independent cut.
    *
    * Exactness under distribution: per-pair log-probs round to 4 dp then
    * convert to integer 1e4-units BEFORE the per-doc sum (the repo's
    * order-invariant integer idiom), so partitioning never changes the
    * result and the DuckDB twin hash-matches.
    *
    * Scale shape: the pair stream is corpus-sized but joins ONLY against
    * broadcast relations (the minCount-trimmed bigram model and the
    * unigram vocab — both Zipf-small); one per-doc agg shuffle of partial
    * sums ends the plan. At open-web scale the model relation is the
    * thing to cap (raise minCount / top-V with an OOV floor) or
    * materialize once as a stored artifact next to the IVF centroids —
    * the per-doc pass is unchanged either way. */
  def bigramDocLogProb(docs: DataFrame, textCol: String, idCol: String,
                       minCount: Long = 1L, backoff: Double = 0.4): DataFrame = {
    val toks = lmTokens(docs, textCol, carry = Seq(col(idCol).as("doc")))
    scoreAgainstLm(toks,
      bigramModel(toks.select("tk"), minCount).select("w1", "w2", "cond_lp"),
      lmVocab(toks), backoff)
  }

  /** Train the bigram LM ONCE and store it as a queryable artifact
    * (`<dir>.bigrams` + `<dir>.unigrams`) — the production shape of the
    * perplexity filter: the model trains on a REFERENCE corpus (the CCNet
    * recipe trains on Wikipedia) and every crawl snapshot or ingest
    * stream scores against the stored tables without re-deriving them.
    * The LM twin of the stored dedup band index and the IVF centroid
    * table. */
  def buildLmTable(docs: DataFrame, textCol: String, dir: String,
                   minCount: Long = 1L): Unit = {
    // ONE tokenization pass feeds both artifacts — training cost is one
    // corpus scan, as "train once" promises
    val toks = lmTokens(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bigramModel(toks, minCount)
      .select("w1", "w2", "cond_lp")
      .write.mode("overwrite").parquet(dir + ".bigrams")
    lmVocab(toks).write.mode("overwrite").parquet(dir + ".unigrams")
    toks.unpersist(); ()
  }

  /** Score any corpus — batch or STREAM (the joins are stream-static
    * broadcast joins, so the same plan runs under Structured Streaming
    * unchanged) — against a stored LM from [[buildLmTable]]. Tokens the
    * stored vocabulary has never seen back off at an add-one floor
    * (count 1) instead of dropping the pair, so cross-corpus scores stay
    * defined over every pair. */
  def bigramDocLogProbFrom(docs: DataFrame, textCol: String, idCol: String,
                           dir: String, backoff: Double = 0.4): DataFrame = {
    val spark = docs.sparkSession
    scoreAgainstLm(lmTokens(docs, textCol, carry = Seq(col(idCol).as("doc"))),
      spark.read.parquet(dir + ".bigrams"),
      spark.read.parquet(dir + ".unigrams"), backoff)
  }

  /** Token stream shared by the whole LM family — the ONE home of the
    * tokenize-and-filter idiom (documents with ≥ 2 tokens, the LM's unit
    * of work), so the stored vocabulary can never skew against the model
    * through a drifted copy. */
  private def lmTokens(docs: DataFrame, textCol: String,
                       carry: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
    docs.select(carry :+
        graft.expressions.Exprs.wordShingles(col(textCol), 1).as("tk"): _*)
      .filter(size(col("tk")) >= 2)

  private def lmVocab(toks: DataFrame): DataFrame =
    toks.select(explode(col("tk")).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("ucnt"))

  /** The shared scoring kernel: pair stream × broadcast (model, vocab,
    * 1-row total). OOV w2 (possible only when the model trained on a
    * DIFFERENT corpus) floors at count 1. */
  private def scoreAgainstLm(toks: DataFrame, model: DataFrame,
                             vocab: DataFrame, backoff: Double): DataFrame = {
    val total = vocab.select(sum("ucnt").cast("double").as("n_total"))
    val pairs = toks.select(col("doc"), explode(expr(
        "transform(sequence(0, size(tk)-2), i -> struct(tk[i] as w1, tk[i+1] as w2))")).as("b"))
      .select(col("doc"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    pairs
      .join(broadcast(model), Seq("w1", "w2"), "left")
      .join(broadcast(vocab), Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc"),
        coalesce(col("cond_lp"),
          round(log(lit(backoff) * coalesce(col("ucnt"), lit(1L)) / col("n_total")), 4)
            + lit(0.0))
          .as("lp"))
      .select(col("doc"), round(col("lp") * 1e4, 0).cast("long").as("lpm"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_pairs"), sum("lpm").as("s"))
      // report the exact 4-dp TOTAL, not a rounded average: the integer
      // sum over 4-dp units divided by 1e4 is an exact decimal in both
      // engines, while avg = s/1e4/n lands ON the round-half boundary
      // whenever s/n hits a quarter-unit (measured at sf0.001: one doc
      // flips engines at 4 dp). Consumers normalize by n_pairs.
      .select(col("doc"), col("n_pairs"),
        (round(col("s") / 1e4, 4) + lit(0.0)).as("bigram_lp"))
  }

  /** Per-source corpus "data card": document/token volume, mean quality,
    * and language-mix entropy — the one-page summary a training-mix
    * decision starts from.
    *
    * Exactness under distribution: quality (already rounded 6 dp per doc)
    * sums as integer MICRO-units and the entropy terms c·ln(c) round to
    * 6 dp integer units per (source, lang) row before summing — every
    * cross-row sum is over integers, so the result is invariant to
    * partitioning/summation order and identical in the DuckDB twin (the
    * same exact-integer idiom as the cents kernels). Entropy uses the
    * algebraic form H = ln(N) − Σ c·ln(c) / N, which needs only ONE pass
    * over the per-(source, lang) counts.
    *
    * Scale shape: scan-side projection → one (source, lang) partial-agg
    * shuffle (tiny cardinality) → one (source) agg. The corpus shuffles
    * nothing but its per-group partial sums. */
  def corpusStats(docs: DataFrame, textCol: String, idCol: String,
                  sourceCol: String, langCol: String): DataFrame = {
    val perDoc = qualityScore(docs, textCol, idCol, keepCols = Seq(sourceCol, langCol))
      .select(col(sourceCol).as("source"), col(langCol).as("lang"), col("n_words"),
        round(col("quality") * 1e6, 0).cast("long").as("q_micro"))
    val perLang = perDoc.groupBy("source", "lang")
      .agg(count(lit(1)).as("c"), sum("n_words").as("tok"), sum("q_micro").as("qm"))
      .withColumn("ent_micro",
        round(col("c").cast("double") * log(col("c").cast("double")) * 1e6, 0).cast("long"))
    perLang.groupBy("source")
      .agg(sum("c").as("n_docs"), sum("tok").as("n_tokens"),
        count(lit(1)).as("n_langs"),
        round(sum("qm") / 1e6 / sum("c"), 4).as("avg_quality"),
        round(log(sum(col("c")).cast("double")) - sum("ent_micro") / 1e6 / sum("c"), 4)
          .as("lang_entropy"))
  }

  /** Per-source exact-duplication panel for the corpus data card: how
    * many rows each source contributes, how many distinct contents that
    * is, and the duplication ratio — the number a mixture decision reads
    * BEFORE paying for near-dup clustering (a source at 40% exact dups
    * gets cleaned or down-weighted first). Two-level hash agg (partial
    * distinct-sets per task, merged per source); at open-web scale swap
    * `countDistinct` for `approx_count_distinct` exactly as documented
    * for the percentile sites (SketchSpec bounds the error). */
  def dedupReport(docs: DataFrame, textCol: String, srcCol: String): DataFrame =
    // null text coalesces to the empty document BEFORE fingerprinting:
    // countDistinct drops NULL, so a raw null fingerprint would make every
    // null-text row read as a duplicate (one null among N uniques reported
    // dup_ratio > 0 with nothing duplicated). Coalesced, a single
    // null/empty row is its own distinct content and N of them legitimately
    // count as duplicated empty content.
    docs.select(col(srcCol).as("source"),
        fingerprint(coalesce(col(textCol), lit(""))).as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        (col("n_docs") - col("n_unique")).as("n_dup_rows"),
        (round((col("n_docs") - col("n_unique")) / col("n_docs"), 4) + lit(0.0))
          .as("dup_ratio"))

  /** Cross-source shingle-overlap matrix — the corpus-level contamination
    * audit: for every pair of sources, how much of their 3-word shingle
    * vocabulary is shared? High overlap between a training source and an
    * eval source is leakage; high overlap between two training sources is
    * double-counted content the mixture weights should know about. The
    * per-document pair ops ([[graft.operators.Dedup.ngramJaccardPairs]])
    * answer "which documents"; this answers "which SOURCES", one row per
    * unordered pair.
    *
    * Scale shape — and why this self-join is safe where a per-document one
    * is not: the joined relation is DISTINCT (source, shingle), so a
    * shingle contributes at most one row PER SOURCE and the per-key join
    * fan-out is bounded by n_sources² (a constant ~dozens), not by
    * document frequency. No df-cut needed, results exact. Two
    * corpus-sized shuffles total (the distinct, the shingle join); the
    * per-source sizes broadcast back over the tiny pair relation. */
  def sourceOverlap(docs: DataFrame, textCol: String, srcCol: String): DataFrame = {
    val rel = docs.select(col(srcCol).as("source"),
        explode(graft.expressions.Exprs.wordShinglesDistinct(col(textCol), 3))
          .as("shingle"))
      // a blank document's whole-text shingle is "" (the kernel's <= n
      // branch); without this filter two sources that each contain one
      // blank doc would read as sharing content — a false leakage signal
      .filter(col("shingle") =!= "")
      .distinct()
    val sizes = rel.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val inter = rel.join(
        rel.select(col("shingle"), col("source").as("source_b")), Seq("shingle"))
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n_sh").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n_sh").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("n_common"),
        (round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 4)
          + lit(0.0)).as("jaccard"),
        (round(col("n_common") / least(col("n_a"), col("n_b")), 4) + lit(0.0))
          .as("containment"))
  }

  /** Gopher-style per-rule quality flags — the named heuristic gates of
    * the Gopher/MassiveText cleaning recipe as EXPLAINABLE columns (the
    * composite [[qualityScore]] ranks; this tells you WHY a document
    * fails): word-count window, mean-word-length window, alphabetic-word
    * fraction, and a minimum count of distinct common stopwords. Each
    * rule is its own boolean so curation can tighten or drop one rule
    * without re-deriving the metrics; `pass_all` is their conjunction.
    * Pure codegen projection — zero shuffle at any scale.
    *
    * Null/empty text yields n_words = 0: the ratio columns stay null and
    * every rule fails (an empty document is not trainable prose). */
  def gopherQualityFlags(docs: DataFrame, textCol: String, idCol: String,
                         minWords: Int = 50, maxWords: Int = 100000,
                         minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                         minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val stopList = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // tokens() (split + drop-empties — the exact twin of the oracle's SQL
    // fragment), with null text coalesced to the empty document first
    // (n_words = 0, all rules fail) so neither engine's null propagation
    // reaches the array kernels
    val tk = tokens(lower(coalesce(col(textCol), lit(""))))
    docs
      .select(col(idCol), tk.as("tk"))
      .select(col(idCol),
        size(col("tk")).cast("long").as("n_words"),
        expr("aggregate(tk, 0L, (a, x) -> a + length(x))").as("n_chars_tok"),
        expr("size(filter(tk, x -> x rlike '[A-Za-z]'))").cast("long").as("n_alpha"),
        size(array_intersect(array_distinct(col("tk")),
          array(stopList.map(lit): _*))).cast("long").as("n_stop"))
      .select(col(idCol), col("n_words"),
        when(col("n_words") > 0,
          round(col("n_chars_tok") / col("n_words").cast("double"), 4) + lit(0.0))
          .as("mean_word_len"),
        when(col("n_words") > 0,
          round(col("n_alpha") / col("n_words").cast("double"), 4) + lit(0.0))
          .as("alpha_frac"),
        col("n_stop"))
      .select(col(idCol), col("n_words"), col("mean_word_len"), col("alpha_frac"),
        col("n_stop"),
        (col("n_words") >= minWords && col("n_words") <= maxWords).as("r_words"),
        coalesce(col("mean_word_len") >= minMeanLen &&
          col("mean_word_len") <= maxMeanLen, lit(false)).as("r_mean_len"),
        coalesce(col("alpha_frac") >= minAlphaFrac, lit(false)).as("r_alpha"),
        (col("n_stop") >= minStopHits).as("r_stop"))
      .withColumn("pass_all",
        col("r_words") && col("r_mean_len") && col("r_alpha") && col("r_stop"))
  }

  /** Token-length histogram: fixed-width bins over the whitespace token
    * count — the length-distribution panel of a data card (and the input
    * to a truncation/packing budget decision). One codegen'd projection +
    * one integer agg; exact at any scale. */
  def tokenHistogram(docs: DataFrame, textCol: String,
                     binWidth: Int = 50): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive: $binWidth")
    docs.select(tokenCount(col(textCol)).as("__n"))
      .select((expr(s"__n div $binWidth") * binWidth).as("bin_lo"))
      .groupBy("bin_lo").agg(count(lit(1)).as("n_docs"))
  }

  /** Word frequency across the corpus (the flatMap/explode op, P3).
    * Tokenization via the codegen shingle kernel (n=1 == tokens); the
    * non-empty filter closes the empty-text edge ([""] vs []). */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(graft.expressions.Exprs.wordShingles(col(textCol), 1)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Out-of-vocabulary rate per document against the corpus's own
    * top-`vocabSize` unigram vocabulary — the tokenizer-fit panel: a
    * corpus whose documents are full of tokens a vocab this size won't
    * cover fragments badly under any fixed-vocab tokenizer trained on it.
    * Vocabulary cut is deterministic (count desc, word asc). oov_rate is
    * floored basis points (the repo-wide count-ratio convention).
    * Documents with zero tokens have no rows in the token relation and
    * are absent from the output (same contract as the other unnest-side
    * panels).
    *
    * Scale shape: the token relation aggregates once to build the vocab
    * (vocab-sized result, TakeOrdered cut — no window sort), which joins
    * back by BROADCAST; the per-doc agg is map-side combinable. The
    * corpus shuffles once, on the doc id. */
  def oovRate(docs: DataFrame, textCol: String, idCol: String,
              vocabSize: Int): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    // two consumers (vocab build + per-doc join) — persist per the
    // file-wide two-consumer convention, lazily
    val words = docs.select(col(idCol).as("doc"),
        explode(graft.expressions.Exprs.wordShingles(col(textCol), 1)).as("word"))
      .filter(col("word") =!= "")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = words.groupBy("word").agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("word").asc).limit(vocabSize)
      .select(col("word"), lit(1).as("__in_vocab"))
    words.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("doc")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc"), col("n_tokens"), col("n_oov"),
        (expr("(10000 * n_oov) div n_tokens") / lit(10000.0) + lit(0.0))
          .as("oov_rate"))
  }

  /** Zipf panel: frequency at chosen vocabulary ranks plus the local
    * Zipf exponent between adjacent rank pairs — s = ln(f_lo/f_hi) /
    * ln(r_hi/r_lo), the log-log slope magnitude a natural-language corpus
    * keeps near 1 and templated/synthetic text visibly does not (the
    * corpus-level sibling of the per-doc repetition score). Slopes come
    * from exactly two frequency values each — no regression over
    * float sums, so the only inexactness is the final ln/divide on exact
    * integers, closed by the r4 contract. Ranks beyond the vocabulary are
    * absent from the output. Returns (rank_lo, rank_hi, freq_lo, freq_hi,
    * slope) ordered by rank_lo.
    *
    * Scale shape: one corpus token agg (vocab-sized result), then a
    * row_number over the FULL vocab ordering — a single-partition sort of
    * the vocabulary relation only (millions of rows at web scale, fine;
    * the corpus itself never enters a window). The rank filter keeps just
    * |ranks| rows, self-joined once at |ranks| size. */
  def zipfPanel(docs: DataFrame, textCol: String,
                ranks: Seq[Int]): DataFrame = {
    require(ranks.size >= 2 && ranks == ranks.sorted && ranks.distinct == ranks,
      s"ranks must be >= 2 strictly increasing values: $ranks")
    import org.apache.spark.sql.expressions.Window
    val freq = wordCounts(docs, textCol)
    // single-partition sort bound: vocabulary grain, not corpus grain.
    // A 100-TB web corpus's vocabulary can still reach 1e8 shapes —
    // if that bites, pre-filter freq to n >= some floor (rank targets
    // are always in the head) before the window
    val w = Window.orderBy(col("n").desc, col("word").asc)
    val ranked = freq.withColumn("rank", row_number().over(w))
      .filter(col("rank").isin(ranks.map(Integer.valueOf): _*))
      .select(col("rank").cast("long").as("rank"), col("n"))
    val lo = ranked.select(col("rank").as("rank_lo"), col("n").as("freq_lo"))
    val hi = ranked.select(col("rank").as("rank_hi"), col("n").as("freq_hi"))
    val pairs = docs.sparkSession.createDataFrame(
      ranks.sliding(2).map(p => (p(0).toLong, p(1).toLong)).toSeq)
      .toDF("rank_lo", "rank_hi")
    pairs.join(lo, "rank_lo").join(hi, "rank_hi")
      .select(col("rank_lo"), col("rank_hi"), col("freq_lo"), col("freq_hi"),
        (round(log(col("freq_lo").cast("double") / col("freq_hi")) /
          log(col("rank_hi").cast("double") / col("rank_lo")), 4) + lit(0.0))
          .as("slope"))
  }

  /** Inverted index (posting lists): for each term in the df band
    * [minDf, maxDf], the count of documents containing it and the sorted
    * doc-id posting list — the search-index build every retrieval-
    * augmented pipeline materializes over its corpus. Postings are emitted
    * as a comma-joined string of numerically-sorted ids: a canonical,
    * engine-portable encoding (array-typed results hash differently per
    * engine; a delimited string doesn't).
    *
    * Scale shape: per-doc term UNIQUENESS comes out of the shingle kernel
    * (set semantics inside the projection), so the (term, doc) relation
    * needs no corpus-wide distinct; then ONE hash aggregate keyed on the
    * term builds count + collect_set together. The maxDf cut is the skew
    * guard AND the memory guard in one: the Zipf head ("the", "a" — df ≈
    * corpus size) would otherwise materialize a posting string as large as
    * the corpus inside a single aggregation buffer; a df band caps every
    * buffer at maxDf ids. Head terms belong in a stopword list, not an
    * index — the same reasoning as [[stripRepeatedSpans]]'s maxDf cut.
    * The band filter applies AFTER the agg (df isn't known until counted)
    * but the collect buffer is still bounded: size_limit-style banding at
    * build time would need a two-pass df pre-count, the documented trade
    * for a guaranteed cap (do that at 100 TB: df agg → band filter →
    * semi-join terms → collect). */
  def postingLists(docs: DataFrame, textCol: String, idCol: String,
                   minDf: Long, maxDf: Long, termNgram: Int = 1): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, s"bad df band [$minDf, $maxDf]")
    require(termNgram >= 1, s"termNgram must be positive: $termNgram")
    docs.select(col(idCol).as("doc"),
        explode(graft.expressions.Exprs.wordShinglesDistinct(col(textCol), termNgram)).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        array_join(transform(array_sort(collect_set(col("doc"))),
          d => d.cast("string")), ",").as("postings"))
      .filter(col("df").between(minDf, maxDf))
  }

  /** PMI word-association pairs: pointwise mutual information of word
    * co-occurrence at DOCUMENT grain — `pmi(x,y) = ln(N·c_xy / (c_x·c_y))`
    * with doc-level counts (each word counted once per doc). The classic
    * collocation/association miner (and the objective SGNS embeddings
    * implicitly factorize), here as a corpus panel. All counts are exact
    * integers; the single `ln` runs on the identical double ratio in any
    * engine and is rounded (the zipfPanel convention).
    *
    * Scale shape: the distinct (doc, word) relation self-joins ON THE DOC
    * id — per-doc fan-out is (tokens/doc)², bounded by document length
    * exactly like the shingle kernels, never corpus-quadratic. The pair
    * agg is map-side combinable into a ≤vocab²-sized relation; unigram
    * counts and the 1-row N attach by broadcast. `maxDf` (optional)
    * drops stopword-class words BEFORE pairing — the standard PMI
    * practice, and the Zipf-head guard: "the" pairs with everything,
    * contributing the most pairs and the least information. */
  def pmiPairs(docs: DataFrame, textCol: String, idCol: String,
               minPairCount: Long, maxDf: Long = Long.MaxValue): DataFrame = {
    val w0 = docs.select(col(idCol).as("doc"),
        explode(graft.expressions.Exprs.wordShinglesDistinct(col(textCol), 1)).as("word"))
      .filter(col("word") =!= "")
      // returned plan reads this cache from two branches — caller-owned
      // lifecycle: the session's CacheManager holds it until
      // unpersist/clearCache
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = w0.groupBy("word").agg(count(lit(1)).as("c"))
    val kept = if (maxDf == Long.MaxValue) w0
      else w0.join(broadcast(uni.filter(col("c") > maxDf).select("word")),
        Seq("word"), "left_anti")
    val pairs = kept.select(col("doc"), col("word").as("x"))
      .join(kept.select(col("doc"), col("word").as("y")), "doc")
      .filter(col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minPairCount)
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    pairs
      .join(broadcast(uni.select(col("word").as("x"), col("c").as("c_x"))), "x")
      .join(broadcast(uni.select(col("word").as("y"), col("c").as("c_y"))), "y")
      .crossJoin(broadcast(nDocs))
      .select(col("x"), col("y"), col("c_xy"),
        (round(log((col("nd").cast("double") * col("c_xy"))
          / (col("c_x").cast("double") * col("c_y"))), 4) + lit(0.0)).as("pmi"))
  }

  /** Shingle novelty: the fraction of each document's distinct shingles
    * whose FIRST occurrence (by ascending doc id — ingest order) is this
    * document. A near-duplicate of anything earlier scores ~0; fresh
    * content scores ~1 — the cheap streaming-order complement of the
    * pairwise dedup kernels (no candidate generation at all), used to
    * triage which slices of a crawl are worth the full near-dup pass.
    * novelty_rate is floored basis points (the repo-wide count-ratio
    * convention).
    *
    * Scale shape: the distinct (doc, shingle) relation aggregates once
    * keyed on the shingle (min doc — map-side combinable), joins back to
    * itself keyed on the shingle, and re-aggregates per doc. Two shuffles
    * of the shingle relation, both with partial aggregation; no self-join
    * blowup because the min-doc side is one row per distinct shingle. */
  def noveltyScore(docs: DataFrame, textCol: String, idCol: String,
                   shingleSize: Int = 3): DataFrame = {
    val rows = docs.select(col(idCol).as("doc"),
        explode(graft.expressions.Exprs.wordShinglesDistinct(col(textCol), shingleSize)).as("shingle"))
      // returned plan reads this cache from two branches — caller-owned
      // lifecycle: the session's CacheManager holds it until
      // unpersist/clearCache
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firstSeen = rows.groupBy("shingle").agg(min(col("doc")).as("__first_doc"))
    rows.join(firstSeen, "shingle")
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("doc") === col("__first_doc"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc"), col("n_shingles"), col("n_novel"),
        (expr("(10000 * n_novel) div n_shingles") / lit(10000.0) + lit(0.0))
          .as("novelty_rate"))
  }

  /** Gazetteer tagging: every token occurrence that matches a dictionary
    * term, with its position — the cheap entity-annotation pass (domain
    * terms, product names, blocklist vocabulary) that runs before any
    * model-based tagger. Matching is lowercased single-token equality by
    * contract (multi-word gazetteers explode into their tokens upstream
    * or use [[repeatedSpans]]-style shingles). Emits (doc, pos, term,
    * tag) per occurrence.
    *
    * Scale shape: the dictionary (gazetteer-sized — thousands) attaches
    * BROADCAST onto the scan-side token stream; the corpus never
    * shuffles. Output is occurrences-sized — for Zipf-hot terms apply
    * the [[postingLists]] df band first. */
  def dictionaryTag(docs: DataFrame, textCol: String, idCol: String,
                    dictionary: DataFrame, termCol: String,
                    tagCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
        posexplode(graft.expressions.Exprs.wordShingles(col(textCol), 1))
          .as(Seq("pos", "token")))
      .filter(col("token") =!= "")
      .select(col("doc"), col("pos"), lower(col("token")).as("token"))
      .join(broadcast(dictionary.select(
        lower(col(termCol)).as("token"), col(tagCol).as("tag"))), "token")
      .select(col("doc"), col("pos").cast("long").as("pos"),
        col("token").as("term"), col("tag"))

  /** Per-document zlib compression ratio — the Gopher-class quality
    * signal marker words and shingle ratios can't fake: templated or
    * machine-generated text compresses far below prose, and binary
    * mojibake barely compresses at all. `ratio_bp = (10000·deflated) div
    * utf8_bytes` (lower = more redundant); empty documents emit NULL
    * rather than the header-only artifact ratio. DETERMINISTIC for a
    * fixed zlib level but not SQL-expressible — this operator is
    * spec-pinned (orderings, bounds) and rows-checked, not hash-twinned;
    * the one justified mapPartitions island in the text family: the
    * Deflater is per-partition initialized and reset per row (the P5
    * client-handle pattern), and the alternative is no signal at all.
    *
    * Scale shape: scan → mapPartitions → rows, ZERO shuffle; CPU-bound
    * at ~100 MB/s/core — budget accordingly or sample. */
  def compressionRatio(docs: DataFrame, textCol: String,
                       idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val out = docs
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6, false)
        // release the NATIVE zlib buffers at task end — without end(),
        // disposal waits on GC of the wrapper, and a long-lived executor
        // accumulates native memory the heap can't see
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val bytes = (if (text == null) "" else text).getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished())
            compressed += deflater.deflate(buf)
          (id, bytes.length.toLong, compressed)
        }
      }
      .toDF(idCol, "n_bytes", "n_compressed")
    out.withColumn("ratio_bp",
      when(col("n_bytes") > 0,
        expr("(10000 * n_compressed) div n_bytes")).cast("long"))
  }

  /** Shared ln(2) literal for [[entropyCodedSize]] and its oracle twin —
    * computed ONCE here and embedded verbatim in both engines (the
    * shared-literal convention): dividing by each engine's own `ln(2)`
    * would differ in the last ulp across libms. */
  val Ln2: Double = math.log(2.0)

  /** Per-document ORDER-0 ENTROPY-CODED size — the oracle-expressible
    * twin of [[compressionRatio]]: model the entropy-coding stage of
    * deflate (each character costs −log2(n_c/N) bits under the document's
    * own character distribution) and skip the LZ77 stage no SQL engine
    * can express. est_bytes = ⌈Σ_c n_c·(ln N − ln n_c)/ln2 / 8⌉ via the
    * round(·1e6) micro-bit lane q_nb_classify proved cross-engine;
    * ratio_bp = (10000·est_bytes) div utf8_bytes, NULL for empty
    * documents (the zlib operator's empty-doc contract). Templated text
    * scores low, mojibake high — the same quality axis as zlib, exactly
    * hash-twinnable. Character grain (codepoints), not bytes: both
    * engines split identically on codepoints.
    *
    * Scale shape: the explode is chars-per-doc rows but partial
    * aggregation collapses the shuffle to docs × distinct-chars
    * (≤ alphabet size) — the [[wordCounts]] shape; the corpus scan
    * dominates. At 100 TB the histogram would fuse scan-side into a
    * native counts expression (the LetterCounts pattern); the agg form
    * keeps the oracle twin line-for-line. */
  def entropyCodedSize(docs: DataFrame, textCol: String,
                       idCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc"),
      coalesce(col(textCol).cast("string"), lit("")).as("__t"))
    val sizes = base.select(col("doc"),
      octet_length(col("__t")).cast("long").as("n_bytes"))
    val bits = base
      .select(col("doc"), length(col("__t")).cast("long").as("__n"),
        explode(split(col("__t"), "")).as("__c"))
      .filter(col("__c") =!= "")
      .groupBy("doc", "__n", "__c").agg(count(lit(1)).as("__nc"))
      .select(col("doc"),
        (col("__nc") * round((log(col("__n")) - log(col("__nc")))
          / Ln2 * 1e6).cast("long")).as("__bm"))
      .groupBy("doc").agg(sum("__bm").as("__bits_micro"))
    sizes.join(bits, Seq("doc"), "left")
      .select(col("doc").as(idCol), col("n_bytes"),
        coalesce(expr("(__bits_micro + 7999999) div 8000000"), lit(0L))
          .as("est_bytes"),
        when(col("n_bytes") > 0,
          expr("(10000 * coalesce((__bits_micro + 7999999) div 8000000, 0))"
            + " div n_bytes")).cast("long").as("ratio_bp"))
  }

  /** Unicode script mix per document — the writing-system census that
    * complements [[languageId]] (marker words can't see that a "mostly
    * English" page is half CJK boilerplate, and encoding mojibake shows
    * up as an `other` spike before any language model notices). Counts
    * per script class (Latin letters, ASCII digits, Cyrillic, CJK
    * unified, Arabic) as codepoint-range regexp counts — BMP ranges via
    * `\x{...}` escapes, the syntax Java regex and RE2 share — plus the
    * residual `n_other` (non-whitespace chars in none of the classes)
    * and the Latin share of non-space text in floored basis points.
    * Zero-text documents emit NULL latin_bp, never a divide-by-zero.
    *
    * Pure codegen projection: one scan, zero shuffle — the 100 TB plan is
    * scan → project → write, the [[qualityScore]] shape. */
  def scriptMix(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(pattern: String) = regexp_count(t, lit(pattern)).cast("long")
    val classes = Seq(
      "n_latin" -> "[A-Za-z]",
      "n_digit" -> "[0-9]",
      "n_cyrillic" -> "[\\x{0400}-\\x{04FF}]",
      "n_cjk" -> "[\\x{4E00}-\\x{9FFF}]",
      "n_arabic" -> "[\\x{0600}-\\x{06FF}]")
    val nonSpace = length(regexp_replace(t, "\\s", "")).cast("long")
    val counted = classes.map { case (_, p) => cnt(p) }.reduce(_ + _)
    docs.select(
      col(idCol) +:
        classes.map { case (n, p) => cnt(p).as(n) } :+
        nonSpace.as("n_nonspace") :+
        (nonSpace - counted).as("n_other"): _*)
      .withColumn("latin_bp",
        when(col("n_nonspace") > 0,
          expr("(10000 * n_latin) div n_nonspace")).cast("long"))
  }

  /** Okapi BM25 ranked retrieval over the corpus for a PANEL of term
    * queries — the lexical ranking stage of a retrieval/eval pipeline
    * (and the lexical leg [[graft.operators.RelationalOps.rrfFuse]]
    * fuses with the ANN leg). Lucene's idf form:
    * `ln(1 + (N − df + ½)/(df + ½))`, per-term weight
    * `idf · tf·(k1+1)/(tf + k1·(1 − b + b·len/avgdl))`.
    *
    * Exactness under distribution: each (query, doc, term) contribution
    * rounds to integer MICRO-units before the per-(query, doc) sum, so
    * the score is a BIGINT — invariant to partitioning/summation order
    * and identical in the DuckDB twin (the corpusStats idiom). Ranking
    * ties break by the smaller doc id (the TopKHits contract).
    *
    * Scale shape: doc length is a scan-side array length; the explode is
    * narrow and the very next filter keeps ONLY panel terms, so the one
    * real shuffle — the (doc, term) tf agg — carries the postings of the
    * query terms, not the corpus vocabulary. df and the query panel
    * broadcast; corpus stats ride a 1-row broadcast; the per-query top-k
    * is the bounded TopKHits aggregate (tasks × queries × k shuffle
    * rows), never a corpus-wide window sort. */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queries: Seq[(Long, Seq[String])], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val panel = queries.flatMap { case (q, ts) => ts.map(tm => (q, tm)) }
      .toDF("query_id", "term")
    val allTerms = queries.flatMap(_._2).distinct
    val base = docs.select(col(idCol).cast("long").as("doc"),
        size(tokens(col(textCol))).cast("long").as("len"),
        tokens(col(textCol)).as("toks"))
    val stats = base.agg(count(lit(1)).cast("long").as("n"),
      sum("len").as("tot"))
    val tf = base.select(col("doc"), col("len"), explode(col("toks")).as("term"))
      .filter(col("term").isin(allTerms: _*))
      .groupBy("doc", "len", "term").agg(count(lit(1)).cast("long").as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    val avgdl = col("tot").cast("double") / col("n")
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("len") / avgdl))
    val scored = tf.join(broadcast(panel), "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc"),
        round(contrib * 1e6, 0).cast("long").as("c_micro"))
    val agg = scored.groupBy("query_id", "doc").agg(sum("c_micro").as("score_micro"))
    RelationalOps.topKPerGroup(agg, "query_id", "doc", "score_micro", k)
      .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
        col("score").cast("long").as("score_micro"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval — the language-model
    * ranker next to [[bm25TopK]] in a retrieval eval panel. Score of doc d
    * for query q: `Σ_t ln((tf + μ·cf_t/T) / (len + μ))` over the query's
    * terms, where `cf_t` is the term's collection frequency and `T` the
    * corpus token count. Candidates are docs matching ≥1 query term (the
    * postings union — the WAND-style candidate set); each candidate is
    * then scored on the FULL query, missing terms contributing their
    * background mass. Query terms absent from the corpus entirely
    * (cf = 0) are dropped — they would send every score to −∞ without
    * discriminating anything. Same micro-unit exactness and bounded
    * top-k shapes as [[bm25TopK]].
    *
    * Scale shape: one postings-restricted tf shuffle + a candidate ×
    * query-terms expansion bounded by |postings| · |query| — never
    * corpus × vocabulary. */
  def queryLikelihoodTopK(docs: DataFrame, textCol: String, idCol: String,
                          queries: Seq[(Long, Seq[String])], k: Int,
                          mu: Double = 1000.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val panel = queries.flatMap { case (q, ts) => ts.map(tm => (q, tm)) }
      .toDF("query_id", "term")
    val allTerms = queries.flatMap(_._2).distinct
    val base = docs.select(col(idCol).cast("long").as("doc"),
        size(tokens(col(textCol))).cast("long").as("len"),
        tokens(col(textCol)).as("toks"))
    val stats = base.agg(sum("len").as("tot"))
    val words = base.select(col("doc"), col("len"), explode(col("toks")).as("term"))
      .filter(col("term").isin(allTerms: _*))
    val tf = words.groupBy("doc", "len", "term")
      .agg(count(lit(1)).cast("long").as("tf"))
    val cf = words.groupBy("term").agg(count(lit(1)).cast("long").as("cf"))
    // query terms present in the corpus, with their collection frequency
    val qterms = panel.join(broadcast(cf), "term")
    val candidates = tf.join(broadcast(panel), "term")
      .select(col("query_id"), col("doc"), col("len")).distinct()
    val contrib = log(
      (coalesce(col("tf"), lit(0L)) + lit(mu) * col("cf") / col("tot").cast("double")) /
        (col("len") + lit(mu)))
    val scored = candidates.join(broadcast(qterms), Seq("query_id"))
      .join(tf.select(col("doc"), col("term"), col("tf")), Seq("doc", "term"), "left")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc"),
        round(contrib * 1e6, 0).cast("long").as("c_micro"))
    val agg = scored.groupBy("query_id", "doc").agg(sum("c_micro").as("score_micro"))
    RelationalOps.topKPerGroup(agg, "query_id", "doc", "score_micro", k)
      .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
        col("score").cast("long").as("score_micro"))
  }

  /** Corpus-level BM25 statistics as a stored queryable artifact
    * (`<dir>.terms` = per-term document frequencies, `<dir>.stats` =
    * the 1-row (n_docs, total_tokens)) — the retrieval twin of the
    * stored LM table and the IVF centroid table: train the ranker's
    * statistics ONCE on the reference corpus, then score any batch or
    * stream against them without re-deriving (the percolator/alerting
    * shape). One persisted tokenization pass feeds both artifacts; df
    * comes from source-deduped shingles, so no corpus-wide distinct. */
  def buildBm25Stats(docs: DataFrame, textCol: String, dir: String): Unit = {
    val agg = bm25StatRelation(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    agg.filter(col("term") =!= LenSentinel).select(col("term"), col("df"))
      .write.mode("overwrite").parquet(dir + ".terms")
    agg.filter(col("term") === LenSentinel)
      .select(col("df").as("n"), col("tot"))
      .write.mode("overwrite").parquet(dir + ".stats")
    agg.unpersist(); ()
  }

  /** Sentinel "term" carrying per-document length into the one aggregate
    * of [[bm25StatRelation]]. Collision-proof BY CONSTRUCTION, not by
    * improbability: [[tokens]] splits on spaces, so no real token can
    * ever contain one. */
  private val LenSentinel = "  len"

  /** The one-pass (term, df, tot) relation both stats artifacts project
    * from: every document emits its source-deduped terms plus ONE
    * sentinel row carrying its token length, and a single map-side-
    * combinable hash aggregate then yields per-term document frequencies
    * AND the corpus totals (n = the sentinel's df, tot = the sentinel's
    * len sum) together. This replaces the corpus-sized MEMORY_AND_DISK
    * persist of the tokenized corpus that fed two separate aggregates —
    * the measured single-box spill at the sf10 probe (BASELINE.md:
    * q_bm25_stored 14.4× for 10× data). Nothing corpus-sized is ever
    * held now: the exploded rows stream through the partial aggregate,
    * whose state is task-vocabulary-grain, and the only persist left is
    * the vocabulary-sized result shared by the two artifact writes.
    * Counts are integers, so the build is bit-equal to the two-pass
    * form. NULL text contributes to n with zero length and no terms
    * (the previous form's exact semantics, via the coalesces). */
  private def bm25StatRelation(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(concat(
        array(struct(lit(LenSentinel).as("term"),
          coalesce(tokenCount(col(textCol)), lit(0L))
            .as("len"))),
        transform(
          coalesce(
            graft.expressions.Exprs.wordShinglesDistinct(col(textCol), 1),
            array().cast("array<string>")),
          t => struct(t.as("term"), lit(0L).as("len"))))).as("r"))
      .select(col("r.term").as("term"), col("r.len").as("len"))
      .filter(col("term") =!= "")
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("len").as("tot"))

  /** Ingest-path maintenance of a stored [[buildBm25Stats]] artifact:
    * fold a DELTA of new documents into the stored statistics WITHOUT
    * rescanning the reference corpus — BM25's statistics are additive
    * counts, so the merge is `stored ∪ delta → sum` at VOCABULARY grain
    * (the corpus never re-tokenizes; only the delta does). Each artifact
    * lands via the write-tmp-then-swap discipline (the UpsertParquet
    * pattern), so a reader never observes a half-written table and the
    * lazy self-read never races its own overwrite. Append-only ingest
    * discipline: re-ingesting the same documents double-counts (the
    * [[graft.operators.Similarity]] index append's id rule — dedup
    * upstream). */
  def appendBm25Stats(delta: DataFrame, textCol: String, dir: String): Unit = {
    val spark = delta.sparkSession
    // delta-vocabulary-sized persist (the same one-pass relation as the
    // full build — nothing delta-corpus-sized is held)
    val agg = bm25StatRelation(delta, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // shared swap discipline (incl. crash recovery of an orphaned
    // complete tmp) — see graft.sources.AtomicSwap
    def swapIn(df: DataFrame, table: String): Unit =
      graft.sources.AtomicSwap.swapIn(df, dir + table)
    graft.sources.AtomicSwap.recover(spark, dir + ".terms")
    graft.sources.AtomicSwap.recover(spark, dir + ".stats")
    swapIn(spark.read.parquet(dir + ".terms")
      .unionByName(agg.filter(col("term") =!= LenSentinel)
        .select(col("term"), col("df")))
      .groupBy("term").agg(sum("df").as("df")), ".terms")
    swapIn(spark.read.parquet(dir + ".stats")
      .unionByName(agg.filter(col("term") === LenSentinel)
        .select(col("df").as("n"), col("tot")))
      .select(sum("n").cast("long").as("n"), sum("tot").cast("long").as("tot")),
      ".stats")
    agg.unpersist(); ()
  }

  /** The driver-side handle of a stored [[buildBm25Stats]] artifact:
    * corpus constants plus the df of ONLY the panel's terms (the read is
    * panel-bounded, never vocabulary-sized). */
  case class Bm25Stats(nDocs: Long, totTokens: Long, df: Map[String, Long])

  def loadBm25Stats(spark: org.apache.spark.sql.SparkSession, dir: String,
                    terms: Seq[String]): Bm25Stats = {
    // read path of a swap-maintained table — recover an orphaned complete
    // tmp first (the AtomicSwap contract; a crash between delete and
    // rename would otherwise read as path-not-found)
    graft.sources.AtomicSwap.recover(spark, dir + ".stats")
    graft.sources.AtomicSwap.recover(spark, dir + ".terms")
    val st = spark.read.parquet(dir + ".stats").collect()(0)
    val dfm = spark.read.parquet(dir + ".terms")
      .filter(col("term").isin(terms.distinct: _*)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Bm25Stats(st.getLong(0), st.getLong(1), dfm)
  }

  /** BM25-score ANY corpus — batch or STREAM — against stored corpus
    * statistics: per-row tf comes from the token array (no shuffle), the
    * per-query score is a fixed-order fold over driver-side idf
    * constants in the same integer micro-units as [[bm25TopK]], and the
    * panel explodes to (doc_id, query_id, score_micro) rows with
    * zero-score pairs dropped. Scored over the training corpus itself
    * this reproduces [[bm25TopK]]'s scores exactly (the artifact
    * round-trip the oracle pins); scored over a stream it is the
    * percolator/alerting stage — a pure stateless projection, so the
    * identical plan runs under Structured Streaming with no watermark,
    * no state store, nothing to rescale at 100 TB/day.
    * Query terms missing from the stored vocabulary are dropped, the
    * [[queryLikelihoodTopK]] convention. */
  def bm25ScoreFrom(docs: DataFrame, textCol: String, idCol: String,
                    queries: Seq[(Long, Seq[String])], stats: Bm25Stats,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val avgdl = stats.totTokens.toDouble / stats.nDocs
    // Per-row tf for the WHOLE panel AND the token length come from ONE
    // native byte pass over the raw text ([[graft.expressions
    // .PanelTermStats]] — r13): the previous per-term
    // `size(filter(toks, _ === term))` chain was |panel| interpreted
    // array traversals per document plus the tokenize ArrayFilter lambda
    // — the suite's largest remaining non-codegen hot path (the sf10
    // probe's ~79 s scoring scan, BASELINE.md round-12). Slot order =
    // deduped in-vocabulary panel terms, last slot = token count;
    // vocabulary-missing terms contribute 0 and need no count. Scores
    // are bit-identical (a slot IS that term's exact count, the last
    // slot IS size(tokens(text)); the arithmetic below is unchanged),
    // which the `q_bm25_stored` oracle pins.
    val panelTerms = queries.flatMap(_._2).distinct.filter(stats.df.contains)
    val slot = panelTerms.zipWithIndex.toMap
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      graft.expressions.Exprs.panelTermStats(col(textCol), panelTerms)
        .as("__ts"))
    val len = col("__ts").getItem(panelTerms.length)
    val norm = lit(k1) * (lit(1.0) - lit(b) + lit(b) * len / lit(avgdl))
    def contrib(term: String): Column = stats.df.get(term) match {
      case None => lit(0L)
      case Some(dfv) =>
        val idf = math.log(1.0 + (stats.nDocs - dfv + 0.5) / (dfv + 0.5))
        val tf = col("__ts").getItem(slot(term))
        round(lit(idf) * (tf * lit(k1 + 1.0)) / (tf + norm) * 1e6, 0).cast("long")
    }
    val perQuery = queries.map { case (qid, ts) =>
      struct(lit(qid).as("query_id"),
        ts.map(contrib).reduceLeft(_ + _).as("score_micro"))
    }
    base.select(col("doc_id"), explode(array(perQuery: _*)).as("q"))
      .select(col("doc_id"), col("q.query_id"), col("q.score_micro"))
      .filter(col("score_micro") > 0)
  }

  /** Keyword-in-context snippets: for each document and each panel term
    * it contains, the ±`window`-character excerpt around the FIRST
    * occurrence — the display/triage stage after retrieval (show WHY a
    * document matched) and the context-inspection tool of a
    * decontamination audit. 1-based `pos` is the match offset (`instr`
    * semantics, identical in the DuckDB twin); the excerpt is clamped at
    * the document start, never a negative-offset substring.
    *
    * Pure scan-side projection + a |terms|-wide literal explode — zero
    * shuffle, zero joins; the qualityScore shape. */
  def snippets(docs: DataFrame, textCol: String, idCol: String,
               terms: Seq[String], window: Int = 30): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__t"),
        explode(array(terms.distinct.map(lit): _*)).as("term"))
      .withColumn("pos", expr("instr(__t, term)").cast("long"))
      .filter(col("pos") > 0)
      .withColumn("__start", greatest(col("pos") - window, lit(1L)))
      .select(col("doc_id"), col("term"), col("pos"),
        expr(s"substring(__t, __start, pos - __start + length(term) + $window)")
          .as("snippet"))

  /** Per-document character-level Shannon entropy over the 26-letter
    * Latin alphabet (case-folded) — the oracle-expressible twin of the
    * zlib compression-ratio signal (gibberish, keyboard-mash and
    * single-char flooding score far below prose's ≈2.6–3.0 nats; the
    * signal a curation gate can threshold). Algebraic one-pass form
    * `H = ln(n) − Σ c·ln(c) / n`; the 26 counts come from the native
    * single-byte-pass `letter_counts` kernel (the DuckDB twin uses the
    * length-after-removal identity `len(t) − len(replace(replace(t, ch,
    * ''), CH, ''))`, which produces the identical integers), and the
    * 26-term entropy sum is a FIXED-order fold (a–z) in both engines —
    * no cross-row float summation at all. Documents with zero Latin
    * letters emit NULL entropy, never a log-of-zero.
    *
    * Pure codegen projection: one scan, zero shuffle (the qualityScore
    * shape) — ONE byte pass per row (the 26-×-replace column form would
    * traverse and copy the string 26 times). */
  /** HASHING-TRICK feature extraction (Weinberger et al. 2009 — the
    * fastText/Vowpal-Wabbit vectorizer): each token hashes to a feature
    * index in [0, dim) with a ±1 sign from an independent hash bit, and a
    * document's feature value is the SIGNED count sum — unbiased under
    * collisions, which is the trick's whole point. No vocabulary pass, no
    * dictionary to broadcast, fixed dimensionality at any corpus size:
    * the feature space that still works when the vocabulary is 10⁹.
    * One explode + one (doc, idx) aggregate — map-side combinable, output
    * ≤ min(doc_tokens, dim) rows per doc. md5 lane
    * ([[graft.operators.Sketches.md5Hash32]]: engine-portable, the oracle
    * anchor). */
  def featureHash(docs: DataFrame, textCol: String, idCol: String,
                  dim: Int): DataFrame = {
    require(dim >= 2, s"dim must be >= 2: $dim")
    val h = Sketches.md5Hash32(col("__tok"))
    docs.select(col(idCol).as("doc"),
        explode(tokens(col(textCol))).as("__tok"))
      .select(col("doc"), pmod(h, lit(dim.toLong)).as("feature_idx"),
        // sign bit from way above the index bits — independent of idx
        (lit(1L) - lit(2L) * pmod(shiftright(h, 20), lit(2L))).as("__sign"))
      .groupBy("doc", "feature_idx")
      .agg(sum(col("__sign")).as("f_sum"))
      .filter(col("f_sum") =!= 0L) // collisions can cancel; zero = absent
  }

  /** LINEAR CLASSIFIER INFERENCE over hashed features — the deployment
    * shape of every fastText-style quality/safety filter: logit =
    * Σ f·w + bias in exact integer micro-units (weights arrive already
    * micro-scaled; training happens elsewhere — this is the 100 TB
    * scoring pass). The weight table is dim-sized and BROADCASTS; the
    * feature relation joins it and folds per doc — one shuffle, no
    * corpus re-scan. Unweighted (hash-missed) features contribute 0 via
    * the left join. Returns (doc, logit_micro, predicted). */
  def linearScore(features: DataFrame, weights: DataFrame,
                  weightIdxCol: String, weightMicroCol: String,
                  biasMicro: Long): DataFrame =
    features.join(
        broadcast(weights.select(col(weightIdxCol).as("feature_idx"),
          col(weightMicroCol).cast("long").as("__w"))),
        Seq("feature_idx"), "left")
      .groupBy("doc")
      .agg((sum(col("f_sum") * coalesce(col("__w"), lit(0L))) + biasMicro)
        .as("logit_micro"))
      .withColumn("predicted", col("logit_micro") > 0L)

  /** The ZERO-SHUFFLE form of [[featureHash]] + [[linearScore]]: the logit
    * folds per row over the token array (Σ sign(t)·w[idx(t)] + bias — the
    * same integer sum, since feature grouping distributes over addition;
    * spec-pinned equal on every document with ≥1 token). The edge contract
    * differs BY DESIGN where the join form has no row at all: a tokenless
    * document scores `bias` here (explode drops it there), and NULL text
    * scores NULL (both pinned in `TextOpsSpec`) — so a ≥-threshold gate
    * passes empty docs iff bias clears it, and never passes NULL text.
    * The dim-sized weight vector embeds as an ARRAY
    * LITERAL in the plan, so the corpus is scan → project → filter with no
    * join, no aggregate, no state — which makes it the form that runs
    * UNCHANGED on a stream ([[graft.streaming.CurationStream]]'s
    * classifier gate) and the cheapest possible 100 TB scoring pass. Use
    * [[linearScore]] when weights are a TABLE you join/update; use this
    * when they're a shipped model artifact (≤ a few 100k dims — beyond
    * that the literal bloats the plan; broadcast-join instead). */
  def linearScoreScan(docs: DataFrame, textCol: String, idCol: String,
                      weightsMicro: Seq[Long], biasMicro: Long): DataFrame =
    docs.select(col(idCol).as("doc"),
        linearLogitMicro(col(textCol), weightsMicro, biasMicro).as("logit_micro"))
      .withColumn("predicted", col("logit_micro") > 0L)

  /** The logit COLUMN of [[linearScoreScan]], exposed so callers that need
    * the score attached to their own row shape (the streaming classifier
    * gate) can `withColumn` it instead of joining — one expression, no
    * shuffle, no state. NULL text folds to a NULL logit (the aggregate
    * over a null token array), which a `>= threshold` filter drops. */
  private[graft] def linearLogitMicro(text: Column, weightsMicro: Seq[Long],
                                      biasMicro: Long): Column = {
    val dim = weightsMicro.size
    require(dim >= 2, s"dim must be >= 2: $dim")
    val wArr = typedLit(weightsMicro)
    // Higher-order-function lambdas are interpreted — no codegen, no
    // common-subexpression elimination — so the hash must be SINGLE-md5
    // (conv of the first 8 hex chars ≡ Sketches.md5Hash32's digit fold,
    // value-identical) and computed in its own transform() so the fold
    // references a cheap lambda variable, not a re-evaluated digest.
    // Measured 5× on the sf0.1 corpus vs hashing inside the fold.
    val hashes = transform(tokens(text),
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    aggregate(hashes, lit(biasMicro),
      (acc, h) => {
        val sign = lit(1L) - lit(2L) * pmod(shiftright(h, 20), lit(2L))
        acc + sign * element_at(wArr, pmod(h, lit(dim.toLong)).cast("int") + 1)
      })
  }

  /** Template mining: mask digit runs to '#', collapse whitespace runs,
    * and group — the log/boilerplate-detection pass that finds machine-
    * generated near-identical documents ("order 123 shipped" == "order 456
    * shipped") which near-dup hashing misses when the variable spans shift
    * alignment. Output per template seen >= `minDocs` times:
    * (template, n_docs, first_doc) — first_doc = smallest id, the
    * canonical keeper under the repo's dedup convention.
    *
    * Regex subset chosen to mean the same thing in Java (Spark) and RE2
    * (DuckDB): explicit classes `[0-9]+` / `[ \t]+` only.
    *
    * Scale shape: projection + one map-side-combinable aggregate at
    * template cardinality; the text itself never shuffles — only the
    * masked template. */
  def templates(docs: DataFrame, textCol: String, idCol: String,
                minDocs: Long = 2L): DataFrame =
    docs.select(col(idCol).as("doc"),
        trim(regexp_replace(regexp_replace(col(textCol), "[0-9]+", "#"),
          "[ \t]+", " ")).as("template"))
      .groupBy("template")
      .agg(count(lit(1)).as("n_docs"), min("doc").as("first_doc"))
      .filter(col("n_docs") >= minDocs)

  /** Multinomial Naive Bayes, trained AND evaluated in-engine: fit add-1-
    * smoothed token log-odds on the Knuth-hash `trainPct` slice, score the
    * held-out slice, and report accuracy. One row:
    * (n_test, n_correct, acc_bp).
    *
    * Determinism: each token weight is ONE ln of an exact integer ratio,
    * rounded to micro BEFORE the per-document sum (the q_unigram_lp
    * idiom), so document scores are integer sums — partition-order
    * invariant, engine-exact. Unseen test tokens take the smoothed-zero
    * weight w0; tokenless docs score the bare prior.
    *
    * Scale shape: training is one token-grain aggregate (vocab-sized
    * output); scoring is a token→weight join + integer sum per doc —
    * the same plan as [[linearScore]], with the model's weights coming
    * from data instead of a shipped artifact. The exact-integer products
    * inside the ln stay double-exact to ~2^53 (≈9e15 token pairs) —
    * past that, train on a hash slice. */
  def nbAccuracy(docs: DataFrame, textCol: String, idCol: String,
                 labelCol: String, trainPct: Int = 80): DataFrame = {
    val base = docs.select(col(idCol).as("doc"), col(textCol).as("__text"),
        col(labelCol).cast("boolean").as("pos"),
        (Curation.knuthHash(col(idCol), 100L) < trainPct).as("__tr"))
      // returned plan reads this cache from two branches — caller-owned
      // lifecycle: the session's CacheManager holds it until
      // unpersist/clearCache
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trainTok = base.filter(col("__tr"))
      .select(col("pos"),
        explode(graft.functions.TextFunctions.tokens(col("__text"))).as("word"))
    val cnt = trainTok.groupBy("word")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("ne"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
    val tot = cnt.agg(sum("ne").cast("double").as("__te"),
      sum("nn").cast("double").as("__tn"),
      count(lit(1)).cast("double").as("__v"))
    val wts = cnt.crossJoin(broadcast(tot))
      .select(col("word"),
        round(log(((col("ne") + 1).cast("double") * (col("__tn") + col("__v")))
          / ((col("nn") + 1).cast("double") * (col("__te") + col("__v")))) * 1e6, 0)
          .cast("long").as("w"))
    val w0 = tot.select(round(log((col("__tn") + col("__v"))
      / (col("__te") + col("__v"))) * 1e6, 0).cast("long").as("w0"))
    val prior = base.filter(col("__tr"))
      .agg(round(log(sum(when(col("pos"), 1L).otherwise(0L)).cast("double")
        / sum(when(col("pos"), 0L).otherwise(1L))) * 1e6, 0)
        .cast("long").as("prior"))
    val testTok = base.filter(!col("__tr"))
      .select(col("doc"),
        explode(graft.functions.TextFunctions.tokens(col("__text"))).as("word"))
    val sums = testTok.join(wts, Seq("word"), "left")
      .crossJoin(broadcast(w0))
      .groupBy("doc").agg(sum(coalesce(col("w"), col("w0"))).as("__sw"))
    base.filter(!col("__tr")).select(col("doc"), col("pos"))
      .join(sums, Seq("doc"), "left")
      .crossJoin(broadcast(prior))
      .select(col("pos"),
        ((coalesce(col("__sw"), lit(0L)) + col("prior")) > 0).as("__pred"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("__pred") === col("pos"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("n_test"), col("n_correct"),
        expr("(10000 * n_correct) div n_test").as("acc_bp"))
  }

  /** Flesch-style reading-ease in exact integer milli-units — the quality
    * signal curation stacks use to bucket "textbook prose" vs "fragment
    * soup". Syllables are approximated by vowel GROUPS (runs of
    * [aeiouy]), sentences by terminal-punctuation runs (min 1) — both
    * regex-countable identically in Java and RE2, which keeps the score a
    * pure scan-side projection with a bit-exact oracle:
    * flesch_milli = 206835 - (1015·W) div S - (84600·Syl) div W.
    * Tokenless docs score NULL (no words → undefined). */
  def readability(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = size(graft.functions.TextFunctions.tokens(col(textCol))).cast("long")
    docs.select(col(idCol).as("doc"),
        w.as("n_words"),
        greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
          .cast("long").as("n_sentences"),
        regexp_count(lower(col(textCol)), lit("[aeiouy]+"))
          .cast("long").as("n_syllables"))
      .withColumn("flesch_milli",
        when(col("n_words") > 0,
          lit(206835L) - expr("1015 * n_words div n_sentences")
            - expr("84600 * n_syllables div n_words")))
  }

  def charEntropy(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val letters = ('a' to 'z').toSeq
    def cnt(ch: Char): Column = element_at(col("__lc"), ch - 'a' + 1)
    val n = letters.map(cnt).reduceLeft(_ + _)
    val sumClnC = letters.map { ch =>
      val c = cnt(ch).cast("double")
      when(c > 0.0, c * log(c)).otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    docs.select(col(idCol),
        graft.expressions.Exprs.letterCounts(col(textCol)).as("__lc"))
      .select(
        col(idCol),
        n.as("n_letters"),
        when(n > 0,
          round(log(n.cast("double")) - sumClnC / n.cast("double"), 4) + lit(0.0))
          .as("char_entropy"))
  }

  /** IN-ENGINE BATCH PERCEPTRON over hashed features (Rosenblatt's rule
    * in its synchronous/batch form — the distributed-determinism twin of
    * the sequential online perceptron, same family as the fixed-round
    * pageRank/Bradley–Terry contracts): per round, every document with
    * margin y·(w·x + b) ≤ 0 under the CURRENT weights contributes y·x to
    * one gradient aggregate, then w ← w + Δ synchronously. Zero-init means
    * round 1 updates on every document (margin 0) — the standard start.
    * Everything is exact integer arithmetic (features are signed counts,
    * η = 1), so the audit trail hash-matches an unrolled SQL twin round
    * for round.
    *
    * Output: one audit row per round, (round, n_mis, w_l1, bias) — the
    * training curve (n_mis falling = linearly-separable-ish signal), with
    * the learned model's L1 mass as the replayable checksum. The final
    * weights feed [[linearScore]]/[[linearScoreScan]] as the shipped
    * artifact — train in-engine, score with the zero-shuffle scan.
    *
    * Scale shape: the (doc, y, feature_idx, f_sum) relation materializes
    * ONCE, pre-partitioned by doc, so each round's margin aggregate
    * reuses the partitioning (no per-round corpus exchange); the gradient
    * aggregate is map-side-combinable with a dim-bounded result; weights
    * live on the DRIVER between rounds (dim-sized, the centroid/PCA
    * bounded class) and re-enter each round's plan as an array literal —
    * plans stay flat, no lineage growth, no checkpoint needed. Scores are
    * LONG micro-magnitudes: at extreme corpus×round scale swap the score
    * sum to DECIMAL(38,0) (the olsTrend lane). */
  def trainPerceptron(docs: DataFrame, textCol: String, idCol: String,
                      labelCol: String, dim: Int, rounds: Int): DataFrame = {
    val (audit, _, _) =
      perceptronCore(docs, textCol, idCol, labelCol, dim, rounds)
    import docs.sparkSession.implicits._
    audit.toDF("round", "n_mis", "w_l1", "bias")
  }

  /** The trained MODEL instead of the audit curve: (feature_idx, w) pairs
    * plus the bias at index `dim` — the shipped-artifact shape
    * [[linearScore]]/[[linearScoreScan]] consume (η = 1 integer grain;
    * multiply by the caller's micro-scale on the way in if mixing with
    * micro-unit weight tables). Same training loop, one source of truth. */
  def perceptronWeights(docs: DataFrame, textCol: String, idCol: String,
                        labelCol: String, dim: Int, rounds: Int): Seq[(Long, Long)] = {
    val (_, w, bias) =
      perceptronCore(docs, textCol, idCol, labelCol, dim, rounds)
    w.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) } :+ (dim.toLong, bias)
  }

  private def perceptronCore(docs: DataFrame, textCol: String, idCol: String,
                             labelCol: String, dim: Int, rounds: Int)
      : (Seq[(Long, Long, Long, Long)], Array[Long], Long) = {
    require(rounds >= 1 && rounds <= 16, s"rounds=$rounds")
    require(dim >= 2 && dim <= 65536, s"dim=$dim")
    val labs = docs.select(col(idCol).as("doc"),
      when(col(labelCol).cast("boolean"), 1L).otherwise(-1L).as("y"))
    val feats = featureHash(docs, textCol, idCol, dim)
    // one materialization, doc-partitioned; every round's two doc-grain
    // passes (margin agg, gradient semi-filter) reuse the exchange
    val joined = labs.join(feats, Seq("doc"), "left")
      .select(col("doc"), col("y"), col("feature_idx"), col("f_sum"))
      .repartition(col("doc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Array.fill(dim)(0L)
    var bias = 0L
    val audit = (1 to rounds).map { r =>
      val wLit = typedLit(w.toSeq)
      val misDocs = joined.groupBy("doc", "y")
        .agg(coalesce(sum(col("f_sum") *
          element_at(wLit, col("feature_idx").cast("int") + 1)), lit(0L))
          .as("__s"))
        .filter(col("y") * (col("__s") + bias) <= 0L)
        .select(col("doc"), col("y").as("__my"))
      // gradient: doc-keyed join stays in the reused partitioning; the
      // (feature_idx) agg output is dim-bounded, collect is the
      // centroid/PCA driver-state class
      val grad = joined.join(misDocs, Seq("doc"))
        .filter(col("feature_idx").isNotNull)
        .groupBy("feature_idx")
        .agg(sum(col("__my") * col("f_sum")).as("__dw"))
        .collect()
      val misStats = misDocs
        .agg(count(lit(1)), coalesce(sum(col("__my")), lit(0L)))
        .collect()(0)
      grad.foreach(row => w(row.getLong(0).toInt) += row.getLong(1))
      bias += misStats.getLong(1)
      (r.toLong, misStats.getLong(0), w.map(math.abs).sum, bias)
    }
    joined.unpersist()
    (audit, w, bias)
  }

  /** VOCABULARY RICHNESS per group — "how much vocabulary haven't we seen
    * yet?", the corpus-coverage question behind dedup/scaling decisions:
    * Chao1's lower-bound estimate of the TRUE vocabulary size from the
    * singleton/doubleton counts (chao1 = V + f1²/(2·f2); the
    * bias-corrected f1(f1−1)/2 form when no doubletons exist), and the
    * Good–Turing unseen-probability mass P₀ = f1/N in floored basis
    * points — the probability the NEXT token is a word never seen. All
    * integer arithmetic (`div`), engine-identical.
    *
    * Scale shape: token explode → ONE map-side-combinable (group, word)
    * count agg → one group-grain agg of the Zipf-small vocabulary
    * relation; the corpus contributes a single scan. */
  def vocabularyRichness(docs: DataFrame, textCol: String,
                         groupCol: String): DataFrame = {
    val words = docs
      .select(col(groupCol).as("grp"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("grp", "w").agg(count(lit(1)).as("c"))
    words.groupBy("grp")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("grp").as(groupCol), col("n_tokens"), col("vocab"),
        col("f1"), col("f2"),
        (col("vocab") + when(col("f2") > 0L,
          expr("(f1 * f1) div (2 * f2)"))
          .otherwise(expr("(f1 * (f1 - 1)) div 2"))).as("chao1"),
        expr("(10000 * f1) div n_tokens").as("unseen_bp"))
  }
}
