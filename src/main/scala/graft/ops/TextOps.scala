package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

/** Text analysis for large-scale training-data pipelines — extension
  * operators beyond the reference surface (builder prompt; SURVEY.md §7
  * step 10). Everything is built from codegen'd `org.apache.spark.sql.
  * functions` (no UDFs), so all operators are embarrassingly parallel:
  * a single projection over the corpus, zero shuffles.
  */
object TextOps {

  /** Whitespace-token count. */
  def tokenCount(text: Column): Column =
    F.size(F.split(F.trim(text), "\\s+"))

  /** BPE-ish token count: word pieces + isolated punctuation. A real BPE
    * vocab would be a broadcast lookup; the regex segmentation is the
    * Spark-side plumbing that matters at scale. */
  def bpeishTokenCount(text: Column): Column =
    F.regexp_count(text, F.lit("\\w+|[^\\w\\s]"))

  private val stopwordsEn = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Quality metrics: length, token count, punctuation ratio, stopword
    * ratio, mean token length. Deterministic; mirrors a DuckDB-expressible
    * formula so the oracle can verify it. */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val t = F.col(textCol)
    val toks = F.split(F.trim(t), "\\s+")
    val nTok = F.size(toks)
    val stopHits = F.size(F.filter(toks, tk => tk.isin(stopwordsEn.map(x => x: Any): _*)))
    df.withColumn("n_tokens", nTok)
      .withColumn("punct_ratio",
        F.regexp_count(t, F.lit("[.,!?;:]")).cast("double") / F.greatest(F.length(t), F.lit(1)))
      .withColumn("stopword_ratio", stopHits.cast("double") / F.greatest(nTok, F.lit(1)))
      .withColumn("mean_token_len",
        (F.length(t) - nTok + 1).cast("double") / F.greatest(nTok, F.lit(1)))
  }

  /** Flesch readability census per corpus slice (Flesch 1948; Kincaid et
    * al. 1975) — the classic "is this source textbooks or tweets" lens
    * over the three structural counts a formula-readability score needs:
    * {{{
    *   FRE      = 206.835 − 1.015·(W/S) − 84.6·(SY/W)
    *   FK grade = 0.39·(W/S) + 11.8·(SY/W) − 15.59
    * }}}
    * with W = whitespace tokens, S = sentence-ender runs `[.!?]+`
    * (clamped to ≥ 1 per non-empty doc — a fragment is one sentence),
    * SY = the standard vowel-group syllable heuristic: runs of
    * `[aeiouy]` count one syllable each, vowel-less tokens clamp to 1
    * ("tsk" is pronounceable). A heuristic, not a dictionary — the same
    * convention every formula-readability implementation uses; it is
    * what makes the score engine-replayable.
    *
    * COUNTING RULES INTENTIONALLY DIFFER from [[withReadability]] (the
    * per-doc gate): see the divergence note there — this census uses
    * whitespace-token W (consistent with every other census op's
    * tokenizer), pieces−1 sentence runs gated on W > 0, and the
    * vowel-less-token syllable clamp; the per-doc op trades those for
    * three bare regexp_counts. OpsSpec pins both rule sets on
    * one fixture document.
    *
    * Determinism: all three counts are exact longs per document (regex
    * split semantics agree across engines, empties kept); the two scores
    * one 6-dp IEEE tree each over slice totals; constants pinned as
    * single literals.
    *
    * Scale shape: one scan, per-document codegen'd counts, slice-keyed
    * collapse — the [[withQuality]] shape at slice granularity.
    *
    * @return per slice (groupCols…, n_docs, words, sentences, syllables,
    *         words_per_sentence, syllables_per_word, flesch, fk_grade)
    *         ordered; score columns NULL on a wordless slice
    */
  def readability(df: DataFrame, groupCols: Seq[String],
                  textCol: String): DataFrame = {
    val t = F.coalesce(F.col(textCol), F.lit(""))
    val toks = F.filter(F.split(F.lower(F.trim(t)), "\\s+"),
      tk => F.length(tk) > 0)
    val w = F.size(toks).cast("long")
    // split keeps boundary empties on BOTH engines, so matches = pieces−1
    val sRaw = (F.size(F.split(t, "[.!?]+")) - 1).cast("long")
    val vg = (F.size(F.split(F.lower(t), "[aeiouy]+")) - 1).cast("long")
    val zv = F.size(F.filter(toks, tk => !tk.rlike("[aeiouy]")))
      .cast("long")
    val gs = groupCols.map(F.col)
    val per = df.select(gs ++ Seq(w.as("__w"),
      F.when(w > 0L, F.greatest(sRaw, F.lit(1L))).otherwise(0L).as("__s"),
      F.when(w > 0L, vg + zv).otherwise(0L).as("__sy")): _*)
    val wps = F.col("words").cast("double") /
      F.nullif(F.col("sentences").cast("double"), F.lit(0.0))
    val spw = F.col("syllables").cast("double") /
      F.nullif(F.col("words").cast("double"), F.lit(0.0))
    per.groupBy(gs: _*)
      .agg(F.count(F.lit(1)).as("n_docs"), F.sum("__w").as("words"),
        F.sum("__s").as("sentences"), F.sum("__sy").as("syllables"))
      .select(gs ++ Seq(F.col("n_docs"), F.col("words"),
        F.col("sentences"), F.col("syllables"),
        F.round(wps, 6).as("words_per_sentence"),
        F.round(spw, 6).as("syllables_per_word"),
        F.round(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6)
          .as("flesch"),
        F.round(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6)
          .as("fk_grade")): _*)
      .orderBy(gs: _*)
  }

  /** Stopword-hit language ID over {en, de, fr, es} + CJK-codepoint check
    * for zh. N-gram/stopword heuristic per the builder prompt — a
    * deterministic scoring rule, not a model. */
  def langId(text: Column): Column = {
    val toks = F.split(F.lower(F.trim(text)), "\\s+")
    val enW = Seq("the", "a", "of", "and", "to", "is", "in")
    val deW = Seq("der", "die", "das", "und", "ist", "ein", "nicht")
    val frW = Seq("le", "la", "les", "et", "est", "un", "une")
    val esW = Seq("el", "los", "las", "y", "es", "un", "que")
    def hit(tk: Column, words: Seq[String]): Column =
      F.when(tk.isin(words.map(x => x: Any): _*), 1).otherwise(0)
    // Single `aggregate` pass accumulating all four counters at once
    // (previously four separate filter-HOF scans, each duplicated again by
    // every reference in the when-chain). The winner is picked inside the
    // finish lambda, where the accumulator is a lambda variable — evaluated
    // once, not re-expanded per reference. Selection = argmax by
    // (count, priority en>de>fr>es), which is equivalent to the original
    // ordered when-chain: the chain picks the first language >= all later
    // ones, and any earlier language beaten by a later one is beaten by the
    // argmax itself; the (0, und) sentinel encodes the `> 0` requirement.
    val zero = F.struct(F.lit(0).as("en"), F.lit(0).as("de"),
      F.lit(0).as("fr"), F.lit(0).as("es"))
    val best = F.aggregate(toks, zero,
      (acc, tk) => F.struct(
        (acc.getField("en") + hit(tk, enW)).as("en"),
        (acc.getField("de") + hit(tk, deW)).as("de"),
        (acc.getField("fr") + hit(tk, frW)).as("fr"),
        (acc.getField("es") + hit(tk, esW)).as("es")),
      acc => F.array_max(F.array(
        F.struct(F.lit(0).as("n"), F.lit(5).as("p"), F.lit("und").as("l")),
        F.struct(acc.getField("en").as("n"), F.lit(4).as("p"), F.lit("en").as("l")),
        F.struct(acc.getField("de").as("n"), F.lit(3).as("p"), F.lit("de").as("l")),
        F.struct(acc.getField("fr").as("n"), F.lit(2).as("p"), F.lit("fr").as("l")),
        F.struct(acc.getField("es").as("n"), F.lit(1).as("p"), F.lit("es").as("l"))))
        .getField("l"))
    val hasCjk = F.regexp_count(text, F.lit("[\\u4e00-\\u9fff]")) > 0
    F.when(hasCjk, "zh").otherwise(best)
  }

  /** Exact top-k vocabulary: token → count, highest first (token as
    * tie-break so the result is total-ordered). Partial aggregation
    * combines counts map-side, then TakeOrderedAndProject keeps k per
    * partition before the final merge — the corpus-vocabulary pass of a
    * training pipeline, O(distinct tokens) shuffle, not O(tokens). */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(F.explode(F.split(F.lower(F.trim(F.col(textCol))), "\\s+")).as("tok"))
      .groupBy("tok").agg(F.count(F.lit(1)).as("n"))
      .orderBy(F.col("n").desc, F.col("tok")).limit(k)

  /** Top-`k` TF-IDF terms per document — the keyword/topic signal a corpus
    * profiler extracts. Ranking is deliberately on INTEGER keys (tf desc,
    * document-frequency asc — rarer term wins ties — then term): ranking on
    * the float score itself would make the result depend on the last ulp of
    * `ln`, which is not correctly-rounded and may differ across engines;
    * the score is emitted as a value (rounded) but never decides order.
    *
    * Scale shape: (doc, term) counts partial-aggregate map-side; the
    * document-frequency table is keyed by term (a second partial agg) and
    * joined back on term — a genuine shuffle join, because a 100 TB vocab
    * does not broadcast; the corpus total rides along as a 1-row broadcast
    * cross join, not an eager count(); top-k per doc is the WindowGroupLimit
    * rank-filter idiom. */
  def topTfidfTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = df.select(F.col(idCol),
        F.explode(F.split(F.lower(F.trim(F.col(textCol))), "\\s+")).as("term"))
      .filter(F.length(F.col("term")) > 0)
    val tf = toks.groupBy(idCol, "term").agg(F.count(F.lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).as("df"))
    val total = df.agg(F.count(F.lit(1)).as("__n"))
    val w = Window.partitionBy(idCol)
      .orderBy(F.col("tf").desc, F.col("df").asc, F.col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(F.broadcast(total))
      .withColumn("tfidf",
        F.round(F.col("tf") * F.log(F.col("__n").cast("double") / F.col("df")), 6))
      .withColumn("rk", F.row_number().over(w))
      .filter(F.col("rk") <= k)
      .select(F.col(idCol), F.col("term"), F.col("tf"), F.col("df"), F.col("tfidf"), F.col("rk"))
  }

  /** CCNet-style unigram log-likelihood quality score: each document's mean
    * ln p(token) under the corpus's own unigram model (p = corpus count /
    * corpus total). Low scores flag rare-token soup (binary junk, boiler-
    * plate explosions, wrong-language shards) — the cheap proxy for the LM
    * perplexity filter of CCNet, computable without any model artifact.
    *
    * Scale shape (the [[topTfidfTerms]] pattern): tokens partial-aggregate
    * to (term, count) map-side; the vocabulary joins back on term — a
    * genuine shuffle join, because a 100 TB vocab does not broadcast; the
    * corpus total rides along as a 1-row broadcast cross join, not an eager
    * count. Score is rounded to 6 decimals: sum order of the per-token logs
    * differs across engines, and ln itself is only near-correctly-rounded —
    * the rounding makes the value engine-neutral (the x37 precedent). */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(F.col(idCol),
        F.explode(F.split(F.lower(F.trim(F.col(textCol))), "\\s+")).as("term"))
      .filter(F.length(F.col("term")) > 0)
    val vocab = toks.groupBy("term").agg(F.count(F.lit(1)).as("__cnt"))
    val total = toks.agg(F.count(F.lit(1)).as("__n"))
    toks.join(vocab, "term")
      .crossJoin(F.broadcast(total))
      .groupBy(idCol)
      .agg(
        F.round(F.avg(F.log(F.col("__cnt").cast("double") / F.col("__n"))), 6)
          .as("avg_logp"),
        F.count(F.lit(1)).as("n_tokens"))
  }

  /** BM25 relevance of every document against a fixed `query` term set
    * (Robertson/Okapi, the Lucene `ln(1 + (N-df+0.5)/(df+0.5))` idf form) —
    * the retrieval scorer behind hard-negative mining and topical corpus
    * selection. Per-doc `tf` and length come from array ops over the token
    * list (a pure projection — the corpus never explodes, never shuffles);
    * `N`, `avgdl`, and per-term `df` partial-aggregate map-side into ONE
    * 1-row global aggregate that broadcasts back via cross join. Total
    * cost at 100 TB: two scans (the stats pass, then the scoring pass) and
    * a 1-row exchange — the stats row is the only thing that crosses the
    * wire; the corpus itself never shuffles.
    *
    * Score rounds to 6 (the x47 float-neutrality rule: ln/division ulp
    * order differs across engines). Empty/gramless docs score 0.0. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           query: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "bm25 needs at least one query term")
    val toks = F.filter(F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
      t => F.length(t) > 0)
    def tfCol(i: Int): String = s"__tf$i"
    val perDoc = df.select(
      // long, not int: the oracle's len() is BIGINT and dl is an output
      F.col(idCol) +: F.size(toks).cast("long").as("dl") +:
        query.zipWithIndex.map { case (q, i) =>
          F.size(F.filter(toks, t => t === F.lit(q))).as(tfCol(i))
        }: _*)
    val stats = perDoc.agg(
      F.count(F.lit(1)).as("__n"),
      F.avg("dl").as("__avgdl") +:
        query.indices.map(i =>
          F.sum(F.when(F.col(tfCol(i)) > 0, 1L).otherwise(0L)).as(s"__df$i")): _*)
    val score = query.indices.map { i =>
      val tf = F.col(tfCol(i)).cast("double")
      val idf = F.log(F.lit(1.0) +
        (F.col("__n") - F.col(s"__df$i") + 0.5) / (F.col(s"__df$i") + 0.5))
      val norm = F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("__avgdl")
      idf * tf * (k1 + 1.0) / (tf + F.lit(k1) * norm)
    }.reduce(_ + _)
    perDoc.crossJoin(F.broadcast(stats))
      .select(F.col(idCol), F.col("dl"),
        F.round(F.coalesce(score, F.lit(0.0)), 6).as("bm25"))
  }

  /** Per-token Jensen–Shannon divergence contributions between two corpus
    * slices' unigram distributions — the drift detector for "did this
    * month's crawl shift vocabulary vs last month's" and the evidence
    * table for WHERE it shifted (top-`topK` tokens by contribution).
    * `JS(P,Q) = ½ KL(P‖M) + ½ KL(Q‖M)` with `M = (P+Q)/2`; a token absent
    * from one side contributes `½ p ln 2` from the other — no smoothing
    * needed, and the total over ALL tokens is bounded by `ln 2`.
    *
    * Scale shape: each side is one explode + one vocab-bounded
    * count-by-term (partial map-side — corpus rows never reach the
    * reducer, only (term, count)); the sides meet in a full-outer join on
    * the term key (vocab-sized, AQE-broadcastable when small); grand
    * totals ride along as 1-row broadcast cross joins; top-K compiles to
    * TakeOrderedAndProject (no global sort materialization). Contributions
    * round to 9 (they are O(1/vocab) small; ln ulp order differs across
    * engines — the x47 rule at higher precision). */
  def tokenDivergence(a: DataFrame, b: DataFrame, textCol: String,
                      topK: Int = 40): DataFrame = {
    def counts(df: DataFrame): DataFrame =
      df.select(F.explode(F.filter(
          F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
          t => F.length(t) > 0)).as("term"))
        .groupBy("term").agg(F.count(F.lit(1)).as("__c"))
    val ca = counts(a).withColumnRenamed("__c", "cnt_a")
    val cb = counts(b).withColumnRenamed("__c", "cnt_b")
    val joined = ca.join(cb, Seq("term"), "full_outer")
      .select(F.col("term"),
        F.coalesce(F.col("cnt_a"), F.lit(0L)).as("cnt_a"),
        F.coalesce(F.col("cnt_b"), F.lit(0L)).as("cnt_b"))
    val totals = joined.agg(F.sum("cnt_a").as("__ta"), F.sum("cnt_b").as("__tb"))
    val p = F.col("cnt_a").cast("double") / F.col("__ta")
    val q = F.col("cnt_b").cast("double") / F.col("__tb")
    val m = (p + q) / 2.0
    val contrib =
      (F.when(F.col("cnt_a") > 0, p * F.log(p / m)).otherwise(0.0) +
       F.when(F.col("cnt_b") > 0, q * F.log(q / m)).otherwise(0.0)) / 2.0
    joined.crossJoin(F.broadcast(totals))
      .select(F.col("term"), F.col("cnt_a"), F.col("cnt_b"),
        // + 0.0 canonicalizes -0.0: the true contribution is >= 0 (log-sum
        // inequality) but ulp noise near p == q can land at -1e-20, and
        // WHICH sign of zero that rounds to differs across engines
        (F.round(contrib, 9) + F.lit(0.0)).as("js_contrib"))
      .orderBy(F.col("js_contrib").desc, F.col("term").asc)
      .limit(topK)
  }

  /** fastText-style linear quality classifier inference: tokens hash into
    * `weights.length` buckets, the document score is
    * `sigmoid(bias + mean(weights(bucket)))` — the shape of the CCNet /
    * RefinedWeb "quality classifier" pass, with the trained model reduced
    * to its essence (a weight table indexed by hashed features). Buckets
    * use the md5-28-bit idiom (engine-neutral, the x43 precedent); a
    * production model would swap in xxhash64 and a larger table.
    *
    * Scale shape: the weight table is a broadcast-sized array LITERAL baked
    * into the plan (a real model of ~1e6 buckets would broadcast-join
    * instead — same single-scan shape); scoring is one projection with an
    * `aggregate` HOF, zero shuffles, fully codegen'd. Score rounded to 6
    * (sigmoid/exp last-ulp neutrality, the x47 precedent). Empty documents
    * score `sigmoid(bias)`. */
  def classifierScore(df: DataFrame, textCol: String,
                      weights: Seq[Double], bias: Double): DataFrame = {
    require(weights.nonEmpty, "classifierScore needs a non-empty weight table")
    val b = weights.length
    val toks = F.filter(F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
      t => F.length(t) > 0)
    val warr = F.array(weights.map(F.lit): _*)
    def bucket(t: Column): Column =
      (F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("long") % b).cast("int")
    val zero = F.struct(F.lit(0.0).as("s"), F.lit(0).as("n"))
    val acc = F.aggregate(toks, zero,
      (a, t) => F.struct(
        (a.getField("s") + F.element_at(warr, bucket(t) + 1)).as("s"),
        (a.getField("n") + 1).as("n")),
      a => F.when(a.getField("n") > 0,
        a.getField("s") / a.getField("n")).otherwise(0.0))
    val z = F.lit(bias) + acc
    df.withColumn("quality_score",
      F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6))
  }

  /** DSIR-style importance log-weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each raw
    * document by how much likelier its hashed n-gram features are under a
    * TARGET distribution than under the raw-corpus distribution —
    * `w(doc) = Σ_gram log(p̂_target[bucket] / p̂_raw[bucket])`, add-1
    * smoothed over `nBuckets`. Resampling raw data ∝ exp(w) tilts the
    * mixture toward the target domain without training a classifier —
    * the data-selection complement of [[classifierScore]]. Features are
    * word uni+bigrams bucketed by `hash`: `"xxhash64"` (default — one
    * codegen'd 8-byte hash per gram, the production path, same as the
    * x02/x16 winnowing/minhash convention) or `"md5"` (the 28-bit md5
    * idiom — engine-neutral so DuckDB can replay it, the oracle path;
    * ~5× the arithmetic for identical selection behavior). The bucketing
    * LAW is shared — only the hash differs, so per-doc gram counts are
    * hash-invariant (OpsSpec pins this equivalence).
    *
    * Scale shape: both bucket tables are ≤ nBuckets rows — they and the
    * two grand totals BROADCAST, so the raw corpus (the 100 TB side) is
    * exploded once and grouped once by doc; the target set needs one
    * bounded aggregation of its own. Gramless/null docs score 0.0 with
    * n_grams 0 (kept, not dropped). log-weight rounds to 6 (the x47
    * float-neutrality rule; gram COUNTS decide nothing). */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, nBuckets: Int = 1024,
                  hash: String = "xxhash64"): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(hash == "xxhash64" || hash == "md5", s"hash must be xxhash64|md5, got $hash")
    // production path: ONE native pass builds all bucket ids per doc
    // (tokenize + hash fused — no gram-string arrays, no interpreted
    // slice/element_at/concat lambdas, which measured ~30 µs/gram and
    // dominated the suite); bucket math is bit-identical to
    // pmod(xxhash64(gram), nBuckets), OpsSpec-pinned vs the HOF formula.
    // oracle path: per-gram strings through the md5-28-bit idiom so DuckDB
    // replays it.
    def gramBuckets(df: DataFrame, keep: Seq[Column]): DataFrame =
      if (hash == "xxhash64")
        df.select((keep :+ F.explode(org.apache.spark.sql.GraftExpr.column(
          graft.functions.WordGramBuckets(
            org.apache.spark.sql.GraftExpr.expression(F.col(textCol)), nBuckets)))
          .as("__b")): _*)
      else {
        def bucket(g: Column): Column =
          (F.conv(F.substring(F.md5(g), 1, 7), 16, 10).cast("long") % nBuckets).cast("int")
        val toks = F.col("__ts")
        val bi = F.transform(
          F.slice(toks, F.lit(1), F.greatest(F.size(toks) - 1, F.lit(0))),
          (t, i) => F.concat(t, F.lit(" "), F.element_at(toks, i + 2)))
        df.withColumn("__ts",
            F.filter(F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
              t => F.length(t) > 0))
          .select((keep :+ F.explode(F.concat(toks, bi)).as("__g")): _*)
          .select((keep :+ bucket(F.col("__g")).as("__b")): _*)
      }
    // the corpus-side explode (per-gram md5 — the oracle-neutral hash, the
    // x43 trade) collapses IMMEDIATELY to per-(doc, bucket) counts before
    // any shuffle, for BOTH consumers: the census is a rollup of the same
    // aggregation and the scoring sums count·lr per bucket (≡ the per-gram
    // sum). Each consumer pays one map-side-collapsed evaluation of the
    // explode — gram ROWS never cross the wire (the exchanges carry
    // (id, bucket, count) / (bucket, count)), and nothing is materialized
    // or pinned, which at 100 TB beats caching 24M-row intermediates.
    val docBuckets = gramBuckets(raw, Seq(F.col(idCol)))
      .groupBy(idCol, "__b").agg(F.count(F.lit(1)).as("__dc"))
    val tgtCounts = gramBuckets(target, Nil)
      .groupBy("__b").agg(F.count(F.lit(1)).as("__tc"))
    val rawCounts = docBuckets.groupBy("__b").agg(F.sum("__dc").as("__rc"))
    // totals derived from the bucket tables (no second corpus pass)
    val tgtTot = tgtCounts.agg(F.sum("__tc").as("__tn"))
    val rawTot = rawCounts.agg(F.sum("__rc").as("__rn"))
    val lr =
      (F.log((F.coalesce(F.col("__tc"), F.lit(0L)) + 1).cast("double") /
        (F.col("__tn") + nBuckets)) -
       F.log((F.col("__rc") + 1).cast("double") / (F.col("__rn") + nBuckets)))
    val scored = docBuckets
      .join(F.broadcast(tgtCounts), Seq("__b"), "left")
      .join(F.broadcast(rawCounts), Seq("__b")) // raw bucket always present in raw counts
      .crossJoin(F.broadcast(tgtTot)).crossJoin(F.broadcast(rawTot))
      // per-bucket term 9-dp quantized AND decimal-accumulated: the
      // double sum of 9-dp terms can land exactly on a 6-dp half
      // boundary, where association order decides the rounded output;
      // summing DECIMAL(38,9) is exact and order-independent, so both
      // engines see the identical grid sum before the 6-dp round
      .select(F.col(idCol), F.col("__dc"),
        F.round(F.col("__dc") * lr, 9).cast("decimal(38,9)").as("__term"))
      .groupBy(idCol)
      .agg(F.round(F.sum("__term"), 6).cast("double").as("dsir_logw"),
        F.sum("__dc").as("n_grams"))
    raw.select(idCol).join(scored, Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("dsir_logw"), F.lit(0.0)).as("dsir_logw"),
        F.coalesce(F.col("n_grams"), F.lit(0L)).as("n_grams"))
  }

  /** Bigram PMI collocations: word pairs that co-occur far more than their
    * unigram frequencies predict — the collocation/phrase-mining pass of a
    * corpus profiler (and the seed step of phrase-aware tokenizers).
    * `pmi = ln( (n_ab / N_bigrams) / ((n_a / N_tokens) · (n_b / N_tokens)) )`,
    * emitted for pairs with `n_ab >= minCount`. PMI is a VALUE (rounded to
    * 6, the x37 rule) — output order and the minCount gate are decided by
    * integer counts only, so the float never picks rows.
    *
    * Scale shape: bigram and unigram counts both partial-aggregate
    * map-side; the two unigram lookups are shuffle joins on the word (a
    * 100 TB vocabulary does not broadcast); the two grand totals ride along
    * as 1-row broadcast cross joins, never an eager count. */
  def pmiCollocations(df: DataFrame, textCol: String, minCount: Int): DataFrame = {
    val toks = F.filter(F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
      t => F.length(t) > 0)
    val n = F.size(F.col("__toks"))
    val base = df.select(toks.as("__toks"))
    val bigrams = base.select(F.explode(F.zip_with(
        F.slice(F.col("__toks"), F.lit(1), F.greatest(n - 1, F.lit(0))),
        F.slice(F.col("__toks"), F.lit(2), F.greatest(n - 1, F.lit(0))),
        (x, y) => F.struct(x.as("w1"), y.as("w2")))).as("__bg"))
      .select(F.col("__bg.w1").as("w1"), F.col("__bg.w2").as("w2"))
    val unigrams = base.select(F.explode(F.col("__toks")).as("term"))
      .groupBy("term").agg(F.count(F.lit(1)).as("__n_term"))
    val nAb = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).as("n_ab"))
      .filter(F.col("n_ab") >= minCount)
    val totTok = unigrams.agg(F.sum("__n_term").as("__n_tok"))
    // ALL bigrams, not just the minCount survivors — p(ab) is corpus-wide
    val totBigrams = bigrams.agg(F.count(F.lit(1)).as("__n_bi"))
    nAb
      .join(unigrams.withColumnRenamed("term", "w1")
        .withColumnRenamed("__n_term", "n_a"), "w1")
      .join(unigrams.withColumnRenamed("term", "w2")
        .withColumnRenamed("__n_term", "n_b"), "w2")
      .crossJoin(F.broadcast(totTok))
      .crossJoin(F.broadcast(totBigrams))
      .withColumn("pmi", F.round(F.log(
        (F.col("n_ab").cast("double") / F.col("__n_bi")) /
          ((F.col("n_a").cast("double") / F.col("__n_tok")) *
           (F.col("n_b").cast("double") / F.col("__n_tok")))), 6))
      .select("w1", "w2", "n_ab", "n_a", "n_b", "pmi")
  }

  /** Unicode-script detection: per-script codepoint counts + the dominant
    * script — the companion signal to [[langId]] (stopword lists only work
    * once you know the text is Latin-script). Counts are `regexp_count`
    * over BMP script ranges; the winner is argmax with a fixed priority
    * tie-break (the langId array_max idiom), `und` when nothing matches.
    * A pure projection: zero shuffle, fully codegen'd. */
  def withScripts(df: DataFrame, textCol: String): DataFrame = {
    val t = F.col(textCol)
    // (name, priority, Java-regex BMP range) — priority breaks count ties
    val ranges = Seq(
      ("latin", 8, "[A-Za-z\\u00C0-\\u024F]"),
      ("cyrillic", 7, "[\\u0400-\\u04FF]"),
      ("greek", 6, "[\\u0370-\\u03FF]"),
      ("arabic", 5, "[\\u0600-\\u06FF]"),
      ("hebrew", 4, "[\\u0590-\\u05FF]"),
      ("cjk", 3, "[\\u4E00-\\u9FFF]"),
      ("hangul", 2, "[\\uAC00-\\uD7AF]"),
      ("devanagari", 1, "[\\u0900-\\u097F]"))
    val counted = ranges.foldLeft(df) { case (acc, (name, _, re)) =>
      acc.withColumn(s"n_$name", F.regexp_count(t, F.lit(re)))
    }
    // argmax by (count, priority) — the langId array_max idiom; the (0, 9)
    // sentinel encodes "und unless some count > 0"
    val candidates =
      F.struct(F.lit(0).as("n"), F.lit(9).as("p"), F.lit("und").as("l")) +:
        ranges.map { case (name, pri, _) =>
          F.struct(F.col(s"n_$name").as("n"), F.lit(pri).as("p"),
            F.lit(name).as("l"))
        }
    counted.withColumn("script",
      F.array_max(F.array(candidates: _*)).getField("l"))
  }

  /** Corpus length distribution: exact interpolated quantiles of document
    * character length (Spark `percentile` == SQL percentile_cont ==
    * DuckDB quantile_cont, so the oracle can verify exactly). One shuffle
    * of (length) values; for 100 TB corpora swap in percentile_approx —
    * same plan shape, mergeable sketch state. */
  def lengthQuantiles(df: DataFrame, textCol: String, probs: Seq[Double]): DataFrame = {
    val len = F.length(F.col(textCol)).cast("double")
    val aggs = probs.map(p =>
      F.percentile(len, F.lit(p)).as(f"p${(p * 100).toInt}%02d"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Document fingerprint: md5 of case-folded, whitespace-collapsed text.
    * (md5 rather than xxhash64 so the DuckDB oracle computes the identical
    * value; both engines emit the same hex.) */
  def fingerprint(text: Column): Column =
    F.md5(F.regexp_replace(F.lower(text), "\\s+", " "))

  /** Lower-cased registrable host of a URL (no port/userinfo handling
    * beyond the authority grab — crawl-pipeline grouping key, not an RFC
    * parser). Pure codegen'd regex; oracle-replayable (RE2-safe pattern). */
  def urlHost(url: Column): Column =
    F.lower(F.regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)", 1))

  /** Canonical URL for exact URL-level dedup — the first dedup key of a
    * crawl pipeline (dedupe by URL before touching content). Normalizes
    * the variants that make one page look like many: lower-cases
    * scheme+host, strips the fragment, drops default ports (:80 http /
    * :443 https), removes tracking params (utm_*, fbclid, gclid), repairs
    * the query separator when the first param was stripped, trims a
    * dangling `?`/`&`, and roots an empty path at `/`.
    *
    * Scale shape: a chain of anchored/global regex projections — zero
    * shuffle, whole-stage codegen, safe in the scan projection at any
    * corpus size. Every pattern is RE2-compatible (no lookaround) so a
    * SQL oracle replays it byte-for-byte; global-vs-first replacement
    * semantics are pinned by anchoring the single-match patterns. */
  def canonicalUrl(url: Column): Column = {
    val noFrag = F.regexp_replace(url, "#.*$", "")
    val scheme = F.lower(F.regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostPort = F.lower(F.regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = F.when(scheme === "https", F.regexp_replace(hostPort, ":443$", ""))
      .when(scheme === "http", F.regexp_replace(hostPort, ":80$", ""))
      .otherwise(hostPort)
    val tail0 = F.regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    // tracking params out (global on both engines), then if the FIRST param
    // was removed the leftover '&' becomes '?' (anchored -> single match)
    val tail1 = F.regexp_replace(tail0, "[?&](utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*", "")
    val tail2 = F.regexp_replace(tail1, "^([^?&]*)&", "$1?")
    val tail3 = F.regexp_replace(tail2, "[?&]$", "")
    val tail = F.when(tail3 === "", F.lit("/"))
      .when(tail3.startsWith("?"), F.concat(F.lit("/"), tail3))
      .otherwise(tail3)
    F.concat(scheme, F.lit("://"), host, tail)
  }

  /** Aggressive text normalization — the canonical form documents are
    * reduced to BEFORE fingerprint/shingle dedup, so that case, punctuation
    * and whitespace variants of the same content collide: case-fold, map
    * every non-alphanumeric run (Unicode letter/digit classes, so accented
    * text survives) to a single space, trim. Regex-only and deterministic
    * (`\p{L}\p{N}` mean the same Unicode categories in Java regex and RE2),
    * so the oracle replays it exactly; a pure codegen'd projection. */
  def normalizeText(text: Column): Column =
    F.trim(F.regexp_replace(F.lower(text), "[^\\p{L}\\p{N}]+", " "))

  /** Bag-of-words fingerprint: md5 over the SORTED DISTINCT token set —
    * invariant to token order and multiplicity, so it catches the
    * shuffled/re-ordered near-duplicates (scraper re-renders, list
    * re-orderings) that [[fingerprint]] misses while staying an exact,
    * oracle-replayable key (no sketch, no threshold). Use with
    * [[Dedup.exactBy]] for bag-of-words dedup: one projection + the
    * standard fingerprint-key shuffle. */
  def bowFingerprint(text: Column): Column =
    F.md5(F.array_join(F.array_sort(F.array_distinct(
      F.filter(F.split(F.lower(F.trim(text)), "\\s+"),
        t => F.length(t) > 0))), " "))

  /** Overlapping character-window chunking: one row per chunk of
    * `chunkChars`, stepping `chunkChars − overlapChars` — how long documents
    * are windowed for embedding/indexing. Output adds (`chunk_idx`,
    * `chunk`); the final chunk may be shorter; an empty document yields one
    * empty chunk. Start positions stop at `len − chunkChars + step`: a
    * position past that yields a chunk the previous one already fully
    * covers (pure-suffix, zero new content) — duplicate-content chunks in
    * roughly overlap/step of all documents if emitted. A projection +
    * explode: rows expand in place (bounded by ⌈len/step⌉ per doc),
    * nothing shuffles. */
  def chunk(df: DataFrame, textCol: String, chunkChars: Int, overlapChars: Int = 0): DataFrame = {
    require(chunkChars > 0 && overlapChars >= 0 && overlapChars < chunkChars,
      s"need 0 <= overlap < chunk, got chunk=$chunkChars overlap=$overlapChars")
    val step = chunkChars - overlapChars
    val t = F.col(textCol)
    df.withColumn("__pos",
        F.explode(F.sequence(F.lit(1),
          F.greatest(F.length(t) - (chunkChars - step), F.lit(1)), F.lit(step))))
      .withColumn("chunk_idx", ((F.col("__pos") - 1) / step).cast("int"))
      .withColumn("chunk", t.substr(F.col("__pos"), F.lit(chunkChars)))
      .drop("__pos")
  }

  /** PII-style scrubbing: replace emails, bare URLs, and long digit runs
    * (phone/account numbers) with fixed placeholder tokens — the C4-style
    * redaction pass a corpus gets before training. Deliberately
    * conservative, regex-only, and deterministic so an oracle can replay it
    * exactly; a pure projection (three chained `regexp_replace`), zero
    * shuffle, fully codegen'd. Order matters: emails first (an email
    * contains digit runs), then URLs, then digit runs. */
  def redact(text: Column): Column = {
    val email = F.regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val url = F.regexp_replace(email, "https?://[^\\s]+", "<URL>")
    F.regexp_replace(url, "\\d{7,}", "<NUM>")
  }

  /** Gopher/MassiveText-style quality rule gate: the published rule-set
    * shape — token-count bounds, mean-token-length bounds, a minimum
    * stopword-hit count (kills keyword soup and non-prose), and a ceiling
    * on the duplicate-bigram fraction (kills crawler loops) — each emitted
    * as its own boolean (`r_ntok`, `r_toklen`, `r_stop`, `r_rep`) plus the
    * conjunction `keep`, so a pipeline can report per-rule kill rates, not
    * just the survivor set. Metrics reuse the exact [[withQuality]] /
    * [[withRepetition]] formulas (integer-derived doubles, so threshold
    * comparisons are engine-neutral). A pure projection: zero shuffle,
    * fully codegen'd.
    */
  def withGopherRules(df: DataFrame, textCol: String,
                      minTokens: Int = 50, maxTokens: Int = 100000,
                      minMeanTokLen: Double = 3.0, maxMeanTokLen: Double = 10.0,
                      minStopHits: Int = 2,
                      maxDupBigramFrac: Double = 0.3): DataFrame = {
    val t = F.col(textCol)
    val toks = F.split(F.lower(F.trim(t)), "\\s+")
    val nTok = F.size(toks)
    val meanLen = (F.length(t) - nTok + 1).cast("double") / F.greatest(nTok, F.lit(1))
    val stopHits = F.size(F.filter(toks, tk => tk.isin(stopwordsEn.map(x => x: Any): _*)))
    val bigrams = F.zip_with(
      F.slice(toks, F.lit(1), F.greatest(nTok - 1, F.lit(0))),
      F.slice(toks, F.lit(2), F.greatest(nTok - 1, F.lit(0))),
      (x, y) => F.concat_ws(" ", x, y))
    val dupBigram = F.when(nTok >= 2,
      F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / (nTok - 1))
      .otherwise(0.0)
    df.withColumn("n_tokens", nTok)
      .withColumn("mean_token_len", meanLen)
      .withColumn("stop_hits", stopHits)
      .withColumn("dup_bigram_fraction", dupBigram)
      .withColumn("r_ntok", F.col("n_tokens").between(minTokens, maxTokens))
      .withColumn("r_toklen",
        F.col("mean_token_len").between(minMeanTokLen, maxMeanTokLen))
      .withColumn("r_stop", F.col("stop_hits") >= minStopHits)
      .withColumn("r_rep", F.col("dup_bigram_fraction") <= maxDupBigramFrac)
      .withColumn("keep",
        F.col("r_ntok") && F.col("r_toklen") && F.col("r_stop") && F.col("r_rep"))
  }

  /** Interpolated Kneser–Ney bigram language-model scoring — the CCNet
    * perplexity-filter pass (Wenzek et al. 2020 filter Common Crawl with a
    * Wikipedia-trained KenLM and keep the low-perplexity tail; KenLM's
    * default smoothing IS interpolated KN, Heafield 2011). The model here
    * is the bigram order of that estimator, trained on `train` and scored
    * over `docs`:
    *
    *  - `c2(w1,w2)` bigram counts, `cctx(w1) = Σ_w2 c2` left-context mass,
    *    `n1a(w1) = |{w2 : c2 > 0}|` distinct continuations of w1,
    *    `n1b(w2) = |{w1 : c2 > 0}|` distinct left contexts of w2;
    *  - continuation probability `Pcont(w2) = (n1b(w2)+1) / (B+V+1)` where
    *    B = distinct bigrams, V = vocabulary size — add-one smoothed over
    *    vocab∪{OOV} so every token (including unseen) has mass;
    *  - `P(w2|w1) = (max(c2−D,0) + D·n1a(w1)·Pcont(w2)) / cctx(w1)` for
    *    seen w1, else `Pcont(w2)` (full backoff), discount D = 0.75;
    *  - per doc: `avg_nll = −(Σ ln P) / n_trans` over adjacent-pair
    *    transitions (lower = more fluent under the train distribution —
    *    the CCNet head/middle/tail split keys off exactly this number).
    *
    * Scale shape: both gram streams collapse map-side — the scored corpus
    * to per-(doc, w1, w2) transition counts, the train corpus to the
    * vocab-bounded model tables — so corpus rows never cross a shuffle,
    * only (keys, count) rows do. The model tables are vocab²-bounded, NOT
    * corpus-bounded, and join on their gram keys (shuffle join — a 100 TB
    * train vocab does not broadcast; AQE broadcasts when it does); the
    * B/V scalars ride as a 1-row broadcast. Transitions with the same
    * (w1,w2) in one doc are scored once and weighted by their count.
    * avg_nll rounds to 6 after the per-doc sum (the x70 rule: terms are
    * O(1–10) ln values, hundreds per doc — ulp drift is far below 1e-6). */
  def knBigramNll(docs: DataFrame, train: DataFrame, idCol: String,
                  textCol: String, discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"KN discount must be in (0,1), got $discount")
    def toks(col: Column): Column =
      F.filter(F.split(F.lower(F.trim(col)), "\\s+"), t => F.length(t) > 0)
    // adjacent-pair stream: (w1, w2) structs via transform over the prefix
    def bigrams(df: DataFrame, keep: Seq[Column]): DataFrame = {
      val ts = F.col("__ts")
      val bi = F.transform(
        F.slice(ts, F.lit(1), F.greatest(F.size(ts) - 1, F.lit(0))),
        (t, i) => F.struct(t.as("w1"), F.element_at(ts, i + 2).as("w2")))
      df.withColumn("__ts", toks(F.col(textCol)))
        .select((keep :+ F.explode(bi).as("__bi")): _*)
        .select((keep :+ F.col("__bi.w1").as("w1")) :+ F.col("__bi.w2").as("w2"): _*)
    }
    val c2 = bigrams(train, Nil)
      .groupBy("w1", "w2").agg(F.count(F.lit(1)).as("__c2"))
    // left-context table: total mass + distinct continuations per w1
    val ctx = c2.groupBy("w1")
      .agg(F.sum("__c2").as("__cctx"), F.count(F.lit(1)).as("__n1a"))
    val cont = c2.groupBy("w2").agg(F.count(F.lit(1)).as("__n1b"))
    val vocab = train.select(F.explode(toks(F.col(textCol))).as("w"))
      .agg(F.count_distinct(F.col("w")).as("__v"))
    val scal = c2.agg(F.count(F.lit(1)).as("__bg")).crossJoin(vocab)
    val trans = bigrams(docs, Seq(F.col(idCol)))
      .groupBy(idCol, "w1", "w2").agg(F.count(F.lit(1)).as("__k"))
    val pcont = (F.coalesce(F.col("__n1b"), F.lit(0L)) + 1).cast("double") /
      (F.col("__bg") + F.col("__v") + 1)
    val p = F.when(F.col("__cctx").isNotNull,
        (F.greatest(F.coalesce(F.col("__c2"), F.lit(0L)) - discount, F.lit(0.0)) +
          F.lit(discount) * F.col("__n1a") * pcont) / F.col("__cctx"))
      .otherwise(pcont)
    val perDoc = trans
      .join(c2, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(F.broadcast(scal))
      // 9-dp per-transition term, decimal-accumulated (the x222 rule):
      // the sum is exact and order-independent, so the 6-dp readout
      // cannot flip on association order or a half-boundary landing
      .select(F.col(idCol),
        F.round(F.col("__k") * -F.log(p), 9).cast("decimal(38,9)")
          .as("__nll"),
        F.col("__k"))
      .groupBy(idCol)
      .agg(F.sum("__k").as("n_trans"),
        F.round(F.sum("__nll").cast("double") / F.sum("__k"), 6)
          .as("avg_nll"))
    docs.select(idCol).join(perDoc, Seq(idCol), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("n_trans"), F.lit(0L)).as("n_trans"),
        F.coalesce(F.col("avg_nll"), F.lit(0.0)).as("avg_nll"))
  }

  /** Vocabulary-growth (Heaps' law) curve: walking the corpus in `idCol`
    * order, how many cumulative tokens and cumulative distinct token TYPES
    * have been seen after each bucket of `bucketSize` documents. The
    * flattening rate of cum_types vs cum_tokens is the "is more of this
    * source still adding vocabulary" signal a data-mixture planner reads
    * before buying another crawl of the same domain.
    *
    * Scale shape: a token's first occurrence is `min(doc_id)` — one
    * partial-aggregated groupBy over the token stream (vocab-bounded
    * output); per-bucket token totals partial-aggregate the same way; the
    * cumulative window runs over the BUCKET table (corpus/bucketSize rows,
    * thousands at 100 TB — a deliberate single-partition window over a
    * tiny relation, the q09 post-aggregate rule). */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  bucketSize: Int = 25): DataFrame = {
    require(bucketSize > 0, s"bucketSize must be positive, got $bucketSize")
    val toks = docs.select(F.col(idCol),
        F.explode(F.filter(F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
          t => F.length(t) > 0)).as("tok"))
    val firstSeen = toks.groupBy("tok").agg(F.min(idCol).as("__first"))
      .select(F.floor(F.col("__first") / bucketSize).as("bucket"))
      .groupBy("bucket").agg(F.count(F.lit(1)).as("new_types"))
    val perBucket = docs
      .select(F.floor(F.col(idCol) / bucketSize).as("bucket"),
        F.size(F.filter(F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
          t => F.length(t) > 0)).as("__nt"))
      .groupBy("bucket")
      .agg(F.count(F.lit(1)).as("docs"), F.sum("__nt").as("tokens"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(firstSeen, Seq("bucket"), "left")
      .select(F.col("bucket"), F.col("docs"), F.col("tokens"),
        F.coalesce(F.col("new_types"), F.lit(0L)).as("new_types"))
      .withColumn("cum_tokens", F.sum("tokens").over(w))
      .withColumn("cum_types", F.sum("new_types").over(w))
  }

  /** UMass topic coherence of the corpus' top-k tokens — DO the
    * dominant terms actually co-occur (a coherent topic) or is the
    * frequency head just unrelated boilerplate (Mimno et al. 2011, the
    * standard intrinsic score for topic/cluster keyword sets):
    * {{{
    *   C = Σ_{i<j} ln( (D(w_i, w_j) + 1) / D(w_j) )
    * }}}
    * over the rank-ordered top-k (pairs indexed so w_j is the RARER
    * term, the UMass convention). Document counts are exact longs; each
    * pair term is one ln of a rational, 9-dp rounded.
    *
    * Scale shape: one doc-distinct token census; the top-k (df desc,
    * token asc — integer-deterministic) broadcast back to filter the
    * doc-token table; co-occurrence via one self-join confined to docs
    * containing top-k terms.
    *
    * @return per pair (wi, wj, d_ij, d_j, term) + corpus (k, coherence)
    *         on every row, ordered (wi, wj) — 6-dp
    */
  def umassCoherence(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 10): DataFrame = {
    require(k >= 2, s"need k >= 2 tokens for pairs, got $k")
    val docTok = df.select(F.col(idCol).as("__id"),
      F.explode(F.array_distinct(F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))),
          "\\s+"),
        t => F.length(t) > 0))).as("__t"))
    val top = docTok.groupBy("__t").agg(F.count(F.lit(1)).as("__df"))
      .withColumn("__rk", F.row_number().over(
        Window.orderBy(F.col("__df").desc, F.col("__t"))))
      .filter(F.col("__rk") <= k)
    val hits = docTok.join(F.broadcast(top), "__t")
    val pairs = hits.select(F.col("__id"), F.col("__t").as("wi"),
        F.col("__rk").as("__ri"), F.col("__df").as("__dfi"))
      .join(hits.select(F.col("__id"), F.col("__t").as("wj"),
        F.col("__rk").as("__rj"), F.col("__df").as("__dfj")), "__id")
      .filter(F.col("__ri") < F.col("__rj"))
      .groupBy("wi", "wj", "__dfj").agg(F.count(F.lit(1)).as("d_ij"))
    // absent pairs still score (smoothed +1 over 0) — build the full
    // rank-pair grid and left-join the observed co-counts
    val grid = top.select(F.col("__t").as("wi"), F.col("__rk").as("__ri"))
      .crossJoin(top.select(F.col("__t").as("wj"), F.col("__rk").as("__rj"),
        F.col("__df").as("__dfj")))
      .filter(F.col("__ri") < F.col("__rj"))
    val terms = grid.join(pairs.select("wi", "wj", "d_ij"),
        Seq("wi", "wj"), "left")
      .withColumn("d_ij", F.coalesce(F.col("d_ij"), F.lit(0L)))
      .withColumn("term", F.round(F.log(
        (F.col("d_ij") + 1L).cast("double") /
          F.col("__dfj").cast("double")), 9))
    val tot = terms.agg(F.round(F.sum("term"), 6).as("coherence"),
      F.count(F.lit(1)).as("n_pairs"))
    terms.crossJoin(F.broadcast(tot))
      .select(F.col("wi"), F.col("wj"), F.col("d_ij"),
        F.col("__dfj").as("d_j"), F.col("term"), F.col("n_pairs"),
        F.col("coherence"))
      .orderBy("wi", "wj")
  }

  /** Decision-stump Gini gain per token — WHICH single token best
    * splits the corpus on a binary label (the feature-selection
    * primitive behind every "train a fasttext quality filter" loop, and
    * the entropy-free sibling of [[chi2Tokens]]): for doc-level token
    * presence splitting N docs (P positive) into has/has-not branches,
    * {{{
    *   gain = G(P/N) − (n₁/N)·G(p₁) − (n₀/N)·G(p₀),  G(p) = 2p(1−p)
    * }}}
    * Every input is an exact integer count, so gains are bit-identical
    * expression trees — ranking on them is engine-stable.
    *
    * Scale shape: the [[chi2Tokens]] shape — doc-distinct token
    * explode, vocab-bounded cell table joined to two broadcast 1-row/
    * k-row totals; top-k is one rank-filter.
    *
    * @return top `topK` (token, df, n_pos_has, p_has, p_not, gain)
    *         by gain desc, token asc — 6-dp
    */
  def stumpGain(df: DataFrame, labelCol: Column, idCol: String,
                textCol: String, minDf: Int = 5,
                topK: Int = 30): DataFrame = {
    val docTok = df.select(
        F.when(labelCol, 1L).otherwise(0L).as("__y"),
        F.explode(F.array_distinct(F.filter(
          F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))),
            "\\s+"),
          t => F.length(t) > 0))).as("__t"))
    val tokCells = docTok.groupBy("__t")
      .agg(F.count(F.lit(1)).as("__df"), F.sum("__y").as("__pos1"))
      .filter(F.col("__df") >= minDf)
    val tot = df.agg(F.count(F.lit(1)).as("__N"),
      F.sum(F.when(labelCol, 1L).otherwise(0L)).as("__P"))
    def gini(p: Column) = F.lit(2.0) * p * (F.lit(1.0) - p)
    val cells = tokCells.crossJoin(F.broadcast(tot))
      .withColumn("__n0", F.col("__N") - F.col("__df"))
      .withColumn("__p1", F.col("__pos1").cast("double") /
        F.col("__df").cast("double"))
      .withColumn("__p0", (F.col("__P") - F.col("__pos1")).cast("double") /
        F.nullif(F.col("__n0").cast("double"), F.lit(0.0)))
      .withColumn("gain", F.round(
        gini(F.col("__P").cast("double") / F.col("__N").cast("double")) -
          F.col("__df").cast("double") / F.col("__N").cast("double") *
            gini(F.col("__p1")) -
          F.coalesce(F.col("__n0").cast("double") /
            F.col("__N").cast("double") * gini(F.col("__p0")),
            F.lit(0.0)), 6))
    cells.withColumn("__rk", F.row_number().over(
        Window.orderBy(F.col("gain").desc, F.col("__t"))))
      .filter(F.col("__rk") <= topK)
      .select(F.col("__t").as("token"), F.col("__df").as("df"),
        F.col("__pos1").as("n_pos_has"),
        F.round(F.col("__p1"), 6).as("p_has"),
        F.round(F.col("__p0"), 6).as("p_not"), F.col("gain"))
      .orderBy(F.col("gain").desc, F.col("token"))
  }

  /** Conditional character entropy H(c₂|c₁) = H(bigram) − H(unigram)
    * per group — the model-free COMPRESSIBILITY proxy: ~how many bits
    * each character carries given the previous one. Near-zero says
    * boilerplate/repetitive text (a gzip ratio would flag the same
    * docs, without needing a compressor in the engine); language
    * slices separate cleanly because char-transition structure is the
    * strongest cheap language signal (the [[langId]] family's
    * information-theoretic summary).
    *
    * Bigrams are taken WITHIN each document (no cross-doc splices) off
    * the same lower(trim(·)) normalization as the tokenizers; censuses
    * are exact longs, each p·ln p one 9-dp term, entropies 6-dp.
    *
    * h_cond is a PLUG-IN estimate, not a true conditional entropy: h1
    * and h2 are estimated from different census sizes (every doc
    * contributes n chars to the unigram census but only n−width+1
    * windows to the bigram census), so h2 − h1 can go slightly
    * NEGATIVE on short or highly repetitive texts (e.g. "abab" yields
    * −0.056633) where a true H(c₂|c₁) is ≥ 0. Consumers ranking
    * groups by "bits per char given the previous" should read small
    * negatives as ≈ 0 (maximally predictable), not as an error; the
    * value is kept unclamped so the estimator stays an exact, engine-
    * replayable function of the two censuses.
    *
    * Scale shape: two positional-window char censuses (alphabet² is
    * bounded), partial-aggregated; a G-row result.
    *
    * @return per-group rows (g, n_chars, n_bigrams, h1, h2, h_cond)
    *         ordered by g — nats, 6-dp
    */
  def charNgramEntropy(docs: DataFrame, textCol: String,
                       groupCol: Column): DataFrame = {
    val base = Scale.spreadNarrowScan(docs)
      .select(groupCol.cast("string").as("__g"),
        F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))).as("__t"))
      .filter(F.col("__g").isNotNull && F.length(F.col("__t")) > 0)
    def census(width: Int): DataFrame = base
      .filter(F.length(F.col("__t")) >= width)
      .select(F.col("__g"), F.explode(F.transform(
        F.sequence(F.lit(1), F.length(F.col("__t")) - (width - 1)),
        i => F.col("__t").substr(i, F.lit(width)))).as("__c"))
      .groupBy("__g", "__c").agg(F.count(F.lit(1)).as("__n"))
    def entropy(cs: DataFrame, nOut: String, hOut: String): DataFrame = {
      val tot = cs.groupBy("__g").agg(F.sum("__n").as("__tot"))
      cs.join(tot, "__g")
        .withColumn("__p", F.round(
          -(F.col("__n").cast("double") / F.col("__tot").cast("double")) *
            F.log(F.col("__n").cast("double") /
              F.col("__tot").cast("double")), 9))
        .groupBy("__g")
        .agg(F.max("__tot").as(nOut), F.round(F.sum("__p"), 6).as(hOut))
    }
    entropy(census(1), "n_chars", "h1")
      .join(entropy(census(2), "n_bigrams", "h2"), Seq("__g"))
      .select(F.col("__g").as("g"), F.col("n_chars"), F.col("n_bigrams"),
        F.col("h1"), F.col("h2"),
        F.round(F.col("h2") - F.col("h1"), 6).as("h_cond"))
      .orderBy("g")
  }

  /** Yule's K characteristic (and Honoré's R) — the repetitiveness /
    * vocabulary-richness constants of a corpus, the [[heapsFit]] and
    * Zipf siblings that don't need a curve fit: from the token
    * frequency spectrum (V_m types occurring m times, N tokens,
    * V types, V₁ hapaxes),
    * {{{
    *   K = 10⁴ · (Σ_m m²V_m − N) / N²    (= 10⁴·(Σc² − N)/N²)
    *   R = 100 · ln N / (1 − V₁/V)
    * }}}
    * K is invariant to corpus size under the same generating process —
    * a drifting K between two crawls of the same domain is a template /
    * boilerplate alarm. Σc² and the hapax count come from exact longs;
    * K is one IEEE division; only R touches libm ln (6-dp rounded).
    *
    * Scale shape: one token census ([[topTokens]]'s shape, vocab-bounded
    * output), one scalar collapse.
    *
    * @return one row (n_tokens, n_types, hapax, yules_k, honore_r) —
    *         6-dp; honore_r NULL when every type is a hapax
    */
  def yulesK(docs: DataFrame, textCol: String): DataFrame = {
    val counts = docs
      .select(F.explode(F.filter(
        F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
        t => F.length(t) > 0)).as("tok"))
      .groupBy("tok").agg(F.count(F.lit(1)).as("__c"))
    val g = counts.agg(F.sum("__c").as("n_tokens"),
      F.count(F.lit(1)).as("n_types"),
      F.sum(F.when(F.col("__c") === 1L, 1L).otherwise(0L)).as("hapax"),
      F.sum(F.col("__c") * F.col("__c")).as("__sc2"))
    val nD = F.col("n_tokens").cast("double")
    g.select(F.col("n_tokens"), F.col("n_types"), F.col("hapax"),
      F.round(F.lit(1.0e4) *
        (F.col("__sc2") - F.col("n_tokens")).cast("double") /
        (nD * nD), 6).as("yules_k"),
      F.round(F.lit(100.0) * F.log(nD) / F.nullif(
        F.lit(1.0) - F.col("hapax").cast("double") /
          F.col("n_types").cast("double"), F.lit(0.0)), 6).as("honore_r"))
  }

  /** Distributed BPE merge learning (Sennrich et al. 2016) — the
    * tokenizer-training pass of an LLM data pipeline. The insight that
    * makes it a Spark-shape problem: BPE statistics live on the WORD
    * VOCABULARY, not the corpus — so the corpus is touched exactly once
    * (an ascii-normalized word census, the [[topTokens]] shape), capped to
    * the `vocabCap` most frequent words (count desc, word asc — a
    * deterministic, oracle-replayable boundary), and every merge round
    * then runs on that bounded table: adjacent-symbol-pair census weighted
    * by word count (overlapping pairs counted, the reference BPE
    * convention), argmax by (count desc, pair asc), then a greedy
    * left-to-right non-overlapping rewrite of each word's symbol list via
    * one `aggregate` HOF. Only the 1-row argmax crosses to the driver per
    * round; each round's rewritten vocab is re-cached and the previous
    * unpersisted (bounded lineage, bounded memory).
    *
    * Returns the merge table (rank, a, b, merged, cnt) — the artifact a
    * tokenizer ships. Symbols are single characters of the normalized
    * `[a-z0-9]+` words (no end-of-word marker; documented divergence from
    * implementations that add one). Stops early if no pair remains. */
  def bpeMerges(docs: DataFrame, textCol: String, numMerges: Int,
                vocabCap: Int = 65536): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(vocabCap >= 1, s"vocabCap must be >= 1, got $vocabCap")
    val spark = docs.sparkSession
    val census = docs.select(F.explode(F.filter(
        F.split(F.regexp_replace(F.lower(F.col(textCol)), "[^a-z0-9 ]", " "),
          "\\s+"),
        w => F.length(w) > 0)).as("word"))
      .groupBy("word").agg(F.count(F.lit(1)).as("cnt"))
      .orderBy(F.col("cnt").desc, F.col("word"))
      .limit(vocabCap)
    var words = census
      .withColumn("syms",
        F.filter(F.split(F.col("word"), ""), s => F.length(s) > 0))
      .select("cnt", "syms").cache()
    words.count()
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = words
        .filter(F.size(F.col("syms")) >= 2)
        .select(F.col("cnt"), F.explode(F.zip_with(
          F.slice(F.col("syms"), F.lit(1), F.size(F.col("syms")) - 1),
          F.slice(F.col("syms"), F.lit(2), F.size(F.col("syms")) - 1),
          (x, y) => F.struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(F.col("p.a").as("a"), F.col("p.b").as("b"))
        .agg(F.sum("cnt").as("c"))
        .orderBy(F.col("c").desc, F.col("a"), F.col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val m = a + b
        merges += ((rank, a, b, m, c))
        val rewritten = words.withColumn("syms", bpeRewrite(F.col("syms"), a, b))
          .cache()
        rewritten.count()
        words.unpersist(false)
        words = rewritten
        rank += 1
      }
    }
    words.unpersist(false)
    spark.createDataFrame(merges.toSeq).toDF("rank", "a", "b", "merged", "cnt")
  }

  /** One greedy left-to-right non-overlapping merge pass of (a, b) → ab
    * over a symbol array — the BPE rewrite, as a single fold: append,
    * unless the accumulator ends in `a` and the next symbol is `b`, in
    * which case replace the tail with the merged symbol. "aaa" under
    * (a,a) → [aa, a], the reference behavior. */
  private def bpeRewrite(syms: Column, a: String, b: String): Column =
    F.aggregate(syms, F.array().cast("array<string>"),
      (acc, x) => F.when(
          F.size(acc) > 0 && F.element_at(acc, -1) === a && x === b,
          F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
            F.array(F.lit(a + b))))
        .otherwise(F.concat(acc, F.array(x))))

  /** Segment words with a learned merge list: chars, then each merge's
    * greedy rewrite in rank order — the apply half of [[bpeMerges]].
    * Adds `pieces` (array) and `n_pieces`. Run it on a DISTINCT-words
    * table and broadcast-join back to the corpus (the tokenizer-cache
    * architecture); per-word cost is O(|word|·merges) with no shuffle. */
  def bpeSegment(words: DataFrame, wordCol: String,
                 merges: Seq[(String, String)]): DataFrame = {
    val chars = F.filter(F.split(F.col(wordCol), ""), s => F.length(s) > 0)
    val syms = merges.foldLeft(chars)((cur, ab) => bpeRewrite(cur, ab._1, ab._2))
    words.withColumn("pieces", syms).withColumn("n_pieces", F.size(F.col("pieces")))
  }

  /** Per-document BPE token counts under a learned merge list: word
    * census per doc (map-side collapsed), segmentation computed ONCE per
    * distinct word, joined back on the word key. */
  def bpeTokenCount(docs: DataFrame, idCol: String, textCol: String,
                    merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(F.col(idCol), F.explode(F.filter(
        F.split(F.regexp_replace(F.lower(F.col(textCol)), "[^a-z0-9 ]", " "),
          "\\s+"),
        w => F.length(w) > 0)).as("word"))
      .groupBy(idCol, "word").agg(F.count(F.lit(1)).as("__k"))
    val segmented = bpeSegment(words.select("word").distinct(), "word", merges)
      .select(F.col("word"), F.col("n_pieces"))
    words.join(segmented, Seq("word"))
      .groupBy(idCol)
      .agg(F.sum(F.col("__k") * F.col("n_pieces")).as("bpe_tokens"))
  }

  /** Within-document repetition metrics — the Gopher/C4-style quality
    * signals that catch boilerplate and crawler loops, which per-corpus
    * dedup misses because the repetition is INSIDE one document:
    *  - `dup_line_fraction`: 1 − distinct(lines)/lines (empty lines and
    *    surrounding whitespace ignored);
    *  - `dup_bigram_fraction`: 1 − distinct(word bigrams)/bigrams; 0 for
    *    documents of < 2 tokens.
    * Pure projections (array HOFs + set ops), zero shuffle, oracled against
    * the identical DuckDB list formula. */
  def withRepetition(df: DataFrame, textCol: String): DataFrame = {
    val t = F.col(textCol)
    val lines = F.filter(F.transform(F.split(t, "\\n"), l => F.trim(l)),
      l => F.length(l) > 0)
    val nLines = F.size(lines)
    val toks = F.split(F.lower(F.trim(t)), "\\s+")
    val nTok = F.size(toks)
    // word bigrams: zip tokens with their tail — slice is 1-based
    val bigrams = F.zip_with(
      F.slice(toks, F.lit(1), F.greatest(nTok - 1, F.lit(0))),
      F.slice(toks, F.lit(2), F.greatest(nTok - 1, F.lit(0))),
      (x, y) => F.concat_ws(" ", x, y))
    df.withColumn("dup_line_fraction",
        F.when(nLines > 0,
          F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / nLines)
         .otherwise(0.0))
      .withColumn("dup_bigram_fraction",
        F.when(nTok >= 2,
          F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / (nTok - 1))
         .otherwise(0.0))
  }

  /** Sorted distinct md5-bucket set of a document's tokens — the binary
    * hashed-BoW feature vector of [[trainQualityClassifier]], as a bucket
    * list (ascending, so any per-doc sum over it is order-pinned). Null
    * text → empty set (the doc still trains the bias). */
  private def bucketSet(textCol: Column, nBuckets: Int): Column = {
    val toks = F.filter(
      F.split(F.lower(F.trim(F.coalesce(textCol, F.lit("")))), "\\s+"),
      t => F.length(t) > 0)
    F.array_sort(F.array_distinct(F.transform(toks, t =>
      (F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("long") % nBuckets)
        .cast("int"))))
  }

  /** DISTRIBUTED logistic-regression training over binary hashed-BoW
    * features — the TRAINING half of the quality-classifier story
    * ([[classifierScore]] is inference with given weights; this learns
    * them from a labeled corpus, the CCNet/fastText recipe at its core:
    * full-batch gradient descent on `σ(bias + Σ_{b∈doc} w_b)` vs a 0/1
    * label).
    *
    * The [[graft.ops.Similarity.kmeansLloyd]] scale contract, applied to a
    * classifier: per iteration ONE distributed job — per-doc logits are a
    * projection over the (sorted, distinct) bucket list with the weights
    * as plan literals, per-doc errors `p − y` explode to (bucket, err)
    * rows (plus a sentinel −1 row for the bias) and partial-aggregate
    * map-side, so only `nBuckets + 1` rows reach the driver at ANY corpus
    * size. Updated weights round to 6 dp half-away before re-broadcast
    * ([[graft.ops.Similarity.round6HalfAway]]) — engine-replayable
    * literals, and the quantization absorbs partial-sum reordering (the
    * kmeansLloyd rule; parity breaks only if drift itself crosses a 1e-6
    * boundary). Iteration 1 starts at w = 0 ⇒ p = 0.5 exactly — no
    * transcendental enters until round 2, and σ's `exp` at identical
    * inputs is the x49-proven cross-engine path.
    *
    * @param labelCol 0.0/1.0 double column (e.g. "is English")
    * @return (bucket weights, bias) after `iters` full-batch steps */
  def trainQualityClassifier(docs: DataFrame, textCol: String, labelCol: String,
                             nBuckets: Int = 64, iters: Int = 2,
                             lr: Double = 0.5): (Array[Double], Double) = {
    require(nBuckets > 0 && iters >= 0 && lr > 0.0,
      s"need nBuckets > 0, iters >= 0, lr > 0; got ($nBuckets, $iters, $lr)")
    val staged = docs.select(
      F.col(labelCol).cast("double").as("__y"),
      bucketSet(F.col(textCol), nBuckets).as("__bs"))
    val n = staged.count().toDouble
    require(n > 0, "trainQualityClassifier: empty corpus")
    var w = new Array[Double](nBuckets)
    var bias = 0.0
    var it = 0
    while (it < iters) {
      val warr = F.array(w.map(F.lit).toIndexedSeq: _*)
      // logit over the ascending bucket list — the association order any
      // engine replays with a list_transform/list_sum over the same list
      val z = F.lit(bias) + F.aggregate(F.col("__bs"), F.lit(0.0),
        (acc, b) => acc + F.element_at(warr, b + 1))
      val err = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("__y")
      val grads = staged
        .select(F.explode(F.concat(F.array(F.lit(-1)), F.col("__bs"))).as("b"),
          err.as("g"))
        .groupBy("b").agg(F.sum("g").as("g"))
        .collect()
      val next = w.clone()
      grads.foreach { r =>
        val b = r.getInt(0); val g = r.getDouble(1)
        if (b < 0) bias = Similarity.round6HalfAway(bias - lr * g / n)
        else next(b) = Similarity.round6HalfAway(next(b) - lr * g / n)
      }
      w = next
      it += 1
    }
    (w, bias)
  }

  /** [[trainQualityClassifier]] + the learned model as a DataFrame —
    * (bucket, w) rows with the bias at bucket −1, the shape a model store
    * persists and [[classifierScore]]-style scorers broadcast back. */
  def trainQualityClassifierDF(docs: DataFrame, textCol: String, labelCol: String,
                               nBuckets: Int = 64, iters: Int = 2,
                               lr: Double = 0.5): DataFrame = {
    val (w, bias) = trainQualityClassifier(docs, textCol, labelCol, nBuckets, iters, lr)
    val spark = docs.sparkSession
    import spark.implicits._
    ((-1, bias) +: w.toIndexedSeq.zipWithIndex.map { case (v, b) => (b, v) })
      .toDF("bucket", "w")
  }

  /** Good-Turing coverage summary per group: frequency-of-frequencies
    * head (n1, n2, n3 = tokens seen exactly once/twice/thrice) and the
    * Good-Turing unseen-mass estimate `P(next token is novel) ≈ n1/N` —
    * the standard "how much of this source's vocabulary have we NOT seen
    * yet" answer that decides whether a corpus slice is worth crawling
    * deeper.
    *
    * One (group, token) rollup (map-side partials), then a vocab-bounded
    * per-group rollup; all counts integer, one rounded division.
    *
    * @return (groupCols…, n_tokens, vocab, n1, n2, n3, p_unseen)
    */
  def unseenMass(df: DataFrame, groupCols: Seq[String],
                 textCol: String): DataFrame = {
    val counts = df.select(groupCols.map(F.col) :+
        F.explode(F.filter(
          F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))), "\\s+"),
          t => F.length(t) > 0)).as("__t"): _*)
      .groupBy((groupCols :+ "__t").map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    counts.groupBy(groupCols.map(F.col): _*)
      .agg(
        F.sum("__c").as("n_tokens"),
        F.count(F.lit(1)).as("vocab"),
        F.sum(F.when(F.col("__c") === 1L, 1L).otherwise(0L)).as("n1"),
        F.sum(F.when(F.col("__c") === 2L, 1L).otherwise(0L)).as("n2"),
        F.sum(F.when(F.col("__c") === 3L, 1L).otherwise(0L)).as("n3"))
      .withColumn("p_unseen", F.round(
        F.col("n1").cast("double") / F.col("n_tokens"), 6))
  }

  /** Exact phrase occurrences over a POSITIONAL token index — the corpus
    * search primitive behind "which documents contain this exact wording?"
    * (contamination spot-checks, quote tracking, template hunting).
    *
    * The index is a posexplode of the whitespace token stream, filtered to
    * the phrase's own terms BEFORE anything shuffles — a k-term phrase
    * keeps only matching-term rows, so the joined volume is the phrase
    * terms' posting lists, not the corpus. Occurrences are reconstructed
    * by k−1 integer equi-joins on (doc, start): term i must sit at
    * start + i, so each join keys on `pos − i` — no window over the whole
    * token stream, no regex over text. Per-doc aggregation emits hit count
    * and first position.
    *
    * @return (idCol, n_hits, first_pos) — docs with ≥ 1 occurrence only
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: String): DataFrame = {
    val terms = phrase.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, "phrase must contain at least one token")
    val toks = F.filter(
      F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))), "\\s+"),
      t => F.length(t) > 0)
    val index = docs
      .select(F.col(idCol).as("__id"), F.posexplode(toks).as(Seq("__pos", "__tok")))
      .filter(F.col("__tok").isin(terms.distinct: _*))
    val first = index.filter(F.col("__tok") === terms.head)
      .select(F.col("__id"), F.col("__pos").as("__start"))
    val hits = terms.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (t, i)) =>
        acc.join(
          index.filter(F.col("__tok") === t)
            .select(F.col("__id"), (F.col("__pos") - i).as("__start")),
          Seq("__id", "__start"))
    }
    hits.groupBy("__id")
      .agg(F.count(F.lit(1)).as("n_hits"), F.min("__start").as("first_pos"))
      .withColumnRenamed("__id", idCol)
  }

  /** Per-document n-gram NOVELTY vs every earlier document (smaller id):
    * what fraction of this doc's distinct word n-grams has the corpus not
    * seen before? The crawl-order signal behind "is this snapshot adding
    * content or re-crawling it" — 1.0 = all-new, 0.0 = fully covered by
    * predecessors (near-dup or boilerplate).
    *
    * ONE gram census: distinct (doc, gram) rows, a per-gram `min(doc)`
    * window (key-partitioned — the gram's posting list, never the corpus,
    * is the partition), then a per-doc rollup. A gram's FIRST document
    * counts it as novel; linear in total gram volume, no pair join
    * anywhere — the same census the x82 vocabulary-growth curve runs at
    * token granularity.
    *
    * @return (idCol, n_grams, n_novel, novelty) — docs with ≥ 1 gram only
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame = {
    require(n >= 1 && n <= 8, s"n must be in [1,8], got $n")
    import org.apache.spark.sql.expressions.Window
    val toks = F.col("__toks")
    // guard the start sequence: Spark's sequence(1, m) runs DESCENDING for
    // m < 1 (auto-negative step), so short docs must take the empty branch
    val m = F.size(toks) - (n - 1)
    val grams = F.when(m >= 1,
      F.transform(F.sequence(F.lit(1), m),
        i => F.concat_ws(" ", F.slice(toks, i, F.lit(n)))))
      .otherwise(F.array())
    val dg = Scale.spreadNarrowScan(docs)
      .select(F.col(idCol).as("__id"), F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))), "\\s+"),
        t => F.length(t) > 0).as("__toks"))
      .select(F.col("__id"), F.explode(F.array_distinct(grams)).as("__gram"))
    val w = Window.partitionBy("__gram")
    dg.withColumn("__first", F.min("__id").over(w))
      .groupBy("__id")
      .agg(
        F.count(F.lit(1)).as("n_grams"),
        F.sum(F.when(F.col("__first") === F.col("__id"), 1L)
          .otherwise(0L)).as("n_novel"))
      .withColumn("novelty", F.round(
        F.col("n_novel").cast("double") / F.col("n_grams"), 6))
      .withColumnRenamed("__id", idCol)
  }

  /** Code-vs-prose detection heuristic — the routing signal a training
    * pipeline uses to send documents to the code subcorpus (or keep them
    * out of it): symbol density (`{}()[]=;<>` per char), code-keyword
    * hits (`def`/`class`/`import`/`return`/`function`/`var`/`const`/
    * `if`/`else` as whole words), and camelCase/snake_case identifier
    * count, combined into a 0-1ish score. All regex counts — a pure
    * codegen projection, engine-replayable, no model.
    *
    * score = round(least(1, 4·symbol_ratio + 0.1·keywords_per_token +
    * 2·ident_ratio), 6); the weights are a heuristic gate, not a
    * calibrated classifier — feed [[classifierScore]] for a learned one.
    *
    * @return df + n_symbols, n_code_keywords, n_idents, code_score
    */
  def withCodeScore(df: DataFrame, textCol: String): DataFrame = {
    val t = F.coalesce(F.col(textCol), F.lit(""))
    val symbols = F.regexp_count(t, F.lit("[{}()\\[\\]=;<>]"))
    val keywords = F.regexp_count(t, F.lit(
      "\\b(def|class|import|return|function|var|const|if|else)\\b"))
    val idents = F.regexp_count(t, F.lit(
      "\\b[a-z]+(?:_[a-z0-9]+|[A-Z][a-z0-9]+)\\w*\\b"))
    val toks = F.greatest(F.lit(1), tokenCount(t))
    val chars = F.greatest(F.lit(1), F.length(t))
    df.withColumn("n_symbols", symbols)
      .withColumn("n_code_keywords", keywords)
      .withColumn("n_idents", idents)
      .withColumn("code_score", F.round(F.least(F.lit(1.0),
        F.lit(4.0) * (F.col("n_symbols").cast("double") / chars.cast("double")) +
          F.lit(0.1) * (F.col("n_code_keywords").cast("double") /
            toks.cast("double")) +
          F.lit(2.0) * (F.col("n_idents").cast("double") /
            toks.cast("double"))), 6))
  }

  /** Flesch-style readability score — the classic prose-complexity gate
    * (low = academic/legalese, ~60-80 = plain prose, high = fragments):
    * {{{ 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) }}}
    * with sentences = terminal-punctuation runs (min 1) and syllables
    * approximated as vowel-group runs — ALL THREE counts one regex pass
    * each (same class in Java regex and RE2), so the score is a pure
    * codegen projection, engine-replayable, no UDF.
    *
    * COUNTING RULES INTENTIONALLY DIFFER from [[readability]] (the
    * per-slice census): this op counts words as `[A-Za-z0-9]+` matches,
    * clamps sentences to ≥1 even on an EMPTY doc, and does NOT apply
    * the vowel-less-token syllable clamp — three regexp_count calls,
    * zero tokenization, the cheapest per-doc gate expressible as one
    * codegen projection (and the form its x158 oracle replays).
    * [[readability]] uses whitespace tokens + the "tsk"-clamp because a
    * slice CENSUS aggregates counts before dividing, where the
    * per-token correction is affordable and the W definition must match
    * the tokenizer every other census op uses. Same formula, two
    * deliberate operating points — the two can disagree on one doc
    * (OpsSpec pins both on a shared fixture). Do not "unify"
    * one onto the other without re-deriving both oracles.
    *
    * @return df + n_words, n_sentences, n_syllables, flesch (4-dp; NULL
    *         on an empty doc)
    */
  def withReadability(df: DataFrame, textCol: String): DataFrame = {
    val t = F.coalesce(F.col(textCol), F.lit(""))
    val words = F.regexp_count(t, F.lit("[A-Za-z0-9]+"))
    val sents = F.greatest(F.lit(1), F.regexp_count(t, F.lit("[.!?]+")))
    val sylls = F.regexp_count(F.lower(t), F.lit("[aeiouy]+"))
    df.withColumn("n_words", words)
      .withColumn("n_sentences", sents)
      .withColumn("n_syllables", sylls)
      .withColumn("flesch", F.round(
        F.lit(206.835) -
          F.lit(1.015) * (F.col("n_words").cast("double") /
            F.col("n_sentences").cast("double")) -
          F.lit(84.6) * (F.col("n_syllables").cast("double") /
            F.nullif(F.col("n_words").cast("double"), F.lit(0.0))), 4))
  }

  /** Token BURSTINESS census: variance-to-mean ratio of each token's
    * per-document occurrence counts across the WHOLE corpus (zeros
    * included) — VMR ≈ 1 is Poisson background vocabulary, VMR ≫ 1 is
    * bursty (topical / template / spam) vocabulary; the dispersion signal
    * behind stopword-vs-content splits and template detection.
    *
    * Zeros never materialize: with m = Σk/N, the centered sum collapses
    * to `Σk² − N·m²` (zeros contribute through N alone), so one
    * (token, doc) count rollup + a 1-row corpus doc count is the whole
    * computation — vocab-bounded, no doc×vocab frame. VMR = var/mean
    * with sample variance over N−1. Top `topK` by (6-dp VMR desc, token).
    *
    * @return (token, df, n_total, mean, vmr)
    */
  def tokenBurstiness(df: DataFrame, idCol: String, textCol: String,
                      minDf: Int = 5, topK: Int = 50): DataFrame = {
    val perDoc = df.select(F.col(idCol).as("__id"),
        F.explode(F.filter(
          F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))), "\\s+"),
          t => F.length(t) > 0)).as("__t"))
      .groupBy("__t", "__id").agg(F.count(F.lit(1)).as("__k"))
    val stats = perDoc.groupBy("__t")
      .agg(F.count(F.lit(1)).as("df"),
        F.sum("__k").as("__s"),
        F.sum(F.col("__k") * F.col("__k")).as("__ss"))
      .filter(F.col("df") >= minDf)
    val nDocs = df.select(F.countDistinct(F.col(idCol)).as("__nd"))
    stats.crossJoin(F.broadcast(nDocs))
      .withColumn("mean", F.round(
        F.col("__s").cast("double") / F.col("__nd").cast("double"), 9))
      .withColumn("__var",
        (F.col("__ss").cast("double") -
          F.col("__nd").cast("double") * F.col("mean") * F.col("mean")) /
          (F.col("__nd").cast("double") - 1.0))
      .withColumn("vmr", F.round(F.col("__var") /
        F.nullif(F.col("mean"), F.lit(0.0)), 6))
      .select(F.col("__t").as("token"), F.col("df"),
        F.col("__s").as("n_total"), F.round(F.col("mean"), 6).as("mean"),
        F.col("vmr"))
      .orderBy(F.col("vmr").desc, F.col("token"))
      .limit(topK)
  }

  /** Pairwise vocabulary Jaccard between corpus slices — "how much do two
    * sources/shards/snapshots share?" — the slice-level companion of the
    * per-doc dedup measures and the exact truth the KMV sketch route
    * ([[Sketches.kmvDistinct]]) approximates when slices are too big to
    * intersect exactly.
    *
    * Shape: one distinct (slice, token) collapse, a token-keyed self-join
    * whose per-token fan-out is bounded by the SLICE COUNT (≤ |slices|²
    * pairs per token — never corpus-quadratic), one (a, b) rollup, and a
    * slice-size broadcast. All counts integer; one rounded division.
    *
    * @return (a, b, n_inter, n_union, jaccard) per unordered slice pair
    */
  def sliceJaccard(df: DataFrame, sliceCol: String, textCol: String): DataFrame = {
    val toks = df.select(F.col(sliceCol).as("__g"),
        F.explode(F.array_distinct(F.filter(
          F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))), "\\s+"),
          t => F.length(t) > 0))).as("__t"))
      .distinct()
    val sizes = toks.groupBy("__g").agg(F.count(F.lit(1)).as("__n"))
    val inter = toks.select(F.col("__g").as("a"), F.col("__t"))
      .join(toks.select(F.col("__g").as("b"), F.col("__t")), "__t")
      .filter(F.col("a") < F.col("b"))
      .groupBy("a", "b").agg(F.count(F.lit(1)).as("n_inter"))
    inter
      .join(F.broadcast(sizes.select(F.col("__g").as("a"), F.col("__n").as("__na"))), "a")
      .join(F.broadcast(sizes.select(F.col("__g").as("b"), F.col("__n").as("__nb"))), "b")
      .withColumn("n_union", F.col("__na") + F.col("__nb") - F.col("n_inter"))
      .select(F.col("a"), F.col("b"), F.col("n_inter"), F.col("n_union"),
        F.round(F.col("n_inter").cast("double") / F.col("n_union"), 6).as("jaccard"))
  }

  /** Chi-squared token/class association — the classic feature-selection
    * score (which tokens are characteristic of a class?) behind
    * fastText-style classifier vocab pruning and per-language keyword
    * mining. For each (token, class) the document-level 2×2 contingency
    * (a = class docs with token, b = other docs with token, c = class
    * docs without, d = others without) yields
    * `χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))`.
    *
    * Every contingency cell is an INTEGER from two bounded rollups (per-
    * (token, class) distinct-doc counts + per-class doc totals); the χ²
    * itself is one per-row double expression over those integers —
    * deterministic and engine-replayable, no float accumulates anywhere.
    * Scale: the doc-token explode collapses to distinct (token, class,
    * doc) then counts — vocab×classes rows out; class totals are a
    * broadcast. `minDf` drops the hapax tail BEFORE the rollup leaves the
    * map side.
    *
    * @return (class, token, a, b, chi2) — top `topK` by χ² (6-dp-rounded
    *         ordering, class/token tiebreak for determinism)
    */
  def chi2Tokens(df: DataFrame, classCol: String, idCol: String,
                 textCol: String, minDf: Int = 5, topK: Int = 50): DataFrame = {
    val docTok = df.select(F.col(classCol).as("__cls"), F.col(idCol).as("__id"),
        F.explode(F.array_distinct(F.filter(
          F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))), "\\s+"),
          t => F.length(t) > 0))).as("__t"))
    val tokCls = docTok.groupBy("__t", "__cls").agg(F.count(F.lit(1)).as("__a"))
    val tokAll = tokCls.groupBy("__t").agg(F.sum("__a").as("__df"))
      .filter(F.col("__df") >= minDf)
    val clsTot = df.groupBy(F.col(classCol).as("__cls"))
      .agg(F.count(F.lit(1)).as("__nc"))
    val nTot = df.agg(F.count(F.lit(1)).as("__n"))
    val cells = tokCls
      .join(tokAll, "__t")
      .join(F.broadcast(clsTot), "__cls")
      .crossJoin(F.broadcast(nTot))
      .withColumn("__b", F.col("__df") - F.col("__a"))
      .withColumn("__c", F.col("__nc") - F.col("__a"))
      .withColumn("__d", F.col("__n") - F.col("__nc") - F.col("__b"))
    // all-double products: the integer intermediates would pass 2^63 at
    // corpus scale; the double expression tree is identical in any engine
    val ad = F.col("__a").cast("double") * F.col("__d").cast("double")
    val bc = F.col("__b").cast("double") * F.col("__c").cast("double")
    // a degenerate margin (token in EVERY doc, or a single class) zeroes a
    // denominator factor AND the numerator — 0/0, defined as chi2 = 0 (no
    // measurable association), via nullif + coalesce so ANSI mode never
    // throws
    val chi2 = F.coalesce(
      F.col("__n").cast("double") * (ad - bc) * (ad - bc) /
        F.nullif(
          (F.col("__a") + F.col("__b")).cast("double") *
          (F.col("__c") + F.col("__d")).cast("double") *
          (F.col("__a") + F.col("__c")).cast("double") *
          (F.col("__b") + F.col("__d")).cast("double"), F.lit(0.0)),
      F.lit(0.0))
    cells
      .select(F.col("__cls").as("class"), F.col("__t").as("token"),
        F.col("__a").as("a"), F.col("__b").as("b"),
        F.round(chi2, 6).as("chi2"))
      .orderBy(F.col("chi2").desc, F.col("class"), F.col("token"))
      .limit(topK)
  }

  /** Per-group token-distribution statistics: Shannon entropy (bits),
    * distinct-type count, token count, and type-token ratio. Low entropy
    * flags template/spam slices (a handful of tokens dominate); TTR is
    * the classic lexical-diversity quality signal — both standard
    * keep/drop features for a corpus mixture.
    *
    * Determinism: counts are integers; each entropy term
    * `−(c/n)·log2(c/n)` is rounded to 9 dp BEFORE the unordered sum and
    * the sum rounded to 6 — the [[Graph.pageRank]] quantize-then-sum rule,
    * so partial-aggregation order cannot flip the result. Scale shape:
    * one (group, token) rollup with map-side partials, then a per-group
    * rollup of vocab-bounded rows; no windows, no driver actions.
    *
    * @return (groupCols…, n_tokens, n_types, entropy_bits, ttr)
    */
  def tokenEntropy(df: DataFrame, groupCols: Seq[String],
                   textCol: String): DataFrame = {
    val toks = df.select(groupCols.map(F.col) :+
      F.explode(F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))), "\\s+"),
        t => F.length(t) > 0)).as("__t"): _*)
    val counts = toks
      .groupBy((groupCols :+ "__t").map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    val byGroup = Window.partitionBy(groupCols.map(F.col): _*)
    counts
      .withColumn("__n", F.sum("__c").over(byGroup))
      .withColumn("__p", F.col("__c").cast("double") / F.col("__n").cast("double"))
      // per-(group, token) quantization on the floor form (Quant.halfUp
      // — the r16 hot-path rule); x106 re-pinned hash-green at 3 SFs
      .withColumn("__term",
        Quant.halfUp(-F.col("__p") * F.log(2.0, F.col("__p")), 9))
      .groupBy(groupCols.map(F.col): _*)
      .agg(
        F.max("__n").as("n_tokens"),
        F.count(F.lit(1)).as("n_types"),
        // + 0.0 normalizes the single-type group's −0.0 (−1·log2(1)) to
        // +0.0 so both engines hash the same bit pattern
        F.round(F.sum("__term") + F.lit(0.0), 6).as("entropy_bits"))
      .withColumn("ttr", F.round(
        F.col("n_types").cast("double") / F.col("n_tokens").cast("double"), 6))
  }

  /** Burrows' delta (Burrows 2002) between every source pair: z-score
    * each source's relative frequency of the corpus's `topK` most common
    * words against the cross-source mean/sd, and average the absolute
    * z-gaps — the classic stylometric distance (function-word profiles
    * survive topic shifts), here the "same scraper writing under two
    * names" detector. Missing (source, word) cells count as frequency 0
    * via a dense sources×topK grid, exactly as the method requires.
    *
    * Scale shape: one token census keyed by (source, token); the topK
    * word list and the per-token stats are bounded tables that broadcast;
    * the pair fan-out is sources², not corpus.
    *
    * @return (a, b, delta) for source pairs a < b — 6-dp
    */
  def burrowsDelta(docs: DataFrame, srcCol: String, textCol: String,
                   topK: Int = 30): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = docs.select(F.col(srcCol).as("__s"),
      F.explode(F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))), "\\s+"),
        t => F.length(t) > 0)).as("__t"))
    val cnt = toks.groupBy("__s", "__t").agg(F.count(F.lit(1)).as("__c"))
    val perSrc = cnt.groupBy("__s").agg(F.sum("__c").as("__n"))
    val top = cnt.groupBy("__t").agg(F.sum("__c").as("__tc"))
      .orderBy(F.col("__tc").desc, F.col("__t").asc).limit(topK)
      .select("__t")
    // EXACT-INTEGER z-scores: frequencies quantize to k = round(10⁶·c/n)
    // (longs ≤ 10⁶, so k, Σk, Σk², S·Σk² and (Σk)² are all exact in
    // doubles), and the 10⁻⁶ scale cancels out of
    // z = (k·S − Σk)/√(S·Σk² − (Σk)²). An fp mean/sd here would round at
    // 1e-9 boundaries that the z DIVISION amplifies ~1000× — two plans
    // of the SAME engine disagreed at 1e-6 before this (round-10 find).
    val dense = perSrc.crossJoin(F.broadcast(top))
      .join(cnt, Seq("__s", "__t"), "left")
      .na.fill(0L, Seq("__c"))
      .withColumn("__k", F.round(
        F.col("__c").cast("double") * 1000000.0 / F.col("__n"), 0)
        .cast("long"))
    val stats = dense.groupBy("__t")
      .agg(F.count(F.lit(1)).as("__nsrc"), F.sum("__k").as("__sk"),
        F.sum(F.col("__k") * F.col("__k")).as("__skk"))
    val z = dense.join(F.broadcast(stats), "__t")
      .withColumn("__zd", F.sqrt(F.greatest(
        (F.col("__nsrc") * F.col("__skk") - F.col("__sk") * F.col("__sk"))
          .cast("double"), F.lit(0.0))))
      .withColumn("__z", F.coalesce(F.round(
        (F.col("__k") * F.col("__nsrc") - F.col("__sk")).cast("double") /
          F.nullif(F.col("__zd"), F.lit(0.0)), 9), F.lit(0.0)))
      .select(F.col("__s"), F.col("__t"), F.col("__z"))
    z.select(F.col("__s").as("a"), F.col("__t"), F.col("__z").as("__za"))
      .join(z.select(F.col("__s").as("b"), F.col("__t"),
        F.col("__z").as("__zb")), Seq("__t"))
      .filter(F.col("a") < F.col("b"))
      .groupBy("a", "b")
      // quantize-then-divide: 9-dp terms, 9-dp sum, THEN the mean — a
      // raw fp mean of ~30 terms can land a hair on either side of the
      // 6-dp half boundary depending on sum order (hit once in round 10)
      .agg(F.round(F.round(F.sum(F.round(
          F.abs(F.col("__za") - F.col("__zb")), 9)), 9) /
        F.count(F.lit(1)), 6).as("delta"))
      .orderBy("a", "b")
  }

  /** Per-token presence×group χ² with exactly TWO degrees of freedom: a
    * 2×3 contingency of document presence against a 3-way grouping
    * (here typically en / zh / other), `χ² = Σ_cells (O−E)²/E`. Two dof
    * is deliberate — it is the largest table whose upper-tail p-value has
    * the closed form `exp(−χ²/2)`, which [[Stats.bhFdr]] exploits to run
    * Benjamini-Hochberg without an incomplete-gamma approximation that
    * no two engines round identically.
    *
    * Scale shape (the [[chi2Tokens]] pattern): distinct (doc, token)
    * presence explodes once and partial-aggregates to (token, group)
    * counts; group totals are a ≤3-row broadcast; everything after is
    * vocab-bounded. minDf prunes the long tail before the stats table is
    * even materialized.
    *
    * @param groupOf 3-valued grouping expression over a document row
    * @return (token, df_docs, chi2) — chi2 6-dp, one row per kept token
    */
  def chi2TokensDf2(df: DataFrame, idCol: String, textCol: String,
                    groupOf: Column, minDf: Int = 5): DataFrame = {
    val docTok = df.select(groupOf.as("__g"), F.col(idCol).as("__id"),
      F.explode(F.array_distinct(F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))), "\\s+"),
        t => F.length(t) > 0))).as("__t"))
    val tokGrp = docTok.groupBy("__t", "__g").agg(F.count(F.lit(1)).as("__a"))
    val grpTot = df.groupBy(groupOf.as("__g"))
      .agg(F.count(F.lit(1)).as("__ng"))
    // dense 3-way cells: absent (token, group) combinations count 0
    val tokDf = tokGrp.groupBy("__t").agg(F.sum("__a").as("__df"))
      .filter(F.col("__df") >= minDf)
    val cells = tokDf
      .crossJoin(F.broadcast(grpTot))
      .join(tokGrp, Seq("__t", "__g"), "left")
      .na.fill(0L, Seq("__a"))
    val nTot = df.agg(F.count(F.lit(1)).as("__n"))
    val withE = cells.crossJoin(F.broadcast(nTot))
      .withColumn("__ep",
        F.col("__df").cast("double") * F.col("__ng") / F.col("__n"))
      .withColumn("__ea",
        (F.col("__n") - F.col("__df")).cast("double") * F.col("__ng") /
          F.col("__n"))
      .withColumn("__op", F.col("__a").cast("double"))
      .withColumn("__oa", (F.col("__ng") - F.col("__a")).cast("double"))
    // a token present in EVERY doc zeroes __ea (0/0 cells) — that token
    // carries no association signal; nullif + coalesce defines it as 0
    withE
      // per-group pair of cells rounds to 9 dp BEFORE the unordered 3-row
      // sum (the pageRank quantize-then-sum rule)
      .withColumn("__cell", F.round(
        F.coalesce((F.col("__op") - F.col("__ep")) *
            (F.col("__op") - F.col("__ep")) /
            F.nullif(F.col("__ep"), F.lit(0.0)), F.lit(0.0)) +
        F.coalesce((F.col("__oa") - F.col("__ea")) *
            (F.col("__oa") - F.col("__ea")) /
            F.nullif(F.col("__ea"), F.lit(0.0)), F.lit(0.0)), 9))
      .groupBy(F.col("__t").as("token"))
      .agg(F.max("__df").as("df_docs"),
        F.round(F.sum("__cell"), 6).as("chi2"))
  }

  /** Chao1 species-richness estimate of the TRUE vocabulary size per
    * group — "how many distinct tokens would this source show at infinite
    * sampling", from the abundance of barely-seen tokens (the capture-
    * recapture logic; Chao 1984, bias-corrected form):
    * {{{
    *   Ĉ = S_obs + f1(f1 − 1) / (2(f2 + 1))
    * }}}
    * where f1/f2 are singleton/doubleton token counts. The honest
    * companion to the [[vocabGrowth]] observed curve and the Good-Turing
    * unseen-mass readout (x115): it answers "is this corpus slice
    * vocabulary-saturated or did we barely scratch it".
    *
    * Scale shape: the token stream collapses map-side to (group, token)
    * counts, then to a per-group frequency-of-frequency rollup — two
    * partial-aggregated shuffles, output bounded by group cardinality.
    *
    * @return per group (groupCols…, s_obs, f1, f2, chao1) — chao1 6-dp
    */
  def chao1Richness(df: DataFrame, groupCols: Seq[String],
                    textCol: String): DataFrame = {
    val toks = df.select(groupCols.map(F.col) :+
        F.explode(F.filter(
          F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))),
            "\\s+"), t => F.length(t) > 0)).as("__t"): _*)
    val counts = toks.groupBy(groupCols.map(F.col) :+ F.col("__t"): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    counts.groupBy(groupCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("s_obs"),
        F.sum(F.when(F.col("__c") === 1L, 1L).otherwise(0L)).as("f1"),
        F.sum(F.when(F.col("__c") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1", F.round(F.col("s_obs") +
        F.col("f1").cast("double") * (F.col("f1") - 1L) /
          (F.lit(2.0) * (F.col("f2") + 1L).cast("double")), 6))
      .orderBy(groupCols.map(F.col): _*)
  }

  /** Mean segmental type-token ratio (MSTTR, Johnson 1944) — lexical
    * diversity that, unlike the raw TTR, does NOT fall with document
    * length (longer texts repeat more, so raw TTR punishes length, the
    * Heaps'-law artifact x222 fits): split each document's token stream
    * into consecutive `segment`-token chunks, take TTR = types/segment
    * inside each COMPLETE chunk, and average. The per-document
    * repetitiveness score that is comparable across lengths — low MSTTR
    * with normal x24 repetition flags template/boilerplate text.
    *
    * Per-chunk TTR is one exact integer division (distinct/segment);
    * the per-document mean is over ≤ len/segment such chunks. Documents
    * shorter than one complete segment drop (nothing to measure —
    * documented).
    *
    * Scale shape: one positional explode, a (doc, chunk)-keyed distinct
    * census, a doc-keyed mean — all partial-aggregated, nothing
    * corpus-wide.
    *
    * @return per document (doc_id, n_chunks, msttr) ordered by id —
    *         6-dp
    */
  def msttr(df: DataFrame, idCol: String, textCol: String,
            segment: Int = 25): DataFrame = {
    require(segment >= 2, s"segment must be >= 2, got $segment")
    val toks = F.filter(
      F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))),
        "\\s+"), t => F.length(t) > 0)
    val ex = df.select(F.col(idCol).as("doc_id"),
        F.posexplode(toks).as(Seq("__pos", "__t")))
      .withColumn("__seg",
        (F.col("__pos").cast("long") / segment.toLong).cast("long"))
    val byChunk = ex.groupBy("doc_id", "__seg")
      .agg(F.count(F.lit(1)).as("__n"),
        F.countDistinct(F.col("__t")).as("__ty"))
      .filter(F.col("__n") === segment.toLong)
      .withColumn("__ttr",
        F.col("__ty").cast("double") / segment.toDouble)
    byChunk.groupBy("doc_id")
      .agg(F.count(F.lit(1)).as("n_chunks"),
        F.round(F.avg("__ttr"), 6).as("msttr"))
      .orderBy("doc_id")
  }

  /** Dirichlet-smoothed query-likelihood retrieval scoring (Zhai &
    * Lafferty 2001) — the language-model ranking that [[bm25]]'s
    * tf·idf heuristic approximates: score(q, d) = Σ_t ln((tf_t,d +
    * μ·p(t|C)) / (|d| + μ)), where p(t|C) is the corpus unigram
    * probability doing the smoothing (rare query terms hurt short
    * documents less than absent common ones). The second standard
    * ranking function a reference-parity retrieval layer needs next to
    * BM25.
    *
    * Corpus stats are exact longs; each term's ln rounds 9 dp before
    * the |q|-term sum (the kaplanMeier rule). Query terms absent from
    * the corpus contribute nothing (p = 0 with tf = 0 is log-undefined;
    * dropping is the zero-information reading — documented).
    *
    * Scale shape: [[bm25]]'s — per-document tf columns off one token
    * array (no explode), corpus totals as a 1-row broadcast.
    *
    * @return per document (doc_id, dl, ql) ordered by id — ql 6-dp,
    *         more-negative = worse match
    */
  def dirichletQL(df: DataFrame, idCol: String, textCol: String,
                  query: Seq[String], mu: Double = 50.0): DataFrame = {
    require(query.nonEmpty, "dirichletQL needs at least one query term")
    require(mu > 0.0, s"mu must be > 0, got $mu")
    val toks = F.filter(F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
      t => F.length(t) > 0)
    def tfCol(i: Int): String = s"__tf$i"
    val perDoc = df.select(
      F.col(idCol) +: F.size(toks).cast("long").as("dl") +:
        query.zipWithIndex.map { case (q, i) =>
          F.size(F.filter(toks, t => t === F.lit(q))).cast("long")
            .as(tfCol(i))
        }: _*)
    val statCols = F.sum("dl").as("__tot") +:
      query.indices.map(i => F.sum(F.col(tfCol(i))).as(s"__cf$i"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val score = query.indices.map { i =>
      val p = F.col(s"__cf$i").cast("double") /
        F.col("__tot").cast("double")
      F.when(F.col(s"__cf$i") > 0L, F.round(F.log(
        (F.col(tfCol(i)).cast("double") + F.lit(mu) * p) /
          (F.col("dl").cast("double") + mu)), 9)).otherwise(0.0)
    }.reduce(_ + _)
    perDoc.crossJoin(F.broadcast(stats))
      .select(F.col(idCol), F.col("dl"),
        F.round(score, 6).as("ql"))
      .orderBy(idCol)
  }

  /** Pairwise Jensen–Shannon divergence matrix between every pair of
    * corpus slices' unigram distributions — [[tokenDivergence]] (one
    * fixed pair, per-token evidence) widened to the all-pairs corpus
    * map: which sources speak the same language, which one drifted.
    * JS is symmetric and bounded by ln 2, so the 190-pair table reads
    * as a distance matrix (the x221 Burrows-delta companion on raw
    * unigram mass instead of stylometric z-scores).
    *
    * Absent-token mass needs no per-pair full-outer join: a token only
    * in slice a contributes exactly ½·p·ln2, and Σ of that over a's
    * WHOLE vocabulary is a per-slice constant A_a, so
    * {{{
    *   JS(a,b) = A_a + A_b + Σ_shared (contrib − ½p·ln2 − ½q·ln2)
    * }}}
    * — one token-keyed self-join builds every pair's shared terms at
    * once. Every per-token term rounds 9 dp before its orderless sum;
    * ln 2 rides as a shared literal.
    *
    * Scale shape: one (slice, token) census, one token-keyed self-join
    * (vocab-bounded, never corpus-sized), a pair-keyed rollup onto the
    * slice-pair grid.
    *
    * @return per pair (src_a, src_b, n_shared, js) ordered — 6-dp
    */
  def jsDivergenceMatrix(df: DataFrame, groupCol: String,
                         textCol: String): DataFrame = {
    val Ln2 = 0.6931471805599453
    val counts = df.select(F.col(groupCol).cast("string").as("__g"),
        F.explode(F.filter(
          F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))),
            "\\s+"), t => F.length(t) > 0)).as("__t"))
      .groupBy("__g", "__t").agg(F.count(F.lit(1)).as("__c"))
      // the vocab-sized census feeds five consumers (totals, constants,
      // both join sides, the grid) — materialize it once so the corpus
      // explode runs ONE time, not per consumer (the localClustering rule)
      .localCheckpoint()
    val tot = counts.groupBy("__g").agg(F.sum("__c").as("__n"))
    val probs = counts.join(F.broadcast(tot), Seq("__g"))
      .withColumn("__p",
        F.col("__c").cast("double") / F.col("__n").cast("double"))
    // per-slice all-vocabulary absent-mass constant; the 9-dp terms
    // accumulate as DECIMAL(20,9) — a vocab-sized double sum is
    // order-dependent in its last bits and split a 6-dp half-way case
    // at sf0.001 (r18 inherited red row). 20 digits, not 38: Spark's
    // a-b-c chain on (38,9) overflows precision and silently REDUCES
    // the scale to 8 (DuckDB keeps 9 — one-step 6-dp mismatches)
    val aConst = probs
      .withColumn("__a",
        F.round(F.lit(0.5 * Ln2) * F.col("__p"), 9).cast("decimal(20,9)"))
      .groupBy("__g").agg(F.sum("__a").as("__A"))
    val l = probs.select(F.col("__g").as("src_a"), F.col("__t"),
      F.col("__p").as("__pa"))
    val r = probs.select(F.col("__g").as("src_b"), F.col("__t"),
      F.col("__p").as("__pb"))
    val shared = l.join(r, Seq("__t"))
      .filter(F.col("src_a") < F.col("src_b"))
    val m = (F.col("__pa") + F.col("__pb")) / 2.0
    val adj = shared
      .withColumn("__adj",
        F.round((F.col("__pa") * F.log(F.col("__pa") / m) +
          F.col("__pb") * F.log(F.col("__pb") / m)) / 2.0, 9)
            .cast("decimal(20,9)") -
          F.round(F.lit(0.5 * Ln2) * F.col("__pa"), 9)
            .cast("decimal(20,9)") -
          F.round(F.lit(0.5 * Ln2) * F.col("__pb"), 9)
            .cast("decimal(20,9)"))
      .groupBy("src_a", "src_b")
      .agg(F.count(F.lit(1)).as("n_shared"), F.sum("__adj").as("__s"))
    val grid = tot.select(F.col("__g").as("src_a"))
      .crossJoin(tot.select(F.col("__g").as("src_b")))
      .filter(F.col("src_a") < F.col("src_b"))
    grid.join(adj, Seq("src_a", "src_b"), "left")
      .join(F.broadcast(aConst.select(F.col("__g").as("src_a"),
        F.col("__A").as("__Aa"))), Seq("src_a"))
      .join(F.broadcast(aConst.select(F.col("__g").as("src_b"),
        F.col("__A").as("__Ab"))), Seq("src_b"))
      .select(F.col("src_a"), F.col("src_b"),
        F.coalesce(F.col("n_shared"), F.lit(0L)).as("n_shared"),
        F.round((F.col("__Aa") + F.col("__Ab") +
          F.coalesce(F.col("__s"),
            F.lit(0).cast("decimal(20,9)"))).cast("double"), 6).as("js"))
      .orderBy("src_a", "src_b")
  }

  /** Simpson diversity + Hill-2 effective vocabulary per corpus slice —
    * the REPEAT-probability reading of lexical diversity: the unbiased
    * Simpson index λ = Σc(c−1)/(n(n−1)) is exactly "the probability two
    * random tokens are the same type", 1−λ the diversity, and Hill's
    * N₂ = n²/Σc² the "effective vocabulary if all types were equally
    * common". Where [[tokenEntropy]] (Hill N₁ = e^H) weighs all types,
    * N₂ is dominated by the HEAD — N₂ ≪ N₁ flags a corpus whose
    * apparent vocabulary is a long tail over a tiny working set.
    *
    * λ is an exact integer ratio (one IEEE division); N₂ likewise —
    * nothing to round until the outputs.
    *
    * Scale shape: one (slice, token) census, one slice-keyed collapse.
    *
    * @return per slice (groupCols…, n_tokens, vocab, simpson,
    *         diversity, hill2) ordered — 6-dp; NULL on < 2 tokens
    */
  def simpsonDiversity(df: DataFrame, groupCols: Seq[String],
                       textCol: String): DataFrame = {
    val gs = groupCols.map(F.col)
    val census = df.select((gs :+
        F.explode(F.filter(
          F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))),
            "\\s+"), t => F.length(t) > 0)).as("__t")): _*)
      .groupBy((gs :+ F.col("__t")): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    val g = census.groupBy(gs: _*)
      .agg(F.sum("__c").as("n_tokens"),
        F.count(F.lit(1)).as("vocab"),
        F.sum(F.col("__c") * (F.col("__c") - 1L)).as("__rep"),
        F.sum(F.col("__c") * F.col("__c")).as("__c2"))
    val nD = F.col("n_tokens").cast("double")
    val lam = F.col("__rep").cast("double") /
      F.nullif(nD * (nD - 1.0), F.lit(0.0))
    g.select((gs :+ F.col("n_tokens") :+ F.col("vocab") :+
      F.round(lam, 6).as("simpson") :+
      F.round(F.lit(1.0) - lam, 6).as("diversity") :+
      F.round(nD * nD / F.col("__c2").cast("double"), 6).as("hill2")): _*)
      .orderBy(gs: _*)
  }

  /** BLEU for given (a, b) pairs (Papineni et al. 2002, unsmoothed) —
    * [[rougeN]]'s precision-side sibling: geometric mean of clipped
    * n-gram precisions (n = 1..maxN) times the brevity penalty:
    * {{{
    *   p_n  = Σ_g min(count_a(g), count_b(g)) / (len_b − n + 1)
    *   BP   = min(1, exp(1 − len_a / len_b))
    *   bleu = BP · (Π p_n)^(1/maxN)
    * }}}
    * (a = reference, b = candidate). Unsmoothed: any p_n = 0 ⇒ bleu 0
    * (the sacrebleu `smooth_method=none` convention); an empty
    * candidate ⇒ NULL. The denominator is derived from the candidate
    * token length (len_b − n + 1), never a second census.
    *
    * Determinism: exact integer match/length ingredients; bleu ONE
    * 6-dp IEEE expression over them (exp/sqrt on both engines — same
    * discipline as the entropy/log-likelihood oracles).
    *
    * Scale shape: identical to [[rougeN]] — pair-list-bounded censuses,
    * keyed joins, nothing quadratic.
    *
    * @return (a, b, len_a, len_b, m1..m_maxN, bleu) ordered by (a, b)
    */
  def bleuPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                textCol: String, maxN: Int = 2): DataFrame = {
    require(maxN >= 1 && maxN <= 4, s"maxN must be in [1,4], got $maxN")
    val p = pairs.select(F.col("a"), F.col("b"))
      .repartition(F.col("a"), F.col("b"))
    val ids = p.select(F.col("a").as(idCol))
      .union(p.select(F.col("b").as(idCol))).distinct()
    val toks = docs.join(ids, Seq(idCol), "leftsemi")
      .select(F.col(idCol),
        F.filter(F.split(F.lower(F.trim(F.coalesce(F.col(textCol),
          F.lit("")))), "\\s+"), t => F.length(t) > 0).as("__ts"))
      .localCheckpoint() // maxN gram censuses all read this once
    val lens = toks.select(F.col(idCol), F.size(F.col("__ts")).cast("long")
      .as("__len"))
    var acc = p
      .join(lens.select(F.col(idCol).as("a"), F.col("__len").as("len_a")),
        Seq("a"), "left_outer")
      .join(lens.select(F.col(idCol).as("b"), F.col("__len").as("len_b")),
        Seq("b"), "left_outer")
      .withColumn("len_a", F.coalesce(F.col("len_a"), F.lit(0L)))
      .withColumn("len_b", F.coalesce(F.col("len_b"), F.lit(0L)))
    (1 to maxN).foreach { n =>
      val grams = toks
        .filter(F.size(F.col("__ts")) >= n)
        .select(F.col(idCol), F.explode(F.transform(
          F.sequence(F.lit(1), F.size(F.col("__ts")) - (n - 1)),
          i => F.concat_ws(" ", F.slice(F.col("__ts"), i, F.lit(n)))))
          .as("__g"))
        .groupBy(idCol, "__g").agg(F.count(F.lit(1)).as("__c"))
      val m = p
        .join(grams.select(F.col(idCol).as("a"), F.col("__g"),
          F.col("__c").as("__ca")), Seq("a"))
        .join(grams.select(F.col(idCol).as("b"), F.col("__g"),
          F.col("__c").as("__cb")), Seq("b", "__g"))
        .groupBy("a", "b")
        .agg(F.sum(F.least(F.col("__ca"), F.col("__cb"))).as(s"m$n"))
      acc = acc.join(m, Seq("a", "b"), "left_outer")
        .withColumn(s"m$n", F.coalesce(F.col(s"m$n"), F.lit(0L)))
    }
    val cN = (1 to maxN).map(n =>
      F.greatest(F.col("len_b") - (n - 1).toLong, F.lit(0L)))
    val anyZero = (1 to maxN).map(n =>
      F.col(s"m$n") === 0L || cN(n - 1) === 0L).reduce(_ || _)
    val prod = (1 to maxN).map(n =>
      F.col(s"m$n").cast("double") / cN(n - 1).cast("double"))
      .reduce(_ * _)
    val bp = F.when(F.col("len_b") >= F.col("len_a"), F.lit(1.0))
      .otherwise(F.exp(F.lit(1.0) - F.col("len_a").cast("double") /
        F.col("len_b").cast("double")))
    // sqrt for the N=2 root, never pow(x, 0.5): pow is not required to
    // be correctly rounded and can differ from sqrt (and from DuckDB's
    // sqrt) at the ulp — the oracle replays sqrt
    val root = maxN match {
      case 1 => prod
      case 2 => F.sqrt(prod)
      case _ => F.pow(prod, 1.0 / maxN)
    }
    val outCols = Seq(F.col("a"), F.col("b"), F.col("len_a"),
      F.col("len_b")) ++ (1 to maxN).map(n => F.col(s"m$n")) :+
      F.when(F.col("len_b") === 0L, F.lit(null).cast("double"))
        .when(anyZero, F.lit(0.0))
        .otherwise(F.round(bp * root, 6)).as("bleu")
    acc.select(outCols: _*).orderBy("a", "b")
  }

  /** chrF for given (a, b) pairs (Popović 2015) — the character-level
    * third of the MT-metric triple ([[bleuPairs]], [[rougeN]]):
    * whitespace-stripped char n-grams for n = 1..maxN, clipped multiset
    * matches, per-order P_n / R_n, arithmetic means over the orders
    * valid on BOTH sides (effective-order convention: an order longer
    * than either side's char count is skipped; no valid order ⇒ NULL),
    * then the β = 2 recall-weighted harmonic mean:
    * {{{
    *   chrF2 = 5·chrP·chrR / (4·chrP + chrR)    (0 when chrP+chrR = 0)
    * }}}
    * Char grams make the metric robust to tokenization and morphology —
    * the reason sacrebleu ships it beside BLEU. (sacrebleu defaults to
    * order 6; `maxN` is configurable, default 3 — the oracle replays
    * one census per order.)
    *
    * Determinism: normalization is lower(trim(·)) with ALL whitespace
    * removed; every match/length an exact long; chrP/chrR/chrF one
    * 6-dp IEEE expression over them.
    *
    * Scale shape: [[rougeN]]'s pair-list-bounded contract — maxN
    * censuses over only the paired docs, keyed joins, nothing
    * quadratic.
    *
    * @return (a, b, len_a, len_b, m1..m_maxN, chr_p, chr_r, chrf2)
    *         ordered by (a, b) — 6-dp
    */
  def chrfPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                textCol: String, maxN: Int = 3): DataFrame = {
    require(maxN >= 1 && maxN <= 6, s"maxN must be in [1,6], got $maxN")
    val p = pairs.select(F.col("a"), F.col("b"))
      .repartition(F.col("a"), F.col("b"))
    val ids = p.select(F.col("a").as(idCol))
      .union(p.select(F.col("b").as(idCol))).distinct()
    val chars = docs.join(ids, Seq(idCol), "leftsemi")
      .select(F.col(idCol),
        F.regexp_replace(F.lower(F.trim(F.coalesce(F.col(textCol),
          F.lit("")))), "\\s+", "").as("__t"))
      .localCheckpoint() // maxN censuses all read this once
    val lens = chars.select(F.col(idCol),
      F.length(F.col("__t")).cast("long").as("__len"))
    var acc = p
      .join(lens.select(F.col(idCol).as("a"), F.col("__len").as("len_a")),
        Seq("a"), "left_outer")
      .join(lens.select(F.col(idCol).as("b"), F.col("__len").as("len_b")),
        Seq("b"), "left_outer")
      .withColumn("len_a", F.coalesce(F.col("len_a"), F.lit(0L)))
      .withColumn("len_b", F.coalesce(F.col("len_b"), F.lit(0L)))
    (1 to maxN).foreach { n =>
      val grams = chars
        .filter(F.length(F.col("__t")) >= n)
        .select(F.col(idCol), F.explode(F.transform(
          F.sequence(F.lit(1), F.length(F.col("__t")) - (n - 1)),
          i => F.col("__t").substr(i, F.lit(n)))).as("__g"))
        .groupBy(idCol, "__g").agg(F.count(F.lit(1)).as("__c"))
      val m = p
        .join(grams.select(F.col(idCol).as("a"), F.col("__g"),
          F.col("__c").as("__ca")), Seq("a"))
        .join(grams.select(F.col(idCol).as("b"), F.col("__g"),
          F.col("__c").as("__cb")), Seq("b", "__g"))
        .groupBy("a", "b")
        .agg(F.sum(F.least(F.col("__ca"), F.col("__cb"))).as(s"m$n"))
      acc = acc.join(m, Seq("a", "b"), "left_outer")
        .withColumn(s"m$n", F.coalesce(F.col(s"m$n"), F.lit(0L)))
    }
    def denA(n: Int) = F.col("len_a") - (n - 1).toLong
    def denB(n: Int) = F.col("len_b") - (n - 1).toLong
    def valid(n: Int) = (denA(n) > 0L) && (denB(n) > 0L)
    val nValid = (1 to maxN).map(n =>
      F.when(valid(n), 1L).otherwise(0L)).reduce(_ + _)
    val pSum = (1 to maxN).map(n => F.when(valid(n),
      F.col(s"m$n").cast("double") / denB(n).cast("double"))
      .otherwise(0.0)).reduce(_ + _)
    val rSum = (1 to maxN).map(n => F.when(valid(n),
      F.col(s"m$n").cast("double") / denA(n).cast("double"))
      .otherwise(0.0)).reduce(_ + _)
    val chrP = pSum / nValid.cast("double")
    val chrR = rSum / nValid.cast("double")
    val outCols = Seq(F.col("a"), F.col("b"), F.col("len_a"),
      F.col("len_b")) ++ (1 to maxN).map(n => F.col(s"m$n")) ++ Seq(
      F.when(nValid === 0L, F.lit(null).cast("double"))
        .otherwise(F.round(chrP, 6)).as("chr_p"),
      F.when(nValid === 0L, F.lit(null).cast("double"))
        .otherwise(F.round(chrR, 6)).as("chr_r"),
      F.when(nValid === 0L, F.lit(null).cast("double"))
        .when(pSum + rSum === 0.0, F.lit(0.0))
        .otherwise(F.round(F.lit(5.0) * chrP * chrR /
          (F.lit(4.0) * chrP + chrR), 6)).as("chrf2"))
    acc.select(outCols: _*).orderBy("a", "b")
  }

  /** ROUGE-N for given (a, b) pairs — the eval-metric sibling of
    * [[graft.ops.Dedup.ngramJaccard]]: CLIPPED MULTISET word-n-gram
    * overlap (Lin 2004), not set intersection, so repeated grams count
    * up to their occurrence minimum:
    * {{{
    *   match  = Σ_g min(count_a(g), count_b(g))
    *   recall = match / Σ count_a      (a is the reference side)
    *   precision = match / Σ count_b   (b is the candidate side)
    *   f1 = 2PR / (P + R)
    * }}}
    * The summarization/translation eval standard, here as a PAIR scorer:
    * feed it minhash candidates to grade near-dups the way an eval
    * harness would, or a random pairing ([[graft.ops.Similarity
    * .randomPairCosine]]'s idiom) to measure the corpus-internal
    * baseline every ROUGE threshold is implicitly a claim about.
    *
    * Determinism: tokenization is the stdlib lower(trim(·)) whitespace
    * split; every count an exact long; P/R/F one 6-dp IEEE each (NULL
    * when a side has no grams — doc shorter than n tokens).
    *
    * Scale shape: pair-list-bounded like ngramJaccard — only docs named
    * in `pairs` tokenize (semi-join first); the (pair, gram) join is
    * keyed, nothing quadratic; gram strings shuffle only for the
    * candidate set.
    *
    * @param pairs (a, b) candidate pairs; a = reference, b = candidate
    * @return (a, b, match_n, count_a, count_b, precision, recall, f1)
    *         ordered by (a, b) — 6-dp
    */
  def rougeN(pairs: DataFrame, docs: DataFrame, idCol: String,
             textCol: String, n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val p = pairs.select(F.col("a"), F.col("b"))
      .repartition(F.col("a"), F.col("b"))
    val ids = p.select(F.col("a").as(idCol))
      .union(p.select(F.col("b").as(idCol))).distinct()
    val toks = docs.join(ids, Seq(idCol), "leftsemi")
      .select(F.col(idCol),
        F.filter(F.split(F.lower(F.trim(F.coalesce(F.col(textCol),
          F.lit("")))), "\\s+"), t => F.length(t) > 0).as("__ts"))
    val grams = toks
      .filter(F.size(F.col("__ts")) >= n)
      .select(F.col(idCol), F.explode(F.transform(
        F.sequence(F.lit(1), F.size(F.col("__ts")) - (n - 1)),
        i => F.concat_ws(" ", F.slice(F.col("__ts"), i, F.lit(n)))))
        .as("__g"))
      .groupBy(idCol, "__g").agg(F.count(F.lit(1)).as("__c"))
    val tot = grams.groupBy(idCol).agg(F.sum("__c").as("__t"))
    val ga = p.join(grams.select(F.col(idCol).as("a"), F.col("__g"),
      F.col("__c").as("__ca")), Seq("a"))
    val gb = p.join(grams.select(F.col(idCol).as("b"), F.col("__g"),
      F.col("__c").as("__cb")), Seq("b"))
    val m = ga.join(gb, Seq("a", "b", "__g"))
      .groupBy("a", "b")
      .agg(F.sum(F.least(F.col("__ca"), F.col("__cb"))).as("__m"))
    p
      .join(tot.select(F.col(idCol).as("a"), F.col("__t").as("count_a")),
        Seq("a"), "left_outer")
      .join(tot.select(F.col(idCol).as("b"), F.col("__t").as("count_b")),
        Seq("b"), "left_outer")
      .join(m, Seq("a", "b"), "left_outer")
      .withColumn("count_a", F.coalesce(F.col("count_a"), F.lit(0L)))
      .withColumn("count_b", F.coalesce(F.col("count_b"), F.lit(0L)))
      .withColumn("match_n", F.coalesce(F.col("__m"), F.lit(0L)))
      .withColumn("precision", F.round(F.col("match_n").cast("double") /
        F.nullif(F.col("count_b").cast("double"), F.lit(0.0)), 6))
      .withColumn("recall", F.round(F.col("match_n").cast("double") /
        F.nullif(F.col("count_a").cast("double"), F.lit(0.0)), 6))
      .withColumn("f1", F.round(
        F.lit(2.0) * F.col("match_n").cast("double") /
          F.nullif((F.col("count_a") + F.col("count_b")).cast("double"),
            F.lit(0.0)), 6))
      .select("a", "b", "match_n", "count_a", "count_b", "precision",
        "recall", "f1")
      .orderBy("a", "b")
  }

  /** Compression-ratio census per group — the model-free LONG-RANGE
    * repetition gate (RefinedWeb/CCNet-style curation uses a compressor
    * where charEntropy sees only per-char frequencies and
    * repetitionShare only adjacent n-grams: DEFLATE's LZ77 window
    * catches a paragraph pasted 40 times anywhere within 32 KB).
    * Per doc, ratio = compressed_bytes / raw UTF-8 bytes; a doc is
    * - "repetitive"      when comp < lo·raw  (boilerplate, spam loops,
    *                      log dumps — too compressible to be prose),
    * - "incompressible"  when comp > hi·raw  (random/encrypted/minified
    *                      blobs — natural language sits well under hi).
    * The census reports exact flag counts and the MACRO ratio
    * round(Σcomp/Σraw, 6): long sums commute (any partitioning), so the
    * only IEEE ops are one division and the per-doc threshold compares —
    * no order-dependent double accumulation (the repo's determinism
    * discipline; a mean of per-doc ratios would not replay).
    *
    * Codec: the native codegen'd [[graft.functions.DeflateLen]]
    * (level-6 raw DEFLATE) by default; `compLen` swaps in any
    * engine-replayable surrogate — the oracled twin entry injects
    * octet_length(text minus spaces) to pin this census's plumbing in
    * DuckDB while OpsSpec pins the deflate codec by JVM replay (the
    * x430/x431 split: production math vs replayable twin).
    *
    * Scale shape: compression runs inside the scan task (codegen'd
    * static call, text never reaches an exchange); the groupBy ships
    * only (group, 4 longs) with map-side combine. NULL-text rows are
    * excluded up front; empty texts count in n_empty and are exempt
    * from both flags (0-byte input has no ratio).
    *
    * @param lo      repetitive threshold on comp/raw (default 0.25 —
    *                English prose deflates to ~0.3-0.45)
    * @param hi      incompressible threshold (default 0.9)
    * @param compLen surrogate compressed-length column (twin hook);
    *                None = native DeflateLen(textCol)
    * @return per group (groupCols…, n_docs, n_empty, total_bytes,
    *         comp_bytes, ratio, n_repetitive, repetitive_share,
    *         n_incompressible, incompressible_share) ordered by group;
    *         shares are over the n_docs − n_empty flaggable docs
    */
  def compressionCensus(df: DataFrame, groupCols: Seq[String],
                        textCol: String, lo: Double = 0.25,
                        hi: Double = 0.9,
                        compLen: Option[Column] = None): DataFrame = {
    require(groupCols.nonEmpty, "compressionCensus needs group columns")
    require(lo > 0.0 && lo < hi, s"need 0 < lo < hi, got lo=$lo hi=$hi")
    import org.apache.spark.sql.GraftExpr
    val comp = compLen.getOrElse(GraftExpr.column(
      graft.functions.DeflateLen(GraftExpr.expression(F.col(textCol)))))
    val gs = groupCols.map(F.col)
    val per = df.filter(F.col(textCol).isNotNull)
      .select(gs :+ F.octet_length(F.col(textCol)).cast("long").as("__raw")
        :+ comp.cast("long").as("__comp"): _*)
    val flaggable = F.col("__raw") > 0L
    val isRep = flaggable && (F.col("__comp").cast("double") <
      F.lit(lo) * F.col("__raw").cast("double"))
    val isInc = flaggable && (F.col("__comp").cast("double") >
      F.lit(hi) * F.col("__raw").cast("double"))
    per.groupBy(gs: _*)
      .agg(F.count(F.lit(1)).as("n_docs"),
        F.sum(F.when(F.col("__raw") === 0L, 1L).otherwise(0L)).as("n_empty"),
        F.sum("__raw").as("total_bytes"),
        F.sum("__comp").as("comp_bytes"),
        F.sum(F.when(isRep, 1L).otherwise(0L)).as("n_repetitive"),
        F.sum(F.when(isInc, 1L).otherwise(0L)).as("n_incompressible"))
      .select(gs ++ Seq(F.col("n_docs"), F.col("n_empty"),
        F.col("total_bytes"), F.col("comp_bytes"),
        F.round(F.col("comp_bytes").cast("double") /
          F.nullif(F.col("total_bytes").cast("double"), F.lit(0.0)), 6)
          .as("ratio"),
        F.col("n_repetitive"),
        F.round(F.col("n_repetitive").cast("double") /
          F.nullif((F.col("n_docs") - F.col("n_empty")).cast("double"),
            F.lit(0.0)), 6).as("repetitive_share"),
        F.col("n_incompressible"),
        F.round(F.col("n_incompressible").cast("double") /
          F.nullif((F.col("n_docs") - F.col("n_empty")).cast("double"),
            F.lit(0.0)), 6).as("incompressible_share")): _*)
      .orderBy(gs: _*)
  }

  /** Vocabulary-coverage census per group against the corpus top-V
    * vocabulary — the tokenizer-sizing readout beside x82's growth
    * curve and x153's fertility: if the vocab were the V most frequent
    * corpus tokens, what share of each source's token OCCURRENCES is
    * in-vocab (the compression you get) and what share of its distinct
    * TYPES falls out (the long tail you UNK away)? A source whose
    * occurrence coverage is high but type coverage is low is normal
    * Zipf; a source with LOW occurrence coverage writes a different
    * language/register than the corpus head and will tokenize badly.
    *
    * Vocabulary pick is deterministic: top `vocabSize` by (count desc,
    * token asc) — a TakeOrdered, never a global sort.
    *
    * Scale shape: one token explode feeding BOTH the (bounded,
    * broadcast) vocab top-k and the per-(group, token) collapse; the
    * coverage join is per-group-token rows against the broadcast
    * vocab. No window over corpus rows.
    *
    * @return per group: (group, n_tokens, n_in_vocab, coverage,
    *         n_types, n_oov_types, oov_type_rate) — 6-dp
    */
  /** "Fightin' Words" distinctive terms per group (Monroe, Colaresi &
    * Quinn 2008) — log-odds-ratio with an informative Dirichlet prior,
    * THE principled replacement for raw TF-IDF "top terms" when
    * comparing subcorpora (raw ratios explode on rare words; the
    * corpus-wide prior shrinks exactly them):
    * {{{
    *   δ_gw = ln[(y_gw + a_w)/(n_g + a₀ − y_gw − a_w)]
    *        − ln[(y_rw + a_w)/(n_r + a₀ − y_rw − a_w)]   (rest = ¬g)
    *   z    = δ / sqrt(1/(y_gw + a_w) + 1/(y_rw + a_w))
    * }}}
    * with a_w = a₀·(total_w/N). Emits the top `perGroup` terms per
    * group by z (6-dp-rounded z, token-asc ties — deterministic rank).
    *
    * Determinism: exact count algebra into two ln's and a sqrt per
    * (group, token) cell — engine-replayable IEEE chains; z rounded
    * before ranking so the pick replays.
    *
    * Scale shape: one (group, token) collapse + token-margin and
    * group-margin rollups joined on their keys; the rank window runs
    * per group over vocab cells, never corpus rows.
    *
    * @return (group, token, y, delta, z) — top `perGroup` rows per
    *         group, 6-dp, ordered (group, z desc, token)
    */
  def fightinWords(df: DataFrame, groupCol: String, textCol: String,
                   alpha0: Double = 10.0,
                   perGroup: Int = 2): DataFrame = {
    require(alpha0 > 0.0, s"alpha0 must be positive: $alpha0")
    require(perGroup >= 1, s"perGroup must be >= 1: $perGroup")
    val cells = df.filter(F.col(groupCol).isNotNull)
      .select(F.col(groupCol).as("__g"),
        F.explode(F.split(F.lower(F.trim(F.col(textCol))), "\\s+"))
          .as("__w"))
      .filter(F.length(F.col("__w")) > 0)
      .groupBy("__g", "__w").agg(F.count(F.lit(1)).as("__y"))
    val tokM = cells.groupBy("__w").agg(F.sum("__y").as("__tw"))
    val grpM = cells.groupBy("__g").agg(F.sum("__y").as("__ng"))
    val nTab = tokM.agg(F.sum("__tw").as("__n"))
    val j = cells.join(tokM, "__w").join(grpM, "__g")
      .crossJoin(F.broadcast(nTab))
    val aw = F.lit(alpha0) * (F.col("__tw").cast("double") /
      F.col("__n").cast("double"))
    val yG = F.col("__y").cast("double")
    val yR = (F.col("__tw") - F.col("__y")).cast("double")
    val nG = F.col("__ng").cast("double")
    val nR = (F.col("__n") - F.col("__ng")).cast("double")
    val delta =
      F.log((yG + aw) / (nG + F.lit(alpha0) - yG - aw)) -
      F.log((yR + aw) / (nR + F.lit(alpha0) - yR - aw))
    val z = delta / F.sqrt(F.lit(1.0) / (yG + aw) +
      F.lit(1.0) / (yR + aw))
    val scored = j.select(F.col("__g"), F.col("__w"), F.col("__y"),
      F.round(delta, 6).as("delta"), F.round(z, 6).as("z"))
    val byZ = Window.partitionBy("__g")
      .orderBy(F.col("z").desc, F.col("__w").asc)
    scored.withColumn("__rk", F.row_number().over(byZ))
      .filter(F.col("__rk") <= perGroup)
      .select(F.col("__g").as(groupCol), F.col("__w").as("token"),
        F.col("__y").as("y"), F.col("delta"), F.col("z"))
      .orderBy(F.col(groupCol), F.col("z").desc, F.col("token"))
  }

  /** Per-token dispersion census (Church & Gale 1995 burstiness): for
    * the top-K corpus tokens, how does the token DISTRIBUTE over
    * documents — a stopword occurs everywhere at its mean rate
    * (Fano ≈ 1, Poisson-ish), a content/topic word is BURSTY (it is
    * absent from most docs and repeats where it appears: Fano ≫ 1,
    * mean-when-present ≫ mean). The stopword-list/keyword-weighting
    * induction readout beside x106's corpus-level entropy:
    * {{{
    *   fano = Var[x_d] / E[x_d]   over ALL docs (zeros included)
    *   burst = E[x_d | x_d > 0]   (mean when present)
    * }}}
    * Exact integer moments (Σx, Σx² as longs over per-doc counts);
    * top-K pick is (total desc, token asc) — a TakeOrdered.
    *
    * Scale shape: one token explode → (doc, token) collapse → token
    * rollup carrying (df, Σx, Σx²); D rides as a 1-row broadcast. No
    * dense doc×token grid — the zeros enter the moments via D alone.
    *
    * @return top-K rows: (token, df, total, mean_per_doc,
    *         mean_when_present, fano) — 6-dp
    */
  def tokenDispersion(df: DataFrame, idCol: String, textCol: String,
                      topK: Int = 12): DataFrame = {
    require(topK >= 1 && topK <= 4096, s"topK out of range: $topK")
    val docs = df.select(F.col(idCol).as("__doc"),
      F.filter(F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
        t => F.length(t) > 0).as("__t"))
    val dTab = docs.agg(F.count(F.lit(1)).as("__d"))
    val perDoc = docs
      .select(F.col("__doc"), F.explode(F.col("__t")).as("__tok"))
      .groupBy("__doc", "__tok").agg(F.count(F.lit(1)).as("__x"))
    val perTok = perDoc.groupBy("__tok")
      .agg(F.count(F.lit(1)).as("df"),
        F.sum("__x").as("total"),
        F.sum(F.col("__x") * F.col("__x")).as("__x2"))
    perTok.crossJoin(F.broadcast(dTab))
      .orderBy(F.col("total").desc, F.col("__tok").asc)
      .limit(topK)
      .select(F.col("__tok").as("token"), F.col("df"), F.col("total"),
        F.round(F.col("total").cast("double") /
          F.col("__d").cast("double"), 6).as("mean_per_doc"),
        F.round(F.col("total").cast("double") /
          F.col("df").cast("double"), 6).as("mean_when_present"),
        F.round(
          (F.col("__x2").cast("double") / F.col("__d").cast("double") -
            (F.col("total").cast("double") /
              F.col("__d").cast("double")) *
            (F.col("total").cast("double") /
              F.col("__d").cast("double"))) /
            F.nullif(F.col("total").cast("double") /
              F.col("__d").cast("double"), F.lit(0.0)), 6).as("fano"))
      .orderBy(F.col("total").desc, F.col("token").asc)
  }

  /** Interpolated trigram LM cross-entropy per group (Jelinek-Mercer
    * 1980) — the n=3 sibling of x78's KN bigram, with the simpler
    * smoothing every data-quality pipeline actually ships first:
    * {{{
    *   p(w₃|w₁w₂) = λ₃·c(w₁w₂w₃)/c(w₁w₂·) + λ₂·c(w₂w₃·)/c(w₂··)
    *              + λ₁·c(w₃)/N
    * }}}
    * where every count lives in the TRIGRAM-ROW universe (contexts are
    * counted as trigram prefixes), so each ratio is well-defined and
    * both engines agree on the denominators without a second pass.
    * λ = (0.6, 0.3, 0.1) pinned. Docs shorter than 3 tokens score
    * nothing (no BOS padding — the contract is in-document trigrams).
    *
    * Determinism: integer counts; each −ln p term 9-dp rounded and
    * DECIMAL-accumulated per group (the x346 rule); 6-dp readouts.
    *
    * Scale shape: one trigram explode, five map-side-combined count
    * collapses joined back ON THEIR KEYS (no broadcast of unbounded
    * vocab, no windows over corpus rows), one group rollup.
    *
    * @return per group: (group, n_docs, n_trigrams, mean_nll_nats,
    *         ppl) — 6-dp
    */
  def trigramInterp(df: DataFrame, idCol: String, groupCol: String,
                    textCol: String, l3: Double = 0.6, l2: Double = 0.3,
                    l1: Double = 0.1): DataFrame = {
    require(math.abs(l3 + l2 + l1 - 1.0) < 1e-12 &&
      l3 > 0 && l2 > 0 && l1 > 0,
      s"lambdas must be positive and sum to 1, got ($l3, $l2, $l1)")
    val toks = F.filter(
      F.split(F.lower(F.trim(F.col(textCol))), "\\s+"),
      t => F.length(t) > 0)
    val base = df.filter(F.col(groupCol).isNotNull)
      .select(F.col(idCol).as("__id"), F.col(groupCol).as("__g"),
        toks.as("__t"))
    val tri = base
      .select(F.col("__id"), F.col("__g"),
        F.explode(F.when(F.size(F.col("__t")) >= 3,
          F.transform(F.sequence(F.lit(1), F.size(F.col("__t")) - 2),
            i => F.struct(
              F.element_at(F.col("__t"), i).as("w1"),
              F.element_at(F.col("__t"), i + 1).as("w2"),
              F.element_at(F.col("__t"), i + 2).as("w3"))))
          .otherwise(F.array())).as("__tr"))
      .select(F.col("__id"), F.col("__g"),
        F.col("__tr.w1").as("__w1"), F.col("__tr.w2").as("__w2"),
        F.col("__tr.w3").as("__w3"))
      .localCheckpoint()
    val c3 = tri.groupBy("__w1", "__w2", "__w3")
      .agg(F.count(F.lit(1)).as("__c3"))
    val ctx2 = tri.groupBy("__w1", "__w2")
      .agg(F.count(F.lit(1)).as("__b2"))
    val c2 = tri.groupBy("__w2", "__w3")
      .agg(F.count(F.lit(1)).as("__c2"))
    val ctx1 = tri.groupBy("__w2").agg(F.count(F.lit(1)).as("__b1"))
    val c1 = tri.groupBy("__w3").agg(F.count(F.lit(1)).as("__c1"))
    val nTab = tri.agg(F.count(F.lit(1)).as("__nn"))
    val p =
      F.lit(l3) * (F.col("__c3").cast("double") /
        F.col("__b2").cast("double")) +
      F.lit(l2) * (F.col("__c2").cast("double") /
        F.col("__b1").cast("double")) +
      F.lit(l1) * (F.col("__c1").cast("double") /
        F.col("__nn").cast("double"))
    val scored = tri
      .join(c3, Seq("__w1", "__w2", "__w3"))
      .join(ctx2, Seq("__w1", "__w2"))
      .join(c2, Seq("__w2", "__w3"))
      .join(ctx1, Seq("__w2"))
      .join(c1, Seq("__w3"))
      .crossJoin(F.broadcast(nTab))
      .select(F.col("__id"), F.col("__g"),
        F.round(-F.log(p), 9).cast("decimal(38,9)").as("__nll"))
    val docs = base.groupBy("__g")
      .agg(F.count(F.lit(1)).as("n_docs"))
    scored.groupBy("__g")
      .agg(F.count(F.lit(1)).as("n_trigrams"),
        F.sum("__nll").as("__s"))
      .join(docs, "__g")
      .select(F.col("__g").as(groupCol), F.col("n_docs"),
        F.col("n_trigrams"),
        F.round(F.col("__s").cast("double") /
          F.col("n_trigrams").cast("double"), 6).as("mean_nll_nats"),
        F.round(F.exp(F.col("__s").cast("double") /
          F.col("n_trigrams").cast("double")), 6).as("ppl"))
      .orderBy(groupCol)
  }

  /** Corpus coverage CURVE vs vocabulary size — [[vocabCoverage]]'s
    * V-sweep: for each candidate vocab size V, the share of token
    * occurrences covered by the top-V tokens and the share of types
    * UNK'd away — the curve whose knee IS the tokenizer budget
    * decision (read with x82's type-growth and x153's fertility).
    *
    * Scale shape: one token collapse, one ranked ladder over DISTINCT
    * types (the zipf/x147 ladder convention — the window runs over the
    * vocabulary, never corpus rows), one broadcast join of the pinned
    * size list onto the ladder at rank min(V, n_types).
    *
    * @return one row per size: (vocab_size, n_tokens, n_in_vocab,
    *         coverage, n_types, n_oov_types, oov_type_rate) — 6-dp
    */
  def coverageCurve(df: DataFrame, textCol: String,
                    sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1) &&
      sizes.distinct.size == sizes.size, s"bad size list $sizes")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .select(F.explode(F.split(F.lower(F.trim(F.col(textCol))),
        "\\s+")).as("__tok"))
      .filter(F.length(F.col("__tok")) > 0)
      .groupBy("__tok").agg(F.count(F.lit(1)).as("__c"))
    val byRank = Window.orderBy(F.col("__c").desc, F.col("__tok").asc)
    val lad = counts
      .withColumn("__rk", F.row_number().over(byRank))
      .withColumn("__cum", F.sum("__c").over(
        byRank.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val tot = counts.agg(F.sum("__c").as("__n"),
      F.count(F.lit(1)).as("__types"))
    val sz = sizes.map(_.toLong).toDF("vocab_size")
    sz.crossJoin(F.broadcast(tot))
      .join(lad, F.col("__rk") ===
        F.least(F.col("vocab_size"), F.col("__types")))
      .select(F.col("vocab_size"), F.col("__n").as("n_tokens"),
        F.col("__cum").as("n_in_vocab"),
        F.round(F.col("__cum").cast("double") /
          F.nullif(F.col("__n").cast("double"), F.lit(0.0)), 6)
          .as("coverage"),
        F.col("__types").as("n_types"),
        F.greatest(F.col("__types") - F.col("vocab_size"), F.lit(0L))
          .as("n_oov_types"),
        F.round(F.greatest(F.col("__types") - F.col("vocab_size"),
          F.lit(0L)).cast("double") /
          F.nullif(F.col("__types").cast("double"), F.lit(0.0)), 6)
          .as("oov_type_rate"))
      .orderBy("vocab_size")
  }

  def vocabCoverage(df: DataFrame, groupCol: String, textCol: String,
                    vocabSize: Int = 512): DataFrame = {
    require(vocabSize >= 1 && vocabSize <= (1 << 20),
      s"vocabSize out of range: $vocabSize")
    val toks = df.filter(F.col(groupCol).isNotNull)
      .select(F.col(groupCol).as("__g"),
        F.explode(F.split(F.lower(F.trim(F.col(textCol))), "\\s+"))
          .as("__tok"))
      .filter(F.length(F.col("__tok")) > 0)
    val byTok = toks.groupBy("__g", "__tok")
      .agg(F.count(F.lit(1)).as("__c"))
    val vocab = byTok.groupBy("__tok").agg(F.sum("__c").as("__tc"))
      .orderBy(F.col("__tc").desc, F.col("__tok").asc)
      .limit(vocabSize)
      .select(F.col("__tok"), F.lit(1).as("__in"))
    byTok.join(F.broadcast(vocab), Seq("__tok"), "left")
      .groupBy("__g")
      .agg(F.sum("__c").as("n_tokens"),
        F.sum(F.when(F.col("__in").isNotNull, F.col("__c"))
          .otherwise(0L)).as("n_in_vocab"),
        F.count(F.lit(1)).as("n_types"),
        F.sum(F.when(F.col("__in").isNull, 1L).otherwise(0L))
          .as("n_oov_types"))
      .select(F.col("__g").as(groupCol), F.col("n_tokens"),
        F.col("n_in_vocab"),
        F.round(F.col("n_in_vocab").cast("double") /
          F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)), 6)
          .as("coverage"),
        F.col("n_types"), F.col("n_oov_types"),
        F.round(F.col("n_oov_types").cast("double") /
          F.nullif(F.col("n_types").cast("double"), F.lit(0.0)), 6)
          .as("oov_type_rate"))
      .orderBy(groupCol)
  }

  /** WORST-WINDOW SURPRISAL spans — the garbled-text detector a
    * perplexity DOC filter misses: a long clean document with one
    * corrupted paragraph (mojibake, OCR noise, binary spill) averages
    * out to a normal per-doc score, but its worst `window`-token span
    * does not. Per token, surprisal −ln p(tok) under the corpus's own
    * unigram distribution (self-trained — rare garbage tokens score
    * high by construction, no external LM); per doc, the maximum
    * rolling `window`-token mean and where it sits:
    * {{{
    *   worst_window_mean = max_pos mean(−ln p(tok), tokens pos..pos+w−1)
    * }}}
    * Read beside `mean_surprisal` (the whole-doc average): a doc whose
    * worst window ≫ its mean has a LOCALIZED defect — route it to span
    * removal ([[graft.ops.Dedup.removeDupSpans]]-style surgery), not
    * the bin.
    *
    * Determinism: per-token terms 9-dp before the window sums; window
    * sums DECIMAL(38,9) (association-free — Spark's running frame and
    * DuckDB's segment tree agree on exact decimals, the x455 rule);
    * argmax by (mean desc, pos asc) row_number. Full windows only;
    * docs shorter than `window` get one whole-doc window at pos 0.
    *
    * Scale shape: one token explode feeding the vocab census (map-side
    * combined) and the scored stream; one doc-keyed window shuffle for
    * the rolling frames; the 1-row total broadcasts. Never quadratic.
    *
    * @return per doc: (id, n_tokens, mean_surprisal, worst_pos,
    *         worst_window_mean) — 6-dp, worst_pos 0-based
    */
  def surprisalSpans(docs: DataFrame, idCol: String, textCol: String,
                     window: Int = 20): DataFrame = {
    require(window >= 2 && window <= 1024,
      s"window out of range: $window")
    val toks = docs.filter(F.col(idCol).isNotNull)
      .select(F.col(idCol), F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(textCol), F.lit("")))),
          "\\s+"), x => F.length(x) > 0).as("__l"))
      .select(F.col(idCol),
        F.posexplode(F.col("__l")).as(Seq("__pos", "__tok")))
    val vocab = toks.groupBy("__tok").agg(F.count(F.lit(1)).as("__c"))
    val tot = toks.agg(F.count(F.lit(1)).as("__tot"))
    val scored = toks.join(vocab, Seq("__tok"))
      .crossJoin(F.broadcast(tot))
      .select(F.col(idCol), F.col("__pos"),
        F.round(-F.log(F.col("__c").cast("double") /
          F.col("__tot").cast("double")), 9).as("__s"))
    val frame = Window.partitionBy(idCol).orderBy("__pos")
      .rowsBetween(0, window - 1)
    val per = Window.partitionBy(idCol)
    val wins = scored
      .withColumn("__n", F.count(F.lit(1)).over(per))
      .withColumn("__wsum",
        F.sum(F.col("__s").cast("decimal(38,9)")).over(frame))
      .withColumn("__wcnt", F.count(F.lit(1)).over(frame))
      .filter(F.col("__pos") + window <= F.col("__n") ||
        (F.col("__n") < window && F.col("__pos") === 0))
      .withColumn("__wmean", F.round(F.col("__wsum").cast("double") /
        F.col("__wcnt").cast("double"), 6))
    val best = wins.withColumn("__rk", F.row_number().over(
        Window.partitionBy(idCol)
          .orderBy(F.col("__wmean").desc, F.col("__pos"))))
      .filter(F.col("__rk") === 1)
      .select(F.col(idCol), F.col("__pos").as("worst_pos"),
        F.col("__wmean").as("worst_window_mean"))
    val docMean = scored.groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_tokens"),
        F.round(F.sum(F.col("__s").cast("decimal(38,9)")).cast("double") /
          F.count(F.lit(1)).cast("double"), 6).as("mean_surprisal"))
    docMean.join(best, Seq(idCol)).orderBy(idCol)
  }
}
